"""The copperhead pipeline, Spark-first: stage1 (event selection + object
corrections + pairing + wide derived projection), stage2 (categorize +
weighted histograms), stage3 (yields / templates on collected data).

This is the end-to-end parity surface: a reference user's three-script
workflow (run_stage1/2/3.py) maps onto three composable DataFrame
transformations.  Stage boundaries keep the reference's contract (stage1
output = flat wide table partitionable by dataset; stage2 output = the
histogram table of FIXTURES.md §F3) but each stage is ONE lazy plan — no
per-chunk Python loops, no pickled intermediate state.

Stage 1 is one path, stage1_arrays: a JVM HLT/flag filter, then the
transcendental-free jagged front half as one Arrow/NumPy mapInArrow
kernel (operators/stage1_kernel.py, "kernel" below), then the trig-
bearing tail as codegen'd JVM projections (_derive_and_label, "tail").

Reference walk-through being mirrored (paths in the reference
copperhead repository):
 - HLT/flag filter          processor.py:146-156,234-235   stage1_arrays
 - FSR recovery (idx deref) stage1/corrections/fsr_recovery.py:6-13  kernel
 - muon selection           processor.py:243-249           kernel
 - nmuons + opposite sign   processor.py:252-260           kernel
 - leading/subleading pair  processor.py:295-318           kernel
 - jet selection + dR clean processor.py:561-577,634-641   kernel
 - njets / top-2 jets       processor.py:649-667           kernel
 - dimuon / jj kinematics   stage1/muons.py:6-71; stage1/jets.py:22-147;
                            python/math_tools.py:5-42      tail
 - muon SF weights          stage1/corrections/lepton_sf.py; weights.py  tail
 - region labels            processor.py:471-478           tail
 - channel cascade          stage2/categorizer.py:1-23     channel_case
 - histograms               stage2/histogrammer.py:28-120  stage2*
 - yields/templates         stage3/make_templates.py:197-207  stage3
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from copperhead_spark.operators.histogram import histogram
from copperhead_spark.operators.stage1_kernel import stage1_flat_arrow

MU_MASS = 0.105658
TWO_PI = 6.283185307179586
PI = 3.141592653589793


def _p4(prefix: str, pt: str, eta: str, phi: str, mass: float | str) -> list[tuple[str, str]]:
    m2 = f"({mass}) * ({mass})" if isinstance(mass, str) else f"{mass * mass}"
    return [
        (f"{prefix}px", f"{pt} * COS({phi})"),
        (f"{prefix}py", f"{pt} * SIN({phi})"),
        (f"{prefix}pz", f"{pt} * ((EXP({eta}) - EXP(-({eta}))) / 2)"),
        (
            f"{prefix}e",
            f"SQRT({prefix}px * {prefix}px + {prefix}py * {prefix}py"
            f" + {prefix}pz * {prefix}pz + {m2})",
        ),
    ]


def _pair_kinematics(df: DataFrame, p1: str, p2: str, out: str, m1, m2) -> DataFrame:
    """Invariant mass / pt / rapidity / dEta / dPhi / dR of an object pair
    given {p}_pt/{p}_eta/{p}_phi columns."""
    stages = [
        _p4("_a_", f"{p1}pt", f"{p1}eta", f"{p1}phi", m1)
        + _p4("_b_", f"{p2}pt", f"{p2}eta", f"{p2}phi", m2),
        [
            ("_qx", "_a_px + _b_px"),
            ("_qy", "_a_py + _b_py"),
            ("_qz", "_a_pz + _b_pz"),
            ("_qe", "_a_e + _b_e"),
        ],
        [
            # explicit NULL guard: GREATEST skips NULLs, so NULL inputs
            # (absent second jet) would otherwise turn into mass = 0.0
            (
                f"{out}mass",
                "IF(_qe IS NULL, CAST(NULL AS DOUBLE), "
                "SQRT(GREATEST(_qe * _qe - _qx * _qx - _qy * _qy - _qz * _qz, 0.0)))",
            ),
            (f"{out}pt", "SQRT(_qx * _qx + _qy * _qy)"),
            (f"{out}rap", "0.5 * LN((_qe + _qz) / (_qe - _qz))"),
            (f"{out}dEta", f"{p1}eta - {p2}eta"),
            (
                f"{out}dPhi",
                f"(({p1}phi - {p2}phi) - {TWO_PI} * FLOOR((({p1}phi - {p2}phi) + {PI}) / {TWO_PI}))",
            ),
        ],
        [
            (
                f"{out}dR",
                f"SQRT({out}dEta * {out}dEta + {out}dPhi * {out}dPhi)",
            )
        ],
    ]
    for stage in stages:
        df = df.selectExpr("*", *[f"({e}) AS {n}" for n, e in stage])
    return df.drop(
        "_a_px", "_a_py", "_a_pz", "_a_e", "_b_px", "_b_py", "_b_pz", "_b_e",
        "_qx", "_qy", "_qz", "_qe",
    )


_MU_SF = (
    "CASE WHEN {pt} < 40 THEN 0.9712 WHEN {pt} < 80 THEN 0.9905 ELSE 0.9951 END"
)


def _derive_and_label(flat: DataFrame) -> DataFrame:
    """Stage-1 tail: pair kinematics, region labels, weight ledger.  The
    trig (COS/SIN/EXP/LN) stays in codegen'd JVM expressions: NumPy and
    the JVM's libm can differ in the last ulp, and the oracles that
    consume this table compare bit for bit."""
    flat = _pair_kinematics(flat, "mu1_", "mu2_", "dimuon_", MU_MASS, MU_MASS)
    # jj system: NULL for events with < 2 clean jets (the reference's
    # NaN-for-missing-jets semantics, FIXTURES.md §F2).  NULL jet2 inputs
    # propagate to NULL jj_* through the arithmetic itself, so there is
    # no filter/union split (that would execute the upstream plan twice).
    flat = _pair_kinematics(flat, "jet1_", "jet2_", "jj_", "jet1_mass", "jet2_mass")

    region = (
        F.when((F.col("dimuon_mass") > 76) & (F.col("dimuon_mass") < 106), "z-peak")
        .when((F.col("dimuon_mass") >= 115) & (F.col("dimuon_mass") < 135), "h-peak")
        .when(
            ((F.col("dimuon_mass") >= 110) & (F.col("dimuon_mass") < 115))
            | ((F.col("dimuon_mass") >= 135) & (F.col("dimuon_mass") < 150)),
            "h-sidebands",
        )
        .otherwise("none")
    )
    wgt = (
        F.col("genWeight")
        * F.expr(_MU_SF.format(pt="mu1_pt"))
        * F.expr(_MU_SF.format(pt="mu2_pt"))
    )
    # systematic variations: SF coherently shifted +/-1% per muon
    # (lepton_sf.py up/down errs; weights.py:37-47 'all' semantics)
    wgt_up = (
        F.col("genWeight")
        * (F.expr(_MU_SF.format(pt="mu1_pt")) * 1.01)
        * (F.expr(_MU_SF.format(pt="mu2_pt")) * 1.01)
    )
    wgt_down = (
        F.col("genWeight")
        * (F.expr(_MU_SF.format(pt="mu1_pt")) * 0.99)
        * (F.expr(_MU_SF.format(pt="mu2_pt")) * 0.99)
    )
    return (
        flat.withColumn("region", region)
        .filter(F.col("region") != "none")
        .withColumn("wgt_nominal", wgt)
        .withColumn("wgt_muid_up", wgt_up)
        .withColumn("wgt_muid_down", wgt_down)
    )


def stage1_arrays(events: DataFrame) -> DataFrame:
    """Raw jagged events -> flat wide per-event table, with ZERO shuffles.

    The HLT/flag filter runs in the JVM; the jagged front half (FSR
    index dereference, muon selection, two-muon opposite-sign cut,
    pt-ordered top-2, jet selection + dR cleaning against the selected
    muons) runs as ONE Arrow/NumPy mapInArrow pass
    (operators/stage1_kernel.py); the trig-bearing tail stays in the
    codegen'd JVM (_derive_and_label).  The plan is a pure map over the
    event stream: stage 2's histogram exchange is its only shuffle."""
    ev = events.filter(F.col("HLT_IsoMu24") & F.col("Flag_goodVertices"))
    return _derive_and_label(stage1_flat_arrow(ev))


def channel_case():
    """The ordered channel cascade (stage2/categorizer.py:1-23) as one
    CASE expression — shared by stage2, stage2_variations and the
    stage-3 anchor aggregates so the label logic exists exactly once."""
    return (
        F.when((F.col("njets") >= 2) & (F.col("jj_mass") > 400), "vbf")
        .when(F.col("njets") == 0, "ggh_0jets")
        .when(F.col("njets") == 1, "ggh_1jet")
        .otherwise("ggh_2orMoreJets")
    )


def stage2(
    flat: DataFrame,
    var: str = "dimuon_mass",
    lo: float = 76.0,
    hi: float = 150.0,
    nbins: int = 37,
) -> DataFrame:
    """Categorize + weighted histogram: one groupBy replaces the
    region x channel x variation fill loops (histogrammer.py:56-120)."""
    categorized = flat.withColumn("channel", channel_case())
    return histogram(
        categorized,
        value=F.col(var),
        lo=lo,
        hi=hi,
        nbins=nbins,
        by=["region", "channel"],
        weight=F.col("wgt_nominal"),
        scale=6,
    )


def stage2_variations(
    flat: DataFrame,
    var: str = "dimuon_mass",
    lo: float = 76.0,
    hi: float = 150.0,
    nbins: int = 37,
    variations: tuple[str, ...] = ("nominal", "muid_up", "muid_down"),
) -> DataFrame:
    """Full stage-2 shape with the systematic-variation axis: variation
    columns are UNPIVOTed (stack) into rows and everything aggregates in
    ONE shuffle — the reference's region x channel x variation Python fill
    loops (histogrammer.py:56-120) become a fourth grouping key."""
    stack_args = ", ".join(f"'{v}', wgt_{v}" for v in variations)
    stacked = flat.withColumn("channel", channel_case()).selectExpr(
        "region",
        "channel",
        var,
        f"stack({len(variations)}, {stack_args}) AS (variation, wgt)",
    )
    return histogram(
        stacked,
        value=F.col(var),
        lo=lo,
        hi=hi,
        nbins=nbins,
        by=["region", "channel", "variation"],
        weight=F.col("wgt"),
        scale=6,
    )


def stage2_unbinned(flat: DataFrame, columns: tuple[str, ...] = ("dimuon_mass", "wgt_nominal")) -> DataFrame:
    """Unbinned column save for driver-side fits (postprocessor.py:
    235-253; FIXTURES.md §F3.1): the selected columns only — the fit
    consumes O(selected events), never the wide table."""
    return flat.select(*columns)


def stage3(hist: DataFrame):
    """Driver-side finishing on the (tiny) aggregate table: yields per
    (region, channel) + a template dict per category — the collected-data
    analogue of make_templates.py:197-207 / make_datacards.py."""
    import pandas as pd  # noqa: F401

    yields = (
        hist.groupBy("region", "channel")
        .agg(F.sum("value").alias("yield"), F.sum("sumw2").alias("sumw2"))
        .toPandas()
        .sort_values(["region", "channel"])
        .reset_index(drop=True)
    )
    bins = hist.toPandas()
    templates = {
        (r, c): g.sort_values("bin_idx")[["bin_idx", "value", "sumw2"]].to_numpy()
        for (r, c), g in bins.groupby(["region", "channel"])
    }
    return yields, templates
