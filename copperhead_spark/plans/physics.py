"""Kinematics queries (SURVEY.md §2.8 ★ — p4_sum / delta_r / CS angles as
named queries).  The math library (functions/physics.py) generates one
SQL text evaluated by both engines; see there for the determinism rules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from copperhead_spark.catalog import table
from copperhead_spark.functions.exact import exact_sum, exact_sum_sql
from copperhead_spark.functions.physics import (
    apply_stages,
    delta_phi_sql,
    delta_r_sql,
    pseudo_dimuon_stages,
    stages_to_sql,
)
from copperhead_spark.plans.registry import register

_STAGES = pseudo_dimuon_stages()

_P4_ORACLE = f"""
SELECT l_returnflag,
       COUNT(*) AS n,
       {exact_sum_sql("mass", 4)} AS mass_sum,
       {exact_sum_sql("qpt", 4)} AS qpt_sum,
       {exact_sum_sql("rap", 6)} AS rap_sum,
       {exact_sum_sql("cos_cs", 6)} AS cos_cs_sum
FROM {stages_to_sql("lineitem", _STAGES)}
GROUP BY l_returnflag
"""


@register("phys_p4_kinematics", oracle=_P4_ORACLE, tags=("P8", "math"))
def phys_p4_kinematics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four-vector sum -> invariant mass, qT, rapidity, Collins-Soper
    cos(theta*) (math_tools.py:5-42), aggregated per flag.  ~25 derived
    columns collapse into one whole-stage-codegen projection — the
    reference's 70-column derive step (P8) works the same way."""
    li = table(spark, sf_dir, "lineitem")
    derived = apply_stages(li, _STAGES)
    return derived.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        exact_sum(F.col("mass"), 4).alias("mass_sum"),
        exact_sum(F.col("qpt"), 4).alias("qpt_sum"),
        exact_sum(F.col("rap"), 6).alias("rap_sum"),
        exact_sum(F.col("cos_cs"), 6).alias("cos_cs_sum"),
    )


_DETA = "(eta1 - eta2)"
_DPHI = delta_phi_sql("phi1", "phi2")

_DR_ORACLE = f"""
SELECT l_orderkey, l_linenumber, deta, dphi, dr
FROM (
  SELECT l_orderkey, l_linenumber,
         {_DETA} AS deta, {_DPHI} AS dphi,
         {delta_r_sql(_DETA, _DPHI)} AS dr
  FROM {stages_to_sql("lineitem", [_STAGES[0]])}
)
WHERE l_orderkey < 2000
"""


@register("phys_delta_r", oracle=_DR_ORACLE, tags=("P8", "math", "J2"))
def phys_delta_r(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row delta-eta / wrapped delta-phi / delta-R (math_tools.py:
    220-224) — the predicate powering DR-cleaning joins (J2/J12).  Only
    +,-,*,/,floor,sqrt: bit-exact cross-engine with NO rounding, checked
    on raw per-row doubles."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 2000)
    base = apply_stages(li, [_STAGES[0]])
    return base.selectExpr(
        "l_orderkey",
        "l_linenumber",
        f"{_DETA} AS deta",
        f"{_DPHI} AS dphi",
        f"{delta_r_sql(_DETA, _DPHI)} AS dr",
    )


_GEOFIT_SQL = """
CASE WHEN ABS(eta1) < 0.9 THEN 411.34 * d0 * pt1 * pt1 / 10000
     WHEN ABS(eta1) < 1.7 THEN 673.40 * d0 * pt1 * pt1 / 10000
     ELSE 1099.0 * d0 * pt1 * pt1 / 10000 END
"""


@register(
    "phys_geofit_piecewise",
    oracle=f"""
SELECT l_returnflag, COUNT(*) AS n,
       {exact_sum_sql("pt1 - (" + _GEOFIT_SQL + ")", 6)} AS pt_corr_sum
FROM (
  SELECT l_returnflag, pt1, eta1,
         (l_discount - 0.05) / 50 AS d0
  FROM {stages_to_sql("lineitem", [_STAGES[0]])}
)
GROUP BY l_returnflag
""",
    tags=("P8", "math"),
)
def phys_geofit_piecewise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoFit-style piecewise-quadratic pt correction by |eta| band
    (stage1/corrections/geofit.py:5-28): CASE on |eta| bands, quadratic
    in pt, masked-assignment semantics via when/otherwise."""
    li = table(spark, sf_dir, "lineitem")
    base = apply_stages(li, [_STAGES[0]]).selectExpr(
        "l_returnflag", "pt1", "eta1", "(l_discount - 0.05) / 50 AS d0"
    )
    corrected = base.selectExpr(
        "l_returnflag", f"pt1 - ({_GEOFIT_SQL}) AS pt_corr"
    )
    return corrected.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        exact_sum(F.col("pt_corr"), 6).alias("pt_corr_sum"),
    )


def _hmm_oracle() -> str:
    from copperhead_spark.plans.hmm_oracle import hmm_pipeline_oracle

    return hmm_pipeline_oracle(20_000)


@register("pipeline_hmm_histogram", oracle=_hmm_oracle(), tags=("E2E",))
def pipeline_hmm_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end H->mumu pipeline (run_stage1.py -> run_stage2.py as ONE
    lazy plan): jagged events with Muon/Jet/FsrPhoton collections flow
    through HLT/flag filters, FSR recovery, muon selection, opposite-sign
    pairing, dR jet cleaning, region labels and the weight ledger
    (stage1_arrays — zero shuffles, one Arrow kernel pass), then
    the region x channel x variation weighted histogram (stage2_variations
    — the single event-data shuffle).  Input is the deterministic
    executor-side fixture, so the result is stable across runs/partitions
    AND re-derivable: the oracle (plans/hmm_oracle.py) rebuilds the whole
    fixture->stage1->stage2 chain relationally in DuckDB, making the
    showcase query full-value hash-checked cross-engine (reference:
    stage1/processor.py:95-516, stage2/histogrammer.py:28-120); an
    independent pandas mirror also pins it in tests/test_pipeline.py."""
    from copperhead_spark.fixtures import events_fixture_distributed
    from copperhead_spark.pipeline import stage1_arrays, stage2_variations

    ev = events_fixture_distributed(spark, 20_000)
    return stage2_variations(stage1_arrays(ev))

from copperhead_spark.docfmt import inline_doc_consts  # noqa: E402  (docstring literal inlining)
inline_doc_consts(globals())
