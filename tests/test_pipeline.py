"""End-to-end pipeline test on the synthetic jagged event fixture
(reference test style: tests/test_continuous.py chains stages 1->2->3).

The oracle here is an INDEPENDENT pandas/numpy re-implementation of the
same selection/pairing/kinematics — written against the spec, not the
Spark code — compared row-by-row: exactly on the transcendental-free
columns, within rtol 1e-12 on the trig-derived ones (libm and
formula-association differences)."""

import math

import numpy as np
import pandas as pd
import pytest

from copperhead_spark.fixtures import events_fixture, generate_events
from copperhead_spark.pipeline import stage1_arrays, stage2, stage3

N_EVENTS = 1500
SEED = 7


def mu_sf(pt: float) -> float:
    return 0.9712 if pt < 40 else (0.9905 if pt < 80 else 0.9951)


def wrap_dphi(d: float) -> float:
    return d - 2 * math.pi * math.floor((d + math.pi) / (2 * math.pi))


def p4(pt, eta, phi, m):
    px, py = pt * math.cos(phi), pt * math.sin(phi)
    pz = pt * math.sinh(eta)
    e = math.sqrt(px * px + py * py + pz * pz + m * m)
    return px, py, pz, e


def pair_kin(o1, o2, m1, m2):
    p1, p2 = p4(*o1, m1), p4(*o2, m2)
    qx, qy, qz, qe = (a + b for a, b in zip(p1, p2))
    mass = math.sqrt(max(qe * qe - qx * qx - qy * qy - qz * qz, 0.0))
    pt = math.sqrt(qx * qx + qy * qy)
    rap = 0.5 * math.log((qe + qz) / (qe - qz))
    deta = o1[1] - o2[1]
    dphi = wrap_dphi(o1[2] - o2[2])
    dr = math.sqrt(deta * deta + dphi * dphi)
    return mass, pt, rap, deta, dphi, dr


def reference_stage1(rows):
    """Pandas/numpy mirror of stage1 written from the spec."""
    out = []
    for (run, event, genw, hlt, flag, met, pu, muons, jets, fsr) in rows:
        if not (hlt and flag):
            continue
        sel = []
        for idx, (pt, eta, phi, q, iso, mid, fidx) in enumerate(muons):
            pt_corr = pt + (fsr[fidx][0] * 0.1 if 0 <= fidx < len(fsr) else 0.0)
            if pt_corr > 20 and abs(eta) < 2.4 and iso < 0.25 and mid:
                sel.append((pt_corr, eta, phi, q, iso, idx))
        if len(sel) != 2:
            continue
        charges = [s[3] for s in sel]
        if (-1 if sum(1 for c in charges if c < 0) % 2 else 1) != -1:
            continue
        sel.sort(key=lambda s: (-s[0], s[5]))
        mu1, mu2 = sel[0], sel[1]
        mass, pt, rap, deta, dphi, dr = pair_kin(mu1[:3], mu2[:3], 0.105658, 0.105658)
        if 76 < mass < 106:
            region = "z-peak"
        elif 115 <= mass < 135:
            region = "h-peak"
        elif 110 <= mass < 115 or 135 <= mass < 150:
            region = "h-sidebands"
        else:
            continue
        # jets
        clean = []
        for jdx, (jpt, jeta, jphi, jm, jid, qgl) in enumerate(jets):
            if not (jpt > 25 and abs(jeta) < 4.7 and jid >= 2):
                continue
            near = False
            for mu in (mu1, mu2):
                de = jeta - mu[1]
                dp = wrap_dphi(jphi - mu[2])
                if de * de + dp * dp < 0.4 * 0.4:
                    near = True
            if not near:
                clean.append((jpt, jeta, jphi, jm, qgl, jdx))
        njets = len(clean)
        clean.sort(key=lambda s: (-s[0], s[5]))
        jj = (np.nan,) * 6
        jet1_pt = clean[0][0] if njets >= 1 else np.nan
        if njets >= 2:
            j1, j2 = clean[0], clean[1]
            jj = pair_kin(j1[:3], j2[:3], j1[3], j2[3])
        wgt = genw * mu_sf(mu1[0]) * mu_sf(mu2[0])
        out.append(
            dict(
                event=event,
                region=region,
                dimuon_mass=mass,
                dimuon_pt=pt,
                dimuon_rap=rap,
                dimuon_dR=dr,
                mu1_pt=mu1[0],
                mu2_pt=mu2[0],
                njets=njets,
                jet1_pt=jet1_pt,
                jj_mass=jj[0],
                wgt_nominal=wgt,
            )
        )
    return pd.DataFrame(out).sort_values("event").reset_index(drop=True)


@pytest.fixture(scope="module")
def flat_and_ref(spark):
    rows = generate_events(N_EVENTS, SEED)
    events = events_fixture(spark, N_EVENTS, SEED)
    flat = stage1_arrays(events)
    ref = reference_stage1(rows)
    got = (
        flat.select(
            "event", "region", "dimuon_mass", "dimuon_pt", "dimuon_rap", "dimuon_dR",
            "mu1_pt", "mu2_pt", "njets", "jet1_pt", "jj_mass", "wgt_nominal",
        )
        .toPandas()
        .sort_values("event")
        .reset_index(drop=True)
    )
    return flat, got, ref


# the flat stage-1 table's contract: 44 columns, in this order and type
STAGE1_SCHEMA = (
    [("event", "bigint"), ("run", "bigint"), ("genWeight", "double"),
     ("MET_pt", "double"), ("Pileup_nTrueInt", "double"),
     ("nmuons", "bigint"), ("mm_charge", "int")]
    + [(f"{m}_{f}", t) for m in ("mu1", "mu2") for f, t in (
        ("pt", "double"), ("eta", "double"), ("phi", "double"),
        ("charge", "int"), ("pfRelIso04_all", "double"))]
    + [("njets", "bigint")]
    + [(f"{j}_{f}", "double") for j in ("jet1", "jet2")
       for f in ("pt", "eta", "phi", "mass", "qgl")]
    + [(f"{p}_{f}", "double") for p in ("dimuon", "jj")
       for f in ("mass", "pt", "rap", "dEta", "dPhi", "dR")]
    + [("region", "string"), ("wgt_nominal", "double"),
       ("wgt_muid_up", "double"), ("wgt_muid_down", "double")]
)


def test_stage1_matches_reference(flat_and_ref):
    flat, got, ref = flat_and_ref
    schema = [(f.name, f.dataType.simpleString()) for f in flat.schema.fields]
    assert len(STAGE1_SCHEMA) == 44 and schema == STAGE1_SCHEMA
    assert len(got) == len(ref) > 30, (len(got), len(ref))
    for col in ("event", "region", "njets"):
        assert got[col].tolist() == ref[col].tolist(), col
    # transcendental-free (+,-,*,/, floor, sqrt, comparisons, counting):
    # the engine and the mirror agree to the last bit
    for col in ("mu1_pt", "mu2_pt", "jet1_pt", "dimuon_dR", "wgt_nominal"):
        a = got[col].to_numpy(dtype=float)
        b = ref[col].to_numpy(dtype=float)
        assert ((a == b) | (np.isnan(a) & np.isnan(b))).all(), col
    # trig-derived (COS/SIN/EXP/LN vs math.sinh/log): libm may differ
    for col in ("dimuon_mass", "dimuon_pt", "dimuon_rap", "jj_mass"):
        a = got[col].to_numpy(dtype=float)
        b = ref[col].to_numpy(dtype=float)
        both_nan = np.isnan(a) & np.isnan(b)
        assert (both_nan | np.isclose(a, b, rtol=1e-12, atol=1e-12)).all(), col


def test_stage2_stage3_yields(flat_and_ref):
    flat, got, ref = flat_and_ref
    hist = stage2(flat)
    yields, templates = stage3(hist)
    # yield check vs the pandas mirror (fixed-point at scale 6 in stage2)
    ref_y = (
        ref.groupby("region")["wgt_nominal"]
        .apply(lambda s: np.sum(np.round(s * 1e6).astype(np.int64)) / 1e6)
        .to_dict()
    )
    got_y = yields.groupby("region")["yield"].sum().to_dict()
    for r, v in ref_y.items():
        assert abs(got_y[r] - v) < 1e-9, (r, got_y[r], v)
    # histogram integral == yields (no event lost to binning: clamp bins)
    assert set(templates) == set(map(tuple, yields[["region", "channel"]].to_numpy()))


def test_stage2_variations_fanout(flat_and_ref):
    from copperhead_spark.pipeline import stage2_variations

    flat, got, ref = flat_and_ref
    hist = stage2_variations(flat).toPandas()
    assert set(hist["variation"]) == {"nominal", "muid_up", "muid_down"}
    # up/down totals = nominal totals scaled by 1.01^2 / 0.99^2 exactly
    tot = hist.groupby("variation")["value"].sum()
    ref_nom = ref["wgt_nominal"]
    for v, scale in (("muid_up", 1.01**2), ("muid_down", 0.99**2)):
        expected = np.sum(np.round(ref_nom * scale * 1e6).astype(np.int64)) / 1e6
        assert abs(tot[v] - expected) < 5e-6, (v, tot[v], expected)


def test_stage2_unbinned_projection(flat_and_ref):
    from copperhead_spark.pipeline import stage2_unbinned

    flat, got, ref = flat_and_ref
    ub = stage2_unbinned(flat).toPandas()
    assert list(ub.columns) == ["dimuon_mass", "wgt_nominal"]
    assert len(ub) == len(ref)


def test_stage1_null_semantics(flat_and_ref):
    flat, got, _ = flat_and_ref
    # events with <2 clean jets must have NULL jj columns, njets filled 0
    zero = got[got["njets"] < 2]
    assert zero["jj_mass"].isna().all()
    assert (got["njets"] >= 0).all()


def test_stage1_partitioned_sink_roundtrip(flat_and_ref, spark, tmp_path):
    """The stage-1 -> stage-2 contract: flat table written partitioned by
    region (dataset analogue, io.py:25-37), re-read via partition
    discovery with a pruning predicate, identical rows back."""
    from copperhead_spark.sources.parquet_io import read_partitioned, write_partitioned

    flat, got, _ = flat_and_ref
    out = str(tmp_path / "stage1_out")
    write_partitioned(flat, out, partition_by=("region",))
    back = read_partitioned(spark, out)
    assert back.count() == len(got)
    peak = back.filter("region = 'h-peak'").select("event").toPandas()
    assert sorted(peak["event"]) == sorted(got[got.region == "h-peak"]["event"])


def test_stage1_arrays_plan_shape(spark):
    """Scale invariants of the stage-1 plan: no Exchange before the
    stage-2 histogram (the single shuffle), exactly ONE Python crossing
    (the Arrow kernel), and no array HOF sort left in the JVM.  Each
    trig call appears once per object (4 objects: 2 muons, 2 jets, with
    2 EXP each for sinh) and the region Filter reads plain attributes:
    without the tail's evaluation barrier Catalyst pushed the filter
    below the kinematics and inlined dimuon_mass at each of its 8
    references (132 COS, 128 of them in the Filter).  The muon SF CASE
    is evaluated once per muon, not once per weight."""
    import re

    from copperhead_spark.pipeline import stage2_variations

    key = "spark.sql.debug.maxToStringFields"
    before = spark.conf.get(key, None)
    spark.conf.set(key, "10000")
    try:
        ev = events_fixture(spark, 200, SEED)
        plan = (
            stage2_variations(stage1_arrays(ev))
            ._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)
    assert plan.count("Exchange") == 1, plan.count("Exchange")
    assert plan.count("MapInArrow") == 1, plan.count("MapInArrow")
    assert "array_sort" not in plan
    trig = {f: plan.count(f"{f}(") for f in ("COS", "SIN", "EXP")}
    assert trig == {"COS": 4, "SIN": 4, "EXP": 8}, trig
    filters = [ln for ln in plan.splitlines() if "Filter " in ln]
    assert filters and not any(
        f"{f}(" in ln for ln in filters for f in ("COS", "SIN", "EXP", "SQRT", "LN")
    ), filters
    sf = re.findall(r"CASE WHEN \(mu([12])_pt#\d+ < 40", plan)
    assert sorted(sf) == ["1", "2"], sf


# name, type, nullable of the 44 stage-1 output columns
STAGE1_SCHEMA = (
    [("event", "bigint"), ("run", "bigint"), ("genWeight", "double"),
     ("MET_pt", "double"), ("Pileup_nTrueInt", "double"), ("nmuons", "bigint"),
     ("mm_charge", "int")]
    + [(f"mu{i}_{c}", t) for i in (1, 2)
       for c, t in (("pt", "double"), ("eta", "double"), ("phi", "double"),
                    ("charge", "int"), ("pfRelIso04_all", "double"))]
    + [("njets", "bigint")]
    + [(f"jet{i}_{c}", "double") for i in (1, 2)
       for c in ("pt", "eta", "phi", "mass", "qgl")]
    + [(f"{p}_{v}", "double") for p in ("dimuon", "jj")
       for v in ("mass", "pt", "rap", "dEta", "dPhi", "dR")]
    + [("region", "string")]
    + [(f"wgt_{v}", "double") for v in ("nominal", "muid_up", "muid_down")]
)


def _schema_triples(df):
    return [(f.name, f.dataType.simpleString(), f.nullable) for f in df.schema.fields]


def test_stage1_arrow_kernel_null_jets(spark):
    """jet1_*/jet2_* must be NULL (not NaN, not 0) when njets < 1/2, and
    so must every jj_* when njets < 2 — Spark treats NaN > x as TRUE, so
    a NaN leak would flip the vbf channel cascade.  The F1 fixture's
    survivors always carry >= 2 clean jets, so this uses a hand-built
    0/1/2-jet fixture, plus the inputs that must yield NO row (one muon,
    no muons, a same-sign pair), an empty frame, and partitions with no
    survivors: each gives the right row count under the full schema
    (names, types and nullability through the tail's barrier)."""
    from copperhead_spark.fixtures import EVENT_SCHEMA

    mu = [(50.0, 0.5, 0.1, 1, 0.1, True, -1),
          (40.0, -0.5, 2.0, -1, 0.1, True, -1)]
    same_sign = [mu[0], (40.0, -0.5, 2.0, 1, 0.1, True, -1)]
    jet = (120.0, 3.0, -2.0, 10.0, 2, 0.5)
    jet2 = (80.0, -3.0, 1.0, 8.0, 6, 0.2)

    def row(event, muons, jets):
        return (1, event, 1.0, True, True, 30.0, 20.0, muons, jets, [])

    rows = [
        row(100, mu, []),
        row(101, mu, [jet]),
        row(102, mu, [jet, jet2]),
        row(103, mu[:1], [jet, jet2]),
        row(104, [], [jet, jet2]),
        row(105, same_sign, [jet, jet2]),
    ]
    ev = spark.createDataFrame(rows, schema=EVENT_SCHEMA)
    want = [(n, t, n != "region") for n, t in STAGE1_SCHEMA]
    out = stage1_arrays(ev)
    assert _schema_triples(out) == want
    got = sorted(out.collect(), key=lambda r: r.event)
    assert [r.event for r in got] == [100, 101, 102]
    assert [r.njets for r in got] == [0, 1, 2]
    jj = [n for n, _ in STAGE1_SCHEMA if n.startswith("jj_")]
    for r in got[:2]:  # < 2 clean jets: NULL, not 0.0 and not NaN
        assert all(r[c] is None for c in jj), r.asDict()
    assert all(r[c] is None for c in ("jet1_pt", "jet2_pt", "jet1_qgl")
               for r in got[:1])
    assert got[1].jet1_pt == 120.0
    assert got[1].jet2_pt is None and got[1].jet2_mass is None
    assert got[2].jet1_pt == 120.0 and got[2].jet2_pt == 80.0
    assert all(math.isfinite(got[2][c]) for c in jj)

    empty = stage1_arrays(spark.createDataFrame([], schema=EVENT_SCHEMA))
    assert _schema_triples(empty) == want and empty.count() == 0

    # 8 partitions over 6 events: some are empty, others hold only
    # events the kernel drops
    spread = stage1_arrays(ev.repartition(8, "event"))
    assert _schema_triples(spread) == want
    assert sorted(spread.collect(), key=lambda r: r.event) == got


def test_distributed_fixture_feeds_pipeline(spark):
    """The executor-side generator (no driver loop) must populate every
    region with the same schema as the python fixture."""
    from copperhead_spark.fixtures import EVENT_SCHEMA, events_fixture_distributed

    ev = events_fixture_distributed(spark, 20000)
    assert [f.name for f in ev.schema.fields] == [f.name for f in EVENT_SCHEMA.fields]
    regions = {
        r["region"]
        for r in stage1_arrays(ev).select("region").distinct().collect()
    }
    assert regions == {"z-peak", "h-peak", "h-sidebands"}
