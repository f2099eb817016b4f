"""Round-9 additions: the composed ROOT->TH1F e2e parity query, the
jagged+compressed S1 scan, and the classifier-curation flagship.

The e2e tests mirror the reference's continuous test
(/root/reference/tests/test_continuous.py:25-101): stages chained in one
run, checked by pinned point-probes (its `dimuon_mass == 117.1209375`
idiom, test_stage1.py:63) plus aggregate yields."""

import numpy as np
import pytest


# ---------------------------------------------------------------------------
# pipeline_root_to_th1_e2e: ROOT bytes -> stage1 -> stage2 -> TH1F bytes
# ---------------------------------------------------------------------------


def test_root_scan_is_transparent_to_stage1(spark, sf_dir):
    """The jagged+zlib ROOT roundtrip must be invisible to the pipeline:
    stage1 over the ROOT-scanned events equals stage1 over the in-memory
    fixture row-for-row (float64 payloads are stored big-endian
    bit-exact, ints/bools natively — nothing may shift)."""
    from copperhead_spark.fixtures import events_fixture_distributed
    from copperhead_spark.pipeline import stage1_arrays
    from copperhead_spark.plans.sources import _E2E_ROOT_N, root_events_scan

    via_root = stage1_arrays(root_events_scan(spark, sf_dir))
    direct = stage1_arrays(events_fixture_distributed(spark, _E2E_ROOT_N))
    # nullability differs (mapInArrow outputs are nullable); names and
    # types must match exactly
    assert [(f.name, f.dataType) for f in via_root.schema.fields] == [
        (f.name, f.dataType) for f in direct.schema.fields
    ]
    assert via_root.exceptAll(direct).count() == 0
    assert direct.exceptAll(via_root).count() == 0


def test_root_to_th1_pinned_point_probes(spark, sf_dir):
    """Pinned probes through the full three-stage chain (values frozen
    from the first green run; any byte-level or kinematic drift anywhere
    in encode -> scan -> stage1 -> stage2 -> TH1F moves them)."""
    from copperhead_spark.pipeline import stage1_arrays
    from copperhead_spark.plans.sources import root_events_scan

    s1 = stage1_arrays(root_events_scan(spark, sf_dir))
    first = s1.orderBy("event").select(
        "event", "dimuon_mass", "wgt_nominal", "njets"
    ).first()
    assert first["event"] == 125
    assert first["dimuon_mass"] == 85.63289344734724  # bit-exact pin
    assert first["wgt_nominal"] == 0.893668103664
    assert first["njets"] == 2
    assert s1.count() == 142


def test_root_to_th1_template_yields(spark, sf_dir):
    """Aggregate yields of the read-back TH1F templates (the
    test_continuous 'yields' check): template set, bin count, and the
    float32-quantized totals are pinned."""
    from copperhead_spark.plans.registry import all_queries

    df = all_queries()["pipeline_root_to_th1_e2e"].builder(spark, sf_dir)
    pdf = df.toPandas()
    assert sorted(pdf.template.unique()) == [
        "h-peak__ggh_2orMoreJets",
        "h-peak__vbf",
        "h-sidebands__ggh_2orMoreJets",
        "h-sidebands__vbf",
        "z-peak__vbf",
    ]
    assert len(pdf) == 5 * 39  # 37 bins + under/overflow per template
    assert float(pdf.content.sum()) == 111.48019814491272
    assert float(pdf.sumw2.sum()) == 111.39999367220499
    # a specific populated cell (h-peak bin 28 = mass [130,132))
    cell = pdf[(pdf.template == "h-peak__ggh_2orMoreJets") & (pdf.bin == 28)]
    assert float(cell.content.iloc[0]) == 0.8570399880409241
    assert float(cell.sumw2.iloc[0]) == 0.734517536259


def test_root_events_scan_schema_matches_fixture(spark, sf_dir):
    """The scanned event table exposes the fixture's exact column names
    and element types (the NanoEvents contract stage1 consumes)."""
    from copperhead_spark.fixtures import EVENT_SCHEMA
    from copperhead_spark.plans.sources import root_events_scan

    got = root_events_scan(spark, sf_dir).schema
    want = {f.name: f.dataType.simpleString() for f in EVENT_SCHEMA.fields}
    have = {f.name: f.dataType.simpleString() for f in got.fields}
    assert have == want


# ---------------------------------------------------------------------------
# s1_root_scan_jagged: counts/value alignment across chunk boundaries
# ---------------------------------------------------------------------------


def test_jagged_chunk_boundaries_slice_value_stream(spark, sf_dir):
    """Exploding the jagged scan must reproduce the original lineitem
    rows exactly — per-order value alignment across chunk AND basket
    boundaries (chunk 900 vs basket 512 never align)."""
    from pyspark.sql import functions as F

    from copperhead_spark.catalog import table
    from copperhead_spark.plans.sources import _root_jagged_fixture
    from copperhead_spark.sources.root_ingest import read_nanoaod, rootio_decoder

    path, n = _root_jagged_fixture(spark, sf_dir)
    df = read_nanoaod(
        spark, [(path, n)],
        ("o_orderkey", "li_linenumber", "li_extendedprice"),
        tree="Events", chunk_size=900, decoder=rootio_decoder,
    )
    exploded = df.select(
        "o_orderkey",
        F.explode(F.arrays_zip(
            F.col("li_linenumber").alias("ln"),
            F.col("li_extendedprice").alias("px"),
        )).alias("li"),
    ).select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.col("li.ln").cast("int").alias("l_linenumber"),
        F.col("li.px").alias("l_extendedprice"),
    )
    orig = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    assert exploded.exceptAll(orig).count() == 0
    assert orig.exceptAll(exploded).count() == 0


# ---------------------------------------------------------------------------
# rootio unit coverage the property suite doesn't reach
# ---------------------------------------------------------------------------


def test_rootio_pruned_compressed_baskets_not_inflated(tmp_path, monkeypatch):
    """Basket-level pruning must hold through compression: reading a
    1-basket window of a compressed jagged tree inflates only the
    baskets overlapping the window (counts + payload branches), proven
    by counting zlib.decompress calls."""
    import zlib as _zlib

    from copperhead_spark.sources import rootio

    n = 1000
    rng = np.random.RandomState(3)
    counts = rng.randint(0, 4, n).astype(np.int32)
    vals = rng.uniform(size=int(counts.sum()))
    path = str(tmp_path / "p.root")
    rootio.write_tree(
        path, "T",
        {"nX": counts, "flat": rng.uniform(size=n)},
        {"X": ("nX", vals)},
        basket_entries=100, compress=6,
    )
    calls = []
    real = _zlib.decompress

    def spy(data, *a, **k):
        calls.append(len(data))
        return real(data, *a, **k)

    monkeypatch.setattr(rootio.zlib, "decompress", spy)
    got = rootio.read_tree(path, "T", ["X"], 150, 240)
    c, v = got["X"]
    assert np.array_equal(c, counts[150:240])
    off = int(counts[:150].sum())
    assert np.array_equal(v, vals[off : off + int(counts[150:240].sum())])
    # window [150,240) overlaps baskets 1 and 2 of 10 -> at most 2
    # payload inflations for X + 2 for its counts branch (flat never read)
    assert len(calls) <= 4


def test_rootio_missing_index_error_is_actionable(tmp_path):
    """ROOT-parseable file without a TTree record -> KeyError that names
    the remediation (the r8 ADVICE error-message item)."""
    from copperhead_spark.sources import rootio

    path = str(tmp_path / "h.root")
    rootio.write_th1f(
        path, [dict(name="h", nbins=2, xlo=0, xhi=1, contents=np.zeros(4))]
    )
    with pytest.raises(KeyError, match="uproot"):
        rootio.read_tree(path, "Events")


# ---------------------------------------------------------------------------
# pipeline_classifier_curation_e2e: label -> IRLS train -> filter -> mix
# -> pack, mirrored end-to-end in pandas/numpy
# ---------------------------------------------------------------------------


def _hash_uniform_py(key, salt: int):
    """Integer mirror of operators/rochester.hash_uniform_sql."""
    P = 2_147_483_647
    ev = key.astype(np.int64) % P
    ix = np.int64(salt % P)
    h = ((ev * 1013904223 + ix * 1664525) % P + P) % P
    return h.astype(np.float64) / float(P)


def test_curation_flagship_matches_pandas_mirror(spark, sf_dir):
    """The whole curation chain — gold label on the carve-out, two
    fixed-point IRLS Newton steps, quantized-score corpus filter,
    temperature mixture, shard packing — recomputed independently in
    pandas/numpy; per-language audit rows must match exactly and the
    betas must agree with an unquantized float64 Newton."""
    import pandas as pd

    from copperhead_spark.plans.registry import all_queries
    from copperhead_spark.plans.training import (
        _CTX,
        _CUR_LABEL_MOD,
        _CUR_MIX_SALT,
        _NSHARDS,
        _PACK_STRIDE,
    )

    got = (
        all_queries()["pipeline_classifier_curation_e2e"]
        .builder(spark, sf_dir)
        .toPandas()
        .sort_values("lang")
        .reset_index(drop=True)
    )

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    toks = docs["text"].str.split(" ")
    nt = toks.str.len().to_numpy(np.int64)
    uniq = toks.map(lambda t: len(set(t))).to_numpy(np.int64)
    x = nt.astype(np.float64) / 1e2
    y = (uniq.astype(np.float64) / nt.astype(np.float64) >= 0.45).astype(
        np.float64
    )
    lab = docs["doc_id"].to_numpy() % _CUR_LABEL_MOD == 0

    def rnd6(v):  # HALF_UP at 1e6, away from zero (Spark/DuckDB ROUND)
        return (np.sign(v) * np.floor(np.abs(v) * 1e6 + 0.5)).astype(np.int64)

    def solve(b0, b1, s0, s1, s2, g0, g1):
        den = float(s0) * float(s2) - float(s1) * float(s1)
        return (
            b0 + (float(s2) * float(g0) - float(s1) * float(g1)) / den,
            b1 + (float(s0) * float(g1) - float(s1) * float(g0)) / den,
        )

    xl, yl = x[lab], y[lab]
    b0, b1 = solve(
        0.0,
        0.0,
        len(xl) * 250000,
        rnd6(0.25 * xl).sum(),
        rnd6(0.25 * xl * xl).sum(),
        rnd6(yl - 0.5).sum(),
        rnd6((yl - 0.5) * xl).sum(),
    )
    p = 1.0 / (1.0 + np.exp(-(b0 + b1 * xl)))
    w = p * (1.0 - p)
    b0, b1 = solve(
        b0,
        b1,
        rnd6(w).sum(),
        rnd6(w * xl).sum(),
        rnd6(w * xl * xl).sum(),
        rnd6(yl - p).sum(),
        rnd6((yl - p) * xl).sum(),
    )
    # betas: engine fixed-point vs unquantized float64 Newton agree to 5e-5
    Xd = np.stack([np.ones(lab.sum()), xl], axis=1)
    bf = np.zeros(2)
    for _ in range(2):
        pf = 1 / (1 + np.exp(-(Xd @ bf)))
        H = Xd.T @ (Xd * (pf * (1 - pf))[:, None])
        bf = bf + np.linalg.solve(H, Xd.T @ (yl - pf))
    assert abs(got["b0"].iloc[0] - bf[0]) < 5e-5
    assert abs(got["b1"].iloc[0] - bf[1]) < 5e-5
    # the model learned the corpus's length->repetition direction
    assert got["b1"].iloc[0] < -5.0 and got["b0"].iloc[0] > 0.0

    # corpus filter + mixture + packing mirror
    corp = docs.loc[~lab, ["doc_id", "lang"]].copy()
    corp["n_tokens"] = nt[~lab]
    score_q = rnd6(b0 + b1 * x[~lab])
    kept = corp.loc[score_q >= 0].copy()
    n_by_lang = kept.groupby("lang")["doc_id"].count()
    rate = np.sqrt(n_by_lang.astype(float)) / np.sqrt(float(n_by_lang.max()))
    u = _hash_uniform_py(kept["doc_id"].to_numpy(), int(_CUR_MIX_SALT))
    s5 = kept.loc[u < kept["lang"].map(rate).to_numpy()].copy()
    s5["shard"] = s5["doc_id"] % _NSHARDS
    s5 = s5.sort_values(["shard", "doc_id"])
    s5["off"] = s5.groupby("shard")["n_tokens"].cumsum() - s5["n_tokens"]
    mirror = (
        s5.groupby("lang")
        .apply(
            lambda g: pd.Series(
                {
                    "n_docs": len(g),
                    "total_tokens": g["n_tokens"].sum(),
                    "n_packs": (
                        g["shard"] * _PACK_STRIDE + g["off"] // _CTX
                    ).nunique(),
                    "offset_checksum": (g["off"] % _CTX).sum(),
                    "id_checksum": g["doc_id"].sum(),
                }
            ),
            include_groups=False,
        )
        .reset_index()
        .sort_values("lang")
        .reset_index(drop=True)
    )
    assert list(got["lang"]) == list(mirror["lang"])
    for c in ("n_docs", "total_tokens", "n_packs", "offset_checksum", "id_checksum"):
        assert got[c].astype("int64").tolist() == mirror[c].astype("int64").tolist(), c
    # the cheap classifier reproduces the expensive gold rule on most of
    # the corpus it never saw labels for
    gold = y[~lab] == 1.0
    agree = ((score_q >= 0) == gold).mean()
    assert agree > 0.85, agree


def test_curation_gold_label_only_computed_on_carveout(spark, sf_dir):
    """The expensive diversity label must appear only under the labeled
    filter: the corpus side of the plan carries no array_distinct (the
    production cost contract — tokenize+distinct on ~1/13 of the data)."""
    from copperhead_spark.plans.registry import all_queries

    df = all_queries()["pipeline_classifier_curation_e2e"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "array_distinct" not in plan, plan[:2000]


def test_scan_entries_and_files_ingest(spark, tmp_path):
    """Distributed (path, entries) pre-scan over several ROOT files
    feeds the bare-paths ingest; values round-trip exactly and the scan
    is metadata-only (works on compressed files without inflating
    baskets — entry counts come from the TTree object record)."""
    import numpy as np

    from copperhead_spark.sources import rootio
    from copperhead_spark.sources.root_ingest import (
        read_nanoaod_files,
        scan_entries,
    )

    rng = np.random.RandomState(11)
    paths, sizes = [], [37, 101, 64]
    for i, n in enumerate(sizes):
        p = str(tmp_path / f"f{i}.root")
        rootio.write_tree(
            p,
            "Events",
            {"x": rng.uniform(-1, 1, n), "k": np.arange(n, dtype=np.int64)},
            basket_entries=16,
            compress=206,  # kLZMA — metadata scan must not need payloads
        )
        paths.append(p)
    got = {r["path"]: r["entries"] for r in scan_entries(spark, paths).collect()}
    assert got == dict(zip(paths, sizes))
    df = read_nanoaod_files(spark, paths, ["k", "x"], chunk_size=25)
    rows = df.collect()
    assert len(rows) == sum(sizes)
    assert sorted(r["k"] for r in rows) == sorted(
        list(range(37)) + list(range(101)) + list(range(64))
    )
