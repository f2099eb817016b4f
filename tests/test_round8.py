"""Round-8 behavior tests: the new scale twins and trainers verified on
crafted/random inputs against independent implementations (numpy/python),
complementing the DuckDB oracle parity the driver gate provides."""

import numpy as np
import pandas as pd

from copperhead_spark.plans.registry import all_queries


def _write_docs(spark, d, pdf):
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        f"{d}/documents.parquet"
    )


def test_a22_deciles_match_numpy_brute_force(spark, tmp_path):
    """Two-phase global deciles == numpy order statistics at the NTILE
    cut positions, under heavy ties (values drawn from a small range so
    bins and ties collide on purpose)."""
    rng = np.random.RandomState(42)
    n = 1777
    vals = rng.randint(48, 560, n)
    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": ["x"] * n,
            "lang": ["en"] * n,
            "source": ["web"] * n,
            "n_chars": vals.astype(np.int64),
        }
    )
    d = str(tmp_path / "docs")
    _write_docs(spark, d, pdf)
    got = {
        r["decile"]: (r["k"], r["boundary_chars"], r["boundary_doc"])
        for r in all_queries()["a22_two_phase_deciles"].builder(spark, d).collect()
    }
    order = sorted(zip(vals.tolist(), range(n)))  # (n_chars, doc_id) total order
    for dec in range(1, 10):
        k = dec * (n // 10) + min(dec, n % 10)
        v, doc = order[k - 1]
        assert got[dec] == (k, v, doc), (dec, got[dec], (k, v, doc))


def test_t16_gap_fill_keyed_hand_computed(spark, tmp_path):
    """Per-series grid + forward fill on crafted gaps: user 1 has events
    in hours 0,1,3 (one gap at hour 2 filled with hour 1's count); user 2
    has hours 5 and 8 (gaps 6,7 filled with hour 5's count); grids must
    not leak across users."""
    base = pd.Timestamp("2024-01-01")
    rows = []
    for h, k in ((0, 2), (1, 3), (3, 1)):
        rows += [(1, base + pd.Timedelta(hours=h, minutes=m)) for m in range(k)]
    for h, k in ((5, 4), (8, 2)):
        rows += [(2, base + pd.Timedelta(hours=h, minutes=m)) for m in range(k)]
    ev = pd.DataFrame(rows, columns=["user_id", "ts"])
    ev["event_id"] = np.arange(len(ev), dtype=np.int64)
    ev["event_type"] = "view"
    ev["value"] = 1.0
    d = str(tmp_path / "ev")
    spark.createDataFrame(ev).write.mode("overwrite").parquet(f"{d}/events.parquet")
    got = {
        r["user_id"]: r.asDict()
        for r in all_queries()["t16_gap_fill_keyed"].builder(spark, d).collect()
    }
    # user 1: grid hours 0..3 (4 rows), gap at hour 2 carries n=3
    assert got[1]["n_hours"] == 4 and got[1]["n_gaps"] == 1
    assert got[1]["filled_sum"] == 2 + 3 + 3 + 1
    assert got[1]["gap_filled_sum"] == 3
    # user 2: grid hours 5..8 (4 rows), gaps at 6,7 carry n=4
    assert got[2]["n_hours"] == 4 and got[2]["n_gaps"] == 2
    assert got[2]["filled_sum"] == 4 + 4 + 4 + 2
    assert got[2]["gap_filled_sum"] == 8


def test_logreg_irls_matches_numpy_newton(spark, tmp_path):
    """The fixed-point IRLS trainer agrees with an independent float64
    numpy Newton implementation to the 1e-9 output rounding (the
    1e6-scaled stats quantize per-row weights, so tolerance is a few
    rounding quanta, not exact)."""
    rng = np.random.RandomState(7)
    n = 4000
    x = rng.randint(0, 11, n) / 100.0  # discount-like
    logit = -0.8 + 6.0 * x
    y = (rng.uniform(size=n) < 1 / (1 + np.exp(-logit))).astype(int)
    li = pd.DataFrame(
        {
            "l_orderkey": np.arange(n, dtype=np.int64),
            "l_linenumber": np.ones(n, dtype=np.int32),
            "l_quantity": np.ones(n),
            "l_extendedprice": np.ones(n),
            "l_discount": x,
            "l_tax": np.zeros(n),
            "l_returnflag": np.where(y == 1, "R", "N"),
        }
    )
    d = str(tmp_path / "li")
    spark.createDataFrame(li).write.mode("overwrite").parquet(
        f"{d}/lineitem.parquet"
    )
    row = all_queries()["ml_logreg_irls"].builder(spark, d).collect()[0]
    assert row["n"] == n
    # independent Newton (2 steps, float64, no quantization)
    X = np.stack([np.ones(n), x * 10], axis=1)
    b = np.zeros(2)
    for _ in range(2):
        p = 1 / (1 + np.exp(-(X @ b)))
        w = p * (1 - p)
        H = X.T @ (X * w[:, None])
        g = X.T @ (y - p)
        b = b + np.linalg.solve(H, g)
    assert abs(row["b0"] - b[0]) < 5e-5, (row["b0"], b[0])
    assert abs(row["b1"] - b[1]) < 5e-5, (row["b1"], b[1])
    # and the model learned the right direction with a sane magnitude
    assert row["b1"] > 0.5 and row["b0"] < 0


def test_ks_and_ap_match_numpy(spark, tmp_path):
    """KS statistic and average precision from the binned-count plan ==
    a direct numpy computation over the same bins."""
    rng = np.random.RandomState(3)
    n = 3000
    score = rng.randint(0, 11, n)
    y = (rng.uniform(size=n) < score / 12.0).astype(int)
    li = pd.DataFrame(
        {
            "l_orderkey": np.arange(n, dtype=np.int64),
            "l_linenumber": np.ones(n, dtype=np.int32),
            "l_quantity": np.ones(n),
            "l_extendedprice": np.ones(n),
            "l_discount": score / 100.0,
            "l_tax": np.zeros(n),
            "l_returnflag": np.where(y == 1, "R", "N"),
        }
    )
    d = str(tmp_path / "li2")
    spark.createDataFrame(li).write.mode("overwrite").parquet(
        f"{d}/lineitem.parquet"
    )
    qs = all_queries()
    ks = qs["ml_ks_statistic"].builder(spark, d).collect()[0]
    ap = qs["ml_pr_auc"].builder(spark, d).collect()[0]
    npos, nneg = int(y.sum()), int(n - y.sum())
    assert (ks["npos"], ks["nneg"], ks["n"]) == (npos, nneg, n)
    # numpy KS over the same integer bins
    gaps = {}
    cpos = cneg = 0
    for s in range(0, 11):
        cpos += int(y[score == s].sum())
        cneg += int((score == s).sum() - y[score == s].sum())
        gaps[s] = abs(cpos * nneg - cneg * npos)
    best = max(gaps.values())
    assert ks["ks_e6"] == (best // (npos * nneg)) * 10**6 + (
        (best % (npos * nneg)) * 10**6
    ) // (npos * nneg)
    assert gaps[ks["ks_threshold"]] == best
    # numpy AP over descending bins with the documented floor convention
    tp = pp = 0
    total = 0
    for s in range(10, -1, -1):
        dtp = int(y[score == s].sum())
        tp += dtp
        pp += int((score == s).sum())
        a = dtp * tp
        total += (a // pp) * 10**9 + ((a % pp) * 10**9) // pp
    assert ap["ap_e9"] == total // npos
    assert (ap["n"], ap["npos"]) == (n, npos)


def test_url_canonicalize_collapses_variants(spark, tmp_path):
    """Variants differing only in scheme case / utm params / fragment
    collapse to one canonical URL; the real query param survives."""
    n = 40
    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": ["x"] * n,
            "lang": ["en"] * n,
            "source": ["web"] * n,
            "n_chars": np.full(n, 10, dtype=np.int64),
        }
    )
    d = str(tmp_path / "docs2")
    _write_docs(spark, d, pdf)
    rows = all_queries()["text_url_canonicalize"].builder(spark, d).collect()
    # doc_id % 50 is injective for n=40 docs -> 40 canonical groups of 1,
    # but every canonical form must be clean
    assert len(rows) == 40
    for r in rows:
        c = r["canonical"]
        assert c.startswith("https://example-web.com/articles/")
        assert "?ref=en" in c and "utm" not in c and "#" not in c
        assert ":443" not in c and "www." not in c
        assert r["n_docs"] == 1 and r["n_raw_variants"] == 1


def test_codegen_barrier_names_unique_per_call(spark):
    """Observed-metric names must be unique per query: composing two
    barriered subplans (e.g. a union of two fit-anchor passes) would
    raise DUPLICATED_OBSERVED_METRICS if codegen_barrier reused a name.
    The module counter guarantees uniqueness."""
    from copperhead_spark.operators.barrier import codegen_barrier

    df = spark.range(5).selectExpr("id * 2 AS a")
    u = codegen_barrier(df).union(codegen_barrier(df))
    assert u.count() == 10
