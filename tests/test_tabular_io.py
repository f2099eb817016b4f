"""CSV lookup ingestion + JSON/ORC interchange round-trips, and the
CSV-loaded table flowing through the binned broadcast lookup join (the
b-tag-SF-from-CSV shape, btag_weights.py:4-10)."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F


def test_csv_lookup_through_binned_join(spark, tmp_path):
    from copperhead_spark.operators.lookup import binned_lookup_join
    from copperhead_spark.sources.tabular_io import read_lookup_csv

    # a 10-bin 1-D scale-factor table as a CSV file with comments
    csv = tmp_path / "sf.csv"
    lines = ["# correction v3", "bin_idx,sf"]
    sfs = [round(0.9 + 0.02 * i, 2) for i in range(10)]
    lines += [f"{i},{sf}" for i, sf in enumerate(sfs)]
    csv.write_text("\n".join(lines) + "\n")

    lookup = read_lookup_csv(spark, str(csv), "bin_idx long, sf double")
    assert lookup.count() == 10

    rng = np.random.RandomState(7)
    pdf = pd.DataFrame({"x": rng.uniform(-5, 55, 500).round(3)})
    fact = spark.createDataFrame(pdf)
    got = (
        binned_lookup_join(fact, lookup, F.col("x"), lo=0.0, width=5.0, nbins=10)
        .select("x", "sf")
        .toPandas()
        .sort_values("x")
        .reset_index(drop=True)
    )
    bins = np.clip(np.floor(pdf["x"] / 5.0).astype(int), 0, 9)
    expect = pdf.assign(sf=[sfs[b] for b in bins]).sort_values("x").reset_index(drop=True)
    assert (got["sf"] == expect["sf"]).all()

    # plan shape: broadcast equi-join, not a nested-loop range probe
    plan = (
        binned_lookup_join(fact, lookup, F.col("x"), 0.0, 5.0, 10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_csv_failfast_on_corrupt_rows(spark, tmp_path):
    import pytest
    from py4j.protocol import Py4JJavaError

    from copperhead_spark.sources.tabular_io import read_lookup_csv

    csv = tmp_path / "bad.csv"
    csv.write_text("bin_idx,sf\n0,1.0\nnot_a_number,oops\n")
    with pytest.raises(Py4JJavaError):
        read_lookup_csv(spark, str(csv), "bin_idx long, sf double").collect()


def test_json_roundtrip(spark, sf_dir, tmp_path):
    from copperhead_spark.catalog import table
    from copperhead_spark.sources.tabular_io import read_json, write_json

    nat = table(spark, sf_dir, "nation")
    out = str(tmp_path / "nation_json")
    write_json(nat, out)
    back = read_json(spark, out, nat.schema)
    a = nat.toPandas().sort_values("n_nationkey").reset_index(drop=True)
    b = back.toPandas().sort_values("n_nationkey").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b[a.columns])


def test_orc_roundtrip(spark, sf_dir, tmp_path):
    from copperhead_spark.catalog import table
    from copperhead_spark.sources.tabular_io import read_orc, write_orc

    reg = table(spark, sf_dir, "region")
    out = str(tmp_path / "region_orc")
    write_orc(reg, out)
    back = read_orc(spark, out)
    a = reg.toPandas().sort_values("r_regionkey").reset_index(drop=True)
    b = back.toPandas().sort_values("r_regionkey").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b[a.columns])


def _make_fake_root_decoder():
    """Deterministic stand-in for the uproot chunk decode: entry i of
    file fN carries event = N*1_000_000 + i, a scalar pt, and a jagged
    Muon_pt whose length cycles 0..3 — NanoAOD-shaped without ROOT.
    Returned as a closure so cloudpickle ships it by VALUE (a module-
    level test function would pickle by reference and fail to import on
    executors)."""

    def decoder(path, tree, branches, start, stop):
        import pyarrow as pa

        file_no = int(path.rsplit("f", 1)[-1].split(".")[0])
        events, pts, jagged = [], [], []
        for i in range(start, stop):
            events.append(file_no * 1_000_000 + i)
            pts.append(round(20.0 + (i % 97) * 0.5, 4))
            jagged.append([float(j + i % 4) for j in range(i % 4)])
        return pa.table(
            {
                "event": pa.array(events, pa.int64()),
                "pt": pa.array(pts, pa.float64()),
                "Muon_pt": pa.array(jagged, pa.list_(pa.float64())),
            }
        )

    return decoder


def test_read_nanoaod_mapinarrow_roundtrip(spark):
    """S1 plumbing end-to-end with an injected decoder: chunk planning ->
    chunk-spec DataFrame -> mapInArrow fan-out -> Arrow batches -> typed
    DataFrame; only the uproot import line stays unexercised
    (run_stage1.py:153-166 chunked-Runner analogue)."""
    from copperhead_spark.sources.root_ingest import plan_chunks, read_nanoaod

    files = [("/fake/f1.root", 2500), ("/fake/f2.root", 500)]
    assert len(plan_chunks(files, 1000)) == 4  # 3 + 1 chunks

    df = read_nanoaod(
        spark, files, branches=("event", "pt", "Muon_pt"),
        chunk_size=1000, decoder=_make_fake_root_decoder(),
    )
    assert [f.name for f in df.schema.fields] == ["event", "pt", "Muon_pt"]
    assert df.schema["Muon_pt"].dataType.simpleString() == "array<double>"

    got = df.selectExpr(
        "count(*) AS n",
        "sum(event) AS ev_sum",
        "sum(size(Muon_pt)) AS nmu",
        "sum(CAST(ROUND(pt * 10000) AS BIGINT)) AS pt_fp",
    ).first()
    # independent python mirror of the fake decoder
    want_ev = want_mu = want_pt = 0
    for fno, n in ((1, 2500), (2, 500)):
        for i in range(n):
            want_ev += fno * 1_000_000 + i
            want_mu += i % 4
            want_pt += round((20.0 + (i % 97) * 0.5) * 10000)
    assert got.n == 3000
    assert got.ev_sum == want_ev
    assert got.nmu == want_mu
    assert got.pt_fp == want_pt


def test_read_nanoaod_default_decoder_reads_rootio_files(spark, tmp_path):
    """With uproot absent the default decoder is the pure-python rootio
    reader (r8: the S1 gate is retired for flat trees): a multi-file,
    multi-basket, multi-chunk scan must reproduce every value, with
    chunk boundaries that split baskets."""
    import numpy as np

    from copperhead_spark.sources.root_ingest import read_nanoaod
    from copperhead_spark.sources.rootio import list_trees, write_tree

    files = []
    rng = np.random.RandomState(7)
    for i, n in enumerate((1000, 1537)):
        path = str(tmp_path / f"f{i}.root")
        write_tree(
            path,
            "Events",
            {
                "event": np.arange(n, dtype=np.int64) + i * 10_000,
                "pt": rng.uniform(0, 100, n),
            },
            basket_entries=300,
        )
        assert list_trees(path) == [("Events", n)]
        files.append((path, n))

    df = read_nanoaod(spark, files, ("event", "pt"), chunk_size=450)
    rows = df.orderBy("event").collect()
    assert len(rows) == 2537
    events = [r.event for r in rows]
    assert events == list(range(1000)) + [10_000 + k for k in range(1537)]
    assert all(0 <= r.pt <= 100 for r in rows)


def test_write_root_templates_pure_python_roundtrip(tmp_path):
    """S8 sink: without uproot, write_root_templates writes rootio TH1F
    records; reading them back recovers values (float32-quantized, as a
    real TArrayF stores them) and Sumw2 (float64, bit-exact)."""
    import numpy as np

    from copperhead_spark.finishing.templates import write_root_templates
    from copperhead_spark.sources.rootio import read_th1f

    templates = {
        ("sig", "h-peak"): {
            "values": np.array([1.5, 2.25, 0.0, 4.125]),
            "sumw2": np.array([0.5, 1.0, 0.0, 2.0]),
        },
        "bkg": {"values": np.array([3.0, 1.0, 0.25, 0.0])},
    }
    out = str(tmp_path / "templates.root")
    write_root_templates(templates, out)
    back = read_th1f(out)
    assert set(back) == {"sig_h-peak", "bkg"}
    h = back["sig_h-peak"]
    assert h["nbins"] == 4
    assert np.array_equal(h["contents"][1:-1], [1.5, 2.25, 0.0, 4.125])
    assert h["contents"][0] == h["contents"][-1] == 0.0
    assert np.array_equal(h["sumw2"][1:-1], [0.5, 1.0, 0.0, 2.0])
    assert np.array_equal(back["bkg"]["contents"][1:-1], [3.0, 1.0, 0.25, 0.0])


def test_zorder_layout_prunes_2d_range_predicate(spark, sf_dir, tmp_path):
    """Parquet footer min/max stats over the z-ordered layout admit far
    fewer candidate row groups for the 2-D range predicate than the same
    data written naively (single-dimension sort): the data-skipping
    payoff the layout exists for, measured from the footers themselves."""
    import datetime
    import glob

    import pyarrow.parquet as pq

    from copperhead_spark.catalog import table
    from copperhead_spark.plans.sources import zorder_write

    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_shipdate", "l_extendedprice", "l_discount"
    )
    zdir = str(tmp_path / "zorder")
    ndir = str(tmp_path / "naive")
    zorder_write(li, zdir, n_files=64)
    # naive: same file count, clustered on shipdate only
    (
        li.repartitionByRange(64, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .parquet(ndir)
    )

    lo_d = datetime.datetime(1996, 1, 1)
    hi_d = datetime.datetime(1997, 7, 1)

    def candidates(d):
        total = cand = 0
        for f in glob.glob(d + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            cols = {md.schema.column(i).name: i for i in range(md.num_columns)}
            for rg in range(md.num_row_groups):
                total += 1
                g = md.row_group(rg)
                sd = g.column(cols["l_shipdate"]).statistics
                ep = g.column(cols["l_extendedprice"]).statistics
                if sd.min < hi_d and sd.max >= lo_d and ep.min < 30000 and ep.max >= 20000:
                    cand += 1
        return cand, total

    zc, zt = candidates(zdir)
    nc, nt = candidates(ndir)
    assert zt > 0 and nt > 0
    # every z row group is a rectangle in BOTH dims; the naive layout is
    # narrow in shipdate but spans the full price range, so the 2-D
    # predicate cannot skip on price there
    assert zc / zt < nc / nt
    assert zc / zt <= 0.5
