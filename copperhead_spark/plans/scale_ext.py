"""Scale-path and finishing operators as oracle-checked queries.

Round-1 coverage had four SURVEY.md §2 rows proven only by unit tests
(SK1 salting, BK1 bucketed joins, ST5 custom stateful streaming, FIN2
template grouping) and one by nothing (O4 presentation sort).  Each now
registers a driver-facing query so the correctness gate — not just the
local suite — pins its semantics.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from copperhead_spark.catalog import scratch_dir, table
from copperhead_spark.functions.exact import exact_sum, exact_sum_sql
from copperhead_spark.operators.histogram import bin_index_sql, histogram
from copperhead_spark.plans.registry import register


@register(
    "sk1_salted_skew_agg",
    oracle=f"""
SELECT l_returnflag,
       {exact_sum_sql("l_quantity", 2)} AS qty_sum,
       COUNT(*) AS n
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("SK1", "A1", "A4"),
)
def sk1_salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted two-stage aggregation (operators/skew.py) on the most
    skewed natural key in the fixture (3 return flags over all of
    lineitem — exactly the hot-key shape that serializes one reducer at
    100 TB).  The salt must not change the result: the oracle is the
    plain one-stage GROUP BY, and fixed-point sums make the two-stage
    re-sum bit-exact."""
    from copperhead_spark.operators.skew import salted_sum

    li = table(spark, sf_dir, "lineitem")
    scaled = F.round(F.col("l_quantity") * 100).cast("long")
    out = salted_sum(li, ["l_returnflag"], {"qty_scaled": scaled}, n_salts=16)
    return out.select(
        "l_returnflag",
        (F.col("qty_scaled") / F.lit(100.0)).alias("qty_sum"),
        F.col("n"),
    )


@register(
    "bk1_bucketed_join_agg",
    oracle=f"""
SELECT c.c_mktsegment AS segment,
       COUNT(*) AS n_orders,
       {exact_sum_sql("o.o_totalprice")} AS total
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1
""",
    tags=("BK1", "J1"),
)
def bk1_bucketed_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: write orders and customer bucketed on
    custkey (8 buckets, sorted), join through the catalog, aggregate.
    At 100 TB bucketing removes the per-query shuffle for every repeated
    join on the same key (tests/test_scale_ops.py pins the no-Exchange
    plan); here the oracle pins that bucketed write + catalog read + join
    loses no rows vs the plain join on the original parquet."""
    sf_tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = scratch_dir("buckets", sf_dir)
    names = {}
    for tname, key in (("orders", "o_custkey"), ("customer", "c_custkey")):
        qname = f"cph_bk1_{tname}_{sf_tag}"
        (
            table(spark, sf_dir, tname)
            .write.bucketBy(8, key)
            .sortBy(key)
            .option("path", os.path.join(base, tname))
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(qname)
        )
        names[tname] = qname
    o = spark.table(names["orders"])
    c = spark.table(names["customer"])
    joined = o.join(c, o.o_custkey == c.c_custkey)
    return joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").alias("n_orders"),
        exact_sum(F.col("o_totalprice")).alias("total"),
    )


@register(
    "o4_presentation_sort",
    oracle=f"""
SELECT n.n_name AS nation,
       {exact_sum_sql("o.o_totalprice")} AS total
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY 1
ORDER BY total DESC, nation ASC
LIMIT 10
""",
    tags=("O4", "O2"),
)
def o4_presentation_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Presentation sort (stage-3 plotting order): top-10 nations by
    order revenue, deterministically tie-broken.  The global sort runs on
    the AGGREGATE (25 rows), never on the fact table — the ORDER BY cost
    is independent of corpus size, which is what makes a presentation
    sort safe at 100 TB."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(exact_sum(F.col("o_totalprice")).alias("total"))
        .orderBy(F.col("total").desc(), F.col("nation").asc())
        .limit(10)
    )


_T_LO, _T_HI, _T_N = 0.0, 110000.0, 55
_T_GROUP_SQL = "CASE WHEN l_returnflag = 'R' THEN 'returned' ELSE 'kept' END"


@register(
    "fin2_group_templates",
    oracle=f"""
SELECT {_T_GROUP_SQL} AS grp,
       {bin_index_sql("l_extendedprice", _T_LO, _T_HI, _T_N)} AS bin_idx,
       {exact_sum_sql("1 - l_discount", 4)} AS value,
       {exact_sum_sql("(1 - l_discount) * (1 - l_discount)", 8)} AS sumw2
FROM lineitem
GROUP BY 1, 2
""",
    tags=("FIN2", "A5", "A11"),
)
def fin2_group_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template grouping (make_templates.py:128-155): the dataset->group
    mapping applied to the fine histogram table, re-summing value/sumw2
    per (group, bin).  The reference loops over histogram pickles; here
    the mapping is a broadcast join against a tiny grouping dim and the
    re-sum is a second (group-sized) hash aggregate — the finishing layer
    stays in the data plane until the final collect."""
    li = table(spark, sf_dir, "lineitem")
    fine = histogram(
        li,
        value=F.col("l_extendedprice"),
        lo=_T_LO,
        hi=_T_HI,
        nbins=_T_N,
        by=[F.col("l_returnflag").alias("dataset")],
        weight=1 - F.col("l_discount"),
    )
    grouping = spark.createDataFrame(
        [("A", "kept"), ("N", "kept"), ("R", "returned")], ["dataset", "grp"]
    )
    # re-sum in FIXED POINT: round(value*m) recovers each dataset's scaled
    # integer sum exactly, and integer addition is order-independent, so
    # the merged template is bit-equal to the oracle's direct sum over the
    # union (summing the already-divided doubles would drift in the ulps)
    return (
        fine.join(F.broadcast(grouping), "dataset")
        .groupBy("grp", "bin_idx")
        .agg(
            exact_sum(F.col("value"), 4).alias("value"),
            exact_sum(F.col("sumw2"), 8).alias("sumw2"),
        )
    )


@register(
    "st5_stateful_profile",
    oracle=f"""
SELECT user_id,
       COUNT(*) AS n_events,
       {exact_sum_sql("value", 4)} AS value_sum
FROM events
GROUP BY user_id
""",
    tags=("ST5", "streaming"),
)
def st5_stateful_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user running profile replayed to completion must equal the batch
    GROUP BY.  Update mode emits one row per user per micro-batch; the
    final state is the emission with the highest n_events (monotone), so
    max_by recovers it without trusting emission order."""
    from copperhead_spark.streaming.events import events_stream, run_to_memory
    from copperhead_spark.streaming.stateful import user_profile_stream

    ev = events_stream(spark, sf_dir)
    out = run_to_memory(user_profile_stream(ev), mode="update")
    return out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        (
            F.expr("max_by(value_sum_scaled, n_events)") / F.lit(10000.0)
        ).alias("value_sum"),
    )


_DC_PROC = "CASE WHEN l_returnflag = 'N' THEN 'signal' ELSE 'background' END"
_DC_UP = "(1 - l_discount) * (1.0 + 0.01 * (l_linenumber % 3))"
_DC_DOWN = "(1 - l_discount) * (1.0 - 0.01 * (l_linenumber % 3))"


@register(
    "fin3_datacard_yields",
    oracle=f"""
SELECT l_linestatus AS channel,
       {_DC_PROC} AS process,
       {exact_sum_sql("1 - l_discount", 4)} AS rate_nominal,
       {exact_sum_sql(_DC_UP, 6)} AS rate_up,
       {exact_sum_sql(_DC_DOWN, 6)} AS rate_down
FROM lineitem
GROUP BY 1, 2
""",
    tags=("FIN3", "A6"),
)
def fin3_datacard_yields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datacard rate block (make_datacards.py:64-113): per (channel,
    process) nominal yield plus the up/down systematic-variation yields
    whose ratios become the lnN kappas in the emitted text card
    (finishing/templates.py make_datacard consumes exactly this table).
    One grouped aggregate over the event table — the reference's
    per-group python loops collapse into a single partial-agg shuffle on
    a key space of O(channels x processes), trivially broadcastable to
    the driver-side card writer at any corpus scale."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.selectExpr(
            "l_linestatus AS channel",
            f"{_DC_PROC} AS process",
            "1 - l_discount AS _w",
            f"{_DC_UP} AS _wu",
            f"{_DC_DOWN} AS _wd",
        )
        .groupBy("channel", "process")
        .agg(
            exact_sum(F.col("_w"), 4).alias("rate_nominal"),
            exact_sum(F.col("_wu"), 6).alias("rate_up"),
            exact_sum(F.col("_wd"), 6).alias("rate_down"),
        )
    )


# fin1 pass-flag contract (the approx_aggregates pattern: non-SQL
# iterative work emits integer flags whose expected values the oracle
# asserts exactly).  Pinned bounds, verified at sf0.001 AND sf0.01:
# every one of the 6 families fits finite on this domain; the winner on
# this smooth non-resonant spectrum is always one of the two polynomial
# families (chebyshev3/bernstein3 — WHICH of the two flips with sf, both
# being 4-param LSQ on near-identical bases, so the pin is the family
# CLASS, not the label); polynomial ndf = used_bins - 4; winner chi2/ndf
# observed <= 6.6 at sf0.01 — bound pinned at 50 (margin ~8x) so only a
# catastrophic fit regression trips it, not corpus noise.
_FIN1_CHI2_NDF_BOUND = 50.0
_FIN1_POLY_WINNERS = ("chebyshev3", "bernstein3")


@register(
    "fin1_chi2_model_selection",
    oracle=f"""
WITH inr AS (
  SELECT l_returnflag AS dataset,
         {bin_index_sql("l_extendedprice", _T_LO, _T_HI, _T_N)} AS bin_idx,
         l_discount
  FROM lineitem
  WHERE l_extendedprice >= {_T_LO} AND l_extendedprice < {_T_HI}
)
SELECT dataset,
       COUNT(*) AS hist_rows,
       COUNT(DISTINCT bin_idx) AS used_bins,
       {exact_sum_sql("1 - l_discount", 4)} AS wsum,
       CAST(6 AS BIGINT) AS n_finite_families,
       CAST(COUNT(DISTINCT bin_idx) - 4 AS BIGINT) AS winner_ndf,
       CAST(1 AS BIGINT) AS winner_poly_ok,
       CAST(1 AS BIGINT) AS winner_is_min_ok,
       CAST(1 AS BIGINT) AS chi2_bound_ok
FROM inr
GROUP BY dataset
""",
    tags=("FIN1",),
)
def fin1_chi2_model_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parametric fit + chi2 model selection (fitter.py:12-128,
    fit_models.py:20-392): the distributed part is the weighted histogram
    (one groupBy shuffle); each category's fit then consumes O(nbins)
    collected numbers driver-side — the reference's SIX-model menu
    (chebyshev/bernstein via exact weighted least squares; bwZ, bwZredux,
    bwGamma, doubleCB via profiled-norm golden-section / coordinate
    descent) with the minimum-chi2/ndf family winning and non-finite
    (out-of-domain) families excluded (fitter.py:40-52).

    VALUE-CHECKED via the pass-flag contract: alongside exact anchors
    the oracle recomputes independently (in-range row count, used-bin
    count via the same bin formula, fixed-point weight sum — proving the
    fit consumed exactly the right histogram), the query emits integers
    the oracle pins exactly: all 6 families finite, winner ndf ==
    used_bins - 4 (so the winner really is a 4-param polynomial and its
    dof arithmetic is right), winner in the polynomial class, winner ==
    argmin over finite families, winner chi2/ndf under the pinned bound.
    A fit regression (family blowing up, selection picking non-min,
    ndf drift, histogram drift) hash-fails the driver gate instead of
    hiding behind a rows-only check."""
    import math

    from copperhead_spark.finishing.fits import best_fit, fit_families_all, histogram_groups

    li = table(spark, sf_dir, "lineitem")
    fine = histogram(
        li,
        value=F.col("l_extendedprice"),
        lo=_T_LO,
        hi=_T_HI,
        nbins=_T_N,
        by=[F.col("l_returnflag").alias("dataset")],
        weight=1 - F.col("l_discount"),
    )
    by_key = histogram_groups(fine.toPandas(), _T_LO, _T_HI, _T_N, by=["dataset"])
    groups = {key[0]: xys for key, xys in by_key.items()}
    all_fits = fit_families_all(groups)
    # exact anchors come from the SAME histogram aggregate the fit used
    # (hist_rows = unweighted count per dataset needs its own exact agg)
    anchors = (
        li.filter(
            (F.col("l_extendedprice") >= _T_LO) & (F.col("l_extendedprice") < _T_HI)
        )
        .groupBy(F.col("l_returnflag").alias("dataset"))
        .agg(
            F.count("*").alias("hist_rows"),
            exact_sum(1 - F.col("l_discount"), 4).alias("wsum"),
        )
        .collect()
    )
    anchor_by = {r["dataset"]: r for r in anchors}
    out = []
    for label in sorted(all_fits):
        results = all_fits[label]
        used_bins = len(groups[label][0])
        winner = best_fit(results)
        finite = [r for r in results if math.isfinite(r.chi2)]
        a = anchor_by[label]
        # empty `finite` (all 6 families non-finite on some future
        # domain/sf) must surface as failing pass-flags against the
        # oracle's n_finite_families pin, not a driver-side ValueError
        # (ADVICE r4 #4)
        min_ndf = min((r.chi2_ndf for r in finite), default=float("inf"))
        out.append(
            (
                label,
                int(a["hist_rows"]),
                int(used_bins),
                float(a["wsum"]),
                len(finite),
                int(winner.ndf),
                int(winner.model in _FIN1_POLY_WINNERS),
                int(bool(finite) and winner.chi2_ndf <= min_ndf),
                int(winner.chi2_ndf < _FIN1_CHI2_NDF_BOUND),
            )
        )
    return spark.createDataFrame(
        out,
        "dataset string, hist_rows bigint, used_bins bigint, wsum double,"
        " n_finite_families bigint, winner_ndf bigint, winner_poly_ok bigint,"
        " winner_is_min_ok bigint, chi2_bound_ok bigint",
    )


@register(
    "sk2_salted_skew_join",
    oracle=f"""
SELECT d.label AS label,
       COUNT(*) AS n,
       {exact_sum_sql("l.l_extendedprice")} AS total
FROM lineitem l
JOIN (VALUES ('A', 'accepted'), ('N', 'new'), ('R', 'returned')) d(flag, label)
  ON l.l_returnflag = d.flag
GROUP BY 1
""",
    tags=("SK1", "J5"),
)
def sk2_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted shuffle JOIN (operators/skew.py salted_join): the
    entire fact table joins a 3-row dim on l_returnflag — 3 hot keys
    that would each serialize one reducer in a plain shuffle join.  The
    dim side is replicated across 16 salts and the fact side salts on a
    hash of (orderkey, linenumber), so each hot key spreads over 16
    reducers AND the downstream per-label aggregation inherits the
    spread.  The salt must be invisible in the result: the oracle is the
    plain unsalted join + group."""
    from copperhead_spark.operators.skew import salted_join

    li = table(spark, sf_dir, "lineitem")
    dim = spark.createDataFrame(
        [("A", "accepted"), ("N", "new"), ("R", "returned")], ["flag", "label"]
    )
    joined = salted_join(
        li,
        dim,
        on=[("l_returnflag", "flag")],
        salt_from=F.struct(F.col("l_orderkey"), F.col("l_linenumber")),
        n_salts=16,
    )
    return joined.groupBy("label").agg(
        F.count("*").alias("n"),
        exact_sum(F.col("l_extendedprice")).alias("total"),
    )


_BLOOM_DIM_PRED = "o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'"


@register(
    "bloom_semijoin_reduction",
    oracle=f"""
SELECT l.l_returnflag, COUNT(*) AS n, {exact_sum_sql("l.l_extendedprice")} AS price_sum
FROM lineitem l
JOIN (SELECT o_orderkey FROM orders WHERE {_BLOOM_DIM_PRED}) o
  ON l.l_orderkey = o.o_orderkey
GROUP BY l.l_returnflag
""",
    tags=("scale", "J1"),
)
def bloom_semijoin_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-side Bloom prefilter ahead of a shuffle join: the dim keys
    (urgent finalized orders) collapse to a 8 KiB bitmap via one
    vocabulary-sized bit_or aggregate; the fact table is filtered
    map-side by the bitmap BEFORE the exchange, so the shuffle carries
    only matches plus ~0.4% false positives — which the exact join then
    removes, making the result bit-identical to the plain join (the
    oracle).  The join is hinted MERGE to model the dim-too-big-to-
    broadcast regime this pattern exists for."""
    from copperhead_spark.operators.bloom import bloom_might_contain, build_bloom

    li = table(spark, sf_dir, "lineitem")
    dim = table(spark, sf_dir, "orders").filter(_BLOOM_DIM_PRED).select("o_orderkey")
    bitmap = build_bloom(dim, "o_orderkey", log2_bits=16)
    pre = li.filter(bloom_might_contain(bitmap, "l_orderkey", log2_bits=16))
    joined = pre.hint("merge").join(
        dim, pre["l_orderkey"] == dim["o_orderkey"]
    )
    return joined.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        exact_sum(F.col("l_extendedprice")).alias("price_sum"),
    )


# fin4 pass-flag pins (fin1 pattern): verified at sf0.001 / sf0.01 / sf0.1
# — per-source doc-length spectra are strongly exponential (winner 'exp'
# for all 20 sources at every sf; slope observed in [-0.50, -0.33]; NLL
# gain over the uniform null observed >= 53), so the pins carry ~2x
# margins: slope window (-0.8, -0.2), gain bound 20.
_FIN4_LO, _FIN4_HI = 1.0, 100.0  # fit window in 100-char units
_FIN4_SLOPE_RANGE = (-0.8, -0.2)
_FIN4_GAIN_MIN = 20.0


@register(
    "fin4_unbinned_nll_fit",
    oracle="""
SELECT source, COUNT(*) AS n_rows,
       CAST(SUM(length(text)) AS BIGINT) AS len_sum,
       CAST(4 AS BIGINT) AS n_finite_families,
       'exp' AS winner_model,
       CAST(1 AS BIGINT) AS slope_in_range_ok,
       CAST(1 AS BIGINT) AS nll_gain_ok
FROM documents
WHERE length(text) >= 100 AND length(text) < 10000
GROUP BY source
""",
    tags=("FIN1", "nll"),
)
def fin4_unbinned_nll_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbinned maximum-likelihood fit + AIC model selection (the NLL
    twin of fin1_chi2_model_selection): the reference's stage-3 fits are
    *unbinned* RooFit NLL fits of the collected mass column
    (/root/reference/stage3/fitter.py:131-229); here each per-source
    document-length spectrum (in 100-char units, window [1, 100)) is fit
    with the positive-definite family menu (exp / bwGamma / powerlaw /
    bwZ, finishing/nll.py) by coordinate-descent NLL minimization with
    Simpson-normalized pdfs, AIC-argmin winning.

    VALUE-CHECKED via the fin1 pass-flag contract: exact anchors the
    oracle recomputes independently (per-source in-window row count and
    total character count — proving the fit consumed exactly the right
    unbinned column) plus pinned integers: all 4 families finite, the
    winner family name itself ('exp' on this corpus at every tested sf),
    the fitted rate inside a 2x-margin window, and the NLL improvement
    over the uniform-null pdf above the pinned bound.  A fit regression
    (family blow-up, selection flip, normalization bug — e.g. dropping
    the len(x)*log(Z) term makes every family non-comparable) hash-fails
    the driver gate.

    Scale contract (SURVEY §2.11): Spark reduces the corpus to the
    per-category unbinned column (projection + filter; O(1e2-1e5) values
    per category, exactly what the reference hands RooDataSet) and the
    driver fits each category — the 100 TB corpus never reaches the
    driver."""
    import math

    from copperhead_spark.finishing.nll import select_best_model_nll

    docs = table(spark, sf_dir, "documents")
    per_source = (
        docs.selectExpr("source", "length(text) AS len")
        .filter((F.col("len") >= 100) & (F.col("len") < 10000))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("len").cast("long").alias("len_sum"),
            F.collect_list((F.col("len") / F.lit(100.0)).cast("double")).alias("ms"),
        )
        .collect()
    )
    out = []
    for r in sorted(per_source, key=lambda r: r["source"]):
        import numpy as np

        x = np.asarray(r["ms"], dtype=np.float64)
        winner, results = select_best_model_nll(x, _FIN4_LO, _FIN4_HI, sweeps=6)
        null_nll = len(x) * math.log(_FIN4_HI - _FIN4_LO)
        slope = float(winner.params[0])
        out.append(
            (
                r["source"],
                int(r["n_rows"]),
                int(r["len_sum"]),
                sum(1 for q in results if math.isfinite(q.nll)),
                winner.model,
                int(_FIN4_SLOPE_RANGE[0] <= slope <= _FIN4_SLOPE_RANGE[1]),
                int(null_nll - winner.nll >= _FIN4_GAIN_MIN),
            )
        )
    return spark.createDataFrame(
        out,
        "source string, n_rows bigint, len_sum bigint,"
        " n_finite_families bigint, winner_model string,"
        " slope_in_range_ok bigint, nll_gain_ok bigint",
    )

from copperhead_spark.docfmt import inline_doc_consts  # noqa: E402  (docstring literal inlining)
inline_doc_consts(globals())
