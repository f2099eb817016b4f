"""Source/sink queries (SURVEY.md §2.1 S3/S4/S9 ★): the partitioned
parquet sink is exercised end-to-end — write partitioned, read back
through partition discovery, aggregate — and checked against the oracle
reading the original table, proving the sink+scan round-trip lossless.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from copperhead_spark.catalog import scratch_dir, table
from copperhead_spark.finishing.fits import MIN_FIT_BINS
from copperhead_spark.functions.exact import exact_sum, exact_sum_sql
from copperhead_spark.plans.registry import register
from copperhead_spark.sources.parquet_io import read_partitioned, write_partitioned


@register(
    "s3_partitioned_sink_roundtrip",
    oracle=f"""
SELECT o_orderpriority, o_orderstatus,
       COUNT(*) AS n,
       {exact_sum_sql("o_totalprice")} AS total
FROM orders
GROUP BY 1, 2
""",
    tags=("S3", "S4", "S9"),
)
def s3_partitioned_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned sink round-trip (io.py:25-37 one-dir-per-dataset ->
    partitionBy): write orders partitioned by priority with dynamic
    partition overwrite (S9 delete-before-write replacement), re-read via
    partition discovery, aggregate.  Oracle reads the ORIGINAL table, so
    any loss/dup in the sink or scan fails the value hash."""
    out_dir = scratch_dir("sink", sf_dir)
    orders = table(spark, sf_dir, "orders")
    write_partitioned(orders, out_dir, partition_by=("o_orderpriority",))
    back = read_partitioned(spark, out_dir)
    return back.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count("*").alias("n"),
        exact_sum(F.col("o_totalprice")).alias("total"),
    )


@register(
    "s4_partition_pruned_scan",
    oracle=f"""
SELECT o_orderstatus, COUNT(*) AS n, {exact_sum_sql("o_totalprice")} AS total
FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY o_orderstatus
""",
    tags=("S4",),
)
def s4_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned scan over a partitioned copy of orders: the
    priority predicate prunes directories before any file opens (the
    reference's per-dataset glob, run_stage2.py:148-153, for free).
    Always rewrites its own sink dir (orders is tiny) so the result never
    depends on stale /tmp state from an older fixture version."""
    out_dir = scratch_dir("sink_s4", sf_dir)
    write_partitioned(
        table(spark, sf_dir, "orders"), out_dir, partition_by=("o_orderpriority",)
    )
    back = read_partitioned(spark, out_dir)
    return (
        back.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), exact_sum(F.col("o_totalprice")).alias("total"))
    )


@register(
    "s5_multipath_clustered_scan",
    oracle=f"""
SELECT o_orderstatus, COUNT(*) AS n, {exact_sum_sql("o_totalprice")} AS total
FROM orders
WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'
GROUP BY o_orderstatus
""",
    tags=("S5", "S4"),
)
def s5_multipath_clustered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-listing multi-path scan (preprocessor.py:55-69 per-dataset
    glob) over an optimize_layout'd copy of orders: re-layout into
    date-clustered files (range-partition + sort -> parquet min/max
    prunes whole files for the year predicate), enumerate the data files
    explicitly, and scan the path LIST rather than the directory.  The
    oracle reads the ORIGINAL single-file table, so the rewrite, the
    listing, and the multi-path union must all be lossless.  Always
    rewrites its sink (orders is tiny) — no stale-/tmp dependence."""
    from copperhead_spark.sources.layout import list_data_files, optimize_layout

    out_dir = scratch_dir("layout_s5", sf_dir)
    optimize_layout(
        spark,
        os.path.join(sf_dir, "orders.parquet"),
        out_dir,
        target_file_bytes=256 * 1024,
        cluster_by=("o_orderdate",),
        min_files=4,
    )
    paths = list_data_files(out_dir)
    back = spark.read.parquet(*paths)
    return (
        back.filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1996-01-01").cast("date"))
        )
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), exact_sum(F.col("o_totalprice")).alias("total"))
    )


@register(
    "s10_csv_lookup_join",
    oracle="""
SELECT r.r_name,
       CAST(COUNT(*) AS BIGINT) AS n_nations,
       MIN(n.n_name) AS first_nation
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
""",
    tags=("S10", "J5"),
)
def s10_csv_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV lookup-table round-trip (btag_weights.py:4-10 CSV corrections):
    write the region dim as CSV, re-read it with an EXPLICIT schema under
    FAILFAST (inferSchema would be a second pass and can drift), broadcast
    join it to nation, aggregate.  The oracle reads the ORIGINAL parquet
    region table, so any loss in the CSV writer/parser (quoting, type
    round-trip) fails the value hash."""
    out_dir = scratch_dir("csv", sf_dir)
    from copperhead_spark.sources.tabular_io import read_lookup_csv

    region = table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    region.write.mode("overwrite").option("header", "true").csv(out_dir)
    lookup = read_lookup_csv(
        spark, out_dir, "r_regionkey BIGINT, r_name STRING"
    )
    nation = table(spark, sf_dir, "nation")
    return (
        nation.join(
            F.broadcast(lookup),
            nation["n_regionkey"] == lookup["r_regionkey"],
        )
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_nations"),
            F.min("n_name").alias("first_nation"),
        )
    )


@register(
    "s11_schema_evolution_scan",
    oracle=f"""
SELECT o_orderstatus,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN o_orderkey % 2 = 1 AND o_orderpriority = '1-URGENT'
                     THEN 1 ELSE 0 END) AS BIGINT)
         AS n_urgent,
       {exact_sum_sql("o_totalprice")} AS total
FROM orders
GROUP BY o_orderstatus
""",
    tags=("S10", "sources"),
)
def s11_schema_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: the table is written as two generations of
    parquet files — generation 1 WITHOUT the o_orderpriority column
    (dropped at write), generation 2 with it — and read back with
    mergeSchema, which unions the file schemas and fills the missing
    column with NULL for old files.  The aggregate counts urgent rows
    only where the column exists (CASE treats NULL as 0), exactly how a
    100 TB corpus tolerates columns added mid-history without a rewrite.

    Scale: schema merge is footer-only work at planning time (one footer
    read per file, no data scan); the data-plane plan is identical to a
    single-schema scan.
    """
    import shutil

    # stable per-sf scratch path (not mkdtemp): repeated runs overwrite
    # one tree instead of accumulating orphaned directories
    out = scratch_dir("evo", sf_dir)
    shutil.rmtree(out, ignore_errors=True)
    orders = table(spark, sf_dir, "orders")
    gen1 = orders.filter("o_orderkey % 2 = 0").drop("o_orderpriority")
    gen2 = orders.filter("o_orderkey % 2 = 1")
    gen1.write.mode("append").parquet(out)
    gen2.write.mode("append").parquet(out)
    back = spark.read.option("mergeSchema", "true").parquet(out)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
        ).cast("long").alias("n_urgent"),
        exact_sum(F.col("o_totalprice")).alias("total"),
    )


@register(
    "s12_merge_upsert",
    oracle=f"""
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
  WHERE o_orderkey % 13 <> 0
),
changes AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 3 = 0 THEN 'delete'
              WHEN o_orderkey % 13 = 0 THEN 'insert'
              ELSE 'update' END AS op,
         o_orderstatus,
         o_totalprice * CAST(1.1 AS DOUBLE) AS o_totalprice
  FROM orders
  WHERE o_orderkey % 3 = 0 OR o_orderkey % 13 = 0 OR o_orderkey % 7 = 0
),
merged AS (
  SELECT COALESCE(c.o_orderkey, b.o_orderkey) AS o_orderkey,
         COALESCE(c.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
         COALESCE(c.o_totalprice, b.o_totalprice) AS o_totalprice
  FROM base b FULL OUTER JOIN changes c ON b.o_orderkey = c.o_orderkey
  WHERE c.op IS NULL OR c.op <> 'delete'
)
SELECT o_orderstatus, COUNT(*) AS n, {exact_sum_sql("o_totalprice")} AS total
FROM merged GROUP BY o_orderstatus
""",
    tags=("sources", "S9"),
)
def s12_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics on plain parquet (the Delta/Iceberg upsert,
    re-expressed): matched+update takes the new row, matched+delete
    drops it, unmatched insert appends, rest keep the base row.  The
    changeset (a daily increment — small next to the table) BROADCASTS:
    base LEFT JOIN broadcast(changes) is map-only, inserts arrive by
    union, so the 100 TB side is NEVER shuffled; pairing with the
    partitioned sink (S3/S9 dynamic overwrite) rewrites only partitions
    that received changes — the batch twin of stream_foreachbatch_sink.
    (A changeset too big to broadcast degrades gracefully to the
    full-outer shuffle-join form — same semantics, one exchange.)

    The changeset is carved deterministically from the fixture: deletes
    (key%3=0), inserts (key%13=0, absent from base), updates (key%7=0,
    price uplift).  Aggregated output keeps the oracle order-free.
    """
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    base = orders.filter("o_orderkey % 13 <> 0")
    changes = orders.filter(
        "o_orderkey % 3 = 0 OR o_orderkey % 13 = 0 OR o_orderkey % 7 = 0"
    ).selectExpr(
        "o_orderkey",
        "CASE WHEN o_orderkey % 3 = 0 THEN 'delete'"
        " WHEN o_orderkey % 13 = 0 THEN 'insert'"
        " ELSE 'update' END AS op",
        "o_orderstatus",
        "o_totalprice * CAST(1.1 AS DOUBLE) AS o_totalprice",
    )
    b, c = base.alias("b"), changes.alias("c")
    survivors = (
        b.join(
            F.broadcast(c), F.col("b.o_orderkey") == F.col("c.o_orderkey"), "left"
        )
        .filter(F.col("c.op").isNull() | (F.col("c.op") != "delete"))
        .select(
            F.col("b.o_orderkey").alias("o_orderkey"),
            F.coalesce(F.col("c.o_orderstatus"), F.col("b.o_orderstatus")).alias(
                "o_orderstatus"
            ),
            F.coalesce(F.col("c.o_totalprice"), F.col("b.o_totalprice")).alias(
                "o_totalprice"
            ),
        )
    )
    inserts = changes.filter(F.col("op") == "insert").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    merged = survivors.unionAll(inserts)
    return merged.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"), exact_sum(F.col("o_totalprice")).alias("total")
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) clustered layout: multi-dimensional data skipping.
# Partition pruning (s4) skips on ONE directory key; real scans filter on
# several columns at once.  Interleaving the bits of binned (shipdate,
# price) into one Morton key and range-partitioning + sorting the write
# on it makes every file/row-group a small rectangle in BOTH dimensions,
# so parquet min/max stats prune a 2-D range predicate to the few files
# whose rectangle intersects it — the Delta/Iceberg OPTIMIZE ZORDER move,
# expressed as two plain Spark primitives (repartitionByRange + sort).
# tests/test_tabular_io.py reads the parquet footers of this layout vs a
# naive one and asserts the candidate-row-group fraction actually drops.
# ---------------------------------------------------------------------------

_Z_BITS = 10
_Z_EPOCH = "DATE'1995-01-01'"  # synthetic lineitem spans 1995-01..2001-11
_Z_DAY_DIV = 4  # ~2557 days / 4 -> 0..639 < 1024 bins
_Z_PRICE_DIV = 110  # extendedprice < ~112k -> 0..1023 bins
# the 2-D range predicate (identical text both engines)
_Z_PRED = (
    "l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-07-01'"
    " AND l_extendedprice >= 20000 AND l_extendedprice < 30000"
)


def zorder_key_sql(a: str, b: str, bits: int = _Z_BITS) -> str:
    """Morton interleave of two ``bits``-wide non-negative ints: bit j of
    ``a`` lands at position 2j, of ``b`` at 2j+1.  Pure integer
    div/mod — portable and codegen-friendly."""
    terms = [
        f"(({a} div {1 << j}) % 2) * {1 << (2 * j)}"
        f" + (({b} div {1 << j}) % 2) * {1 << (2 * j + 1)}"
        for j in range(bits)
    ]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def zorder_write(li: DataFrame, out_dir: str, n_files: int = 16) -> None:
    """Materialize lineitem z-ordered on (shipdate_bin, price_bin):
    range-partition on the Morton key (each output file covers one
    contiguous z-range => a bounded rectangle per dimension), sort within
    partitions so row groups inside a file are rectangles too."""
    day_bin = (
        f"least(greatest(CAST(datediff(l_shipdate, {_Z_EPOCH}) AS BIGINT), 0),"
        f" {(1 << _Z_BITS) - 1} * {_Z_DAY_DIV}) div {_Z_DAY_DIV}"
    )
    price_bin = (
        f"least(greatest(CAST(floor(l_extendedprice / {_Z_PRICE_DIV}) AS BIGINT), 0),"
        f" {(1 << _Z_BITS) - 1})"
    )
    zed = li.withColumn("z", F.expr(zorder_key_sql(day_bin, price_bin)))
    (
        zed.repartitionByRange(n_files, "z")
        .sortWithinPartitions("z")
        .write.mode("overwrite")
        .parquet(out_dir)
    )


@register(
    "s13_zorder_clustered_scan",
    oracle=f"""
SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
       {exact_sum_sql("l_extendedprice * (1 - l_discount)")} AS revenue
FROM lineitem
WHERE {_Z_PRED}
GROUP BY l_returnflag
""",
    tags=("S13", "layout"),
)
def s13_zorder_clustered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D range scan over the z-ordered layout: write lineitem clustered
    on the Morton key once (stable scratch path, overwritten per run),
    read it back with the (shipdate x price) predicate, aggregate.
    Oracle reads the ORIGINAL table — the layout must change bytes
    scanned, never results."""
    out_dir = scratch_dir("zorder", sf_dir)
    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_shipdate", "l_extendedprice", "l_discount"
    )
    zorder_write(li, out_dir)
    back = spark.read.parquet(out_dir)
    return (
        back.filter(F.expr(_Z_PRED))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").cast("long").alias("n"),
            exact_sum(F.expr("l_extendedprice * (1 - l_discount)")).alias("revenue"),
        )
    )


@register(
    "s14_jsonlines_roundtrip",
    oracle=f"""
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
       {exact_sum_sql("value", 4)} AS value_sum
FROM events
GROUP BY event_type
""",
    tags=("sources", "json"),
)
def s14_jsonlines_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + schema-on-read scan: events go out as newline-
    delimited JSON (the interchange format every crawl/ingest pipeline
    speaks) and come back through an EXPLICIT schema — no inference pass,
    so the read is one planning step and the text scan streams.  The
    nested props bag is parsed once with from_json (JVM-side Jackson, no
    UDF), then aggregated.  Doubles round-trip bit-exactly through
    Jackson's shortest-representation printing, which the exact-sum
    check proves.  Scale: JSON scan parallelizes per line like any text
    source; the explicit schema prunes parsing to referenced fields
    (Jackson skips others token-wise)."""
    import shutil

    out = scratch_dir("jsonl", sf_dir)
    shutil.rmtree(out, ignore_errors=True)
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "props"
    )
    ev.write.mode("overwrite").json(out)
    back = spark.read.schema(
        "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"
    ).json(out)
    parsed = back.withColumn("k", F.from_json("props", "k BIGINT").getField("k"))
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("k").alias("k_sum"),
        exact_sum(F.col("value"), 4).alias("value_sum"),
    )


@register(
    "s15_orc_roundtrip",
    oracle=f"""
SELECT n_name, COUNT(*) AS n_suppliers,
       {exact_sum_sql("s_acctbal")} AS total_acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
""",
    tags=("sources", "S10"),
)
def s15_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC interchange: supplier goes out as ORC (the other columnar
    interchange format Hive/Trino shops hand over), comes back through
    the native vectorized ORC reader, and joins/aggregates — proving the
    full write-read-query path preserves types and values (the exact-sum
    hash would catch any decimal/double coercion drift).  ORC scans get
    the same Catalyst treatment as parquet: column pruning + predicate
    pushdown into the stripe reader."""
    import shutil

    out = scratch_dir("orc", sf_dir)
    shutil.rmtree(out, ignore_errors=True)
    table(spark, sf_dir, "supplier").write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    nat = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        back.join(F.broadcast(nat), back.s_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_suppliers"),
            exact_sum(F.col("s_acctbal")).alias("total_acctbal"),
        )
    )


@register(
    "s16_csv_badrecords_scan",
    oracle="""
SELECT CAST(SUM(CASE WHEN o_orderkey % 97 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
       CAST(SUM(CASE WHEN o_orderkey % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
       CAST(SUM(CASE WHEN o_orderkey % 97 <> 0 THEN o_orderkey ELSE 0 END) AS BIGINT)
         AS good_key_sum
FROM orders
""",
    tags=("sources", "S10"),
)
def s16_csv_badrecords_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record-tolerant CSV scan (PERMISSIVE mode): a CSV export
    where every 97th order's numeric key field is corrupted ('x' suffix)
    reads back with the bad rows captured in _corrupt_record instead of
    failing the job — the resilience contract any web-scale text ingest
    needs (a 100 TB crawl ALWAYS has broken lines; one poison row must
    not kill a stage).  Counts and a checksum over the clean rows prove
    the parser neither drops good rows nor silently coerces bad ones."""
    import shutil

    out = scratch_dir("badcsv", sf_dir)
    shutil.rmtree(out, ignore_errors=True)
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    corrupted = orders.selectExpr(
        "CASE WHEN o_orderkey % 97 = 0 THEN concat(CAST(o_orderkey AS STRING), 'x')"
        " ELSE CAST(o_orderkey AS STRING) END AS o_orderkey",
        "o_orderstatus",
    )
    corrupted.write.mode("overwrite").option("header", "true").csv(out)
    back = spark.read.schema(
        "o_orderkey BIGINT, o_orderstatus STRING, _corrupt_record STRING"
    ).option("header", "true").option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    ).csv(out)
    # corrupt rows: o_orderkey NULL + raw line captured
    return back.agg(
        F.sum(F.col("_corrupt_record").isNull().cast("long")).alias("n_good"),
        F.sum(F.col("_corrupt_record").isNotNull().cast("long")).alias("n_bad"),
        F.sum(F.coalesce(F.col("o_orderkey"), F.lit(0))).alias("good_key_sum"),
    )


# ---------------------------------------------------------------------------
# composed lakehouse ingest: streaming foreachBatch MERGE + schema
# evolution in one sink (S11 + S12 + ST8 composed — the failure mode a
# 100 TB ingest hits monthly: the feed adds a column mid-history while
# upserting into a standing table).
# ---------------------------------------------------------------------------

_SEM_KB = 8  # sink partition buckets (kb = o_orderkey % _SEM_KB)


@register(
    "s17_evolving_stream_merge",
    oracle=f"""
WITH merged AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 3 = 0
              THEN o_totalprice * CAST(1.1 AS DOUBLE)
              ELSE o_totalprice END AS price,
         CASE WHEN o_orderkey % 3 = 0 THEN o_orderpriority END AS pri
  FROM orders
  WHERE o_orderkey % 2 = 0 OR o_orderkey % 3 = 0
)
SELECT o_orderstatus,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN pri IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_evolved,
       {exact_sum_sql("price")} AS total
FROM merged
GROUP BY o_orderstatus
""",
    tags=("sources", "streaming", "S9"),
)
def s17_evolving_stream_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two REAL Structured Streaming ingests (availableNow file streams)
    land in one parquet sink through a shared foreachBatch MERGE:

    * generation 1 streams the even order keys with the ORIGINAL schema
      (no o_orderpriority column) — merge into an empty sink = insert;
    * generation 2 streams the key%3 slice with an EVOLVED schema (adds
      o_orderpriority, uplifts price 1.1x) — matched keys update,
      unmatched insert, and every rewritten file carries the new column.

    The final read uses mergeSchema, so generation-1 survivors surface
    the added column as NULL — the oracle recomputes the merged table
    (update-beats-base, insert-appends, NULL priority exactly for
    never-updated rows) straight from `orders`, value-checking the whole
    compose: schema-evolving scan (S11) + MERGE semantics (S12) +
    idempotent micro-batch sink (ST8).

    Scale/safety: the sink partitions on a key bucket and each
    micro-batch rewrites ONLY the buckets it touches (dynamic partition
    overwrite); the merge result is localCheckpoint-materialized BEFORE
    the overwrite so the rewrite never scans the files it is replacing —
    the safe delete-before-write the reference does with a temp-dir swap
    (/root/reference/python/io.py:40-52).  The same merge closure serves
    both streams and any micro-batch split (file-source batching is a
    runtime choice), so replays and splits stay idempotent: exactly the
    ST8 contract, now under schema evolution."""
    import shutil

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    stage1 = scratch_dir("sem_g1", sf_dir)
    stage2 = scratch_dir("sem_g2", sf_dir)
    sink = scratch_dir("sem_sink", sf_dir)
    for p in (stage1, stage2, sink):
        shutil.rmtree(p, ignore_errors=True)

    gen1 = orders.filter("o_orderkey % 2 = 0").drop("o_orderpriority")
    gen2 = orders.filter("o_orderkey % 3 = 0").selectExpr(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice * CAST(1.1 AS DOUBLE) AS o_totalprice",
        "o_orderpriority",
    )
    gen1.write.parquet(stage1)
    gen2.write.parquet(stage2)

    sink_cols = ("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        up = batch_df.withColumn("kb", F.pmod("o_orderkey", F.lit(_SEM_KB)))
        for c in sink_cols:  # align an old-schema batch to the sink schema
            if c not in up.columns:
                up = up.withColumn(c, F.lit(None).cast("string"))
        up = up.select(*sink_cols, "kb")
        if os.path.exists(sink):
            cur = sess.read.option("mergeSchema", "true").parquet(sink)
            for c in sink_cols:
                if c not in cur.columns:
                    cur = cur.withColumn(c, F.lit(None).cast("string"))
            touched = up.select("kb").distinct()
            keep = (
                cur.join(F.broadcast(touched), "kb", "leftsemi")
                .join(up.select("o_orderkey"), "o_orderkey", "left_anti")
                .select(*sink_cols, "kb")
            )
            out = keep.unionByName(up)
        else:
            out = up
        # materialize BEFORE overwriting the partitions being read
        out.localCheckpoint(eager=True).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("kb").parquet(sink)

    for stage, schema in ((stage1, gen1.schema), (stage2, gen2.schema)):
        q = (
            spark.readStream.schema(schema)
            .parquet(stage)
            .writeStream.foreachBatch(merge_batch)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{stage}_ckpt")
            .start()
        )
        q.awaitTermination()

    back = spark.read.option("mergeSchema", "true").parquet(sink)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_orderpriority").isNotNull().cast("long")).alias("n_evolved"),
        exact_sum(F.col("o_totalprice")).alias("total"),
    )


@register(
    "s18_delete_propagation",
    oracle=f"""
WITH del_cust AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
del_ord AS (
  SELECT o_orderkey, o_custkey FROM orders
  WHERE o_custkey IN (SELECT c_custkey FROM del_cust)
),
c AS (
  SELECT 'customer' AS tbl,
         CAST(COUNT(CASE WHEN c_custkey % 97 = 0 THEN 1 END) AS BIGINT) AS n_deleted,
         CAST(COUNT(CASE WHEN c_custkey % 97 <> 0 THEN 1 END) AS BIGINT) AS n_retained,
         CAST(SUM(CASE WHEN c_custkey % 97 <> 0 THEN c_custkey ELSE 0 END) AS BIGINT)
           AS retained_key_sum
  FROM customer
),
o AS (
  SELECT 'orders' AS tbl,
         CAST(COUNT(CASE WHEN d.o_orderkey IS NOT NULL THEN 1 END) AS BIGINT),
         CAST(COUNT(CASE WHEN d.o_orderkey IS NULL THEN 1 END) AS BIGINT),
         CAST(SUM(CASE WHEN d.o_orderkey IS NULL THEN x.o_orderkey ELSE 0 END) AS BIGINT)
  FROM orders x LEFT JOIN del_ord d ON x.o_orderkey = d.o_orderkey
),
l AS (
  SELECT 'lineitem' AS tbl,
         CAST(COUNT(CASE WHEN d.o_orderkey IS NOT NULL THEN 1 END) AS BIGINT),
         CAST(COUNT(CASE WHEN d.o_orderkey IS NULL THEN 1 END) AS BIGINT),
         CAST(SUM(CASE WHEN d.o_orderkey IS NULL THEN x.l_orderkey ELSE 0 END) AS BIGINT)
  FROM lineitem x LEFT JOIN del_ord d ON x.l_orderkey = d.o_orderkey
)
SELECT * FROM c UNION ALL SELECT * FROM o UNION ALL SELECT * FROM l
""",
    tags=("sources", "S9", "gdpr"),
)
def s18_delete_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten cascade: a (small) subject deletion list
    erases the customer rows, their orders, and those orders' lineitems,
    emitting the per-table audit (deleted / retained counts + a retained
    key checksum) a compliance pipeline files.  The deletion list and the
    derived order-key list BROADCAST into anti/left joins, so neither
    100 TB fact table is ever shuffled — at petabyte scale the order-key
    list graduates to a bloom prefilter (bloom_semijoin_reduction) in
    front of the same join, and the rewrite pairs with S9 dynamic
    partition overwrite to touch only partitions holding deleted rows."""
    cust = table(spark, sf_dir, "customer").select("c_custkey")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey")
    is_del_c = F.col("c_custkey") % 97 == 0
    del_ord = orders.join(
        F.broadcast(cust.filter(is_del_c)),
        orders.o_custkey == F.col("c_custkey"),
    ).select("o_orderkey")

    def audit(df, name: str, del_flag, key):
        return df.agg(
            F.lit(name).alias("tbl"),
            F.count(F.when(del_flag, 1)).alias("n_deleted"),
            F.count(F.when(~del_flag, 1)).alias("n_retained"),
            F.sum(F.when(~del_flag, key).otherwise(0)).cast("long").alias("retained_key_sum"),
        )

    c_audit = audit(cust, "customer", is_del_c, F.col("c_custkey"))
    o_flag = orders.join(
        F.broadcast(del_ord.withColumnRenamed("o_orderkey", "d_key")),
        orders.o_orderkey == F.col("d_key"),
        "left",
    )
    o_audit = audit(o_flag, "orders", F.col("d_key").isNotNull(), F.col("o_orderkey"))
    l_flag = li.join(
        F.broadcast(del_ord.withColumnRenamed("o_orderkey", "d_key")),
        li.l_orderkey == F.col("d_key"),
        "left",
    )
    l_audit = audit(l_flag, "lineitem", F.col("d_key").isNotNull(), F.col("l_orderkey"))
    return c_audit.unionByName(o_audit).unionByName(l_audit)


@register(
    "dq_skew_profile",
    oracle="""
WITH k AS (
  SELECT l_suppkey AS key, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY 1
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS n_rows
  FROM k
)
SELECT CAST(rn AS BIGINT) AS rank, key, cnt,
       (cnt * n_keys * 1000000) // n_rows AS ratio_to_mean_ppm,
       n_keys, n_rows
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY cnt DESC, key ASC) AS rn
  FROM k CROSS JOIN tot
) WHERE rn <= 5
""",
    tags=("dq", "skew"),
)
def dq_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join skew diagnostic: per-key frequency of a join key, its
    heavy hitters and their ratio-to-mean (ppm, integer arithmetic) —
    the profile that decides between a plain hash join, AQE skew split,
    and explicit salting (sk1/sk2) BEFORE a 100 TB shuffle is attempted.
    One partial-agg groupBy; the top-5 ranking runs on the (key-count-
    sized) aggregate via TakeOrderedAndProject, never a global sort of
    raw rows."""
    li = table(spark, sf_dir, "lineitem")
    k = li.groupBy(F.col("l_suppkey").alias("key")).agg(F.count("*").alias("cnt"))
    # the two corpus scalars come to the driver (one tiny aggregate job,
    # O(1) rows — the bm25/tfidf stats-pass pattern) and re-enter the
    # plan as literals, so no 1-row nested-loop join appears
    n_keys, n_rows = k.agg(
        F.count("*").alias("n_keys"), F.sum("cnt").cast("long").alias("n_rows")
    ).first()
    # orderBy+limit on the aggregate -> TakeOrderedAndProject (per-
    # partition top-5, merged on the driver); the rank window then runs
    # on 5 rows, so no full sort of the key-count table ever happens
    top5 = (
        k.withColumn("n_keys", F.lit(int(n_keys)).cast("long"))
        .withColumn("n_rows", F.lit(int(n_rows)).cast("long"))
        .orderBy(F.col("cnt").desc(), F.col("key").asc())
        .limit(5)
    )
    return top5.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.col("cnt").desc(), F.col("key").asc()))
    ).select(
        F.col("rn").cast("long").alias("rank"),
        "key",
        "cnt",
        F.expr("(cnt * n_keys * 1000000) DIV n_rows").alias("ratio_to_mean_ppm"),
        "n_keys",
        "n_rows",
    )


# ---------------------------------------------------------------------------
# S19: small-file compaction (the lakehouse OPTIMIZE primitive)
# ---------------------------------------------------------------------------

_S19_SMALL = 48
_S19_COMPACT = 4


@register(
    "s19_small_file_compaction",
    oracle=f"""
SELECT CAST({_S19_SMALL} AS BIGINT) AS n_files_small,
       CAST({_S19_COMPACT} AS BIGINT) AS n_files_compacted,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c
FROM events
""",
    tags=("S19", "io", "lakehouse"),
)
def s19_small_file_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction end-to-end: land the events stream as
    {_S19_SMALL} tiny parquet files (the pathological layout every
    micro-batched 100 TB ingest accumulates), compact to
    {_S19_COMPACT} right-sized files via coalesce, and verify BOTH the
    layout and the content — the measured file counts ride in the
    output row against oracle-pinned expectations, and the row count /
    exact sums are recomputed from the COMPACTED copy, so dropped or
    duplicated rows in either hop fail the value hash.

    Scale design: coalesce (not repartition) does the merge — a
    narrow dependency that concatenates co-located partitions with NO
    shuffle, which is exactly how table-format OPTIMIZE jobs bin-pack
    small files; repartition would pay a full exchange to reach the
    same file count.  The tradeoff (coalesce caps write parallelism at
    the target file count) is the documented one production compactors
    make per size tier.

    Reference analogue: output overwrite management + one-dir-per-
    dataset layout (/root/reference/python/io.py:25-52); compaction is
    the missing maintenance half of that sink story."""
    small_dir = scratch_dir("s19_small", sf_dir)
    compact_dir = scratch_dir("s19_compacted", sf_dir)
    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    ev.repartition(_S19_SMALL).write.mode("overwrite").parquet(small_dir)
    small = spark.read.parquet(small_dir)
    small.coalesce(_S19_COMPACT).write.mode("overwrite").parquet(compact_dir)

    def _nfiles(d: str) -> int:
        return len([f for f in os.listdir(d) if f.startswith("part-")])

    back = spark.read.parquet(compact_dir)
    return back.agg(
        F.lit(_nfiles(small_dir)).cast("long").alias("n_files_small"),
        F.lit(_nfiles(compact_dir)).cast("long").alias("n_files_compacted"),
        F.count("*").cast("long").alias("n_rows"),
        F.sum("event_id").cast("long").alias("sum_event_id"),
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("sum_value_c"),
    )


# ---------------------------------------------------------------------------
# snapshot-versioned table: time-travel reads on plain parquet
# ---------------------------------------------------------------------------

_SNAP_BUMP = 10.0  # gen-2 adds a flat 10.00 to finished orders' totalprice

_SNAP_ORACLE = f"""
WITH g1 AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_c
  FROM orders
),
g2 AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                  + CASE WHEN o_orderstatus = 'F'
                         THEN {int(_SNAP_BUMP * 100)} ELSE 0 END) AS BIGINT)
           AS total_c
  FROM orders
),
ch AS (SELECT COUNT(*) AS n FROM orders WHERE o_orderstatus = 'F')
SELECT CAST(1 AS BIGINT) AS gen, CAST(g1.n AS BIGINT) AS n_rows, g1.total_c,
       CAST(0 AS BIGINT) AS rows_changed_vs_prev
FROM g1
UNION ALL
SELECT CAST(2 AS BIGINT), CAST(g2.n AS BIGINT), g2.total_c,
       CAST(ch.n AS BIGINT)
FROM g2, ch
ORDER BY gen
"""


@register("s21_snapshot_time_travel", oracle=_SNAP_ORACLE, tags=("S9", "lakehouse"))
def s21_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel on plain parquet via snapshot directories: gen-1 is
    the orders table as-is; gen-2 applies an update (finished orders'
    totalprice + {_SNAP_BUMP}) and is written to its OWN generation
    directory, never touching gen-1 — the immutable-snapshot layout
    (Iceberg/Delta's core idea without the format): readers pin a
    generation path and are isolated from writers by construction.
    The query reads BOTH generations back and reports per-generation
    (rows, fixed-point total) plus the row-level diff count between
    them (an anti-join on the full row), value-checked against an
    oracle that derives every number straight from the source table —
    any loss, duplication, or bleed between snapshots fails the hash.

    Scale design: a generation write is one pass; as-of reads scan one
    directory (partition pruning inside it still applies); the diff is
    a hash-join on the snapshot key.  The 100 TB practice this pins:
    never overwrite in place — write gen-N+1, flip a pointer, and
    delete-before-write races (reference io.py:40-52's rm-then-save)
    disappear.

    Reference analogue: S9 output-overwrite management, upgraded from
    delete-before-write to versioned snapshots."""
    out = scratch_dir("snapshots", sf_dir)
    orders = table(spark, sf_dir, "orders")
    g1 = orders.selectExpr(
        "o_orderkey",
        "o_orderstatus",
        "CAST(ROUND(o_totalprice * 100) AS BIGINT) AS total_c",
    )
    g1.write.mode("overwrite").parquet(f"{out}/gen=1")
    g2 = g1.selectExpr(
        "o_orderkey",
        "o_orderstatus",
        f"total_c + IF(o_orderstatus = 'F', {int(_SNAP_BUMP * 100)}, 0) AS total_c",
    )
    g2.write.mode("overwrite").parquet(f"{out}/gen=2")
    r1 = spark.read.parquet(f"{out}/gen=1")
    r2 = spark.read.parquet(f"{out}/gen=2")
    stats = []
    for gen, df in ((1, r1), (2, r2)):
        stats.append(
            df.agg(
                F.lit(gen).cast("long").alias("gen"),
                F.count("*").cast("long").alias("n_rows"),
                F.sum("total_c").cast("long").alias("total_c"),
            )
        )
    # O(1) driver scalar (the dq_skew_profile pattern): joining the
    # 1-row diff back would be a literal-keyed nested loop — both gen
    # columns are constants, so every equi-form constant-folds away
    diff_n = int(
        r2.join(r1, ["o_orderkey", "o_orderstatus", "total_c"], "left_anti").count()
    )
    per_gen = stats[0].unionByName(stats[1])
    return per_gen.withColumn(
        "rows_changed_vs_prev",
        F.when(F.col("gen") == 2, F.lit(diff_n)).otherwise(F.lit(0)).cast("long"),
    ).orderBy("gen")

# ---------------------------------------------------------------------------
# S1/S8: ROOT ingestion + TH1 sink, pure-python (sources/rootio.py).
# The fixture .root file is written by our own encoder (the wav_encode
# precedent) from the parquet lineitem, so the DuckDB oracle reading the
# ORIGINAL parquet pins the full encode -> TKey/TBasket walk -> chunked
# mapInArrow decode path: any byte-level defect anywhere flips the hash.
# ---------------------------------------------------------------------------

_S1_BRANCHES = ("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
_S1_BASKET = 4096  # entries per basket
# entries per mapInArrow task — the reference's coffea chunksize
# (run_stage1.py:54-58: chunksize=100000).  r12: was 7000, which fanned
# the sf0.1 file into 86 tiny tasks whose per-task Python-boundary cost
# dwarfed the decode (measured best-of-3 at sf0.1: 10 -> 5 CPU-s, wall
# flat, going 7000 -> 100000).  Deliberately NOT a basket multiple
# (100000 % 4096 != 0) so chunk boundaries still split baskets at bench
# scale; unit tests pin their own small chunk sizes for dense slicing
# coverage (tests/test_tabular_io.py).
_S1_CHUNK = 100_000


def _root_fixture(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """Write (once per process) the flat-tree ROOT fixture from lineitem;
    returns (path, n_entries).  Driver-side by design: real NanoAOD files
    arrive from outside the engine — the encoder is test scaffolding, the
    SCAN is the operator under test."""
    import numpy as np

    from copperhead_spark.sources.rootio import list_trees, write_tree

    out_dir = scratch_dir("rootfix", sf_dir)
    path = os.path.join(out_dir, "events.root")
    if not os.path.exists(path):
        os.makedirs(out_dir, exist_ok=True)
        pdf = (
            table(spark, sf_dir, "lineitem")
            .select(*_S1_BRANCHES)
            .toPandas()
        )
        write_tree(
            path,
            "Events",
            {
                "l_orderkey": pdf["l_orderkey"].to_numpy(np.int64),
                "l_linenumber": pdf["l_linenumber"].to_numpy(np.int32),
                "l_quantity": pdf["l_quantity"].to_numpy(np.float64),
                "l_extendedprice": pdf["l_extendedprice"].to_numpy(np.float64),
            },
            basket_entries=_S1_BASKET,
        )
    return path, list_trees(path)[0][1]


@register(
    "s1_root_scan",
    oracle=f"""
SELECT CAST(l_linenumber AS BIGINT) AS linenumber,
       COUNT(*) AS n,
       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
       {exact_sum_sql("l_quantity")} AS sum_qty,
       {exact_sum_sql("l_extendedprice")} AS sum_price
FROM lineitem
GROUP BY 1
""",
    tags=("S1", "S2", "root"),
)
def s1_root_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROOT chunked TTree scan (S1, run_stage1.py:153-166: coffea Runner
    over 'Events' with chunksize): lineitem is encoded into a real-layout
    uncompressed flat-branch .root file (TFile header, TKey records,
    big-endian TBaskets — sources/rootio.py), then scanned back through
    the production path: plan_chunks entry ranges ({_S1_CHUNK}/task, NOT
    a basket multiple, so every task slices baskets at both ends) ->
    mapInArrow fan-out -> pure-python byte decode of ONLY the
    whitelisted branches' overlapping baskets (S2 source pruning at the
    basket level).  The oracle aggregates the ORIGINAL parquet, so one
    wrong byte, one mis-sliced basket, or one dropped/duplicated chunk
    entry anywhere in encode->walk->decode flips the value hash.  Scale:
    one task per chunk exactly like the reference's chunked Runner; a
    1000-file NanoAOD dataset fans out to files x chunks independent
    tasks, each decoding ~{_S1_CHUNK} entries regardless of file size."""
    from copperhead_spark.sources.root_ingest import read_nanoaod, rootio_decoder

    path, n = _root_fixture(spark, sf_dir)
    df = read_nanoaod(
        spark,
        [(path, n)],
        _S1_BRANCHES,
        tree="Events",
        chunk_size=_S1_CHUNK,
        decoder=rootio_decoder,
    )
    return df.groupBy(
        F.col("l_linenumber").cast("long").alias("linenumber")
    ).agg(
        F.count("*").alias("n"),
        F.countDistinct("l_orderkey").cast("long").alias("n_orders"),
        exact_sum(F.col("l_quantity")).alias("sum_qty"),
        exact_sum(F.col("l_extendedprice")).alias("sum_price"),
    )


# multi-file scan fixture: one codec per file — uncompressed, kZLIB
# level 6 ("ZL" frames), kLZ4 level 4 ("L4" frames, r10 codec)
_S1F_SPECS = (0, 6, 404)
_S1F_BASKET = 1024
# NOT a basket multiple (50000 % 1024 != 0): chunks slice baskets.
# r12: was 1500 (402 tasks at sf0.1, per-task overhead dominated);
# 50000 measured 8 -> 4 CPU-s, wall 1.37 -> 0.94 best-of-3.
_S1F_CHUNK = 50_000


def _root_multifile_fixture(spark: SparkSession, sf_dir: str) -> list[str]:
    """Write (once per process) THREE flat-tree ROOT files partitioned by
    l_orderkey % 3, each under a different ROOT compression spec — the
    mixed-vintage dataset shape (CMS campaigns recompressed over the
    years coexist in one fileset).  Driver-side scaffolding by design;
    the multi-file SCAN is the operator under test."""
    import numpy as np

    from copperhead_spark.sources.rootio import write_tree

    out_dir = scratch_dir("rootfix_multi", sf_dir)
    paths = [os.path.join(out_dir, f"part{k}.root") for k in range(3)]
    if not all(os.path.exists(p) for p in paths):
        os.makedirs(out_dir, exist_ok=True)
        pdf = (
            table(spark, sf_dir, "lineitem")
            .select(*_S1_BRANCHES)
            .orderBy("l_orderkey", "l_linenumber")
            .toPandas()
        )
        okey = pdf["l_orderkey"].to_numpy(np.int64)
        for k, (path, spec) in enumerate(zip(paths, _S1F_SPECS)):
            part = pdf[okey % 3 == k]
            write_tree(
                path,
                "Events",
                {
                    "l_orderkey": part["l_orderkey"].to_numpy(np.int64),
                    "l_linenumber": part["l_linenumber"].to_numpy(np.int32),
                    "l_quantity": part["l_quantity"].to_numpy(np.float64),
                    "l_extendedprice": part["l_extendedprice"].to_numpy(np.float64),
                },
                basket_entries=_S1F_BASKET,
                compress=spec,
            )
    return paths


@register(
    "s1_root_scan_files",
    oracle=f"""
SELECT CAST(l_orderkey % 3 AS BIGINT) AS file_bucket,
       CAST(l_linenumber AS BIGINT) AS linenumber,
       COUNT(*) AS n,
       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
       {exact_sum_sql("l_quantity")} AS sum_qty,
       {exact_sum_sql("l_extendedprice")} AS sum_price
FROM lineitem
GROUP BY 1, 2
""",
    tags=("S1", "S5", "S6", "root"),
)
def s1_root_scan_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-FILE ROOT ingest through the full two-stage production path
    (S1+S6; the reference preprocesses its fileset then runs the chunked
    Runner over it, run_stage1.py:153-166): three files partitioned by
    l_orderkey % 3, EACH under a different ROOT compression — stored
    uncompressed, kZLIB "ZL" frames, and kLZ4 "L4" frames (the modern
    NanoAOD default, via the spec-written pure-python codec) — consumed
    by read_nanoaod_files: the distributed mmap entry-count pre-scan
    (scan_entries, payload bytes never paged in) feeds per-file chunk
    planning ({_S1F_CHUNK} entries/task, NOT a basket multiple), then
    the mapInArrow decode fan-out.  Grouping by the file-assignment key
    (l_orderkey % 3) makes each output row a per-FILE content check: a
    dropped file, a swapped codec, one mis-inflated L4 block, or a
    mis-counted pre-scan flips specific rows' value hashes against the
    parquet-derived oracle.  Scale: the pre-scan is one map-only stage
    over the path list (O(n_keys) header reads per file); the scan fans
    out one task per chunk across all files — exactly how a 1000-file
    dataset runs."""
    from copperhead_spark.sources.root_ingest import (
        read_nanoaod_files,
        rootio_decoder,
    )

    paths = _root_multifile_fixture(spark, sf_dir)
    df = read_nanoaod_files(
        spark,
        paths,
        _S1_BRANCHES,
        tree="Events",
        chunk_size=_S1F_CHUNK,
        decoder=rootio_decoder,
    )
    return df.groupBy(
        (F.col("l_orderkey") % 3).cast("long").alias("file_bucket"),
        F.col("l_linenumber").cast("long").alias("linenumber"),
    ).agg(
        F.count("*").alias("n"),
        F.countDistinct("l_orderkey").cast("long").alias("n_orders"),
        exact_sum(F.col("l_quantity")).alias("sum_qty"),
        exact_sum(F.col("l_extendedprice")).alias("sum_price"),
    )


_S8_NBINS = 20
_S8_XLO, _S8_XHI = 0.0, 100_000.0  # extendedprice tops out ~112k -> real overflow
_S8_BINW = (_S8_XHI - _S8_XLO) / _S8_NBINS


@register(
    "s8_th1_template_sink",
    oracle=f"""
WITH b AS (
  SELECT CASE WHEN l_extendedprice >= {_S8_XHI} THEN {_S8_NBINS + 1}
              ELSE CAST(FLOOR(l_extendedprice / {_S8_BINW}) AS BIGINT) + 1 END AS bin,
         l_quantity AS w
  FROM lineitem
),
agg AS (
  SELECT bin,
         CAST(CAST({exact_sum_sql("w")} AS REAL) AS DOUBLE) AS content,
         {exact_sum_sql("w * w", 4)} AS sumw2
  FROM b GROUP BY bin
)
SELECT g.bin, COALESCE(a.content, 0.0) AS content, COALESCE(a.sumw2, 0.0) AS sumw2
FROM (SELECT unnest(range(0, {_S8_NBINS + 2})) AS bin) g
LEFT JOIN agg a ON g.bin = a.bin
ORDER BY g.bin
""",
    tags=("S8", "FIN2", "root"),
)
def s8_th1_template_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TH1 template sink round-trip (S8, io.py:230-235 save_template): a
    weighted histogram of l_extendedprice (weight = quantity, {_S8_NBINS}
    bins on [{_S8_XLO}, {_S8_XHI}) plus real under/overflow cells) is
    aggregated in Spark, written as a TH1F record by the pure-python
    writer (sources/rootio.py: TKey + axis triple + TArrayF contents +
    TArrayD Sumw2), read BACK from the file bytes, and returned — so the
    driver's value hash pins the full byte round-trip, including the
    float32 quantization a real TArrayF imposes (the oracle applies the
    identical CAST(.. AS REAL) step; Sumw2 stays float64 and must come
    back bit-exact).  Spark does the heavy pass (one partial-agg groupBy
    at any SF); only the |bins|-sized template crosses the driver, same
    as the reference's collected-template flow (make_templates.py)."""
    import numpy as np

    from copperhead_spark.sources.rootio import read_th1f, write_th1f

    li = table(spark, sf_dir, "lineitem")
    hist = (
        li.selectExpr(
            f"CASE WHEN l_extendedprice >= {_S8_XHI} THEN {_S8_NBINS + 1}"
            f" ELSE CAST(FLOOR(l_extendedprice / {_S8_BINW}) AS BIGINT) + 1 END"
            " AS bin",
            "l_quantity AS w",
        )
        .groupBy("bin")
        .agg(
            exact_sum(F.col("w")).alias("content"),
            exact_sum(F.col("w") * F.col("w"), 4).alias("sumw2"),
        )
        .collect()
    )
    contents = np.zeros(_S8_NBINS + 2)
    sumw2 = np.zeros(_S8_NBINS + 2)
    for row in hist:
        contents[int(row["bin"])] = row["content"]
        sumw2[int(row["bin"])] = row["sumw2"]
    out_dir = scratch_dir("th1sink", sf_dir)
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "templates.root")
    write_th1f(
        path,
        [
            dict(
                name="price_qty",
                title="quantity-weighted extendedprice",
                nbins=_S8_NBINS,
                xlo=_S8_XLO,
                xhi=_S8_XHI,
                contents=contents,
                sumw2=sumw2,
            )
        ],
    )
    h = read_th1f(path)["price_qty"]
    rows = [
        (i, float(h["contents"][i]), float(h["sumw2"][i]))
        for i in range(_S8_NBINS + 2)
    ]
    return spark.createDataFrame(
        rows, "bin long, content double, sumw2 double"
    ).orderBy("bin")


# ---------------------------------------------------------------------------
# S1 depth: jagged + zlib-compressed ROOT scan.  Real NanoAOD stores each
# collection as a counts branch plus flat per-field payload branches
# (nMuon + Muon_pt/...; /root/reference/config/branches.py:2-73) inside
# zlib/LZ4/ZSTD-compressed baskets.  rootio now implements the counts+
# payload layout and the zlib "ZL" frame, so this query drives the full
# production shape: orders are events, their lineitems the jagged
# collection, every basket deflate-compressed.
# ---------------------------------------------------------------------------

_S1J_BASKET = 512  # orders (entries) per basket
# entries per mapInArrow task; NOT a basket multiple (30000 % 512 != 0).
# r12: was 900 (164 tasks at sf0.1); 30000 measured 5 -> 2 CPU-s, wall
# 1.75 -> 0.95 best-of-3.
_S1J_CHUNK = 30_000


def _root_jagged_fixture(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """Write (once per process) a jagged zlib-compressed ROOT fixture:
    one entry per order, lineitems as a counts branch (n_li) + flat
    value branches in entry order.  Driver-side by design — real NanoAOD
    arrives from outside the engine; the SCAN is the operator under
    test (the s1_root_scan precedent)."""
    import numpy as np

    from copperhead_spark.sources.rootio import list_trees, write_tree

    out_dir = scratch_dir("rootfix_jagged", sf_dir)
    path = os.path.join(out_dir, "events_jagged.root")
    if not os.path.exists(path):
        os.makedirs(out_dir, exist_ok=True)
        pdf = (
            table(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
            .orderBy("l_orderkey", "l_linenumber")
            .toPandas()
        )
        okey = pdf["l_orderkey"].to_numpy(np.int64)
        orders, counts = np.unique(okey, return_counts=True)
        write_tree(
            path,
            "Events",
            {
                "o_orderkey": orders,
                "n_li": counts.astype(np.int32),
            },
            jagged={
                "li_linenumber": ("n_li", pdf["l_linenumber"].to_numpy(np.int32)),
                "li_quantity": ("n_li", pdf["l_quantity"].to_numpy(np.float64)),
                "li_extendedprice": (
                    "n_li",
                    pdf["l_extendedprice"].to_numpy(np.float64),
                ),
            },
            basket_entries=_S1J_BASKET,
            compress=6,
        )
    return path, list_trees(path)[0][1]


@register(
    "s1_root_scan_jagged",
    oracle="""
WITH ev AS (
  SELECT l_orderkey AS o_orderkey,
         COUNT(*) AS n_li,
         SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS qty_c,
         SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS price_c,
         SUM(CAST(l_linenumber AS BIGINT)) AS ln_sum
  FROM lineitem GROUP BY l_orderkey
)
SELECT CAST(n_li AS BIGINT) AS n_li,
       COUNT(*) AS n_events,
       CAST(SUM(qty_c) AS BIGINT) AS qty_c,
       CAST(SUM(price_c) AS BIGINT) AS price_c,
       CAST(SUM(ln_sum) AS BIGINT) AS ln_sum,
       CAST(SUM(o_orderkey) AS BIGINT) AS id_checksum
FROM ev GROUP BY 1
""",
    tags=("S1", "S2", "root", "M7"),
)
def s1_root_scan_jagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROOT chunked scan of a JAGGED, zlib-compressed TTree — the real
    NanoAOD shape (S1 depth, run_stage1.py:153-166 over jagged Muon/Jet
    collections; config/branches.py:2-73 counts+payload layout): orders
    become events with their lineitems as a variable-length collection,
    every basket stored as ROOT "ZL" deflate frames.  The scan runs the
    production path — plan_chunks ({_S1J_CHUNK}/task, NOT a multiple of
    the {_S1J_BASKET}-entry basket grid, so tasks slice baskets AND the
    jagged value stream at both ends) -> mapInArrow fan-out -> per-task
    inflate + counts-aligned value slicing -> Arrow list columns.  The
    per-event fixed-point sums are computed by array HOFs on the decoded
    lists (zero shuffle until the final |multiplicities|-row group), and
    the oracle re-derives every per-event sum from the ORIGINAL parquet:
    one mis-inflated frame, one off-by-one in the counts/value alignment,
    or one dropped/duplicated chunk entry flips the value hash.  Scale:
    identical to s1_root_scan — one task per chunk, decode pruned to the
    chunk's baskets; compressed payloads of pruned baskets are never
    inflated (and never paged in: mmap walk)."""
    from copperhead_spark.sources.root_ingest import read_nanoaod, rootio_decoder

    path, n = _root_jagged_fixture(spark, sf_dir)
    df = read_nanoaod(
        spark,
        [(path, n)],
        ("o_orderkey", "n_li", "li_linenumber", "li_quantity", "li_extendedprice"),
        tree="Events",
        chunk_size=_S1J_CHUNK,
        decoder=rootio_decoder,
    )
    ev = df.selectExpr(
        "o_orderkey",
        "CAST(n_li AS BIGINT) AS n_li",
        "aggregate(li_quantity, 0L, (a, x) -> a + CAST(ROUND(x * 100) AS BIGINT)) AS qty_c",
        "aggregate(li_extendedprice, 0L, (a, x) -> a + CAST(ROUND(x * 100) AS BIGINT)) AS price_c",
        "aggregate(li_linenumber, 0L, (a, x) -> a + CAST(x AS BIGINT)) AS ln_sum",
    )
    return ev.groupBy("n_li").agg(
        F.count("*").alias("n_events"),
        F.sum("qty_c").cast("long").alias("qty_c"),
        F.sum("price_c").cast("long").alias("price_c"),
        F.sum("ln_sum").cast("long").alias("ln_sum"),
        F.sum("o_orderkey").cast("long").alias("id_checksum"),
    )


# ---------------------------------------------------------------------------
# Full three-stage reference parity in ONE query: ROOT (jagged, zlib) ->
# stage1 -> stage2 -> TH1F templates read back from file bytes.  The
# reference's strongest test chains its three scripts exactly this way
# (/root/reference/tests/test_continuous.py:25-101: stage1 -> stage2 ->
# stage3 in memory with pinned probes); this is the engine's equivalent,
# with the chain additionally entered from and exited to real ROOT bytes.
# ---------------------------------------------------------------------------

_E2E_ROOT_N = 20_000  # fixture events (the pipeline_hmm_histogram scale)
_E2E_ROOT_BASKET = 2048
_E2E_ROOT_CHUNK = 3000  # NOT a basket multiple: tasks slice baskets

_MU_F = ("pt", "eta", "phi", "charge", "pfRelIso04_all", "mediumId", "fsrPhotonIdx")
_JET_F = ("pt", "eta", "phi", "mass", "jetId", "qgl")
_FSR_F = ("pt", "eta", "phi")
_EV_FLAT = ("run", "event", "genWeight", "HLT_IsoMu24", "Flag_goodVertices",
            "MET_pt", "Pileup_nTrueInt")


def _root_events_fixture(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """Encode the deterministic jagged-events fixture as a zlib-compressed
    NanoAOD-layout ROOT file (nMuon + Muon_pt/... counts+payload
    branches).  Driver-side scaffolding by design — real NanoAOD arrives
    from outside the engine; the SCAN+pipeline is what's under test."""
    import numpy as np

    from copperhead_spark.fixtures import events_fixture_distributed
    from copperhead_spark.sources.rootio import list_trees, write_tree

    out_dir = scratch_dir("rootfix_events", sf_dir)
    path = os.path.join(out_dir, "nanoaod_events.root")
    if not os.path.exists(path):
        os.makedirs(out_dir, exist_ok=True)
        ev = events_fixture_distributed(spark, _E2E_ROOT_N).orderBy("event")
        exprs = list(_EV_FLAT) + [
            "CAST(size(Muon) AS INT) AS nMuon",
            "CAST(size(Jet) AS INT) AS nJet",
            "CAST(size(FsrPhoton) AS INT) AS nFsrPhoton",
        ]
        for coll, fields in (("Muon", _MU_F), ("Jet", _JET_F), ("FsrPhoton", _FSR_F)):
            exprs += [f"{coll}.{f} AS {coll}_{f}" for f in fields]
        pdf = ev.selectExpr(*exprs).toPandas()

        # leaf dtypes pinned explicitly: pandas list columns lose int/bool
        # dtypes through empty-list cells, and the ROOT leaf letter must
        # match the fixture schema exactly (charge/jetId/fsrPhotonIdx are
        # int32, mediumId bool, ids int64, everything else float64)
        ints32 = {"Muon_charge", "Muon_fsrPhotonIdx", "Jet_jetId"}
        bools = {"Muon_mediumId", "HLT_IsoMu24", "Flag_goodVertices"}
        int64s = {"run", "event"}

        def np_dtype(col: str):
            if col in ints32:
                return np.int32
            if col in bools:
                return np.bool_
            if col in int64s:
                return np.int64
            return np.float64

        def flat_np(col: str) -> np.ndarray:
            return np.asarray(pdf[col].to_list()).astype(np_dtype(col))

        def jag_np(col: str) -> np.ndarray:
            parts = [np.asarray(a) for a in pdf[col]]
            return (
                np.concatenate(parts).astype(np_dtype(col))
                if parts
                else np.empty(0, dtype=np_dtype(col))
            )

        columns = {c: flat_np(c) for c in _EV_FLAT}
        columns.update(
            {c: flat_np(c).astype(np.int32) for c in ("nMuon", "nJet", "nFsrPhoton")}
        )
        jagged = {}
        for coll, fields, cname in (
            ("Muon", _MU_F, "nMuon"),
            ("Jet", _JET_F, "nJet"),
            ("FsrPhoton", _FSR_F, "nFsrPhoton"),
        ):
            for f in fields:
                jagged[f"{coll}_{f}"] = (cname, jag_np(f"{coll}_{f}"))
        write_tree(
            path, "Events", columns, jagged,
            basket_entries=_E2E_ROOT_BASKET, compress=6,
        )
    return path, list_trees(path)[0][1]


def root_events_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The S1 front half of the e2e chain: chunked jagged ROOT scan ->
    array-of-struct event table with the fixture's exact schema (the
    coffea NanoEvents shape stage1 consumes)."""
    from copperhead_spark.sources.root_ingest import read_nanoaod, rootio_decoder

    path, n = _root_events_fixture(spark, sf_dir)
    branches = list(_EV_FLAT)
    for coll, fields in (("Muon", _MU_F), ("Jet", _JET_F), ("FsrPhoton", _FSR_F)):
        branches += [f"{coll}_{f}" for f in fields]
    df = read_nanoaod(
        spark, [(path, n)], branches,
        tree="Events", chunk_size=_E2E_ROOT_CHUNK, decoder=rootio_decoder,
    )

    def zipped(coll: str, fields: tuple[str, ...]):
        return F.arrays_zip(
            *[F.col(f"{coll}_{f}").alias(f) for f in fields]
        ).alias(coll)

    return df.select(
        *_EV_FLAT,
        zipped("Muon", _MU_F),
        zipped("Jet", _JET_F),
        zipped("FsrPhoton", _FSR_F),
    )


_TH1_NBINS, _TH1_LO, _TH1_HI = 37, 76.0, 150.0


def _root_to_th1_oracle() -> str:
    from copperhead_spark.operators.histogram import bin_index_sql
    from copperhead_spark.plans.hmm_oracle import hmm_stage_ctes

    bin_ = bin_index_sql("dimuon_mass", _TH1_LO, _TH1_HI, _TH1_NBINS)
    return f"""
WITH {hmm_stage_ctes(_E2E_ROOT_N)},
agg AS (
  SELECT region, channel,
         CASE WHEN {bin_} = -1 THEN 0
              WHEN {bin_} = {_TH1_NBINS} THEN {_TH1_NBINS + 1}
              ELSE {bin_} + 1 END AS bin,
         {exact_sum_sql("wgt_nominal", 6)} AS content,
         {exact_sum_sql("wgt_nominal * wgt_nominal", 12)} AS sumw2
  FROM sel GROUP BY 1, 2, 3
),
grid AS (
  SELECT rc.region, rc.channel, g.bin
  FROM (SELECT DISTINCT region, channel FROM sel) rc
  CROSS JOIN (SELECT unnest(range(0, {_TH1_NBINS + 2})) AS bin) g
)
SELECT grid.region || '__' || grid.channel AS template,
       CAST(grid.bin AS BIGINT) AS bin,
       CAST(CAST(COALESCE(agg.content, 0.0) AS REAL) AS DOUBLE) AS content,
       COALESCE(agg.sumw2, 0.0) AS sumw2
FROM grid LEFT JOIN agg
  ON grid.region = agg.region AND grid.channel = agg.channel
 AND grid.bin = agg.bin
"""


@register(
    "pipeline_root_to_th1_e2e",
    oracle=_root_to_th1_oracle(),
    tags=("S1", "S8", "E2E", "root"),
)
def pipeline_root_to_th1_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE reference parity statement, end to end in one query: jagged
    zlib-compressed NanoAOD-layout ROOT bytes -> chunked mapInArrow scan
    (S1) -> array-native stage1 (selection, FSR recovery, pairing, dR
    cleaning, kinematics, region labels — zero shuffles) -> stage2
    weighted histogram (the one aggregation shuffle) -> TH1F template
    records written to and read back from real ROOT bytes (S8, TArrayF
    float32 quantization included).  Mirrors the reference's strongest
    test, which chains run_stage1 -> run_stage2 -> templates in one run
    (/root/reference/tests/test_continuous.py:25-101); the oracle
    re-derives the ENTIRE chain relationally in DuckDB — fixture hash
    uniforms, selection, top-2, NOT EXISTS dR cleaning, pair mass,
    labels, fixed-point histogram, under/overflow slot mapping and the
    final CAST-to-REAL quantization — so one wrong byte in the ROOT
    encode/decode, one mis-aligned jagged slice, or one mis-binned event
    anywhere across all three stages flips the value hash.  Scale: the
    scan fans out one task per chunk; stage1 is a pure map; stage2's
    group key is (region x channel x bin) ~ 500 rows at any input size;
    only the |bins|-sized template set crosses the driver (the
    make_templates.py collected-template flow)."""
    import numpy as np

    from copperhead_spark.pipeline import stage1_arrays, stage2
    from copperhead_spark.sources.rootio import read_th1f, write_th1f

    hist = stage2(stage1_arrays(root_events_scan(spark, sf_dir)))
    rows = hist.collect()
    templates: dict[tuple[str, str], tuple[np.ndarray, np.ndarray]] = {}
    for r in rows:
        key = (r["region"], r["channel"])
        if key not in templates:
            templates[key] = (
                np.zeros(_TH1_NBINS + 2),
                np.zeros(_TH1_NBINS + 2),
            )
        slot = 0 if r["bin_idx"] == -1 else (
            _TH1_NBINS + 1 if r["bin_idx"] == _TH1_NBINS else int(r["bin_idx"]) + 1
        )
        templates[key][0][slot] = r["value"]
        templates[key][1][slot] = r["sumw2"]
    out_dir = scratch_dir("th1e2e", sf_dir)
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "templates_e2e.root")
    write_th1f(
        path,
        [
            dict(
                name=f"{region}__{channel}",
                title=f"dimuon_mass {region}/{channel}",
                nbins=_TH1_NBINS, xlo=_TH1_LO, xhi=_TH1_HI,
                contents=contents, sumw2=sumw2,
            )
            for (region, channel), (contents, sumw2) in sorted(templates.items())
        ],
        compress=6,
    )
    back = read_th1f(path)
    out = [
        (name, i, float(h["contents"][i]), float(h["sumw2"][i]))
        for name, h in sorted(back.items())
        for i in range(_TH1_NBINS + 2)
    ]
    return spark.createDataFrame(
        out, "template string, bin long, content double, sumw2 double"
    )


def _th1_slot_case(bin_expr: str) -> str:
    """SQL slot mapping bin_idx -> TH1 array slot (0 = underflow,
    nbins+1 = overflow) — shared by both e2e oracles."""
    return (
        f"CASE WHEN {bin_expr} = -1 THEN 0"
        f" WHEN {bin_expr} = {_TH1_NBINS} THEN {_TH1_NBINS + 1}"
        f" ELSE {bin_expr} + 1 END"
    )


# the reference's datacard spelling of the weight-variation axis
# (make_templates.py:171-187: "wgt_muid_up" -> suffix "muidUp" appended
# to the group name; nominal keeps the bare name)
_VAR_SUFFIX = {"nominal": "", "muid_up": "_muidUp", "muid_down": "_muidDown"}


def _root_to_th1_variations_oracle() -> str:
    from copperhead_spark.operators.histogram import bin_index_sql
    from copperhead_spark.plans.hmm_oracle import hmm_stage_ctes

    bin_ = bin_index_sql("dimuon_mass", _TH1_LO, _TH1_HI, _TH1_NBINS)
    sfx = " ".join(
        f"WHEN '{v}' THEN '{s}'" for v, s in _VAR_SUFFIX.items()
    )
    return f"""
WITH {hmm_stage_ctes(_E2E_ROOT_N)},
stacked AS (
  SELECT region, channel, dimuon_mass, 'nominal' AS variation, wgt_nominal AS wgt FROM sel
  UNION ALL
  SELECT region, channel, dimuon_mass, 'muid_up', wgt_muid_up FROM sel
  UNION ALL
  SELECT region, channel, dimuon_mass, 'muid_down', wgt_muid_down FROM sel
),
agg AS (
  SELECT region, channel, variation,
         {_th1_slot_case(bin_)} AS bin,
         {exact_sum_sql("wgt", 6)} AS content,
         {exact_sum_sql("wgt * wgt", 12)} AS sumw2
  FROM stacked GROUP BY 1, 2, 3, 4
),
grid AS (
  SELECT rc.region, rc.channel, v.variation, g.bin
  FROM (SELECT DISTINCT region, channel FROM sel) rc
  CROSS JOIN (SELECT unnest(['nominal', 'muid_up', 'muid_down']) AS variation) v
  CROSS JOIN (SELECT unnest(range(0, {_TH1_NBINS + 2})) AS bin) g
)
SELECT grid.region || '__' || grid.channel
         || CASE grid.variation {sfx} END AS template,
       CAST(grid.bin AS BIGINT) AS bin,
       CAST(CAST(COALESCE(agg.content, 0.0) AS REAL) AS DOUBLE) AS content,
       COALESCE(agg.sumw2, 0.0) AS sumw2
FROM grid LEFT JOIN agg
  ON grid.region = agg.region AND grid.channel = agg.channel
 AND grid.variation = agg.variation AND grid.bin = agg.bin
"""


@register(
    "pipeline_root_to_th1_variations_e2e",
    oracle=_root_to_th1_variations_oracle(),
    tags=("S1", "S8", "E2E", "root", "A5"),
)
def pipeline_root_to_th1_variations_e2e(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The e2e parity chain WITH the systematic-variation axis threaded
    through the TH1 sink (r9 VERDICT missing-item #3): jagged ROOT bytes
    -> chunked scan -> array-native stage1 -> stage2_variations (the
    region x channel x VARIATION stack aggregated in ONE shuffle,
    histogrammer.py:56-120) -> one TH1F template per (region, channel,
    variation) written to and read back from ROOT bytes, nominal keeping
    the bare name and up/down taking the reference's datacard suffixes
    (make_templates.py:171-187 "wgt_muid_up" -> "..._muidUp").  The
    oracle re-derives every variation's every bin — including the
    float32 TArrayF quantization — so a dropped variation, a weight
    mix-up between variations, or a mis-suffixed template name flips the
    value hash.  Scale: identical to the nominal e2e — stage1 is a pure
    map, the stack triples rows BEFORE the one aggregation shuffle whose
    group key is (region x channel x variation x bin) ~ 10^3 rows at any
    input size, and only |templates| x |bins| numbers cross the
    driver."""
    import numpy as np

    from copperhead_spark.pipeline import stage1_arrays, stage2_variations
    from copperhead_spark.sources.rootio import read_th1f, write_th1f

    hist = stage2_variations(stage1_arrays(root_events_scan(spark, sf_dir)))
    rows = hist.collect()
    templates: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    for r in rows:
        name = f"{r['region']}__{r['channel']}{_VAR_SUFFIX[r['variation']]}"
        if name not in templates:
            templates[name] = (
                np.zeros(_TH1_NBINS + 2),
                np.zeros(_TH1_NBINS + 2),
            )
        slot = 0 if r["bin_idx"] == -1 else (
            _TH1_NBINS + 1 if r["bin_idx"] == _TH1_NBINS else int(r["bin_idx"]) + 1
        )
        templates[name][0][slot] = r["value"]
        templates[name][1][slot] = r["sumw2"]
    out_dir = scratch_dir("th1e2e_var", sf_dir)
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "templates_variations.root")
    write_th1f(
        path,
        [
            dict(
                name=name,
                title=f"dimuon_mass {name}",
                nbins=_TH1_NBINS, xlo=_TH1_LO, xhi=_TH1_HI,
                contents=contents, sumw2=sumw2,
            )
            for name, (contents, sumw2) in sorted(templates.items())
        ],
        compress=404,  # kLZ4 — the modern NanoAOD default (r10 codec)
    )
    back = read_th1f(path)
    out = [
        (name, i, float(h["contents"][i]), float(h["sumw2"][i]))
        for name, h in sorted(back.items())
        for i in range(_TH1_NBINS + 2)
    ]
    return spark.createDataFrame(
        out, "template string, bin long, content double, sumw2 double"
    )


# pass-flag pins for the e2e stage-3 fit (fin1 pattern): measured on the
# deterministic 20k-event fixture — 4 categories reach the >= 6-bin fit
# floor, all 6 families fit finite in each, winner chi2/ndf observed
# <= 0.58; the bound carries ~80x margin so only a catastrophic fit
# regression trips it, never fixture noise.
_FIT_E2E_MIN_BINS = MIN_FIT_BINS
_FIT_E2E_CHI2_NDF_BOUND = 50.0


def _root_to_fit_oracle() -> str:
    from copperhead_spark.operators.histogram import bin_index_sql
    from copperhead_spark.plans.hmm_oracle import hmm_stage_ctes

    bin_ = bin_index_sql("dimuon_mass", _TH1_LO, _TH1_HI, _TH1_NBINS)
    return f"""
WITH {hmm_stage_ctes(_E2E_ROOT_N)},
binned AS (
  SELECT region, channel, {bin_} AS bin_idx, wgt_nominal
  FROM sel WHERE {bin_} BETWEEN 0 AND {_TH1_NBINS - 1}
),
agg AS (
  SELECT region, channel,
         COUNT(*) AS hist_rows,
         COUNT(DISTINCT bin_idx) AS used_bins,
         {exact_sum_sql("wgt_nominal", 6)} AS wsum
  FROM binned GROUP BY 1, 2
)
SELECT region, channel, hist_rows, CAST(used_bins AS BIGINT) AS used_bins,
       wsum,
       CAST(6 AS BIGINT) AS n_finite_families,
       CAST(1 AS BIGINT) AS ndf_ok,
       CAST(1 AS BIGINT) AS winner_is_min_ok,
       CAST(1 AS BIGINT) AS chi2_bound_ok
FROM agg WHERE used_bins >= {_FIT_E2E_MIN_BINS}
"""


@register(
    "pipeline_root_to_fit_e2e",
    oracle=_root_to_fit_oracle(),
    tags=("S1", "FIN1", "E2E", "root"),
)
def pipeline_root_to_fit_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-3 finishing chained onto the e2e chain (r9 VERDICT task 4):
    jagged ROOT bytes -> chunked scan -> array-native stage1 -> stage2
    weighted histogram -> the FIN1 chi2 model-selection fit
    (finishing/fits.py: the reference's six-family menu, fitter.py:40-52
    argmin) on each collected (region, channel) mass template with
    >= {_FIT_E2E_MIN_BINS} populated bins — the engine's analogue of the
    reference's stage-3 leg (test_continuous.py:79-101, where plotter
    consumes the stage-2 histogram; stage3/fitter.py fits the same
    spectra).

    VALUE-CHECKED via the fin1 pass-flag contract: the oracle re-derives
    the exact anchors (per-category in-range event count, used-bin count
    through the same bin formula, fixed-point weight sum — proving the
    fit consumed exactly the right histogram of the full three-stage
    chain) and pins the fit-health integers: all 6 families finite, the
    winner's dof arithmetic internally consistent (ndf == bins -
    len(params)), winner == argmin over finite families, winner chi2/ndf
    under the pinned bound.  Pinned point-probes on the winners
    themselves live in tests/test_round10.py (the reference's own pinned
    style).  Scale: two passes of the map-only pipeline (histogram +
    anchor aggregate), each collapsing to O(bins) / O(categories) rows;
    each fit consumes O(nbins) collected numbers driver-side."""
    import math

    from copperhead_spark.finishing.fits import best_fit, fit_families_all, histogram_groups
    from copperhead_spark.functions.exact import exact_sum
    from copperhead_spark.operators.histogram import bin_index
    from copperhead_spark.pipeline import channel_case, stage1_arrays, stage2

    flat = stage1_arrays(root_events_scan(spark, sf_dir))
    hist = stage2(flat)
    groups = histogram_groups(hist.toPandas(), _TH1_LO, _TH1_HI, _TH1_NBINS)
    all_fits = fit_families_all(groups)
    # exact anchors from the SAME flat table the histogram consumed.
    # codegen_barrier is load-bearing: fused with stage1's kinematics
    # tail, the channel CASE + bin + exact-sum partial agg push the
    # single whole-stage span past janino's 64 KB method limit and the
    # anchor pass would silently run interpreted (caught at sf0.1 under
    # codegen.fallback=false — the r8 failure mode)
    from copperhead_spark.operators.barrier import codegen_barrier

    bin_col = bin_index(F.col("dimuon_mass"), _TH1_LO, _TH1_HI, _TH1_NBINS)
    anchors = (
        codegen_barrier(flat, "cgb_fit_anchor")
        .withColumn("channel", channel_case())
        .withColumn("bin_idx", bin_col)
        .filter((F.col("bin_idx") >= 0) & (F.col("bin_idx") < _TH1_NBINS))
        .groupBy("region", "channel")
        .agg(
            F.count("*").alias("hist_rows"),
            exact_sum(F.col("wgt_nominal"), 6).alias("wsum"),
        )
        .collect()
    )
    anchor_by = {(r["region"], r["channel"]): r for r in anchors}
    out = []
    for key in sorted(all_fits):
        results = all_fits[key]
        used_bins = len(groups[key][0])
        winner = best_fit(results)
        finite = [r for r in results if math.isfinite(r.chi2)]
        a = anchor_by[key]
        min_ndf = min((r.chi2_ndf for r in finite), default=float("inf"))
        out.append(
            (
                key[0],
                key[1],
                int(a["hist_rows"]),
                int(used_bins),
                float(a["wsum"]),
                len(finite),
                int(winner.ndf == used_bins - len(winner.params)),
                int(math.isclose(winner.chi2_ndf, min_ndf)),
                int(winner.chi2_ndf <= _FIT_E2E_CHI2_NDF_BOUND),
            )
        )
    return spark.createDataFrame(
        out,
        "region string, channel string, hist_rows bigint, used_bins bigint,"
        " wsum double, n_finite_families bigint, ndf_ok bigint,"
        " winner_is_min_ok bigint, chi2_bound_ok bigint",
    )


# ---------------------------------------------------------------------------
# r11: kZSTD ("ZS") basket frames through the standard chunked-scan path.
# Recent CMS NanoAOD campaigns compress baskets with ZSTD; the decoder is
# the spec-written RFC 8878 codec (sources/zstdcodec.py), wired at
# rootio's frame seam — closing the one codec gap the r10 verdict left
# as an explicit decision (task 4: decoder chosen over the wheel seam).
# ---------------------------------------------------------------------------


def _root_zstd_fixture(spark: SparkSession, sf_dir: str) -> str:
    """One flat-tree ROOT file under kZSTD (fCompress 505) — written and
    read by the in-repo RFC 8878 codec.  Driver-side scaffolding by
    design; the ZS SCAN path is the operator under test."""
    import numpy as np

    from copperhead_spark.sources.rootio import write_tree

    out_dir = scratch_dir("rootfix_zstd", sf_dir)
    path = os.path.join(out_dir, "lineitem_zs.root")
    if not os.path.exists(path):
        os.makedirs(out_dir, exist_ok=True)
        pdf = (
            table(spark, sf_dir, "lineitem")
            .select(*_S1_BRANCHES)
            .orderBy("l_orderkey", "l_linenumber")
            .toPandas()
        )
        write_tree(
            path,
            "Events",
            {
                "l_orderkey": pdf["l_orderkey"].to_numpy(np.int64),
                "l_linenumber": pdf["l_linenumber"].to_numpy(np.int32),
                "l_quantity": pdf["l_quantity"].to_numpy(np.float64),
                "l_extendedprice": pdf["l_extendedprice"].to_numpy(np.float64),
            },
            basket_entries=_S1F_BASKET,
            compress=505,
        )
    return path


@register(
    "s1_root_scan_zstd",
    oracle=f"""
SELECT CAST(l_linenumber AS BIGINT) AS linenumber,
       COUNT(*) AS n,
       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
       {exact_sum_sql("l_quantity")} AS sum_qty,
       {exact_sum_sql("l_extendedprice")} AS sum_price
FROM lineitem
GROUP BY 1
""",
    tags=("S1", "root", "zstd"),
)
def s1_root_scan_zstd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunked scan of a kZSTD-compressed ROOT file: every basket frame
    is b"ZS" + an RFC 8878 zstd frame, inflated executor-side by the
    spec-written pure-python decoder (sources/zstdcodec.py — Huffman
    literals, FSE sequences, repeat offsets, the works) through exactly
    the same mapInArrow fan-out as every other codec.  The oracle is the
    parquet-derived per-linenumber aggregate, so one wrong literal, one
    mis-executed sequence, or one bad frame boundary anywhere in the
    zstd decode flips specific rows' value hashes.  Scale: identical to
    s1_root_scan — one task per chunk, basket-level pruning, payload
    bytes of pruned baskets never paged in."""
    from copperhead_spark.sources.root_ingest import read_nanoaod, rootio_decoder
    from copperhead_spark.sources.rootio import list_trees

    path = _root_zstd_fixture(spark, sf_dir)
    n = list_trees(path)[0][1]
    df = read_nanoaod(
        spark, [(path, n)], _S1_BRANCHES,
        tree="Events", chunk_size=_S1F_CHUNK, decoder=rootio_decoder,
    )
    return df.groupBy(
        F.col("l_linenumber").cast("long").alias("linenumber")
    ).agg(
        F.count("*").alias("n"),
        F.countDistinct("l_orderkey").cast("long").alias("n_orders"),
        exact_sum(F.col("l_quantity")).alias("sum_qty"),
        exact_sum(F.col("l_extendedprice")).alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# r11: ML inference composed INTO the e2e chain (verdict task 3) — the
# reference's stage 2 scores events with a fold-routed MVA *between*
# categorization and histogramming (stage2/mva_evaluators.py:141-195;
# postprocessor.py:61-253 bins the score); the engine had both halves
# (ml_mlp_inference, the hmm e2e) but no composed query until now.
# ---------------------------------------------------------------------------

_MVA_NBINS, _MVA_LO, _MVA_HI = 20, -3.0, 2.0


def _root_to_mva_oracle() -> str:
    from copperhead_spark.ml.inference import hmm_mva_sql
    from copperhead_spark.operators.histogram import bin_index_sql
    from copperhead_spark.plans.hmm_oracle import hmm_stage_ctes

    bin_ = bin_index_sql("score", _MVA_LO, _MVA_HI, _MVA_NBINS)
    return f"""
WITH {hmm_stage_ctes(_E2E_ROOT_N)},
scored AS (
  SELECT region, channel, wgt_nominal, ({hmm_mva_sql("id")}) AS score
  FROM sel
)
SELECT region, channel,
       {bin_} AS score_bin,
       COUNT(*) AS n,
       {exact_sum_sql("wgt_nominal", 6)} AS wgt_sum,
       {exact_sum_sql("score", 6)} AS score_sum
FROM scored GROUP BY 1, 2, 3
"""


@register(
    "pipeline_root_to_mva_histogram_e2e",
    oracle=_root_to_mva_oracle(),
    tags=("S1", "F1", "E2E", "root", "ml"),
)
def pipeline_root_to_mva_histogram_e2e(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The reference's full stage-2 shape in one query: jagged ROOT bytes
    -> chunked scan (S1) -> array-native stage1 -> fold-routed MVA score
    (pandas UDF, broadcast weights, fold = event % 4 exactly as
    mva_evaluators.py routes) -> score-binned weighted histogram.  The
    MVA is a hardtanh (clip) network so the score is +/*/min/max over
    identical doubles — bit-exact across engines, which a HISTOGRAM BIN
    requires (the tanh MLP's libm ulp would flip boundary events); the
    oracle re-derives the score closed-form inside the full relational
    chain, so a wrong fold mask, one swapped weight, or a mis-binned
    boundary event flips the value hash.  Scale: scan fans out per
    chunk; stage1 + scoring are pure maps (model rides a broadcast, fold
    routing is a batch mask, never a repartition); the single shuffle is
    the (region x channel x bin) aggregation, ~O(10^3) rows at any input
    size."""
    from copperhead_spark.ml.inference import attach_hmm_scores
    from copperhead_spark.operators.histogram import bin_index_sql
    from copperhead_spark.pipeline import channel_case, stage1_arrays

    sel = (
        stage1_arrays(root_events_scan(spark, sf_dir))
        .withColumn("channel", channel_case())
        .filter(F.col("region") != "none")
    )
    scored = attach_hmm_scores(sel, fold_col="event", score_col="score")
    return scored.groupBy(
        "region",
        "channel",
        F.expr(bin_index_sql("score", _MVA_LO, _MVA_HI, _MVA_NBINS)).alias(
            "score_bin"
        ),
    ).agg(
        F.count("*").alias("n"),
        exact_sum(F.col("wgt_nominal"), 6).alias("wgt_sum"),
        exact_sum(F.col("score"), 6).alias("score_sum"),
    )


# ---------------------------------------------------------------------------
# r11: datacard emission chained onto the e2e (verdict task 6) — the last
# stage-3 leg: per-channel h-peak yields + the muid systematic become a
# text datacard (make_datacards.py:64-113), parsed back so the returned
# table pins the text round-trip.
# ---------------------------------------------------------------------------

_DC_SIGNAL = ("vbf",)


def _root_to_datacard_oracle() -> str:
    from copperhead_spark.plans.hmm_oracle import hmm_stage_ctes

    # make_datacard numbers PRESENT processes: signal (vbf) gets 0,
    # backgrounds 1..k in sorted order among those that appear
    return f"""
WITH {hmm_stage_ctes(_E2E_ROOT_N)},
y AS (
  SELECT channel,
         {exact_sum_sql("wgt_nominal", 6)} AS rate,
         {exact_sum_sql("wgt_muid_up", 6)} AS rate_up
  FROM sel WHERE region = 'h-peak' GROUP BY 1
),
yy AS (
  SELECT channel, rate, rate_up,
         CASE WHEN channel = 'vbf' THEN 0
              ELSE ROW_NUMBER() OVER (
                     PARTITION BY CASE WHEN channel = 'vbf' THEN 1 ELSE 0 END
                     ORDER BY channel)
         END AS proc_idx
  FROM y WHERE rate > 0
)
SELECT channel AS process,
       CAST(proc_idx AS BIGINT) AS proc_idx,
       rate,
       rate_up / rate AS muid_lnn
FROM yy
"""


@register(
    "pipeline_root_to_datacard_e2e",
    oracle=_root_to_datacard_oracle(),
    tags=("S1", "FIN3", "E2E", "root"),
)
def pipeline_root_to_datacard_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage 3 closed end to end: jagged ROOT scan -> stage1 -> per-
    channel h-peak yields (nominal + muid_up, the one distributed pass;
    only |channels| rows cross the driver) -> TEXT datacard emission
    (finishing/templates.py make_datacard, the make_datacards.py:64-113
    layout: signal-first process ordering, indices <= 0 for signal, rate
    line, lnN systematic line) -> the card TEXT is parsed back and the
    returned table carries the parsed process order and indices next to
    the exact yields, so the driver hash pins emission + parse, not just
    the aggregation.  lnN cells are the up/nominal yield ratio, the
    standard datacard spelling of a multiplicative systematic."""
    import pandas as pd

    from copperhead_spark.finishing.templates import make_datacard
    from copperhead_spark.pipeline import channel_case, stage1_arrays

    sel = (
        stage1_arrays(root_events_scan(spark, sf_dir))
        .withColumn("channel", channel_case())
        .filter(F.col("region") == "h-peak")
    )
    rows = (
        sel.groupBy("channel")
        .agg(
            exact_sum(F.col("wgt_nominal"), 6).alias("rate"),
            exact_sum(F.col("wgt_muid_up"), 6).alias("rate_up"),
        )
        .filter(F.col("rate") > 0)
        .collect()
    )
    groups = sorted(r["channel"] for r in rows)
    rate = {r["channel"]: float(r["rate"]) for r in rows}
    lnn = {r["channel"]: float(r["rate_up"]) / float(r["rate"]) for r in rows}
    yields = pd.DataFrame(
        {"group": groups, "yield": [rate[g] for g in groups]}
    )
    card = make_datacard(
        yields,
        signal_groups=_DC_SIGNAL,
        lnN={"muid": {g: round(lnn[g], 3) for g in groups}},
    )
    # parse the emitted text back: the process-name and process-index
    # lines carry the card's ordering contract
    lines = card.splitlines()
    name_line = [ln for ln in lines if ln.startswith("process ")][0].split()[1:]
    idx_line = [ln for ln in lines if ln.startswith("process ")][1].split()[1:]
    parsed_idx = {g: int(i) for g, i in zip(name_line, idx_line)}
    # make_datacard indexes signal processes <= 0 (vbf -> 0 here); the
    # oracle derives the same CASE mapping
    out = [(g, parsed_idx[g], rate[g], lnn[g]) for g in groups]
    return spark.createDataFrame(
        out, "process string, proc_idx long, rate double, muid_lnn double"
    )


from copperhead_spark.docfmt import inline_doc_consts  # noqa: E402  (docstring literal inlining)
inline_doc_consts(globals())
