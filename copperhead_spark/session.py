"""SparkSession bootstrap.

The reference hand-configures a dask LocalCluster (40 workers x 1 thread,
12 GB each — /root/reference/run_stage1.py:182-188); here the equivalent
knobs are expressed once as Spark conf.  Everything is sized so the same
code runs on local[N] for tests and on a real cluster unchanged: AQE
handles partition coalescing / skew at runtime, shuffle partitions default
to ~2x cores locally (override via conf for a cluster).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _driver_mem() -> str:
    """Driver JVM heap: pinned (-Xms = -Xmx) and faulted in lazily — see
    the r12 note on spark.driver.extraJavaOptions below.  24g
    holds the full bench soak with headroom while two concurrent
    sessions (tests + bench) still fit the sandbox; override for bigger
    hosts.  Because the pin COMMITS the heap at JVM start, the default
    is clamped to a quarter of physical RAM on smaller hosts (an
    explicit SPARK_GRAFT_DRIVER_MEM is always taken verbatim)."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "")
    if env:
        return env
    try:
        with open("/proc/meminfo") as fh:
            total_kb = int(fh.readline().split()[1])
        quarter_g = total_kb // (4 * 1024 * 1024)
        return f"{max(2, min(24, quarter_g))}g"
    except (OSError, ValueError, IndexError):
        return "24g"


def _cpus() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "") or os.cpu_count() or 4)
    except ValueError:
        return os.cpu_count() or 4


def get_spark(
    app_name: str = "copperhead-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Defaults matter for correctness as well as speed:
      - session timezone pinned to UTC (oracle comparisons, timestamp math)
      - AQE on: runtime partition coalescing, skew-join splitting
      - Arrow on: pandas UDF / toPandas use Arrow batches
    """
    cpus = _cpus()
    driver_mem = _driver_mem()
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 2 * cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        # dozens of whole-stage-codegen queries in one JVM press on the
        # default ~240 MB JIT code cache.  NOTE: raising it did NOT fix
        # the measured late-session pipeline slowdown (2.4s young vs
        # ~4.5s after 28 queries — bench.py times that plan in the young
        # session instead); the larger reservation is kept as cheap
        # prophylaxis for genuinely long sessions (plan-audit runs all
        # 180+ queries in one JVM), not as a fix for that regression.
        #
        # r12 heap pinning (-Xms = -Xmx, madvise-THP):
        # per-process CPU attribution of the bimodal query walls (same
        # collect 1.2s or 21s) showed the slow mode is almost pure JVM
        # *system* time — 40+s of minor-fault storms whenever G1 commits
        # or re-commits heap regions mid-query (this virtualized host
        # reclaims guest-freed pages, making each fresh fault ~100us).
        # Pinning the heap (2 MB THP pages where available: 256x fewer
        # faults) keeps G1 from shrinking and re-committing regions
        # mid-query; in r12, pinned and pre-touched, the heaviest e2e
        # went from 3-13s erratic walls to a stable 1.4-1.9s.  Standard
        # long-running-service JVM practice, not a local[32] tune; on a
        # cluster the same flags belong in
        # spark.executor.extraJavaOptions.  The heap is not pre-touched
        # (-XX:+AlwaysPreTouch): on boots where the hypervisor makes
        # every fresh fault ~100 µs, faulting a 2 GiB heap took 67 s of
        # pure system time before the session started (10+ minutes at
        # 24 GiB), strictly worse than faulting lazily.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing "
            f"-Xms{driver_mem} -XX:+UseTransparentHugePages",
        )
        # r12: Python workers (numpy/pyarrow kernels) hit the same
        # reclaimed-page refaults on every multi-MB allocation glibc
        # returns to the OS; never trimming and never mmap-ing keeps a
        # worker's pages resident across batches (measured: warm
        # sketch_cms_counts 2.4-3.3s -> 1.1-1.4s, s1_root_scan 1.2-2.3s
        # -> ~1.0s).  Bounded by the workers' own working set — nothing
        # grows monotonically; opt out by overriding via extra_conf.
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "-1")
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", str(1 << 30))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.warehouse.dir", "/tmp/copperhead_spark_warehouse")
        # r12: Python workers import `sitecustomize` from this dir at
        # startup (workerenv/sitecustomize.py), which backports CPython
        # 3.12's stat-guarded zipimporter.invalidate_caches — pyspark's
        # per-task setup_spark_files calls importlib.invalidate_caches()
        # every task, and on 3.11 that re-parses pyspark.zip's whole
        # central directory each time (~0.25 CPU-s/task measured, the
        # dominant overhead of every mapInArrow/pandas-UDF stage).
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "workerenv"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
