"""Python-worker startup patch (wired via spark.executorEnv.PYTHONPATH in
copperhead_spark/session.py; the `site` module imports any importable
`sitecustomize` at interpreter start, so pyspark.daemon and every forked
worker inherit this before the first task runs).

Three independent patches, all aimed at the measured per-task / per-fork
CPU floor of Python-boundary stages (mapInArrow / pandas UDFs).  Each is
individually guarded so a failure can never break workers, and each is
behavior-preserving: no import semantics change unless the archives on
sys.path are truly unchanged, and gc still collects everything a worker
allocates itself.

1. Stat-guarded ``zipimporter.invalidate_caches`` (r12).  pyspark's
   per-task setup (worker_util.setup_spark_files) calls
   ``importlib.invalidate_caches()`` on EVERY task.  On CPython 3.11,
   ``zipimport.zipimporter.invalidate_caches`` unconditionally re-reads
   the whole zip central directory, and the workers' sys.path carries
   pyspark.zip (~thousands of entries) with one zipimporter per package
   subpath — measured ~0.25 CPU-s per task of pure directory re-parsing
   (~1.9M struct unpacks per 32-task job), the dominant Python-boundary
   overhead of every mapInArrow/pandas-UDF stage at bench scale.  The
   guard re-reads only when the archive's (mtime_ns, size) changed —
   exactly the semantics CPython >= 3.12 ships (gh-87319); a zip that
   actually changed is still re-read, so the cache-invalidation contract
   is preserved.

2. Daemon-side cache warming (r12, second pass).  A worker forked from
   pyspark.daemon inherits the daemon's zipimport directory cache — but
   its FIRST ``invalidate_caches()`` found an empty stat-guard cache and
   eagerly re-read every archive's central directory anyway (~0.17
   CPU-s per fork; sys.path also carries the spark-core JAR, whose
   central directory dwarfs pyspark.zip's).  Warming both caches here,
   in the daemon, makes every fork's first invalidate a no-op stat
   check.  A 32-task stage arriving on a fresh pool paid ~5.5 CPU-s of
   pure directory parsing before this (first wide Python stage of every
   session, and every young-context batch in the bench).

3. Fork-time heap hygiene (r12, second pass).  Two costs in every cold
   worker, measured with a process_time()-based in-worker profiler:
   (a) the first per-task ``gc.collect()`` in the daemon's reuse loop
   walks the whole INHERITED heap (all of pyspark + the libs below),
   ~45 ms CPU per fork, and COW-unshares every page it touches;
   (b) importing numpy/pyarrow/pandas per fork, ~60 ms CPU each.
   ``gc.freeze()`` immediately before each fork moves the daemon's heap
   into the permanent generation, which the cyclic collector skips —
   refcounting still frees non-cyclic garbage, and everything a worker
   allocates after the fork is collected normally, so the only objects
   exempted are module-level ones that live for the process lifetime
   anyway.  Pre-importing the columnar stack in the daemon means forks
   inherit it via copy-on-write (one shared RSS copy per executor
   instead of one per worker).  Together with (2): a 32-fork storm
   dropped 9.0 -> 4.0 CPU-s, and the steady per-task floor ~3.3 -> 2.3
   CPU-s per 32-task job.
"""

import os

try:
    import zipimport

    _orig_invalidate = zipimport.zipimporter.invalidate_caches
    _zip_stat_cache: dict = {}

    def _stat_key(archive):
        st = os.stat(archive)
        return (st.st_mtime_ns, st.st_size)

    def _guarded_invalidate(self):
        try:
            key = _stat_key(self.archive)
        except OSError:
            _orig_invalidate(self)
            return
        if _zip_stat_cache.get(self.archive) == key:
            return  # archive unchanged: directory cache is still valid
        _orig_invalidate(self)
        _zip_stat_cache[self.archive] = key

    # only patch the pure-python zipimport (3.8+); anything else keeps
    # stock behavior
    if getattr(zipimport.zipimporter, "invalidate_caches", None) is not None:
        zipimport.zipimporter.invalidate_caches = _guarded_invalidate
except Exception:  # noqa: BLE001 - a failed patch must never break workers
    pass

# (2) warm the zip directory + stat-guard caches for every zip-like
# sys.path entry (pyspark.zip, py4j zip, AND the spark-core jar that
# PythonWorkerFactory appends), so forked workers inherit warm caches
# and their first invalidate_caches() is a pure stat check.
try:
    import sys

    for _p in list(sys.path):
        if os.path.isfile(_p):
            try:
                _zi = zipimport.zipimporter(_p)
                _zip_stat_cache[_zi.archive] = _stat_key(_zi.archive)
            except Exception:  # noqa: BLE001 - not a zip: skip
                pass
except Exception:  # noqa: BLE001
    pass

# (3a) pre-import the columnar stack once per executor (daemon) so forks
# inherit loaded modules copy-on-write instead of importing them cold.
try:
    import numpy  # noqa: F401
    import pyarrow  # noqa: F401
    import pandas  # noqa: F401
except Exception:  # noqa: BLE001 - stack absent: workers import lazily
    pass

# (3b) freeze the heap right before each fork: the daemon's reuse loop
# runs gc.collect() after every task in every worker, and without the
# freeze that collection walks (and COW-unshares) the whole inherited
# module graph.  Freeze is cumulative and cheap; refcount-freed garbage
# is unaffected.
try:
    import gc as _gc

    _orig_fork = os.fork

    def _freezing_fork():
        try:
            _gc.freeze()
        except Exception:  # noqa: BLE001
            pass
        return _orig_fork()

    os.fork = _freezing_fork
except Exception:  # noqa: BLE001
    pass
