"""ROOT NanoAOD ingestion (SURVEY.md §2.1 S1/S2): the reference's primary
source is chunked uproot/coffea reads of ROOT TTrees
(/root/reference/run_stage1.py:153-166) with a declarative branch
whitelist (config/branches.py:115-134).

Spark-first design: the steady-state pipeline converts ROOT to parquet
once (this module) and everything downstream is plain parquet scans with
Catalyst pruning.  The direct-read path uses `mapInArrow` over a
DataFrame of (file, entry_start, entry_stop) chunk specs — the exact
analogue of the reference's chunked Runner — with uproot doing the
columnar decode inside each Arrow batch.

uproot/awkward are not installed in this image; for rootio-written
trees — flat or jagged (NanoAOD counts+payload layout), optionally
zlib-compressed — the byte-level decode is done by the pure-python
reader in sources/rootio.py (real TFile/TKey/TBasket/ZL-frame layouts,
basket-level pruning), so the whole path — chunk planning, mapInArrow
fan-out, columnar decode into flat and list columns — runs and is
oracle-checked end-to-end here (s1_root_scan, s1_root_scan_jagged,
pipeline_root_to_th1_e2e).  Stock-ROOT files (TStreamerInfo metadata)
still route through the uproot decoder when that library is present.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession


def plan_chunks(
    files_with_entries: Sequence[tuple[str, int]], chunk_size: int = 100_000
) -> list[tuple[str, int, int]]:
    """Split (file, n_entries) into entry-range chunks — the coffea
    Runner chunking (run_stage1.py:54-58,157: chunksize=100000)."""
    chunks = []
    for path, n in files_with_entries:
        start = 0
        while start < n:
            chunks.append((path, start, min(start + chunk_size, n)))
            start += chunk_size
    return chunks


def rootio_decoder(
    path: str, tree: str, branches: Sequence[str], start: int, stop: int
):
    """Pure-python byte decode (sources/rootio.py) — the decoder that
    runs in THIS image.  Flat branches come back as plain columns;
    jagged (NanoAOD counts+payload) branches as Arrow list columns,
    ZL/XZ/L4/ZS baskets transparently inflated.  rootio reads the
    subset of the TTree object record its own writer streams; stock-ROOT
    files with the full streamed layout still need the uproot decoder
    below.  Column pruning and basket-level entry-range pruning happen
    inside read_tree, which locates baskets from the record's
    fBasketSeek tables, so each mapInArrow task touches only its chunk's
    baskets of the whitelisted branches."""
    import pyarrow as pa

    from copperhead_spark.sources.rootio import read_tree

    cols = read_tree(
        path, tree, list(branches), entry_start=start, entry_stop=stop
    )
    arrays = {}
    for b in branches:
        v = cols[b]
        if isinstance(v, tuple):
            counts, values = v
            # 32-bit list offsets: Spark's Arrow bridge rejects LargeList,
            # and a chunk's value stream is bounded by chunk_size * max
            # multiplicity — far under 2^31 for any sane chunk size
            offsets = np.zeros(len(counts) + 1, dtype=np.int64)
            np.cumsum(counts, out=offsets[1:])
            if offsets[-1] > np.iinfo(np.int32).max:
                raise ValueError(
                    f"branch {b}: chunk holds {offsets[-1]} values — exceeds "
                    "32-bit Arrow list offsets; lower chunk_size"
                )
            arrays[b] = pa.ListArray.from_arrays(
                pa.array(offsets.astype(np.int32)), pa.array(values)
            )
        else:
            arrays[b] = pa.array(v)
    return pa.table(arrays)


def _uproot_decoder(path: str, tree: str, branches: Sequence[str], start: int, stop: int):
    """Real byte decode (gated: uproot/awkward absent from this image).
    Returns a pyarrow Table of the whitelisted branches for one chunk."""
    try:
        import uproot
    except ImportError as e:
        raise ImportError(
            "ROOT ingestion needs uproot (`pip install uproot awkward`); "
            "in this environment convert NanoAOD to parquet offline and use "
            "catalog.table / spark.read.parquet instead"
        ) from e
    import awkward as ak

    with uproot.open(path) as f:
        arrays = f[tree].arrays(
            list(branches), entry_start=start, entry_stop=stop, library="ak"
        )
    return ak.to_arrow_table(arrays)


def scan_entries(
    spark: SparkSession,
    paths: Sequence[str],
    tree: str = "Events",
) -> DataFrame:
    """Distributed entry-count pre-scan: one row (path, entries) per
    file — the preprocessing step that feeds read_nanoaod's chunk
    planning (the reference runs the same step through coffea's
    preprocess; run_stage1.py:153-166 consumes its output).

    Metadata-only: rootio's list_trees mmaps the file and reads the
    entry count from its TTree object record, skipping every other key
    by one length read and a classname byte compare; basket payloads
    are never paged in.  At 100k files this is one map-only stage over
    a tiny path DataFrame; the (path, entries) result is bounded at one
    short row per file, safe to collect into plan_chunks."""
    import pyarrow as pa

    def entries(path: str) -> int:
        from copperhead_spark.sources.rootio import list_trees

        for name, n in list_trees(path):
            if name == tree:
                return n
        raise KeyError(f"tree {tree!r} not found in {path}")

    if not paths:
        raise ValueError("scan_entries: empty path list")
    # never more partitions than files: a handful of files over
    # defaultParallelism slices made mostly-EMPTY tasks, each still
    # spinning a Python worker (cold-pool fork storm); at 100k files the
    # min() keeps defaultParallelism-sized bundles exactly as before.
    path_df = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(p,) for p in paths],
            min(len(paths), spark.sparkContext.defaultParallelism),
        ),
        "path string",
    )

    def count(batches):
        for batch in batches:
            rows = batch.to_pylist()
            if not rows:
                # an empty batch would make pa.array([]) infer null type
                # and mismatch the declared schema (r9 ADVICE)
                continue
            yield pa.record_batch(
                {
                    "path": pa.array(
                        [r["path"] for r in rows], type=pa.string()
                    ),
                    "entries": pa.array(
                        [entries(r["path"]) for r in rows],
                        type=pa.int64(),
                    ),
                }
            )

    return path_df.mapInArrow(count, schema="path string, entries long")


def read_nanoaod_files(
    spark: SparkSession,
    paths: Sequence[str],
    branches: Sequence[str],
    tree: str = "Events",
    chunk_size: int = 100_000,
    decoder=None,
) -> DataFrame:
    """scan_entries + read_nanoaod in one call: the two-stage production
    ingest (distributed metadata pre-scan, then chunked columnar decode)
    for callers that start from bare file paths.  The intermediate
    collect is one (path, entries) row per file — documented-bounded."""
    few = [(r["path"], r["entries"]) for r in scan_entries(spark, paths, tree).collect()]
    return read_nanoaod(
        spark, few, branches, tree=tree, chunk_size=chunk_size, decoder=decoder
    )


def read_nanoaod(
    spark: SparkSession,
    files_with_entries: Sequence[tuple[str, int]],
    branches: Sequence[str],
    tree: str = "Events",
    chunk_size: int = 100_000,
    decoder=None,
) -> DataFrame:
    """Distributed ROOT scan: one task per entry-range chunk, columnar
    decode to Arrow inside each task, only whitelisted branches read
    (S2 source pruning — uproot deserializes nothing else).

    ``decoder(path, tree, branches, start, stop) -> pyarrow.Table`` is
    injectable so the whole mapInArrow pipeline — chunk specs, per-chunk
    decode fan-out, Arrow batch hand-off, schema declaration — is
    exercised end-to-end without ROOT fixtures (tests inject a
    deterministic fake; see tests/test_tabular_io.py).  Production uses
    the uproot decoder, the only code path this image cannot run."""
    if decoder is None:
        # prefer uproot (full NanoAOD: compression, jagged branches);
        # fall back to the pure-python flat-tree decoder (rootio.py)
        try:
            import uproot  # noqa: F401

            decoder = _uproot_decoder
        except ImportError:
            decoder = rootio_decoder

    import pyarrow as pa  # noqa: F401  (mapInArrow contract)
    from pyspark.sql.pandas.types import from_arrow_schema

    chunks = plan_chunks(files_with_entries, chunk_size)
    # exactly one partition per chunk: a local-collection createDataFrame
    # defaults to defaultParallelism slices, so a 7-chunk scan fanned out
    # as 32 tasks — 25 of them EMPTY, each still spinning up a Python
    # worker (a 32-fork storm on a cold pool).  One chunk per task is
    # also the reference's coffea Runner shape (guide §2.5 input sizing).
    chunk_df = spark.createDataFrame(
        spark.sparkContext.parallelize(chunks, len(chunks)),
        "path string, start long, stop long",
    )

    branch_list = tuple(branches)

    def decode(batches):
        for batch in batches:
            for row in batch.to_pylist():
                table = decoder(row["path"], tree, branch_list, row["start"], row["stop"])
                yield from table.to_batches()

    if not chunks:
        raise ValueError(
            "read_nanoaod: no input chunks (empty file list, or every "
            "file reports zero entries)"
        )
    # schema must be declared up-front; derive from a zero-entry read
    probe = decoder(chunks[0][0], tree, branch_list, 0, 0)
    return chunk_df.mapInArrow(decode, schema=from_arrow_schema(probe.schema))
