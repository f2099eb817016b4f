"""Shuffle-free optimizer barrier.

CollapseProject merges adjacent projections and re-inlines an expensive
expression into EVERY downstream column that references it — a signature
array extracted into K columns recomputes the signature K times; the
former array-HOF stage1's sort chains exploded to 898 copies of one
array_sort.  A `repartition()` stops the collapse but costs a full
shuffle.  `inline(array(struct(...)))` is a Generate node: CollapseProject
cannot merge through it, the generator expressions evaluate exactly once
per row, and no exchange is introduced.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def project_once(df: DataFrame, *exprs: str) -> DataFrame:
    """Project ``exprs`` (SQL snippets, each aliased or a plain column
    name) so each is evaluated exactly once per row and downstream
    references see plain attributes."""
    return df.selectExpr(f"inline(array(struct({', '.join(exprs)})))")


def widen_if_narrow(df: DataFrame, spark) -> DataFrame:
    """Round-robin repartition up to defaultParallelism, but ONLY when
    the plan currently yields fewer partitions (r12).

    The guide's §2.5 input-skew rule, made scale-adaptive: a single-file
    single-row-group parquet scan is ONE task no matter how expensive
    the per-row work stacked on it is (measured: the blocked-levenshtein
    pair join ran 101 CPU-s on 2 tasks with 30 cores idle).  At
    production scale the same scan arrives as many splits, the condition
    fails, and NO exchange is added — this is never a blanket
    repartition.  Keyless repartition keeps Spark's sort-before-
    repartition determinism (SPARK-23207); callers must be row-order
    independent downstream (filters/joins/aggregates all are)."""
    want = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= want:
        return df
    return df.repartition(want)


_CGB_IDS = itertools.count()


def codegen_barrier(df: DataFrame, tag: str = "cgb") -> DataFrame:
    """Split the whole-stage-codegen SPAN here (r8: the janino 64 KB fix).

    Array-HOF lambdas cannot be method-split by CodegenContext (lambda
    variables are locals), so when several HOF-heavy projections fuse
    into one span, the span's single processNext() exceeds janino's
    64 KB per-method limit and Spark silently drops the WHOLE span to
    interpreted evaluation (one ERROR log, no plan change — the
    stage1+derive pipeline ran interpreted through r7 without anyone
    seeing it).  ``observe`` inserts a CollectMetricsExec, which does
    not implement CodegenSupport: the plan splits into two spans at
    this point, each with its own (now under-64KB) processNext, at the
    cost of ONE count accumulator per partition — no shuffle, no
    materialization, and the optimizer cannot eliminate an observed
    metric.  Names must be unique per query, hence the counter."""
    return df.observe(f"{tag}_{next(_CGB_IDS)}", F.count(F.lit(1)))
