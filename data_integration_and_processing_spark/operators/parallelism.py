"""Scan-parallelism guard for compute-heavy per-row operators.

A parquet scan parallelizes at row-group granularity, so a small corpus
written as one file with one row group (exactly what the fixture's
``documents`` table is) scans as ONE task — and a shingle/signature/regex
pass over it runs on a single core of the whole cluster. At production
scale inputs arrive in thousands of row groups and this guard is a no-op;
it exists for the general "small but hot table feeding expensive per-row
compute" case, where one tiny shuffle buys full-cluster fan-out.
"""

from __future__ import annotations

import weakref
from concurrent.futures import Future, ThreadPoolExecutor

from pyspark.sql import DataFrame


_FAN_OUT_MEMO: "weakref.WeakKeyDictionary[DataFrame, bool]" = (
    weakref.WeakKeyDictionary()
)


def fan_out_scan(df: DataFrame, min_factor: int = 1) -> DataFrame:
    """Repartition ``df`` to ``defaultParallelism * min_factor`` partitions
    — but ONLY when the plan currently has fewer: the common case (a big
    scan already wider than the core count) passes through untouched, so
    no shuffle is ever added at scale. Use upstream of compute-heavy
    per-row stages (shingling, signatures, regex packs); do NOT use above
    order-sensitive float aggregations — repartitioning reorders rows.

    Probe cost: a ``df.rdd`` probe would build a fresh Python-conversion RDD
    (full physical planning + a pickle wrapper) on EVERY call — a per-query
    driver cost at ~60 call sites. So the width check reads the JVM Dataset's own ``queryExecution().toRdd()``
    (a lazy val — cached per Dataset, no Python-serialization wrapper), and
    the narrow/wide DECISION is memoized per input frame (a bool, so no
    value->key cycle pins the weak key): the dominant pattern passes the
    session-cached ``load_table`` frames, so repeat queries skip the probe
    entirely. WeakKeyDictionary keys die with their frame, so a recycled
    ``id()`` can never alias a stale entry.

    The memo assumes the frame's PLAN is immutable: a source that gains
    partitions under the same frame object (files appended to a scanned
    directory mid-session) keeps its first narrow/wide decision. A caller
    over a mutable source must re-read it into a fresh frame after it
    changes.
    """
    target = df.sparkSession.sparkContext.defaultParallelism * min_factor
    need = _FAN_OUT_MEMO.get(df) if min_factor == 1 else None
    if need is None:
        need = df._jdf.queryExecution().toRdd().getNumPartitions() < target
        if min_factor == 1:
            _FAN_OUT_MEMO[df] = need
    return df.repartition(target) if need else df


def tiny_local_df(spark, rows: list, schema) -> DataFrame:
    """One-PARTITION local frame for O(10)-row metadata/result planes.

    ``rows`` are positional tuples (or Rows) in ``schema`` order; ``schema``
    is a DDL string or a ``StructType``. The rows become one Arrow table, so
    the frame is a JVM ``LocalTableScan``: evaluating it starts no Python
    worker, whatever ``spark.sql.execution.arrow.pyspark.enabled`` says.
    ``coalesce(1)`` keeps the whole frame, empty or not, in one partition,
    so a write lands one file. Row order, values and schema equal
    ``createDataFrame(parallelize(rows, numSlices=1), schema)``."""
    import pyarrow as pa  # noqa: PLC0415 — keep pyarrow off the import hot path
    from pyspark.sql.pandas.types import to_arrow_schema  # noqa: PLC0415
    from pyspark.sql.types import _parse_datatype_string  # noqa: PLC0415

    struct = _parse_datatype_string(schema) if isinstance(schema, str) else schema
    arrow_schema = to_arrow_schema(struct)
    cols = list(zip(*rows, strict=True)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema, strict=True)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct).coalesce(1)


def background_materialize(build) -> "Future[DataFrame]":
    """Run ``build()`` (plan construction INCLUDING any driver-side work —
    index model loads, bounded collects, numpy training) and its eager
    ``localCheckpoint`` on a driver worker thread. The §2.6 overlap pattern
    one level up from :func:`background_checkpoint`: use it when the arm's
    CONSTRUCTION is itself driver-heavy, so that work too runs while the
    foreground arm's jobs occupy the cluster. py4j is thread-safe (each
    thread gets its own gateway connection); concurrent jobs schedule FIFO.
    The worker is wrapped in ``inheritable_thread_target`` so
    the caller's job group / job description / local properties propagate
    under pinned-thread mode — profiler attribution and job-group
    cancellation reach the background jobs."""
    from pyspark.util import inheritable_thread_target  # noqa: PLC0415

    pool = ThreadPoolExecutor(max_workers=1)
    try:
        return pool.submit(
            inheritable_thread_target(lambda: build().localCheckpoint(eager=True))
        )
    finally:
        pool.shutdown(wait=False)


def background_checkpoint(df: DataFrame) -> "Future[DataFrame]":
    """Materialize ``df`` (eager ``localCheckpoint``) on a driver worker
    thread and return the Future, so the caller can keep building/driving
    the OTHER arm of a multi-arm plan meanwhile — the guide-§2.6
    overlap-independent-jobs pattern applied inside one query. Spark's
    scheduler runs concurrent jobs FIFO, so the background job backfills
    executor slots the foreground's driver-side stretches (model training,
    index loads, plan construction) leave idle. Call ``.result()`` before
    composing the checkpointed frame onward; exceptions re-raise there.
    Wrapped in ``inheritable_thread_target`` so job group /
    description / local properties follow the caller's thread."""
    from pyspark.util import inheritable_thread_target  # noqa: PLC0415

    pool = ThreadPoolExecutor(max_workers=1)
    try:
        return pool.submit(
            inheritable_thread_target(lambda: df.localCheckpoint(eager=True))
        )
    finally:
        pool.shutdown(wait=False)
