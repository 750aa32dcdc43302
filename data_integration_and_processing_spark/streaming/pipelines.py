"""Streaming surface over the ``events`` table (SURVEY.md §2.2: absent in
the reference; built on Structured Streaming).

The windowing transformations are written once and used twice:
- **batch mode** (DataFrame in, DataFrame out) — oracle-checkable;
- **stream mode** via ``readStream`` + ``withWatermark`` + ``foreachBatch``
  with an ``availableNow`` trigger — the true streaming path, same logical
  plan, checkpointed and incremental.

At scale the stateful aggs shuffle on (window, key); the watermark bounds
state size — without it a 100 TB replay would accumulate unbounded window
state.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType, TimestampNTZType

from data_integration_and_processing_spark.operators.parallelism import tiny_local_df


def _watermarkable(df: DataFrame) -> DataFrame:
    """Cast TIMESTAMP_NTZ columns to TIMESTAMP (with local timezone).

    Parquet timestamps written with ``isAdjustedToUTC=false`` are inferred
    as TIMESTAMP_NTZ, which ``withWatermark`` rejects
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). The session pins
    ``spark.sql.session.timeZone=UTC`` (session.py), so this cast relabels
    the same wall-clock value — window bounds and oracle comparisons are
    unchanged.
    """
    out = df
    for f in df.schema.fields:
        if isinstance(f.dataType, TimestampNTZType):
            out = out.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return out


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for `path` via the Hadoop FS API — works for any
    scheme (file://, hdfs://, s3a://), unlike os.path probes."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _committed(spark: SparkSession, base: str, prefix: str, upto: int | None = None) -> list[int]:
    """Sorted N of the committed base/{prefix}{N} directories (those with a
    _SUCCESS marker), optionally restricted to N < upto."""
    fs, jbase = _hadoop_fs(spark, base)
    if not fs.exists(jbase):
        return []
    jvm = spark._jvm
    out = []
    for st in fs.listStatus(jbase):
        name = st.getPath().getName()
        if name.startswith(prefix) and name[len(prefix):].isdigit():
            n = int(name[len(prefix):])
            if (upto is None or n < upto) and fs.exists(
                jvm.org.apache.hadoop.fs.Path(f"{base}/{name}/_SUCCESS")
            ):
                out.append(n)
    return sorted(out)


def read_state_version(spark: SparkSession, base: str, upto: int | None = None) -> DataFrame | None:
    """Latest committed state version (< upto) under `base`, or None.

    foreachBatch state lives in per-batch version directories base/v{N}
    instead of one mutable directory. Crash-replaying micro-batch N rebuilds
    v{N} from v{N-1} plus the checkpoint-replayed (identical) batch data —
    an idempotent overwrite, not a double-merge of non-idempotent counters.
    Passing upto=batch_id also hides a half-written v{N} from
    the replay itself. Existence is probed through the Hadoop FileSystem
    API, so a transient read failure propagates and Structured Streaming
    retries the batch, rather than being mistaken for "first batch" and
    resetting accumulated state.
    """
    versions = _committed(spark, base, "v", upto)
    return spark.read.parquet(f"{base}/v{versions[-1]}") if versions else None


def write_state_version(df: DataFrame, base: str, batch_id: int, keep: int = 2) -> None:
    """Commit state version base/v{batch_id}; prune versions <= batch_id-keep.

    Batch N writes only base/v{N}, never the v{N-1} it read, and v{N} is
    visible only once its _SUCCESS marker lands. So a write that fails
    part-way leaves v{N-1} as the latest committed state, and the replay
    of batch N rebuilds v{N} from that same v{N-1}. keep=2 retains the
    version a replayed batch re-reads."""
    spark = df.sparkSession
    df.write.mode("overwrite").parquet(f"{base}/v{batch_id}")
    fs, jbase = _hadoop_fs(spark, base)
    for st in fs.listStatus(jbase):
        name = st.getPath().getName()
        if name.startswith("v") and name[1:].isdigit() and int(name[1:]) <= batch_id - keep:
            fs.delete(st.getPath(), True)


def write_state_append(df: DataFrame, base: str, batch_id: int) -> None:
    """Append-style state, idempotently: each micro-batch owns base/b{N},
    written with overwrite so a crash-replay rewrites the same directory
    instead of appending duplicate rows into a shared one."""
    df.write.mode("overwrite").parquet(f"{base}/b{batch_id}")


def read_state_appends(spark: SparkSession, base: str, upto: int | None = None) -> DataFrame | None:
    """Union of committed per-batch append dirs (b{N}, N < upto), or None.

    upto=batch_id excludes the replaying batch's own half-written b{N}."""
    batches = _committed(spark, base, "b", upto)
    return spark.read.parquet(*(f"{base}/b{n}" for n in batches)) if batches else None


# Longest an availableNow replay may run before drain_available_now stops it.
DRAIN_TIMEOUT_S = 600


def drain_available_now(writer: DataStreamWriter, scratch: str) -> StreamingQuery:
    """Run ``writer`` under ``trigger(availableNow=True)`` with its
    checkpoint at ``{scratch}/ckpt`` and wait for it to finish.

    Returns the terminated query (``recentProgress`` has one entry per
    micro-batch). A failed batch raises StreamingQueryException. A query
    still running after DRAIN_TIMEOUT_S is stopped and raises TimeoutError,
    so a stalled stream never hands back a partial sink as its result."""
    q = writer.option("checkpointLocation", f"{scratch}/ckpt").trigger(availableNow=True).start()
    if not q.awaitTermination(DRAIN_TIMEOUT_S):
        q.stop()
        raise TimeoutError(f"streaming query {q.id} still running after {DRAIN_TIMEOUT_S}s")
    return q


def _drain_appends(
    spark: SparkSession, writer: DataStreamWriter, scratch: str, sink: str
) -> DataFrame:
    """Drain ``writer`` landing batch N in sink/b{N}; the union of every
    committed batch."""
    drain_available_now(writer.foreachBatch(lambda df, n: write_state_append(df, sink, n)), scratch)
    return read_state_appends(spark, sink)


def _drain_fold(
    spark: SparkSession,
    writer: DataStreamWriter,
    scratch: str,
    sink: str,
    fold: Callable[[DataFrame | None, DataFrame], DataFrame],
) -> DataFrame:
    """Drain ``writer`` committing sink/v{N} = fold(v{N-1} or None, batch N);
    the last committed version."""

    def land(batch_df: DataFrame, batch_id: int) -> None:
        prev = read_state_version(batch_df.sparkSession, sink, upto=batch_id)
        write_state_version(fold(prev, batch_df), sink, batch_id)

    drain_available_now(writer.foreachBatch(land), scratch)
    return read_state_version(spark, sink)


def tumbling_window_counts(events: DataFrame, width: str = "10 minutes") -> DataFrame:
    """Per-event-type counts/sums over tumbling windows."""
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_window_counts(events: DataFrame, width: str = "10 minutes", slide: str = "5 minutes") -> DataFrame:
    """Overlapping (sliding) windows: each event lands in width/slide windows."""
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


def sessionized(events: DataFrame, gap: str = "30 seconds") -> DataFrame:
    """Per-user session windows: a session extends while events arrive
    within ``gap`` of the previous one."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.min("event_id").alias("first_event_id"))
        .select(F.col("w.start").alias("session_start"), "user_id", "n_events", "first_event_id")
    )


def run_streaming_window_pipeline(
    spark: SparkSession,
    events: DataFrame,
    scratch_dir: str | None = None,
    width: str = "10 minutes",
    watermark: str = "15 minutes",
) -> DataFrame:
    """True Structured Streaming run of the tumbling-window aggregation.

    Stages the batch events as parquet, replays them with ``readStream``
    (bounded by ``availableNow``), applies a watermark so late rows beyond
    15 minutes would be dropped and state is reclaimable, and lands each
    micro-batch via ``foreachBatch`` append — the pattern that would feed
    the reference's JDBC sinks (`/root/reference/ClickHouseDatabase.py:102-109`)
    incrementally instead of full-table reloads. Returns the final result
    read back from the sink.
    """
    scratch = scratch_dir or f"/tmp/diaps_stream_{uuid.uuid4().hex[:8]}"
    src, sink = f"{scratch}/src", f"{scratch}/sink"
    shutil.rmtree(scratch, ignore_errors=True)
    _watermarkable(events).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .parquet(src)
        .withWatermark("ts", watermark)
    )
    windowed = tumbling_window_counts(stream, width)

    return _drain_appends(spark, windowed.writeStream.outputMode("append"), scratch, sink)


def _staged_stream(
    spark: SparkSession,
    events: DataFrame,
    scratch: str,
    max_files_per_trigger: int | None = None,
    n_files: int = 4,
    order_col: str | None = None,
) -> tuple[DataFrame, str]:
    """Stage a batch DataFrame as parquet and open it with ``readStream``
    (bounded replay via availableNow at the call sites). Returns (stream,
    sink_path).

    ``max_files_per_trigger`` is a READ option (on the writer it is a
    silent no-op): when set, the input is staged as ``n_files``
    parquet files and the reader caps each micro-batch at that many files,
    so ``trigger(availableNow=True)`` yields a real multi-batch replay and
    incremental state-merge paths actually merge across batches. Callers
    whose state merge is associative/commutative (register-max, counter
    sums, bottom-k-of-union, digest merge) leave ``order_col`` unset — the
    round-robin file split makes batch boundaries arbitrary, which is the
    point. Callers whose semantics depend on arrival order (earlier-batch-
    wins near-dedup) set ``order_col``: files are range-partitioned on it
    and given strictly increasing mtimes so FileStreamSource (oldest-mtime-
    first) replays the column's total order deterministically on any fs."""
    src, sink = f"{scratch}/src", f"{scratch}/sink"
    shutil.rmtree(scratch, ignore_errors=True)
    staged = _watermarkable(events)
    if max_files_per_trigger is not None:
        if order_col is not None:
            staged = staged.repartitionByRange(n_files, order_col)
        else:
            staged = staged.repartition(n_files)
    staged.write.mode("overwrite").parquet(src)
    if order_col is not None and max_files_per_trigger is not None:
        import glob as _glob  # noqa: PLC0415
        import time as _time  # noqa: PLC0415

        # part-00000 holds the lowest order_col range; ascending mtimes by
        # filename => replay follows the range order (2s apart beats coarse
        # mtime granularity)
        files = sorted(_glob.glob(f"{src}/*.parquet"))
        base = int(_time.time()) - 2 * (len(files) + 1)
        for i, f in enumerate(files):
            os.utime(f, (base + 2 * i, base + 2 * i))
    reader = spark.readStream.schema(spark.read.parquet(src).schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(src)
    return stream, sink


_USER_STATS_SCHEMA = "user_id long, n_events long, first_event_id long, last_event_id long"
_USER_STATE_SCHEMA = "n long, first_id long, last_id long"


def _user_stats_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Custom stateful operator: per-user cumulative stats carried in
    explicit GroupState across micro-batches. Emits the updated running
    totals once per (user, micro-batch).

    Integer-only aggregates (count, min/max event_id) so the emitted values
    are exact regardless of batch boundaries or arrival order."""
    n, first_id, last_id = state.get if state.exists else (0, None, None)
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        n += len(pdf)
        lo, hi = int(pdf["event_id"].min()), int(pdf["event_id"].max())
        first_id = lo if first_id is None else min(first_id, lo)
        last_id = hi if last_id is None else max(last_id, hi)
    state.update((n, first_id, last_id))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "first_event_id": [first_id], "last_event_id": [last_id]}
    )


def run_stateful_user_stats(
    spark: SparkSession, events: DataFrame, scratch_dir: str | None = None
) -> DataFrame:
    """Arbitrary stateful processing (``applyInPandasWithState``): per-user
    running stats with user-managed state, the Structured Streaming
    equivalent of a custom stateful operator.

    At scale state lives in the state store partitioned by user_id — the
    shuffle is one exchange on the grouping key and each executor holds only
    its key range's state. The read-back keeps the last emitted update per
    user (cumulative => the max n_events row), making the result equal to
    the batch groupBy no matter how the replay was micro-batched."""
    scratch = scratch_dir or f"/tmp/diaps_state_{uuid.uuid4().hex[:8]}"
    stream, sink = _staged_stream(spark, events, scratch)

    updates = stream.groupBy("user_id").applyInPandasWithState(
        _user_stats_fn,
        outputStructType=_USER_STATS_SCHEMA,
        stateStructType=_USER_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    out = _drain_appends(spark, updates.writeStream.outputMode("update"), scratch, sink)
    latest = out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.min("first_event_id").alias("first_event_id"),
        F.max("last_event_id").alias("last_event_id"),
    )
    return latest


def run_streaming_upsert_sink(
    spark: SparkSession,
    events: DataFrame,
    scratch_dir: str | None = None,
) -> DataFrame:
    """Streaming merge-into-warehouse pattern: each micro-batch of per-user
    update rows is upserted (same-key replace, new-key append) into a keyed
    parquet table via ``foreachBatch`` — the incremental version of the
    reference's full-table reload (`/root/reference/PostgresDatabase.py:72-73`
    drops and recreates on every run). Batch N commits the merged table as
    its own state version (``write_state_version``), so a failed batch
    leaves batch N-1's table as the result. On Delta/Iceberg the merge
    becomes a single MERGE INTO; semantics are identical.

    The per-batch update rows are cumulative per user, so the final table
    equals the batch aggregate regardless of micro-batching."""
    from data_integration_and_processing_spark.plans.pipelines import upsert  # noqa: PLC0415

    scratch = scratch_dir or f"/tmp/diaps_upsink_{uuid.uuid4().hex[:8]}"
    stream, sink = _staged_stream(spark, events, scratch)

    updates = stream.groupBy("user_id").applyInPandasWithState(
        _user_stats_fn,
        outputStructType=_USER_STATS_SCHEMA,
        stateStructType=_USER_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    def merge(prev: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        return batch_df if prev is None else upsert(prev, batch_df, key_cols=["user_id"])

    return _drain_fold(spark, updates.writeStream.outputMode("update"), scratch, sink, merge)


def run_stream_static_join(
    spark: SparkSession,
    events: DataFrame,
    static_dim: DataFrame,
    on: str,
    scratch_dir: str | None = None,
) -> DataFrame:
    """Stream-static join: each micro-batch of the stream joins a static
    dimension (broadcast per batch — the dimension is re-resolvable, so at
    scale it can also be a slowly-changing table re-read per trigger).
    Lands enriched rows via foreachBatch; returns per-key counts."""
    scratch = scratch_dir or f"/tmp/diaps_ssjoin_{uuid.uuid4().hex[:8]}"
    stream, sink = _staged_stream(spark, events, scratch)
    enriched = stream.join(F.broadcast(static_dim), on)

    return _drain_appends(spark, enriched.writeStream.outputMode("append"), scratch, sink)


def run_streaming_dedup(
    spark: SparkSession,
    events: DataFrame,
    scratch_dir: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: replay a source containing every event twice,
    drop duplicates on event_id under a watermark (bounds the seen-keys
    state at scale), land the surviving rows, and return per-type counts.

    The watermark means a key's dedup state is reclaimed once event time
    passes ts + watermark — the only way seen-keys state stays bounded on
    an unbounded stream."""
    scratch = scratch_dir or f"/tmp/diaps_dedup_{uuid.uuid4().hex[:8]}"
    doubled = events.unionByName(events)
    stream, sink = _staged_stream(spark, doubled, scratch)
    deduped = stream.withWatermark("ts", watermark).dropDuplicates(["event_id"])

    survivors = _drain_appends(spark, deduped.writeStream.outputMode("append"), scratch, sink)
    return survivors.groupBy("event_type").agg(F.count("*").alias("n_events"))


def run_stream_stream_join(
    spark: SparkSession,
    events: DataFrame,
    scratch_dir: str | None = None,
    watermark: str = "1 hour",
    window: str = "30 minutes",
) -> DataFrame:
    """True stream-STREAM inner join: clicks joined to purchases of the same
    user landing within ``window`` after the click. Both sides carry
    watermarks and the join condition bounds event-time distance, so state
    for either side is reclaimed once the other side's watermark passes —
    the only shape under which an unbounded two-stream join is runnable at
    all (unbounded state otherwise). Replayed via availableNow + foreachBatch
    append, same harness as the other true-streaming pipelines."""
    scratch = scratch_dir or f"/tmp/diaps_stream_{uuid.uuid4().hex[:8]}"
    stream, sink = _staged_stream(spark, events, scratch)

    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("c_ts", watermark)
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("p_ts", watermark)
    )
    joined = clicks.join(
        purchases,
        F.expr(
            f"c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + INTERVAL {window}"
        ),
    ).select("c_user", "click_id", "purchase_id")

    return _drain_appends(spark, joined.writeStream.outputMode("append"), scratch, sink)


def _make_user_value_stats_processor():
    """transformWithStateInPandas processor: per-user event count and
    min/max event id in a named ValueState cell. Integer-only aggregates,
    so the result is invariant to micro-batch boundaries and arrival order
    (same invariance argument as _user_stats_fn). Built lazily because
    StatefulProcessor lives in pyspark.sql.streaming.stateful_processor
    (Spark 4 API)."""
    from pyspark.sql.streaming.stateful_processor import (  # noqa: PLC0415 — Spark 4 API
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class Processor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("agg", "n long, lo long, hi long")

        def handleInputRows(self, key, rows, timerValues):
            if self._state.exists():
                n, lo, hi = self._state.get()
            else:
                n, lo, hi = 0, None, None
            for pdf in rows:
                if len(pdf) == 0:
                    continue
                n += len(pdf)
                b_lo, b_hi = int(pdf["event_id"].min()), int(pdf["event_id"].max())
                lo = b_lo if lo is None else min(lo, b_lo)
                hi = b_hi if hi is None else max(hi, b_hi)
            self._state.update((n, lo, hi))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "first_event_id": [lo], "last_event_id": [hi]}
            )

        def close(self) -> None:
            pass

    return Processor()


def run_transform_with_state(
    spark: SparkSession, events: DataFrame, scratch_dir: str | None = None
) -> DataFrame:
    """Spark 4's arbitrary stateful processing v2 (``transformWithState``
    /``transformWithStateInPandas``): typed state cells managed through a
    StatefulProcessorHandle instead of one opaque GroupState tuple —
    multiple named states, timers, and TTL become possible per key. Same
    state-store partitioning as applyInPandasWithState (one exchange on the
    grouping key; each executor owns its key range). Output-equal to the
    batch groupBy (asserted by tests/test_streaming_watermark.py when the
    environment allows).

    ENVIRONMENT GATE: the transformWithState state server speaks protobuf
    between the JVM and a long-lived Python driver worker; this container
    ships no ``google.protobuf``, so the API import-fails at runtime. The
    check below turns the opaque worker crash into a clear error. The
    applyInPandasWithState path (run_stateful_user_stats) covers the same
    per-key custom-stateful semantics and IS oracle-checked."""
    try:
        from google.protobuf import descriptor  # noqa: F401, PLC0415
    except ImportError as exc:
        raise NotImplementedError(
            "transformWithStateInPandas needs the protobuf package for its "
            "JVM<->Python state channel; use run_stateful_user_stats "
            "(applyInPandasWithState) in this environment"
        ) from exc
    scratch = scratch_dir or f"/tmp/diaps_state_{uuid.uuid4().hex[:8]}"
    stream, sink = _staged_stream(spark, events, scratch)

    updates = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_make_user_value_stats_processor(),
        outputStructType=_USER_STATS_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )

    out = _drain_appends(spark, updates.writeStream.outputMode("update"), scratch, sink)
    # cumulative updates: keep the final (max n_events) row per user
    w_latest = out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.min("first_event_id").alias("first_event_id"),
        F.max("last_event_id").alias("last_event_id"),
    )
    return w_latest


def run_streaming_cdc_apply(
    spark: SparkSession,
    changelog: DataFrame,
    key_cols: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
    delete_op: str = "D",
    scratch_dir: str | None = None,
) -> DataFrame:
    """Streaming CDC replay: micro-batches of I/U/D change events merged
    into a keyed parquet sink via ``foreachBatch`` — the streaming twin of
    ``plans.pipelines.cdc_apply`` and the incremental form of the
    reference's drop-and-recopy transfer (`/root/reference/PostgresDatabase.py:72-73`).

    The merge is **seq-aware and tombstone-retaining**: the sink stores the
    highest-sequence event per key *including deletes*, and each batch
    re-collapses (sink ∪ batch) with the same ``max_by(struct, seq)``
    aggregate. Because max_by is associative/commutative over seq, the
    final state is independent of micro-batch boundaries AND of the order
    batches arrive — a late-delivered batch of older events can never
    resurrect a deleted key. Deletes are filtered only at read time.

    Batch N commits the collapsed table as state version sink/v{N}
    (``write_state_version``), built from v{N-1}: a batch that fails
    leaves v{N-1} as the latest state, and its replay rebuilds v{N} from
    that same v{N-1}. Every call wipes ``scratch_dir`` and stages its own
    changelog; ``_drain_cdc`` is the resumable drain. On Delta/Iceberg the merge
    becomes one MERGE INTO keyed on ``key_cols`` with a seq guard. One
    shuffle per batch, keyed on ``key_cols``, carrying one row per touched
    key.
    """
    scratch = scratch_dir or f"/tmp/diaps_cdcstream_{uuid.uuid4().hex[:8]}"
    shutil.rmtree(scratch, ignore_errors=True)
    # several files so availableNow + maxFilesPerTrigger yields real
    # multi-batch replay (batch boundaries must not affect the result)
    changelog.repartitionByRange(4, seq_col).write.mode("overwrite").parquet(f"{scratch}/src")
    return _drain_cdc(spark, scratch, key_cols, seq_col, op_col, delete_op)


def _drain_cdc(
    spark: SparkSession,
    scratch: str,
    key_cols: list[str],
    seq_col: str,
    op_col: str,
    delete_op: str,
) -> DataFrame:
    """Drain the changelog staged at {scratch}/src into {scratch}/sink.
    Restarting on a scratch whose checkpoint holds committed batches
    replays only the batches it has not committed."""
    src, sink = f"{scratch}/src", f"{scratch}/sink"
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    payload = [c for c in schema.names if c not in key_cols]

    def collapse(df: DataFrame) -> DataFrame:
        return (
            df.groupBy(*key_cols)
            .agg(F.max_by(F.struct(*payload), F.col(seq_col)).alias("_latest"))
            .select(*key_cols, "_latest.*")
        )

    def merge(prev: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        latest = collapse(batch_df)
        return latest if prev is None else collapse(prev.unionByName(latest))

    state = _drain_fold(spark, stream.writeStream.outputMode("update"), scratch, sink, merge)
    return state.filter(F.col(op_col) != delete_op).drop(op_col, seq_col)


def run_streaming_hll_distinct(
    spark: SparkSession,
    events: DataFrame,
    scratch_dir: str | None = None,
) -> DataFrame:
    """Incremental distinct-user counting: each micro-batch builds one HLL
    sketch per event_type and unions it into a persistent sketch-state
    table — counting distincts over an unbounded stream in O(types) state
    instead of O(distinct users) (the exact-dedup state a
    ``dropDuplicates`` approach would hold forever).

    Sketch union is a per-register max, so the merged registers — and the
    estimate — are IDENTICAL to a single sketch built over the whole
    corpus, regardless of micro-batch boundaries or arrival order
    (pinned in tests/test_analytics.py). On a cluster the state table is
    a few KB per key: the pattern scales by key cardinality, never by
    stream length."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    scratch = scratch_dir or f"/tmp/diaps_hll_{uuid.uuid4().hex[:8]}"
    stream, sink = _staged_stream(spark, events, scratch, max_files_per_trigger=1)

    def merge(prev: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        batch_sk = batch_df.groupBy("event_type").agg(F.hll_sketch_agg("user_id").alias("sk"))
        if prev is None:
            return batch_sk
        return (
            prev.unionByName(batch_sk)
            .groupBy("event_type")
            .agg(F.hll_union_agg("sk").alias("sk"))
        )

    return (
        _drain_fold(spark, stream.writeStream.outputMode("append"), scratch, sink, merge)
        .select(
            "event_type",
            F.hll_sketch_estimate("sk").alias("est_distinct_users"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# streaming EWMA: an ORDER-DEPENDENT stateful fold
# ---------------------------------------------------------------------------

_EWMA_OUT_SCHEMA = "user_id long, n_obs long, ewma double, last_value double"
_EWMA_STATE_SCHEMA = "ewma double, n long, last_v double"


def _make_ewma_fn(alpha: float):
    def _ewma_fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        """Carry the EWMA recurrence across micro-batches in O(1) state
        (ewma, n, last value). Rows WITHIN a delivered chunk are sorted by
        (event-time, event_id) before folding; ACROSS chunks the operator
        relies on the per-key ordered-delivery contract documented on
        :func:`run_streaming_ewma`. float64 ops in the same order as the
        batch fold => bit-identical results."""
        if state.exists:
            ewma, n, last_v = state.get
        else:
            ewma, n, last_v = None, 0, None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values(["us", "event_id"])
            for v in pdf["value"].astype("float64"):
                ewma = float(v) if ewma is None else alpha * float(v) + (1.0 - alpha) * ewma
                last_v = float(v)
            n += len(pdf)
        state.update((ewma, n, last_v))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_obs": [n], "ewma": [ewma], "last_value": [last_v]}
        )

    return _ewma_fn


def run_streaming_ewma(
    spark: SparkSession,
    events: DataFrame,
    alpha: float = 0.3,
    n_chunks: int = 4,
    scratch_dir: str | None = None,
) -> DataFrame:
    """Streaming twin of the batch EWMA fold (`operators/temporal.ewma_fold`):
    the sequential recurrence carried across micro-batches in O(1)
    per-key state via ``applyInPandasWithState``.

    An EWMA is order-dependent, so unlike the engine's other stateful ops
    it carries an explicit **delivery contract**: per key, events must
    arrive in event-time order across micro-batches (the guarantee a
    Kafka topic keyed by user gives within a partition). The replay
    harness honors it structurally — the staged input is split into
    event-time-range chunk files written sequentially, and
    ``maxFilesPerTrigger=1`` replays them oldest-first — so the streaming
    fold performs the exact float64 operation sequence of the batch fold
    and hash-matches the same SQL oracle. Out-of-order sources need the
    watermark-buffered variant (hold rows in state until the watermark
    passes, fold only then): same state schema plus a pending buffer, at
    the cost of state proportional to the watermark delay.

    Per micro-batch the plan is one shuffle on user_id into the state
    store; emitted updates are cumulative, so the read-back keeps each
    user's highest-count row and the result is independent of how many
    chunks the replay used.
    """
    import glob as _glob  # noqa: PLC0415
    import time as _time  # noqa: PLC0415

    scratch = scratch_dir or f"/tmp/diaps_ewma_{uuid.uuid4().hex[:8]}"
    src, sink = f"{scratch}/src", f"{scratch}/sink"
    shutil.rmtree(scratch, ignore_errors=True)

    staged = _watermarkable(events).select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.col("value").cast("double").alias("value"),
    )
    bounds = staged.agg(F.min("us").alias("lo"), F.max("us").alias("hi")).first()
    lo, hi = int(bounds["lo"]), int(bounds["hi"])
    span = max(hi - lo + 1, 1)
    # FileStreamSource replays oldest-mtime-first; wall-clock write order
    # alone can tie on filesystems with coarse mtime granularity, so each
    # chunk's part files get an explicit, strictly increasing mtime
    # (2s apart) via os.utime — replay order is deterministic on any fs.
    base_mtime = int(_time.time()) - 2 * (n_chunks + 1)
    seen: set[str] = set()
    for i in range(n_chunks):
        c_lo = lo + span * i // n_chunks
        c_hi = lo + span * (i + 1) // n_chunks
        chunk = staged.filter((F.col("us") >= c_lo) & (F.col("us") < c_hi))
        chunk.coalesce(1).write.mode("append").parquet(src)
        t = base_mtime + 2 * i
        for f in _glob.glob(f"{src}/*.parquet"):
            if f not in seen:
                os.utime(f, (t, t))
                seen.add(f)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    updates = stream.groupBy("user_id").applyInPandasWithState(
        _make_ewma_fn(alpha),
        outputStructType=_EWMA_OUT_SCHEMA,
        stateStructType=_EWMA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    from pyspark.sql.window import Window  # noqa: PLC0415

    out = _drain_appends(spark, updates.writeStream.outputMode("update"), scratch, sink)
    # cumulative updates: the max-n row per user is the final fold state
    w = Window.partitionBy("user_id").orderBy(F.col("n_obs").desc())
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            "n_obs",
            F.round("ewma", 6).alias("ewma"),
            F.round("last_value", 6).alias("last_value"),
        )
    )


# ---------------------------------------------------------------------------
# watermark-buffered EWMA: the out-of-order-tolerant ordered fold
# ---------------------------------------------------------------------------

_EWMA_WM_OUT_SCHEMA = (
    "user_id long, n_seen long, n_folded long, n_pending long, "
    "ewma_projected double, last_value double"
)
_EWMA_WM_STATE_SCHEMA = (
    "ewma double, n long, last_v double, "
    "pend_us array<long>, pend_id array<long>, pend_v array<double>"
)


def _make_ewma_watermark_fn(alpha: float):
    def _fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        """Ordered fold under bounded disorder: new rows land in a pending
        buffer; only the prefix at or below the current watermark is folded
        into committed state (in event-time order — the watermark guarantees
        no earlier row can still arrive), and the emitted row carries BOTH
        the committed fold and the projection over the sorted pending tail.
        At end of replay the projection IS the complete ordered fold, so the
        result matches the batch fold even when micro-batches interleave
        late data. State = O(1) committed fold + O(watermark-delay window)
        pending rows — the price of disorder tolerance."""
        if state.exists:
            ewma, n, last_v, p_us, p_id, p_v = state.get
            p_us, p_id, p_v = list(p_us or ()), list(p_id or ()), list(p_v or ())
        else:
            ewma, n, last_v, p_us, p_id, p_v = None, 0, None, [], [], []
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            p_us.extend(int(x) for x in pdf["us"])
            p_id.extend(int(x) for x in pdf["event_id"])
            p_v.extend(float(x) for x in pdf["value"])
        order = sorted(range(len(p_us)), key=lambda i: (p_us[i], p_id[i]))
        p_us = [p_us[i] for i in order]
        p_id = [p_id[i] for i in order]
        p_v = [p_v[i] for i in order]

        wm_us = state.getCurrentWatermarkMs() * 1000
        k = 0
        while k < len(p_us) and p_us[k] <= wm_us:
            v = p_v[k]
            ewma = v if ewma is None else alpha * v + (1.0 - alpha) * ewma
            last_v = v
            n += 1
            k += 1
        p_us, p_id, p_v = p_us[k:], p_id[k:], p_v[k:]
        state.update((ewma, n, last_v, p_us, p_id, p_v))

        proj, proj_last = ewma, last_v
        for v in p_v:
            proj = v if proj is None else alpha * v + (1.0 - alpha) * proj
            proj_last = v
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_seen": [n + len(p_v)],
                "n_folded": [n],
                "n_pending": [len(p_v)],
                "ewma_projected": [proj],
                "last_value": [proj_last],
            }
        )

    return _fn


def run_streaming_ewma_watermarked(
    spark: SparkSession,
    events: DataFrame,
    alpha: float = 0.3,
    delay: str = "8 days",
    n_chunks: int = 4,
    late_fraction_mod: int = 10,
    scratch_dir: str | None = None,
) -> DataFrame:
    """Out-of-order-tolerant streaming EWMA: the ordered fold under a real
    watermark instead of :func:`run_streaming_ewma`'s ordered-delivery
    contract.

    The replay deliberately injects disorder: events are staged into
    event-time-range chunks, but a deterministic ~1/``late_fraction_mod``
    of each chunk is delayed into the NEXT chunk file — bounded lateness of
    one chunk span, the shape a real at-least-once bus produces. The
    watermark ``delay`` exceeds that bound, so the stateful fold buffers
    disordered rows and commits them in event-time order once the watermark
    passes; no row is ever dropped, and the final projected fold equals the
    batch fold bit-for-bit (same oracle as ``temporal_ewma``).

    Per micro-batch: one shuffle on user_id into the state store. State is
    the O(1) committed fold plus the pending window — bounded by the
    watermark delay, the honest cost of disorder tolerance.
    """
    import time as _time  # noqa: PLC0415

    scratch = scratch_dir or f"/tmp/diaps_ewmawm_{uuid.uuid4().hex[:8]}"
    src, sink = f"{scratch}/src", f"{scratch}/sink"
    shutil.rmtree(scratch, ignore_errors=True)

    staged = _watermarkable(events).select(
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.col("value").cast("double").alias("value"),
    )
    bounds = staged.agg(F.min("us").alias("lo"), F.max("us").alias("hi")).first()
    lo, hi = int(bounds["lo"]), int(bounds["hi"])
    span = max(hi - lo + 1, 1)
    time_chunk = F.least(
        F.lit(n_chunks - 1),
        ((F.col("us") - F.lit(lo)) * n_chunks / F.lit(span)).cast("long"),
    )
    # deterministic late rows: ~1/mod of each chunk slips into the next one
    is_late = (F.abs(F.xxhash64("event_id")) % late_fraction_mod) == 0
    chunked = staged.withColumn(
        "_chunk", F.least(F.lit(n_chunks - 1), time_chunk + is_late.cast("long"))
    )
    for i in range(n_chunks):
        chunk = chunked.filter(F.col("_chunk") == i).drop("_chunk")
        chunk.coalesce(1).write.mode("append").parquet(src)
        _time.sleep(0.05)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", delay)
    )
    updates = stream.groupBy("user_id").applyInPandasWithState(
        _make_ewma_watermark_fn(alpha),
        outputStructType=_EWMA_WM_OUT_SCHEMA,
        stateStructType=_EWMA_WM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    def land(batch_df: DataFrame, batch_id: int) -> None:
        write_state_append(batch_df.withColumn("batch_id", F.lit(batch_id)), sink, batch_id)

    drain_available_now(updates.writeStream.outputMode("update").foreachBatch(land), scratch)
    from pyspark.sql.window import Window  # noqa: PLC0415

    out = read_state_appends(spark, sink)
    # the projection in a user's LAST update covers every seen event in
    # event-time order — the complete ordered fold
    w = Window.partitionBy("user_id").orderBy(F.col("batch_id").desc(), F.col("n_seen").desc())
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            F.col("n_seen").alias("n_obs"),
            F.round("ewma_projected", 6).alias("ewma"),
            F.round("last_value", 6).alias("last_value"),
        )
    )


# ---------------------------------------------------------------------------
# streaming OHLC: continuous maintenance of a decomposable aggregate
# ---------------------------------------------------------------------------


def run_streaming_ohlc(
    spark: SparkSession,
    events: DataFrame,
    bucket_seconds: int = 86_400,
    scratch_dir: str | None = None,
) -> DataFrame:
    """Continuous OHLC maintenance: every micro-batch folds its partial
    open/high/low/close state into a keyed parquet sink — the streaming twin
    of ``operators/temporal.ohlc_bars`` and the continuous-aggregate pattern
    (TimescaleDB caggs / Materialize) for a NON-trivial aggregate.

    OHLC is fully decomposable: open/close ride in (ts_us, tiebreak, value)
    structs merged with plain struct min/max, high/low/count are trivially
    associative, and the value sum accumulates as DECIMAL — so the merged
    state is independent of micro-batch boundaries AND batch arrival order,
    and the final table equals the batch aggregate bit-for-bit (same SQL
    oracle). Per batch: one shuffle keyed by (series, bucket) carrying one
    partial row per group; the sink merge re-aggregates sink ∪ partials
    with the SAME min/max/sum functions and commits the result as state
    version v{N} (on Delta/Iceberg this is a single MERGE INTO with
    greatest/least/+ update expressions).
    """
    scratch = scratch_dir or f"/tmp/diaps_ohlc_{uuid.uuid4().hex[:8]}"
    src, sink = f"{scratch}/src", f"{scratch}/sink"
    shutil.rmtree(scratch, ignore_errors=True)
    staged = _watermarkable(events).select(
        "event_type",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.col("value").cast("double").alias("v"),
    )
    # multi-file staging => real multi-batch replay; boundaries must not matter
    staged.repartitionByRange(4, "event_id").write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    bucket_us = F.lit(1_000_000 * bucket_seconds)

    def _partial(df: DataFrame) -> DataFrame:
        return (
            df.withColumn(
                "bucket_id",
                ((F.col("us") - F.col("us") % bucket_us) / bucket_us).cast("bigint"),
            )
            .groupBy("event_type", "bucket_id")
            .agg(
                F.min(F.struct(F.col("us"), F.col("event_id"), F.col("v"))).alias("open_k"),
                F.max("v").alias("high"),
                F.min("v").alias("low"),
                F.max(F.struct(F.col("us"), F.col("event_id"), F.col("v"))).alias("close_k"),
                F.count("*").alias("n_events"),
                F.sum(F.col("v").cast("decimal(14,6)")).alias("sum_dec"),
            )
        )

    def merge(prev: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        partial = _partial(batch_df)
        if prev is None:
            return partial
        return (
            prev.unionByName(partial)
            .groupBy("event_type", "bucket_id")
            .agg(
                F.min("open_k").alias("open_k"),
                F.max("high").alias("high"),
                F.min("low").alias("low"),
                F.max("close_k").alias("close_k"),
                F.sum("n_events").alias("n_events"),
                F.sum("sum_dec").alias("sum_dec"),
            )
        )

    state = _drain_fold(spark, stream.writeStream.outputMode("append"), scratch, sink, merge)
    return state.select(
        "event_type",
        "bucket_id",
        F.col("open_k.v").alias("open"),
        "high",
        "low",
        F.col("close_k.v").alias("close"),
        "n_events",
        F.round(F.col("sum_dec").cast("double"), 6).alias("sum_value"),
    )


def run_streaming_jdbc_upsert(
    spark: SparkSession,
    events: DataFrame,
    url: str,
    table: str = "stream_user_stats",
    scratch_dir: str | None = None,
) -> DataFrame:
    """Streaming upsert into a REAL JDBC warehouse (live-tested on embedded
    Derby): each micro-batch of cumulative per-user update rows lands as
    DELETE-matched-keys + batched INSERT inside ``foreachBatch`` — the
    portable two-statement upsert every JDBC dialect supports (engines with
    MERGE collapse it to one statement). This is the streaming form of the
    reference's bulk-load path (`/root/reference/PostgresDatabase.py:80-104`
    loads full tables; here only changed keys move per trigger).

    The DELETE is staged, never driver-side: the batch's
    distinct keys are written executor-side to a `{table}_stage_keys` JDBC
    table, then one `DELETE ... WHERE user_id IN (SELECT ...)` runs against
    the stage — batch keys never materialize on the driver, so a fact-sized
    stream with millions of changed keys per trigger works unchanged.
    Update rows are cumulative per user, so the final table equals the
    batch aggregate regardless of micro-batch boundaries."""
    from data_integration_and_processing_spark.sources.writers import write_jdbc  # noqa: PLC0415

    scratch = scratch_dir or f"/tmp/diaps_jdbcup_{uuid.uuid4().hex[:8]}"
    stream, _ = _staged_stream(spark, events, scratch)
    stage_table = f"{table}_stage_keys"

    updates = stream.groupBy("user_id").applyInPandasWithState(
        _user_stats_fn,
        outputStructType=_USER_STATS_SCHEMA,
        stateStructType=_USER_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    def land(batch_df: DataFrame, batch_id: int) -> None:
        keys_df = batch_df.select("user_id").distinct()
        # stage the batch's keys executor-side (overwrite = this batch only)
        write_jdbc(keys_df, url, stage_table, mode="overwrite")
        jvm = spark._jvm
        conn = jvm.java.sql.DriverManager.getConnection(url)
        try:
            meta = conn.getMetaData()
            rs = meta.getTables(None, None, table.upper(), None)
            exists = rs.next()
            rs.close()
            if exists:
                stmt = conn.createStatement()
                stmt.executeUpdate(
                    f"DELETE FROM {table} WHERE user_id IN (SELECT user_id FROM {stage_table})"
                )
                stmt.close()
        finally:
            conn.close()
        # Spark's JDBC append creates the table on first use
        write_jdbc(batch_df, url, table, mode="append")

    drain_available_now(updates.writeStream.outputMode("update").foreachBatch(land), scratch)
    from data_integration_and_processing_spark.sources.readers import read_jdbc  # noqa: PLC0415

    return read_jdbc(spark, url, table)


# Default CMS geometry — the SINGLE source for the pipeline defaults AND the
# eps band in stream_countmin_heavy_hitters' guarantee booleans, so the
# checked band cannot diverge from the sketch actually built.
CMS_DEPTH = 4
CMS_WIDTH = 2048


def run_streaming_countmin_heavy_hitters(
    spark: SparkSession,
    events: DataFrame,
    scratch_dir: str | None = None,
    k: int = 10,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Streaming heavy hitters in bounded state: per micro-batch, (a) fold
    the batch into a Count-Min counter table and MERGE it into the state
    sketch by adding counters (CMS's mergeability — same algebra the HLL
    pipeline uses with register-max), and (b) union the batch's exact
    top-k users into a candidate table (bounded by k * #batches, dedup'd).
    The final answer estimates each candidate's frequency from the merged
    sketch and takes the global top-k.

    State is O(depth*width + candidates) regardless of stream length or
    user cardinality — the unbounded-state alternative is a per-user
    running count, i.e. the whole key space resident forever. Counter
    addition commutes, so the merged sketch is IDENTICAL to a batch sketch
    over the whole corpus regardless of micro-batch boundaries; CMS never
    underestimates, so a true heavy hitter can only be displaced by an
    overestimated rival — probability bounded by (1/e)^depth per probe at
    width >= e*N/err."""
    from data_integration_and_processing_spark.operators.text_analysis import (  # noqa: PLC0415
        countmin_estimate,
        countmin_sketch,
    )

    scratch = scratch_dir or f"/tmp/diaps_cms_{uuid.uuid4().hex[:8]}"
    stream, sink = _staged_stream(spark, events, scratch, max_files_per_trigger=1)
    cms_state, cand_state = f"{sink}_cms", f"{sink}_cand"

    def land(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.sparkSession
        items = batch_df.select(F.col("user_id").cast("string").alias("item"))
        batch_sk = countmin_sketch(items, "item", depth=depth, width=width)
        batch_top = (
            items.groupBy("item")
            .agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"), F.asc("item"))
            .limit(k)
            .select("item")
        )
        # versioned state: counter addition is NOT idempotent, so a crash-
        # replayed batch must rebuild v{N} from v{N-1}, never re-add into a
        # shared directory (read_state_version docstring has the full story)
        state = read_state_version(b, cms_state, upto=batch_id)
        if state is None:
            merged = batch_sk
            cand = batch_top
        else:
            merged = (
                state.unionByName(batch_sk)
                .groupBy("row_idx", "bucket")
                .agg(F.sum("counter").alias("counter"))
            )
            cand = read_state_version(b, cand_state, upto=batch_id).unionByName(batch_top).distinct()
        write_state_version(merged, cms_state, batch_id)
        write_state_version(cand, cand_state, batch_id)

    drain_available_now(stream.writeStream.outputMode("append").foreachBatch(land), scratch)
    sketch = read_state_version(spark, cms_state)
    cand = read_state_version(spark, cand_state)
    est = countmin_estimate(sketch, cand, depth=depth, width=width)
    return (
        est.select(F.col("item").cast("long").alias("user_id"), "est_count")
        .orderBy(F.desc("est_count"), F.asc("user_id"))
        .limit(k)
    )


_PATTERN_OUT_SCHEMA = "user_id long, n_events long, n_matches int"
_PATTERN_STATE_SCHEMA = "dfa int, n_matches int, n_events long"


def _pattern_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """O(1)-state streaming equivalent of the batch regex
    ``v[^p]*c[^p]*p``: the pattern is a 3-state DFA (need-v / seen-v /
    seen-c), and non-overlapping match counting is the DFA with a counter —
    the state never holds the event history, only (dfa, count, n).

    Equivalence with Java-regex non-overlapping scanning: a match ends at
    the FIRST 'p' after which a 'v'...'c' prefix is pending (greedy [^p]*
    cannot cross a 'p'), and scanning resumes after that 'p' — exactly the
    DFA's count-and-reset transition. Rows within a batch fold in event_id
    order; cross-batch order is the staged replay's event_id-range chunks.
    """
    dfa, n_matches, n_events = state.get if state.exists else (0, 0, 0)
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        pdf = pdf.sort_values("event_id")
        for sym in pdf["sym"]:
            if sym == "p":
                if dfa == 2:
                    n_matches += 1
                dfa = 0
            elif sym == "v":
                if dfa == 0:
                    dfa = 1
            elif sym == "c":
                if dfa == 1:
                    dfa = 2
            n_events += 1
    state.update((dfa, n_matches, n_events))
    yield pd.DataFrame(
        [(key[0], n_events, n_matches)], columns=["user_id", "n_events", "n_matches"]
    )


def run_streaming_pattern_detect(
    spark: SparkSession,
    events: DataFrame,
    scratch_dir: str | None = None,
    n_chunks: int = 6,
) -> DataFrame:
    """Streaming sequential-pattern detection: the batch twin
    (``events_pattern_detect``) folds each user's ordered symbols and runs a
    regexp; this version carries the compiled DFA through
    applyInPandasWithState so per-user state is THREE integers however long
    the stream — the state-bounding rewrite MATCH_RECOGNIZE engines do
    internally. Ordered delivery uses the same event_id-range chunk staging
    as the EWMA fold (explicit strictly-increasing mtimes)."""
    import glob as _glob  # noqa: PLC0415
    import time as _time  # noqa: PLC0415

    scratch = scratch_dir or f"/tmp/diaps_pat_{uuid.uuid4().hex[:8]}"
    src, sink = f"{scratch}/src", f"{scratch}/sink"
    shutil.rmtree(scratch, ignore_errors=True)

    staged = _watermarkable(events).select(
        "user_id", "event_id", F.substring("event_type", 1, 1).alias("sym")
    )
    bounds = staged.agg(F.min("event_id").alias("lo"), F.max("event_id").alias("hi")).first()
    lo, hi = int(bounds["lo"]), int(bounds["hi"])
    span = max(hi - lo + 1, 1)
    base_mtime = int(_time.time()) - 2 * (n_chunks + 1)
    seen: set[str] = set()
    for i in range(n_chunks):
        c_lo = lo + span * i // n_chunks
        c_hi = lo + span * (i + 1) // n_chunks
        chunk = staged.filter((F.col("event_id") >= c_lo) & (F.col("event_id") < c_hi))
        chunk.coalesce(1).write.mode("append").parquet(src)
        t = base_mtime + 2 * i
        for f in _glob.glob(f"{src}/*.parquet"):
            if f not in seen:
                os.utime(f, (t, t))
                seen.add(f)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    updates = stream.groupBy("user_id").applyInPandasWithState(
        _pattern_fn,
        outputStructType=_PATTERN_OUT_SCHEMA,
        stateStructType=_PATTERN_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    from pyspark.sql.window import Window  # noqa: PLC0415

    out = _drain_appends(spark, updates.writeStream.outputMode("update"), scratch, sink)
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .filter(F.col("n_matches") > 0)
        .select("user_id", "n_events", "n_matches")
    )


def run_streaming_quantile_digest(
    spark: SparkSession,
    events: DataFrame,
    scratch_dir: str | None = None,
    n_buckets: int = 256,
) -> DataFrame:
    """Streaming quantiles in O(B) state per key: each micro-batch folds to
    an equi-depth summary (B mass-midpoint cutpoints + count) per
    event_type, and the state merges summary+summary by stacking the two
    chunk sets on the weighted CDF and re-reading B cutpoints — the
    continuous-aggregate quantile maintenance TimescaleDB-style systems do,
    and the third streaming sketch family after HLL (register max) and CMS
    (counter addition).

    Each merge adds at most 1/B rank error, so a replay in k chunks is
    bounded by ~k/B + the build sketch's 1/accuracy. The staging here is 4
    files read 2-per-trigger (reader-side maxFilesPerTrigger — the old
    writer-side option is a no-op) = a 2-chunk replay: with
    B=256 that bounds rank error at ~2/256 + 1e-4 ≈ 0.008; tests pin the
    looser 0.05 against exact quantiles so a re-chunked replay (more
    triggers, k up to ~12) still passes without re-deriving the bound.
    """
    scratch = scratch_dir or f"/tmp/diaps_qd_{uuid.uuid4().hex[:8]}"
    stream, sink = _staged_stream(spark, events, scratch, max_files_per_trigger=2)
    state_path = f"{sink}_qd"
    probs = [(2 * i + 1) / (2 * n_buckets) for i in range(n_buckets)]

    def _summarize(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.percentile_approx(
                "value", F.array(*[F.lit(p) for p in probs]), F.lit(10000)
            ).alias("cuts"),
            F.count("*").cast("double").alias("n"),
        )

    def _requantize(summaries: DataFrame) -> DataFrame:
        """Merge >=1 summaries per key back to ONE B-cutpoint summary."""
        from pyspark.sql.window import Window  # noqa: PLC0415

        chunks = summaries.select(
            "event_type", F.explode("cuts").alias("v"), (F.col("n") / n_buckets).alias("w")
        )
        part = Window.partitionBy("event_type")
        ordered = part.orderBy("v", "w").rowsBetween(Window.unboundedPreceding, Window.currentRow)
        cum = chunks.select(
            "event_type",
            "v",
            F.sum("w").over(ordered).alias("cum_w"),
            F.sum("w").over(part).alias("total_w"),
        )
        targets = F.explode(F.array(*[F.lit(p) for p in probs])).alias("p")
        tgt = cum.select("event_type", "total_w").groupBy("event_type").agg(
            F.first("total_w").alias("total_w")
        ).select("event_type", "total_w", targets)
        new_cuts = (
            tgt.join(cum.select("event_type", "v", "cum_w"), "event_type")
            .filter(F.col("cum_w") >= F.col("p") * F.col("total_w"))
            .groupBy("event_type", "p")
            .agg(F.min("v").alias("q"), F.first("total_w").alias("total_w"))
            .groupBy("event_type")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "q"))), lambda x: x["q"]
                ).alias("cuts"),
                F.first("total_w").alias("n"),
            )
        )
        return new_cuts

    def merge(prev: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        # digest merge is not idempotent: the versioned fold rebuilds v{N}
        # from v{N-1} on replay instead of re-merging into shared state
        batch_sum = _summarize(batch_df)
        return batch_sum if prev is None else _requantize(prev.unionByName(batch_sum))

    state = _drain_fold(spark, stream.writeStream.outputMode("append"), scratch, state_path, merge)
    est = None
    for t in (0.5, 0.9, 0.99):
        idx = min(int(t * n_buckets), n_buckets - 1)
        got = state.select(
            "event_type",
            F.lit(t).alias("p"),
            F.element_at("cuts", idx + 1).alias("est_value"),
        )
        est = got if est is None else est.unionByName(got)

    # exact-CDF audit (the harness column; production drops it)
    audited = (
        events.select("event_type", "value")
        .join(F.broadcast(est), "event_type")
        .groupBy("event_type", "p")
        .agg(
            F.round(F.first("est_value"), 6).alias("est_value"),
            F.round(
                F.abs(
                    F.avg(F.when(F.col("value") <= F.col("est_value"), 1.0).otherwise(0.0))
                    - F.first("p")
                ),
                6,
            ).alias("rank_err"),
        )
    )
    return audited.orderBy("event_type", "p")


def run_python_source_replay(
    spark: SparkSession,
    events_path: str,
    scratch_dir: str | None = None,
    batch_rows: int = 3000,
    max_rounds: int = 12,
) -> DataFrame:
    """Drive the custom Python STREAMING source (sources/events_stream_source)
    through repeated stop/restart rounds sharing one checkpoint: each round
    is a cold availableNow start that resumes from the committed offset, so
    the final aggregate proves exactly-once delivery ACROSS RESTARTS — the
    contract the file-staged pipelines can only exercise within one run.

    Rounds end when a round makes no progress (offset exhausted). The
    aggregate uses only order-independent exact measures (counts, integer
    sums, min/max) so the result hash-matches the batch SQL oracle.
    """
    from data_integration_and_processing_spark.sources.events_stream_source import (  # noqa: PLC0415
        EventsReplayDataSource,
    )

    try:
        spark.dataSource.register(EventsReplayDataSource)
    except Exception:  # noqa: BLE001 — already registered in this session
        pass
    scratch = scratch_dir or f"/tmp/diaps_pysrc_{uuid.uuid4().hex[:8]}"
    tag = uuid.uuid4().hex[:6]
    # Cumulative totals strictly increase while the replay makes progress;
    # an exhausted round runs NO batch, so its fresh memory-sink table is
    # EMPTY — the answer is the last round that did make progress, never
    # the terminating round's table.
    prev_result = None
    prev_total = -1
    for rnd in range(max_rounds):
        name = f"pysrc_{tag}_{rnd}"
        agg = (
            spark.readStream.format("events_replay")
            .option("path", events_path)
            .option("batchrows", str(batch_rows))
            .load()
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.sum("event_id").alias("sum_ids"),
                F.min("value").alias("min_value"),
                F.max("value").alias("max_value"),
            )
        )
        drain_available_now(
            agg.writeStream.outputMode("complete").format("memory").queryName(name), scratch
        )
        result = spark.table(name)
        total = result.agg(F.sum("n_events")).collect()[0][0] or 0
        if total <= prev_total:
            break
        prev_result, prev_total = result, total
    assert prev_result is not None, "python-source replay produced no data"
    return prev_result.orderBy("event_type")


def run_streaming_neardup(
    spark: SparkSession,
    docs: DataFrame,
    scratch_dir: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.5,
    max_bucket: int = 1024,
) -> DataFrame:
    """Streaming NEAR-dedup: every micro-batch checks against the
    persistent banded-LSH index of everything accepted so far, drops
    near-dups, and APPENDS the survivors' index rows — the streaming form
    of neardup_against_snapshot with the state the batch operator's
    docstring prescribes: the hashed-shingle table and the (band, bucket)
    index are write-once artifacts that GROW by each batch's survivors and
    are never recomputed. Per-batch cost is O(batch + matched buckets),
    independent of how much history the stream has accumulated — the
    exact-key streaming dedup (stream_dedup_watermark) bounds state by a
    watermark; near-dup state is the corpus index itself, so it grows by
    accepted documents only (every duplicate adds nothing).
    """
    from data_integration_and_processing_spark.operators.dedup import (  # noqa: PLC0415
        lsh_bands,
        minhash_lsh_dedup,
        minhash_signature_vectorized,
        shingle_keys,
    )

    scratch = scratch_dir or f"/tmp/diaps_sneardup_{uuid.uuid4().hex[:8]}"
    # Ordered multi-batch replay: earlier-batch-wins composes to the one-shot global
    # min-id survivor rule only when arrival follows id order, so the
    # stage is range-partitioned on the id with mtime-forced file order.
    stream, sink = _staged_stream(
        spark, docs, scratch, max_files_per_trigger=1, order_col=id_col
    )
    hs_state, band_state, out_state = f"{sink}_hs", f"{sink}_bands", f"{sink}_accepted"
    # The SAME signature family as minhash_lsh_dedup's banding (Arrow
    # multiply-shift, seed 42): a near-dup pair split across batches then
    # collides in a band exactly when the one-shot banding would have
    # generated the candidate — keeping streamed recall identical to the
    # one-shot path the equivalence audit compares against.
    sig_udf = minhash_signature_vectorized(num_hashes)

    def _index(df: DataFrame) -> tuple[DataFrame, DataFrame]:
        hs = df.select(
            F.col(id_col).alias("id"), shingle_keys(F.col(text_col), 3).alias("hs")
        ).filter(F.size("hs") > 0)
        sig = hs.select("id", sig_udf(F.col("hs")).alias("sig"))
        banded = sig.select(
            "id", F.posexplode(lsh_bands(F.col("sig"), bands, num_hashes // bands)).alias("band", "bucket")
        )
        return hs, banded

    def land(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.sparkSession
        # within-batch near-dedup first (a batch can contain its own dups)
        batch_unique = minhash_lsh_dedup(
            batch_df, text_col=text_col, id_col=id_col, num_hashes=num_hashes, bands=bands,
            jaccard_threshold=jaccard_threshold,
        )
        hs_b, banded_b = _index(batch_unique)
        hs_b = hs_b.localCheckpoint(eager=True)
        banded_b = banded_b.localCheckpoint(eager=True)
        # per-batch append dirs (b{N}) read with upto=batch_id: a crash-
        # replayed batch sees exactly the pre-crash snapshot (its own
        # half-written b{N} excluded) and overwrites b{N} idempotently
        # instead of appending duplicate index rows
        hs_s = read_state_appends(b, hs_state, upto=batch_id)
        banded_s = read_state_appends(b, band_state, upto=batch_id)
        if hs_s is not None:
            snap_buckets = (
                banded_s.groupBy("band", "bucket")
                .agg(F.array_sort(F.collect_set("id")).alias("snap_ids"))
                .filter(F.size("snap_ids") <= max_bucket)
            )
            cand = (
                banded_b.join(snap_buckets, ["band", "bucket"])
                .select(F.col("id").alias("id_b"), F.explode("snap_ids").alias("id_s"))
                .dropDuplicates(["id_b", "id_s"])
            )
            inter = F.size(F.array_intersect("hs_batch", "hs_snap"))
            union = F.size("hs_batch") + F.size("hs_snap") - inter
            dup_ids = (
                cand.join(hs_b.select(F.col("id").alias("id_b"), F.col("hs").alias("hs_batch")), "id_b")
                .join(hs_s.select(F.col("id").alias("id_s"), F.col("hs").alias("hs_snap")), "id_s")
                .filter((inter.cast("double") / union) >= jaccard_threshold)
                .select(F.col("id_b").alias("id"))
                .distinct()
            )
            survivors = hs_b.join(dup_ids, "id", "left_anti").select("id").localCheckpoint(eager=True)
        else:  # first batch: no committed snapshot yet
            survivors = hs_b.select("id").localCheckpoint(eager=True)
        write_state_append(hs_b.join(survivors, "id"), hs_state, batch_id)
        write_state_append(banded_b.join(survivors, "id"), band_state, batch_id)
        write_state_append(
            batch_unique.join(survivors.withColumnRenamed("id", id_col), id_col),
            out_state,
            batch_id,
        )

    drain_available_now(stream.writeStream.outputMode("append").foreachBatch(land), scratch)
    return read_state_appends(spark, out_state).select(id_col).orderBy(id_col)


def run_streaming_incremental_mv(
    spark: SparkSession,
    events: DataFrame,
    scratch_dir: str | None = None,
) -> DataFrame:
    """Streaming materialized-view maintenance: each micro-batch is an
    insert-delta merged into the maintained (count, sum) aggregate with
    ``plans.pipelines.incremental_agg_merge`` — the foreachBatch form of
    warehouse MV refresh, never rescanning history. State rides the
    versioned per-batch directories (read_state_version), so a crash-
    replayed batch rebuilds its version instead of double-adding counts.

    Counts are exact integers; the value sum is rounded only at the final
    read, so the merged result equals the one-shot batch aggregate up to
    double fold order — the catalog query's oracle pins exactly that."""
    from data_integration_and_processing_spark.plans.pipelines import (  # noqa: PLC0415
        incremental_agg_merge,
    )

    scratch = scratch_dir or f"/tmp/diaps_incmv_{uuid.uuid4().hex[:8]}"
    stream, sink = _staged_stream(spark, events, scratch, max_files_per_trigger=2)
    keys, sums = ["event_type"], ["value"]

    def merge(prev: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        b = batch_df.sparkSession
        if prev is None:
            prev = tiny_local_df(b, [], "event_type string, n_rows long, sum_value double")
        empty_delta = tiny_local_df(b, [], batch_df.schema)
        return incremental_agg_merge(prev, batch_df, empty_delta, keys, sums)

    return (
        _drain_fold(spark, stream.writeStream.outputMode("append"), scratch, sink, merge)
        .select(
            "event_type",
            "n_rows",
            F.round("sum_value", 2).alias("sum_value"),
        )
        .orderBy("event_type")
    )


def run_streaming_kmv_distinct(
    spark: SparkSession,
    events: DataFrame,
    k: int = 64,
    scratch_dir: str | None = None,
) -> DataFrame:
    """Incremental KMV distinct sketch over a stream: per micro-batch, the
    batch's distinct (event_type, md5(user_id)) hashes merge into a
    persistent bottom-k state table — O(types * k) rows FOREVER, vs the
    O(distinct users) a dropDuplicates approach holds.

    Bottom-k-of-union is associative and idempotent, so the merged state —
    and therefore the kth hash and the (k-1)/R_k estimate — is IDENTICAL to
    a one-shot sketch over the whole corpus, regardless of micro-batch
    boundaries, replay, or arrival order. Unlike the HLL twin
    (:func:`run_streaming_hll_distinct`, engine-opaque registers), KMV
    state is plain md5 strings: the streamed end-state value-hash checks
    EXACTLY against a SQL oracle."""
    from pyspark.sql import functions as F  # noqa: PLC0415
    from pyspark.sql.window import Window  # noqa: PLC0415

    scratch = scratch_dir or f"/tmp/diaps_kmv_{uuid.uuid4().hex[:8]}"
    stream, sink = _staged_stream(spark, events, scratch, max_files_per_trigger=1)
    w = Window.partitionBy("event_type").orderBy("fp")

    def merge(prev: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        batch_sk = batch_df.select(
            "event_type",
            F.md5(F.col("user_id").cast("string").cast("binary")).alias("fp"),
        ).distinct()
        merged = batch_sk if prev is None else prev.unionByName(batch_sk)
        return (
            merged.distinct()
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("event_type", "fp")
        )

    sketch = _drain_fold(spark, stream.writeStream.outputMode("append"), scratch, sink, merge)
    state = sketch.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_sketch"), F.max("fp").alias("kth_hash")
    )
    # exact e4-scaled KMV estimate: (k-1)*2^32*1e4
    # div h with h = the kth hash's first 8 hex chars as a BIGINT — the
    # rational estimate ships as a truncating integer quotient
    est_e4 = F.when(
        F.col("n_sketch") < k, F.col("n_sketch") * F.lit(10000)
    ).otherwise(
        F.expr(
            f"CAST({(k - 1) * 4294967296 * 10000} AS BIGINT)"
            " div CAST(conv(substring(kth_hash, 1, 8), 16, 10) AS BIGINT)"
        )
    ).cast("long")
    return state.select(
        "event_type",
        "n_sketch",
        "kth_hash",
        est_e4.alias("est_distinct_users_e4"),
    ).orderBy("event_type")


def run_streaming_frequent_directions(
    spark: SparkSession,
    vectors: DataFrame,
    sketch_rows: int = 32,
    vec_col: str = "embedding",
    scratch_dir: str | None = None,
):
    """Streaming Frequent-Directions: per micro-batch the batch's vectors
    fold into a persistent l x d Gram sketch by concatenate+shrink —
    O(l * d) state FOREVER, the matrix analogue of the KMV/HLL streaming
    sketches. Returns (sketch ndarray, n_vectors, frob_sq).

    FD merge is associative but not batching-INVARIANT (different batch
    boundaries give a different — equally valid — sketch), so unlike the
    KMV twin the state does not hash-check against a one-shot run;
    instead the registered audit gates the deterministic WORST-CASE
    guarantees (PSD underestimate, spectral error <= 2||A||_F^2 / l),
    which hold for any batching. n and ||A||_F^2 fold exactly and ARE
    batching-invariant."""
    import numpy as np  # noqa: PLC0415

    from data_integration_and_processing_spark.operators.linalg import (  # noqa: PLC0415
        _fd_shrink,
        frequent_directions,
    )

    scratch = scratch_dir or f"/tmp/diaps_sfd_{uuid.uuid4().hex[:8]}"
    stream, sink = _staged_stream(spark, vectors, scratch, max_files_per_trigger=1)

    def land(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.sparkSession
        if batch_df.isEmpty():
            # _staged_stream's repartition can stage empty parquet files when
            # the input has fewer rows than n_files: carry the
            # prior state forward unchanged rather than folding an empty
            # batch (frequent_directions raises on empty input).
            state = read_state_version(b, sink, upto=batch_id)
            if state is not None:
                write_state_version(state, sink, batch_id)
            return
        sk_b, n_b, frob_b = frequent_directions(batch_df, sketch_rows=sketch_rows, vec_col=vec_col)
        state = read_state_version(b, sink, upto=batch_id)
        if state is not None:
            rows = state.collect()
            meta = next(r for r in rows if r["kind"] == "meta")
            n_b += int(meta["n"])
            frob_b += float(meta["frob"])
            d = sk_b.shape[1]
            prev = np.zeros((sketch_rows, d))
            for r in rows:
                if r["kind"] == "row":
                    prev[int(r["i"])] = np.asarray(r["vals"])
            sk_b = _fd_shrink(np.vstack([prev, sk_b]), sketch_rows)
        out_rows = [(int(i), "row", list(map(float, sk_b[i])), 0, 0.0) for i in range(sketch_rows)]
        out_rows.append((-1, "meta", [], int(n_b), float(frob_b)))
        state_df = tiny_local_df(
            b, out_rows, "i int, kind string, vals array<double>, n long, frob double"
        )
        write_state_version(state_df, sink, batch_id)

    drain_available_now(stream.writeStream.outputMode("append").foreachBatch(land), scratch)
    rows = read_state_version(spark, sink).collect()
    meta = next(r for r in rows if r["kind"] == "meta")
    d = len(next(r for r in rows if r["kind"] == "row")["vals"])
    sk = np.zeros((sketch_rows, d))
    for r in rows:
        if r["kind"] == "row":
            sk[int(r["i"])] = np.asarray(r["vals"])
    return sk, int(meta["n"]), float(meta["frob"])


def run_streaming_bitmap_distinct(
    spark: SparkSession,
    events: DataFrame,
    scratch_dir: str | None = None,
) -> DataFrame:
    """Incremental EXACT distinct counting over a stream via bitmap state:
    per micro-batch each (event_type, 32768-bit bucket) bitmap OR-merges
    into the persistent state table — bitmap union is associative,
    commutative and idempotent, so the final count is EXACT and identical
    to a one-shot pass for any batching, replay, or arrival order (the
    exact-answer sibling of run_streaming_kmv_distinct: where KMV bounds
    state at O(k) rows with a (k-1)/R_k estimate, bitmaps pay O(occupied
    buckets * 4 KB) per group for an exact answer — the right trade when
    the key domain is dense, e.g. integer user ids)."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    scratch = scratch_dir or f"/tmp/diaps_sbitmap_{uuid.uuid4().hex[:8]}"
    stream, sink = _staged_stream(spark, events, scratch, max_files_per_trigger=1)

    def merge(prev: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        batch_bm = (
            batch_df.select(
                "event_type",
                F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
                F.expr("bitmap_bit_position(user_id)").alias("pos"),
            )
            .groupBy("event_type", "bucket")
            .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
        )
        return batch_bm if prev is None else (
            prev.unionByName(batch_bm)
            .groupBy("event_type", "bucket")
            .agg(F.expr("bitmap_or_agg(bm)").alias("bm"))
        )

    return (
        _drain_fold(spark, stream.writeStream.outputMode("append"), scratch, sink, merge)
        .groupBy("event_type")
        .agg(
            F.sum(F.expr("bitmap_count(bm)")).cast("long").alias("n_distinct_users"),
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
        )
        .orderBy("event_type")
    )


def run_streaming_bigram_lm(
    spark: SparkSession,
    docs: DataFrame,
    scratch_dir: str | None = None,
    top_n: int = 100,
) -> DataFrame:
    """Incremental bigram-LM maintenance over a document stream: per
    micro-batch the batch's (w1, w2) counts ADD into the persistent count
    state — integer addition is associative and commutative, so the end
    state equals a one-shot corpus pass EXACTLY for any batching, replay
    chunking, or arrival order, and the conditional P(w2|w1) table
    hash-checks against the batch text_bigram_lm oracle. This is the LM
    member of the incremental-MV family (counter sums like CMS, not
    merge-with-error like the quantile digest): a perplexity filter over a
    growing corpus re-reads ONLY the new documents, never the history.
    State is the O(observed-vocab^2) count table; empty staged batches
    merge as no-ops."""
    from pyspark.sql import functions as F  # noqa: PLC0415
    from pyspark.sql.window import Window  # noqa: PLC0415

    scratch = scratch_dir or f"/tmp/diaps_sblm_{uuid.uuid4().hex[:8]}"
    stream, sink = _staged_stream(spark, docs, scratch, max_files_per_trigger=1)

    def merge(prev: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        words = F.split("text", " ")
        n = F.size(words)
        pairs = (
            batch_df.filter(n >= 2)
            .select(
                F.explode(
                    F.zip_with(
                        F.slice(words, 1, n - 1),
                        F.slice(words, 2, n - 1),
                        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
                    )
                ).alias("bg")
            )
            .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        )
        batch_counts = pairs.groupBy("w1", "w2").agg(F.count("*").alias("n"))
        return (
            batch_counts
            if prev is None
            else prev.unionByName(batch_counts)
            .groupBy("w1", "w2")
            .agg(F.sum("n").alias("n"))
        )

    counts = _drain_fold(spark, stream.writeStream.outputMode("append"), scratch, sink, merge)
    tot = Window.partitionBy("w1")
    return (
        counts.select(
            "w1",
            "w2",
            F.col("n").cast("long").alias("n"),
            # exact integer-micro
            F.expr(
                "(CAST(n AS BIGINT) * 1000000)"
                " div (sum(CAST(n AS BIGINT)) OVER (PARTITION BY w1))"
            ).alias("p_micro"),
        )
        .orderBy(F.desc("n"), "w1", "w2")
        .limit(top_n)
    )
