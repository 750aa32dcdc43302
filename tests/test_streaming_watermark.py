"""Watermark late-data semantics, asserted by experiment.

Empirical note (Spark 4.1, pinned by this test): a late row that arrives in
the SAME micro-batch in which its window is evicted still merges before the
append-mode emission — the drop is only observable for rows arriving in a
batch AFTER the window closed. So the sequence here is three micro-batches
(maxFilesPerTrigger=1):

1. on-time rows advance the watermark past the first window's end;
2. a nudge row triggers the append-mode emission (count excludes nothing);
3. the late row arrives — its window's state is gone and its event time is
   behind the watermark: Structured Streaming must DROP it, reporting it in
   ``numRowsDroppedByWatermark``, and must never re-emit the window.

A control run with the same row on time shows the counterfactual (+1).
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import functions as F

from data_integration_and_processing_spark.streaming.pipelines import tumbling_window_counts

_SCHEMA = "event_id long, ts string, event_type string, value double"


def _rows(spark, rows):
    return spark.createDataFrame(
        [(i, ts, et, v) for i, (ts, et, v) in enumerate(rows)], _SCHEMA
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def _run(spark, tmpdir, batches, watermark="15 minutes"):
    """Run the tumbling-window aggregation over staged micro-batches; return
    (emitted rows, total rows dropped by watermark)."""
    scratch = f"{tmpdir}/stream_{uuid.uuid4().hex[:8]}"
    src, sink, ckpt = f"{scratch}/src", f"{scratch}/sink", f"{scratch}/ckpt"
    first = _rows(spark, batches[0])
    first.coalesce(1).write.mode("append").parquet(src)
    for later in batches[1:]:
        time.sleep(1.1)  # FileStreamSource orders by mod time: keep batches distinct
        _rows(spark, later).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(first.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", watermark)
    )
    windowed = tumbling_window_counts(stream, "10 minutes")

    def land(batch_df, batch_id):
        batch_df.write.mode("append").parquet(sink)

    query = (
        windowed.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch(land)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(300)
    dropped = sum(
        op["numRowsDroppedByWatermark"]
        for progress in query.recentProgress
        for op in progress["stateOperators"]
    )
    try:
        return spark.read.parquet(sink).collect(), dropped
    except Exception:  # no window closed => sink never created
        return [], dropped


ON_TIME = [
    ("2024-01-01 10:01:00", "click", 1.0),
    ("2024-01-01 10:04:00", "click", 1.0),
    ("2024-01-01 11:00:00", "click", 1.0),  # watermark -> 10:45 > 10:10
]
NUDGE = ("2024-01-01 11:01:00", "click", 1.0)  # triggers the append emission
LATE = ("2024-01-01 10:05:00", "click", 1.0)  # 10:05 < 10:45: beyond the watermark


def _count_for_first_window(rows):
    hits = [r for r in rows if r.window_start.hour == 10 and r.window_start.minute == 0]
    assert len(hits) <= 1, f"window re-emitted: {hits}"
    return hits[0].n_events if hits else None


def test_late_row_beyond_watermark_is_dropped(spark, tmp_path):
    rows, dropped = _run(spark, tmp_path, [ON_TIME, [NUDGE], [LATE]])
    assert _count_for_first_window(rows) == 2  # late arrival did NOT count
    assert dropped >= 1  # and the engine reported the drop


def test_same_row_on_time_is_counted(spark, tmp_path):
    rows, dropped = _run(spark, tmp_path, [[*ON_TIME[:2], LATE, ON_TIME[2]], [NUDGE]])
    assert _count_for_first_window(rows) == 3  # counterfactual control
    assert dropped == 0


def test_transform_with_state_or_documented_gate(spark, sf_dir):
    """Spark 4 transformWithStateInPandas: runs and matches the batch
    groupBy where protobuf exists; otherwise the documented
    NotImplementedError (not an opaque worker crash)."""
    import pytest

    from data_integration_and_processing_spark.sources.tables import load_table
    from data_integration_and_processing_spark.streaming.pipelines import (
        run_transform_with_state,
    )

    e = load_table(spark, sf_dir, "events").limit(500)
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError, match="applyInPandasWithState"):
            run_transform_with_state(spark, e)
        return
    out = run_transform_with_state(spark, e)
    expect = e.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.min("event_id").alias("first_event_id"),
        F.max("event_id").alias("last_event_id"),
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, expect.collect()))


def test_pattern_detect_chunk_invariant(spark, sf_dir):
    """The DFA fold's answer cannot depend on micro-batch boundaries."""
    import uuid

    from data_integration_and_processing_spark.streaming.pipelines import (
        run_streaming_pattern_detect,
    )

    e = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id", "user_id", "event_type", "ts")
        .filter("user_id < 30")
    )
    runs = []
    for n_chunks in (2, 5):
        scratch = f"/tmp/diaps_pat_test_{uuid.uuid4().hex[:8]}"
        out = run_streaming_pattern_detect(spark, e, scratch_dir=scratch, n_chunks=n_chunks)
        runs.append(sorted(map(tuple, out.collect())))
    assert runs[0] == runs[1]
    assert runs[0]  # fixture produces matches
