"""Streaming CDC replay must be independent of micro-batch boundaries and
delivery order: the seq-aware tombstone-retaining merge makes (sink ∪
batch) re-collapse associative, so any file/batch split yields the batch
cdc_apply result. Failures are loud: a stream that outlives the drain
timeout raises and is stopped, and a crash between batches leaves the last
committed batch's state, from which a restart resumes."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from data_integration_and_processing_spark.plans.pipelines import cdc_apply
from data_integration_and_processing_spark.streaming import pipelines
from data_integration_and_processing_spark.streaming.pipelines import (
    read_state_version,
    run_streaming_cdc_apply,
)


def _changelog(spark):
    rows = [
        (1, "a", 1, "I"),
        (1, "b", 4, "U"),   # final state for key 1
        (2, "x", 2, "I"),
        (2, None, 5, "D"),  # deleted
        (3, "m", 3, "I"),
        (3, None, 6, "D"),
        (3, "n", 7, "I"),   # delete-then-reinsert survives
    ]
    return spark.createDataFrame(rows, "k INT, v STRING, seq INT, op STRING")


def test_streaming_equals_batch_cdc(spark, tmp_path):
    log = _changelog(spark)
    streamed = run_streaming_cdc_apply(
        spark, log, key_cols=["k"], scratch_dir=str(tmp_path / "cdc")
    )
    batch = cdc_apply(log, key_cols=["k"], seq_col="seq", op_col="op")
    assert {(r.k, r.v) for r in streamed.collect()} == {(r.k, r.v) for r in batch.collect()}
    assert {(r.k, r.v) for r in batch.collect()} == {(1, "b"), (3, "n")}


def test_delete_in_later_batch_wins_over_earlier_update(spark, tmp_path):
    # seq ordering, not arrival ordering, decides: the tombstone (seq 5)
    # beats an update with seq 4 even if they land in different batches
    rows = [(9, "early", 4, "U"), (9, None, 5, "D"), (9, "first", 1, "I")]
    log = spark.createDataFrame(rows, "k INT, v STRING, seq INT, op STRING")
    out = run_streaming_cdc_apply(
        spark, log, key_cols=["k"], scratch_dir=str(tmp_path / "cdc2")
    )
    assert out.count() == 0


def _long_changelog(spark):
    """40 events over 10 keys: enough rows that the 4-file staging replays
    as 4 micro-batches. Every 7th event is a delete."""
    rows = [(i % 10, f"v{i}", i, "D" if i % 7 == 0 else "U") for i in range(1, 41)]
    return spark.createDataFrame(rows, "k INT, v STRING, seq INT, op STRING")


def _latest_per_key(rows):
    best = {}
    for r in rows:
        if r.k not in best or r.seq > best[r.k].seq:
            best[r.k] = r
    return {(r.k, r.v, r.seq, r.op) for r in best.values()}


def test_stalled_stream_raises_and_stops_the_query(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(pipelines, "DRAIN_TIMEOUT_S", 0.01)
    with pytest.raises(TimeoutError):
        run_streaming_cdc_apply(
            spark, _long_changelog(spark), key_cols=["k"], scratch_dir=str(tmp_path / "cdc_to")
        )
    assert spark.streams.active == []


def test_crash_between_batches_keeps_committed_state_and_resumes(spark, tmp_path, monkeypatch):
    log = _long_changelog(spark)
    scratch = str(tmp_path / "cdc_crash")
    sink, ckpt = f"{scratch}/sink", f"{scratch}/ckpt"
    write = pipelines.write_state_version

    def crash_at_batch_2(df, base, batch_id, keep=2):
        if batch_id == 2:
            raise RuntimeError("injected crash before batch 2's state write")
        write(df, base, batch_id, keep)

    monkeypatch.setattr(pipelines, "write_state_version", crash_at_batch_2)
    with pytest.raises(StreamingQueryException):
        run_streaming_cdc_apply(spark, log, key_cols=["k"], scratch_dir=scratch)
    monkeypatch.undo()

    # the sink holds exactly the state after batches 0-1: the latest event
    # per key over the files the checkpoint's offset log gave those batches
    files = []
    for batch_id in (0, 1):
        with open(f"{ckpt}/sources/0/{batch_id}") as f:
            files += [json.loads(line)["path"] for line in f.read().splitlines()[1:]]
    state = read_state_version(spark, sink)
    assert state is not None
    got = {(r.k, r.v, r.seq, r.op) for r in state.collect()}
    assert got and got == _latest_per_key(spark.read.parquet(*files).collect())

    # restarting on the same scratch and checkpoint commits batches 2-3 and
    # leaves the commits of batches 0-1 as they were: the run resumed
    commits = f"{ckpt}/commits"
    before = {n: os.stat(f"{commits}/{n}").st_mtime_ns for n in os.listdir(commits) if n.isdigit()}
    assert set(before) == {"0", "1"}
    resumed = pipelines._drain_cdc(spark, scratch, ["k"], "seq", "op", "D")
    after = {n: os.stat(f"{commits}/{n}").st_mtime_ns for n in os.listdir(commits) if n.isdigit()}
    assert set(after) == {"0", "1", "2", "3"}
    assert {n: after[n] for n in before} == before
    batch = cdc_apply(log, key_cols=["k"], seq_col="seq", op_col="op")
    assert {(r.k, r.v) for r in resumed.collect()} == {(r.k, r.v) for r in batch.collect()}
