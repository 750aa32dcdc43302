"""Versioned foreachBatch state: crash-replay idempotence.

The old single-directory read-merge-overwrite idiom double-merged
non-idempotent counters when Structured Streaming replayed a crashed
micro-batch, and its blanket ``except Exception`` treated any transient
read failure as "first batch", resetting accumulated state. The versioned
helpers rebuild v{N} from v{N-1} + the (checkpoint-replayed, identical)
batch — an idempotent overwrite — and probe existence through the Hadoop
FileSystem API so real errors propagate.
"""

import uuid

import pytest
from pyspark.sql import functions as F

from data_integration_and_processing_spark.streaming.pipelines import (
    read_state_appends,
    read_state_version,
    write_state_append,
    write_state_version,
)


@pytest.fixture
def base(tmp_path):
    return str(tmp_path / f"state_{uuid.uuid4().hex[:6]}")


def _counts(spark, pairs):
    return spark.createDataFrame(pairs, "k string, n long")


def _apply_batch(spark, base, batch_id, batch_pairs):
    """The CMS-style merge: read latest state < batch_id, add, commit v{batch_id}."""
    batch = _counts(spark, batch_pairs)
    state = read_state_version(spark, base, upto=batch_id)
    merged = (
        batch
        if state is None
        else state.unionByName(batch).groupBy("k").agg(F.sum("n").alias("n"))
    )
    write_state_version(merged, base, batch_id)


def test_replay_does_not_double_merge(spark, base):
    _apply_batch(spark, base, 0, [("a", 1), ("b", 2)])
    _apply_batch(spark, base, 1, [("a", 10)])
    # crash-replay of batch 1: same batch data, same batch_id
    _apply_batch(spark, base, 1, [("a", 10)])
    got = {r["k"]: r["n"] for r in read_state_version(spark, base).collect()}
    assert got == {"a": 11, "b": 2}  # NOT a=21


def test_upto_hides_half_written_version(spark, base):
    _apply_batch(spark, base, 0, [("a", 1)])
    _apply_batch(spark, base, 1, [("a", 10)])
    # the replaying batch must see only state strictly below its own id
    state = read_state_version(spark, base, upto=1)
    assert {r["k"]: r["n"] for r in state.collect()} == {"a": 1}


def test_first_batch_and_missing_dir(spark, base):
    assert read_state_version(spark, base) is None
    assert read_state_appends(spark, base) is None


def test_pruning_keeps_replay_window(spark, base):
    for i in range(4):
        _apply_batch(spark, base, i, [("a", 1)])
    # keep=2: v3 (latest) and v2 (what a replay of batch 3 re-reads) survive
    assert read_state_version(spark, base, upto=3) is not None
    assert {r["k"]: r["n"] for r in read_state_version(spark, base).collect()} == {"a": 4}
    assert read_state_version(spark, base, upto=2) is None  # v0, v1 pruned


def test_append_state_replay_overwrites_not_duplicates(spark, base):
    write_state_append(_counts(spark, [("x", 1)]), base, 0)
    write_state_append(_counts(spark, [("y", 2)]), base, 1)
    # replay batch 1
    write_state_append(_counts(spark, [("y", 2)]), base, 1)
    rows = read_state_appends(spark, base).collect()
    assert sorted((r["k"], r["n"]) for r in rows) == [("x", 1), ("y", 2)]
    # and the replaying batch's own dir is excluded from its snapshot read
    snap = read_state_appends(spark, base, upto=1)
    assert [(r["k"], r["n"]) for r in snap.collect()] == [("x", 1)]
