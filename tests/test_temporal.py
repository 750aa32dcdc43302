"""Semantic + plan-shape tests for operators/temporal.py.

The catalog queries are oracle-checked against DuckDB; these tests pin the
behaviors an oracle can't see — edge-case semantics on degenerate series,
the EWMA recurrence against a literal driver-side recompute, and the
single-shuffle plan shapes the scale claims rest on.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from data_integration_and_processing_spark.operators.temporal import (
    event_deltas,
    ewma_fold,
    merge_intervals,
    ohlc_bars,
    time_weighted_avg,
)
from data_integration_and_processing_spark.queries.catalog import all_specs

_T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ts(seconds: float) -> dt.datetime:
    return _T0 + dt.timedelta(seconds=seconds)


def test_merge_intervals_overlap_touch_disjoint(spark):
    # a: [0,10] overlaps [5,15], [15,20] touches (start == running max end,
    # NOT > it) => all one island; [30,40] is disjoint => second island.
    rows = [
        ("a", 0, 10, 1),
        ("a", 5, 15, 2),
        ("a", 15, 20, 3),
        ("a", 30, 40, 4),
        # b: the sort is by start — an early long interval swallows a later
        # short one entirely ([0,100] covers [50,60])
        ("b", 0, 100, 5),
        ("b", 50, 60, 6),
    ]
    df = spark.createDataFrame(rows, "g string, s long, e long, id long")
    out = {
        (r["g"], r["island_id"]): (r["island_start"], r["island_end"], r["n_intervals"])
        for r in merge_intervals(df, ["g"], "s", "e", tiebreak_col="id").collect()
    }
    assert out == {
        ("a", 1): (0, 20, 3),
        ("a", 2): (30, 40, 1),
        ("b", 1): (0, 100, 2),
    }


def test_time_weighted_avg_locf_semantics(spark):
    # value 10 held for 30s, then 20 held for 10s => (10*30 + 20*10) / 40
    # = 12.5; the final observation (value 99) has zero remaining span.
    rows = [
        ("a", _ts(0), 10.0),
        ("a", _ts(30), 20.0),
        ("a", _ts(40), 99.0),
        ("single", _ts(0), 7.0),  # no span => NULL twa
    ]
    df = spark.createDataFrame(rows, "g string, ts timestamp, value double")
    out = {r["g"]: r for r in time_weighted_avg(df, ["g"], "ts", "value").collect()}
    assert out["a"]["time_weighted_avg_micro"] == 12_500_000
    assert out["a"]["span_us"] == 40_000_000
    assert out["single"]["time_weighted_avg_micro"] is None
    assert out["single"]["n_obs"] == 1


def test_ewma_fold_matches_driver_recurrence(spark):
    alpha = 0.3
    vals = [3.0, -1.5, 4.25, 0.0, 2.5, 10.0, -7.75]
    rows = [("u", _ts(i), i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "g string, ts timestamp, event_id long, value double")
    acc = vals[0]
    for x in vals[1:]:
        acc = alpha * x + (1 - alpha) * acc
    out = ewma_fold(df, ["g"], "ts", "value", alpha=alpha).collect()[0]
    assert out["n_obs"] == len(vals)
    assert out["ewma"] == round(acc, 6)
    assert out["last_value"] == -7.75


def test_ewma_fold_orders_by_time_not_input_order(spark):
    # Same observations delivered in reverse input order must fold in
    # timestamp order — shuffles don't preserve arrival order at scale.
    rows = [("u", _ts(i), i, float(v)) for i, v in enumerate([1, 2, 3])]
    fwd = ewma_fold(
        spark.createDataFrame(rows, "g string, ts timestamp, event_id long, value double"),
        ["g"],
    ).collect()[0]
    rev = ewma_fold(
        spark.createDataFrame(rows[::-1], "g string, ts timestamp, event_id long, value double"),
        ["g"],
    ).collect()[0]
    assert fwd["ewma"] == rev["ewma"]
    assert fwd["last_value"] == rev["last_value"] == 3.0


def test_ohlc_open_close_use_tiebreak_on_equal_ts(spark):
    # two observations at the identical timestamp: event_id breaks the tie
    # for both open (lowest id) and close (highest id)
    rows = [
        ("a", _ts(0), 1, 100.0),
        ("a", _ts(0), 2, 200.0),
        ("a", _ts(10), 3, 50.0),
    ]
    df = spark.createDataFrame(rows, "g string, ts timestamp, event_id long, value double")
    out = ohlc_bars(df, ["g"], "ts", "value").collect()[0]
    assert out["open"] == 100.0
    assert out["close"] == 50.0
    assert out["high"] == 200.0
    assert out["low"] == 50.0
    assert out["n_events"] == 3
    assert out["sum_value"] == 350.0


def test_event_deltas_gap_and_rate(spark):
    rows = [("u", _ts(0), 1, 10.0), ("u", _ts(4), 2, 18.0)]
    df = spark.createDataFrame(rows, "g string, ts timestamp, event_id long, value double")
    out = event_deltas(df, ["g"]).collect()
    assert len(out) == 1  # first observation has no predecessor
    assert out[0]["gap_us"] == 4_000_000
    assert out[0]["delta_value"] == 8.0
    assert out[0]["rate_per_sec_micro"] == 2_000_000


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_interval_merge_plans_one_shuffle(spark, sf_dir):
    """Both window passes and the island aggregate reuse ONE hash
    partitioning on user_id — a second hashpartitioning Exchange means the
    aggregation re-shuffles what the windows already partitioned. (The
    final rangepartitioning Exchange is the presentation orderBy every
    catalog query carries for deterministic oracle comparison.)"""
    plan = _plan(all_specs()["temporal_interval_merge"].spark(spark, sf_dir))
    keyed = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert len(keyed) <= 1, f"interval merge should hash-shuffle once:\n{plan}"


def test_ohlc_is_partial_final_aggregate_without_window(spark, sf_dir):
    """min_by/max_by keep OHLC a two-phase declarative aggregate (struct
    ordering keys plan as SortAggregate): no Window node, a map-side
    partial (partial_min_by) before the one keyed shuffle, so the shuffle
    carries one row per (series, bucket) per map task."""
    plan = _plan(all_specs()["temporal_ohlc_bars"].spark(spark, sf_dir))
    assert "Window" not in plan
    assert "partial_min_by" in plan, f"no map-side partial aggregate:\n{plan}"
    keyed = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert len(keyed) <= 1


def test_ewma_stays_in_codegen(spark, sf_dir):
    """The fold is F.aggregate over a sorted collect_list — JVM-side
    expression evaluation, never a Python worker."""
    plan = _plan(all_specs()["temporal_ewma"].spark(spark, sf_dir))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_streaming_ewma_invariant_to_chunking(spark, sf_dir):
    """Under the ordered-delivery contract the fold result must not depend
    on how many micro-batches the replay used (1 chunk == pure batch)."""
    from data_integration_and_processing_spark.streaming.pipelines import run_streaming_ewma

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    one = {
        r["user_id"]: (r["n_obs"], r["ewma"], r["last_value"])
        for r in run_streaming_ewma(spark, e, alpha=0.3, n_chunks=1).collect()
    }
    many = {
        r["user_id"]: (r["n_obs"], r["ewma"], r["last_value"])
        for r in run_streaming_ewma(spark, e, alpha=0.3, n_chunks=6).collect()
    }
    assert one == many


def test_watermarked_ewma_survives_disorder(spark, sf_dir):
    """Late rows delayed into later micro-batches must neither drop nor
    fold out of order: result equals the batch fold, and every event is
    seen (n_obs matches the per-user event count)."""
    from data_integration_and_processing_spark.operators.temporal import ewma_fold
    from data_integration_and_processing_spark.streaming.pipelines import (
        run_streaming_ewma_watermarked,
    )

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    wm = {
        r["user_id"]: (r["n_obs"], r["ewma"], r["last_value"])
        for r in run_streaming_ewma_watermarked(spark, e, alpha=0.3).collect()
    }
    batch = {
        r["user_id"]: (r["n_obs"], r["ewma"], r["last_value"])
        for r in ewma_fold(e, ["user_id"], alpha=0.3).collect()
    }
    assert wm == batch


def test_cusum_closed_form_matches_recurrence(spark, sf_dir):
    """prefix_sum - min(0, running_min(prefix_sum)) must equal the literal
    recurrence max(0, s + dev) folded in order — verified on real data by
    recomputing driver-side from the same inputs."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'")
    rows = con.execute(
        """
        WITH stats AS (
            SELECT event_type,
                   CAST(sum(CAST(value AS DECIMAL(14,6))) AS DOUBLE) / count(*) AS mu,
                   sqrt((CAST(sum(CAST(value AS DECIMAL(14,6)) * CAST(value AS DECIMAL(14,6))) AS DOUBLE)
                         - CAST(sum(CAST(value AS DECIMAL(14,6))) AS DOUBLE)
                           * CAST(sum(CAST(value AS DECIMAL(14,6))) AS DOUBLE) / count(*))
                        / (count(*) - 1)) AS sigma
            FROM events GROUP BY event_type
        )
        SELECT e.event_type, CAST(e.value AS DOUBLE) - s.mu - 0.5 * s.sigma AS dev,
               s.sigma
        FROM events e JOIN stats s USING (event_type)
        ORDER BY e.event_type, epoch_us(e.ts), e.event_id
        """
    ).fetchall()
    expect: dict[str, tuple[float, int]] = {}
    state: dict[str, float] = {}
    for etype, dev, sigma in rows:
        s = max(0.0, state.get(etype, 0.0) + dev)
        state[etype] = s
        mx, alarms = expect.get(etype, (0.0, 0))
        expect[etype] = (max(mx, s), alarms + (1 if s > 4.0 * sigma else 0))
    out = {
        r["event_type"]: (r["max_cusum"], r["n_alarms"])
        for r in all_specs()["temporal_cusum_changepoint"].spark(spark, sf_dir).collect()
    }
    for etype, (mx, alarms) in expect.items():
        assert out[etype][0] == round(mx, 6), etype
        assert out[etype][1] == alarms, etype


def test_pareto_frontier_semantics(spark):
    # (price, size): (1,5) and (2,9) on frontier; (3,7) dominated by (2,9);
    # duplicates of a frontier point both survive (strict dominance);
    # (2,3) dominated by (1,5)
    rows = [
        (1, 1.0, 5),
        (2, 2.0, 9),
        (3, 3.0, 7),
        (4, 2.0, 9),
        (5, 2.0, 3),
    ]
    df = spark.createDataFrame(rows, "p_partkey long, p_retailprice double, p_size int")
    import data_integration_and_processing_spark.queries.analytics_queries as aq
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    per_price = df.groupBy("p_retailprice").agg(F.max("p_size").alias("gmax"))
    w = Window.orderBy("p_retailprice").rowsBetween(Window.unboundedPreceding, -1)
    thresholds = per_price.withColumn("best_cheaper", F.max("gmax").over(w))
    out = sorted(
        r["p_partkey"]
        for r in df.join(thresholds.select("p_retailprice", "best_cheaper"), "p_retailprice")
        .filter(F.col("best_cheaper").isNull() | (F.col("best_cheaper") <= F.col("p_size")))
        .collect()
    )
    assert out == [1, 2, 4]


def test_interval_overlap_matches_naive_range_join(spark, sf_dir):
    """The grid-bucketed plan must produce EXACTLY the naive range-predicate
    join's pairs — cell bucketing plus the later-start-cell claim is a pure
    execution strategy, not an approximation."""
    from data_integration_and_processing_spark.queries.relational import (
        join_interval_overlap,
    )

    got = {
        (r["id_a"], r["id_b"]): r["overlap_days"]
        for r in join_interval_overlap(spark, sf_dir).collect()
    }

    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    ship = F.col("l_shipdate").cast("date")
    a = l.filter(F.col("l_orderkey") % 401 == 1).select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("id_a"),
        ship.alias("start_a"),
        F.date_add(ship, (F.lit(1) + F.col("l_orderkey") % 13).cast("int")).alias("end_a"),
    )
    b = o.filter(F.col("o_orderkey") % 499 == 1).select(
        F.col("o_orderkey").alias("id_b"),
        F.col("o_orderdate").cast("date").alias("start_b"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("end_b"),
    )
    naive = (
        a.crossJoin(b)
        .filter((F.col("start_a") <= F.col("end_b")) & (F.col("start_b") <= F.col("end_a")))
        .select(
            "id_a",
            "id_b",
            (F.datediff(F.least("end_a", "end_b"), F.greatest("start_a", "start_b")) + 1)
            .cast("bigint")
            .alias("overlap_days"),
        )
    )
    want = {(r["id_a"], r["id_b"]): r["overlap_days"] for r in naive.collect()}
    assert got == want


def test_interval_overlap_no_duplicate_pairs(spark, sf_dir):
    """The later-start-cell claim must emit each overlapping pair exactly
    once even though both intervals explode to multiple cells."""
    from data_integration_and_processing_spark.queries.relational import (
        join_interval_overlap,
    )

    out = join_interval_overlap(spark, sf_dir)
    assert out.count() == out.select("id_a", "id_b").distinct().count()


def test_theil_sen_recovers_a_planted_slope_through_outliers(spark):
    """Plant v = 3.5*t + 10 at daily grain with two wild outlier days: the
    pairwise-slope median must still report ~3.5 (OLS would not)."""
    from data_integration_and_processing_spark.queries.temporal_queries import (
        temporal_theil_sen_slope,
    )

    rows = []
    for day in range(1, 31):
        v = 3.5 * day + 10.0
        if day in (7, 19):  # outliers: an OLS slope moves, the median holds
            v += 500.0
        rows.append(("probe", f"2024-01-{day:02d} 12:00:00", v))
    df = spark.createDataFrame(rows, "event_type string, ts_s string, value double").select(
        "event_type", F.col("ts_s").cast("timestamp").alias("ts"), "value"
    )

    import data_integration_and_processing_spark.queries.temporal_queries as tq

    orig = tq.load_table
    try:
        tq.load_table = lambda s, d, t: df
        out = temporal_theil_sen_slope(spark, "ignored").collect()
    finally:
        tq.load_table = orig
    assert len(out) == 1
    r = out[0]
    assert r["n_days"] == 30
    assert abs(r["theil_sen_slope"] - 3.5) < 1e-6
    # intercept lives on the epoch-day axis: reconstruct the fitted value at
    # a clean (non-outlier) day and compare to the planted line
    from datetime import date

    t15 = (date(2024, 1, 15) - date(1970, 1, 1)).days
    fitted = r["theil_sen_slope"] * t15 + r["theil_sen_intercept"]
    assert abs(fitted - (3.5 * 15 + 10.0)) < 1.0
