"""Streaming-surface queries over ``events``.

The window transformations run in batch mode for the oracle gate (window
starts emitted as epoch seconds — timezone-proof across engines) and in true
Structured Streaming (readStream + watermark + foreachBatch) as a rows-only
check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_integration_and_processing_spark.queries.catalog import register
from data_integration_and_processing_spark.sources.tables import load_table
from data_integration_and_processing_spark.streaming.pipelines import (
    run_stateful_user_stats,
    run_streaming_dedup,
    run_streaming_upsert_sink,
    run_streaming_window_pipeline,
    sessionized,
    sliding_window_counts,
    tumbling_window_counts,
)


@register(
    "stream_tumbling_window",
    oracle="""
        SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS window_start_epoch,
               event_type,
               count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,9))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 1, 2
    """,
    description="10-minute tumbling window aggregation (batch twin of the streaming path)",
    tags=("streaming", "window"),
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").withColumn(
        "value", F.col("value").cast("decimal(18,9)")
    )
    return tumbling_window_counts(e, "10 minutes").select(
        F.unix_timestamp("window_start").alias("window_start_epoch"),
        "event_type",
        "n_events",
        F.col("sum_value").cast("double").alias("sum_value"),
    )


@register(
    "stream_sliding_window",
    oracle="""
        WITH g AS (SELECT event_type, CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS grid FROM events),
        w AS (SELECT event_type, grid AS ws FROM g
              UNION ALL
              SELECT event_type, grid - 300 AS ws FROM g)
        SELECT ws AS window_start_epoch, event_type, count(*) AS n_events
        FROM w GROUP BY ws, event_type
    """,
    description="sliding windows (10 min width / 5 min slide): each event in 2 windows",
    tags=("streaming", "window"),
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return sliding_window_counts(e, "10 minutes", "5 minutes").select(
        F.unix_timestamp("window_start").alias("window_start_epoch"), "event_type", "n_events"
    )


@register(
    "stream_session_window",
    oracle="""
        WITH ordered AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                          OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) >= 30
                        THEN 1 ELSE 0 END AS new_session
            FROM events
        ),
        islands AS (
            SELECT user_id, ts, event_id,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS UNBOUNDED PRECEDING) AS sess
            FROM ordered
        )
        SELECT CAST(floor(epoch(min(ts)) * 1000000) AS BIGINT) AS session_start_us,
               user_id, count(*) AS n_events, min(event_id) AS first_event_id
        FROM islands GROUP BY user_id, sess
    """,
    description="session windows (30s gap) per user; oracle = gaps-and-islands formulation",
    tags=("streaming", "window", "session"),
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return sessionized(e, "30 seconds").select(
        # emit microseconds since epoch: tz-proof and exact
        (F.unix_timestamp("session_start") * 1_000_000
         + F.date_format("session_start", "SSSSSS").cast("long")).alias("session_start_us"),
        "user_id",
        "n_events",
        "first_event_id",
    )


@register(
    "stream_true_streaming_pipeline",
    # Batch twin of append-mode watermark semantics: a bounded availableNow
    # replay emits exactly the windows the final watermark (max event time
    # minus the 15-minute delay) has CLOSED — the last, still-open windows
    # stay in state and never reach the sink. That cutoff is pure SQL:
    # window_end <= max(ts) - 15min. An emission bug (dropped window, early
    # flush of an open window, wrong watermark arithmetic) breaks the hash.
    oracle="""
        WITH m AS (SELECT max(ts) AS mx FROM events)
        SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS window_start_epoch,
               event_type,
               count(*) AS n_events
        FROM events, m
        WHERE floor(epoch(ts) / 600) * 600 + 600 <= epoch(mx) - 900
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    description="true Structured Streaming: readStream + watermark + foreachBatch sink (availableNow)",
    tags=("streaming",),
)
def stream_true_streaming_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    out = run_streaming_window_pipeline(spark, e, width="10 minutes", watermark="15 minutes")
    return out.select(
        F.unix_timestamp("window_start").alias("window_start_epoch"),
        "event_type",
        "n_events",
    ).orderBy("window_start_epoch", "event_type")


@register(
    "stream_rollup_cascade",
    oracle="""
        SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS hour_start_epoch,
               event_type,
               count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,9))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2
    """,
    description=(
        "hypertable-style continuous-aggregate cascade: 1min partials -> 10min -> 1h, "
        "each level re-aggregating the previous (lossless for sum/count); oracle computes "
        "the 1h level directly from raw events, proving the cascade exact"
    ),
    tags=("streaming", "window", "rollup"),
)
def stream_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").withColumn(
        "value", F.col("value").cast("decimal(18,9)")
    )
    # Level 0: 1-minute leaf aggregates — the only scan of raw data. At
    # scale this is the materialized continuous aggregate; coarser levels
    # read partials, so re-rollup cost is O(#buckets), not O(#events).
    m1 = (
        e.groupBy(F.window("ts", "1 minute").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("bucket"), "event_type", "n_events", "sum_value")
    )
    m10 = (
        m1.groupBy(F.window("bucket", "10 minutes").alias("w"), "event_type")
        .agg(F.sum("n_events").alias("n_events"), F.sum("sum_value").alias("sum_value"))
        .select(F.col("w.start").alias("bucket"), "event_type", "n_events", "sum_value")
    )
    h1 = (
        m10.groupBy(F.window("bucket", "1 hour").alias("w"), "event_type")
        .agg(F.sum("n_events").alias("n_events"), F.sum("sum_value").alias("sum_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("hour_start_epoch"),
            "event_type",
            "n_events",
            F.col("sum_value").cast("double").alias("sum_value"),
        )
    )
    return h1


@register(
    "stream_stateful_user_stats",
    oracle="""
        SELECT user_id, count(*) AS n_events,
               min(event_id) AS first_event_id, max(event_id) AS last_event_id
        FROM events GROUP BY user_id
    """,
    description="custom stateful streaming operator (applyInPandasWithState): per-user running stats; final state equals the batch aggregate",
    tags=("streaming", "stateful", "pandas-udf"),
)
def stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return run_stateful_user_stats(spark, e)


@register(
    "stream_upsert_sink",
    oracle="""
        SELECT user_id, count(*) AS n_events,
               min(event_id) AS first_event_id, max(event_id) AS last_event_id
        FROM events GROUP BY user_id
    """,
    description="streaming merge-into-warehouse: stateful updates upserted per micro-batch via foreachBatch; final table equals the batch aggregate",
    tags=("streaming", "stateful", "sink", "merge"),
)
def stream_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return run_streaming_upsert_sink(spark, e)


@register(
    "stream_dedup_watermark",
    oracle="""
        SELECT event_type, count(*) AS n_events
        FROM events GROUP BY event_type
    """,
    description="streaming exact dedup under a watermark: replay every event twice, dropDuplicates(event_id) keeps one each",
    tags=("streaming", "dedup", "north-star"),
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return run_streaming_dedup(spark, e)


@register(
    "stream_static_join",
    oracle="""
        WITH dim AS (
            SELECT DISTINCT event_type,
                   CASE WHEN event_type IN ('purchase', 'signup') THEN 'conversion'
                        WHEN event_type = 'error' THEN 'failure'
                        ELSE 'engagement' END AS category
            FROM events
        )
        SELECT d.category, count(*) AS n_events
        FROM events e JOIN dim d ON e.event_type = d.event_type
        GROUP BY d.category
    """,
    description="stream-static join: micro-batches broadcast-joined to a static dimension, landed via foreachBatch",
    tags=("streaming", "join"),
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.streaming.pipelines import run_stream_static_join

    e = load_table(spark, sf_dir, "events")
    dim = e.select("event_type").distinct().withColumn(
        "category",
        F.when(F.col("event_type").isin("purchase", "signup"), "conversion")
        .when(F.col("event_type") == "error", "failure")
        .otherwise("engagement"),
    )
    out = run_stream_static_join(spark, e, dim, on="event_type")
    return out.groupBy("category").agg(F.count("*").alias("n_events"))


@register(
    "stream_gapfill_locf",
    oracle="""
        WITH bounds AS (
            SELECT CAST(floor(epoch(min(ts)) / 600) * 600 AS BIGINT) AS lo,
                   CAST(floor(epoch(max(ts)) / 600) * 600 AS BIGINT) AS hi
            FROM events
        ),
        grid AS (
            SELECT e.event_type, g.bucket
            FROM (SELECT DISTINCT event_type FROM events) e,
                 bounds b,
                 LATERAL unnest(generate_series(b.lo, b.hi, 600)) AS g(bucket)
        ),
        agg AS (
            SELECT event_type, CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS bucket,
                   count(*) AS n_events
            FROM events GROUP BY 1, 2
        )
        SELECT g.event_type, g.bucket AS bucket_epoch,
               coalesce(a.n_events, 0) AS n_events,
               coalesce(a.n_events,
                        lag(a.n_events IGNORE NULLS)
                            OVER (PARTITION BY g.event_type ORDER BY g.bucket)) AS n_events_locf
        FROM grid g LEFT JOIN agg a ON g.event_type = a.event_type AND g.bucket = a.bucket
    """,
    description=(
        "time-series gap-filling + LOCF: dense 10-min bucket grid per event type (sequence + "
        "explode — no driver loop), missing buckets zero-filled and last-observation-carried-forward"
    ),
    tags=("streaming", "window", "timeseries"),
)
def stream_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    bucket = (F.floor(F.unix_timestamp("ts") / 600) * 600).cast("long")
    agg = e.groupBy(F.col("event_type"), bucket.alias("bucket")).agg(F.count("*").alias("n_events"))
    bounds = e.agg(
        (F.floor(F.unix_timestamp(F.min("ts")) / 600) * 600).cast("long").alias("lo"),
        (F.floor(F.unix_timestamp(F.max("ts")) / 600) * 600).cast("long").alias("hi"),
    )
    # dense grid = distinct keys x sequence(lo, hi, 600), exploded in-plan;
    # at scale the grid is |keys| x |buckets| rows of two longs — tiny next
    # to the fact table, and generated without any driver-side loop
    grid = (
        e.select("event_type").distinct()
        .crossJoin(F.broadcast(bounds))
        .select("event_type", F.explode(F.sequence("lo", "hi", F.lit(600))).alias("bucket"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("bucket")
    filled = (
        grid.join(agg, ["event_type", "bucket"], "left")
        .select(
            "event_type",
            F.col("bucket").alias("bucket_epoch"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce(
                "n_events", F.last("n_events", ignorenulls=True).over(w)
            ).alias("n_events_locf"),
        )
    )
    return filled


@register(
    "stream_sessionize_by_gap",
    oracle="""
        WITH flagged AS (
            -- exact epoch-microsecond gap: ts carries microseconds, and
            -- second-truncated comparisons can flip boundary gaps
            SELECT user_id, event_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT user_id, event_id, ts,
               CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS session_seq
        FROM flagged
    """,
    description=(
        "gap-based sessionization (30-min inactivity): lag flags session starts, a "
        "running sum numbers them — one shuffle on user_id shared by both window passes "
        "(same partition key => no second exchange). The explicit-session-id twin of "
        "session_window aggregation."
    ),
    tags=("streaming", "window", "sessionization"),
)
def stream_sessionize_by_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    flagged = e.select(
        "user_id",
        "event_id",
        "ts",
        F.when(
            prev.isNull()
            | (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(prev.cast("timestamp"))
                > 1_800_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    return flagged.select(
        "user_id",
        "event_id",
        "ts",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).alias("session_seq"),
    ).drop("new_sess")


@register(
    "stream_stream_join",
    oracle="""
        SELECT c.user_id AS c_user, c.event_id AS click_id, p.event_id AS purchase_id
        FROM events c
        JOIN events p
          ON c.user_id = p.user_id
         AND c.event_type = 'click' AND p.event_type = 'purchase'
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
    description=(
        "true stream-STREAM inner join (clicks x purchases within 30 min per user): "
        "watermarks on both sides + event-time-bounded condition so join state is "
        "reclaimable — replayed via availableNow, value-checked against the batch twin"
    ),
    tags=("streaming", "join", "stateful"),
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.streaming.pipelines import (
        run_stream_stream_join,
    )

    e = load_table(spark, sf_dir, "events")
    return run_stream_stream_join(spark, e)


@register(
    "stream_cdc_apply",
    oracle="""
        WITH log AS (
            SELECT c_custkey, c_name, c_acctbal, 1 AS seq, 'I' AS op FROM customer
            UNION ALL
            SELECT c_custkey, c_name, c_acctbal + 50.0, 2, 'U' FROM customer
            WHERE c_custkey % 7 = 2
            UNION ALL
            SELECT c_custkey, c_name, c_acctbal, 3, 'D' FROM customer
            WHERE c_custkey % 13 = 5
        ),
        latest AS (
            SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY seq DESC) AS rn
            FROM log
        )
        SELECT c_custkey, c_name, c_acctbal FROM latest WHERE rn = 1 AND op <> 'D'
    """,
    description=(
        "streaming CDC replay: the same I/U/D changelog as etl_cdc_apply delivered "
        "as micro-batches (maxFilesPerTrigger=1) and merged seq-aware with tombstone "
        "retention via foreachBatch — final sink state equals the batch collapse "
        "regardless of batch boundaries or arrival order"
    ),
    tags=("streaming", "cdc", "incremental", "sink"),
)
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.streaming.pipelines import (
        run_streaming_cdc_apply,
    )

    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    inserts = c.select("*", F.lit(1).alias("seq"), F.lit("I").alias("op"))
    updates = (
        c.filter(F.col("c_custkey") % 7 == 2)
        .withColumn("c_acctbal", F.col("c_acctbal") + 50.0)
        .select("*", F.lit(2).alias("seq"), F.lit("U").alias("op"))
    )
    deletes = c.filter(F.col("c_custkey") % 13 == 5).select(
        "*", F.lit(3).alias("seq"), F.lit("D").alias("op")
    )
    log = inserts.unionByName(updates).unionByName(deletes)
    return run_streaming_cdc_apply(spark, log, key_cols=["c_custkey"])


@register(
    "stream_hll_incremental",
    # HLL sketch binaries are engine-specific, so the driver-checked output
    # is the exact batch distinct count plus the streamed estimate's 2%
    # accuracy bound as a boolean. Register-exact
    # equality with the one-shot batch sketch (any batching, any order)
    # stays pinned in tests/test_analytics.py.
    oracle="""
        SELECT event_type,
               CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct_users,
               true AS within_2pct
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    description=(
        "incremental distinct-user counting over a stream: per-micro-batch HLL "
        "sketches of user_id unioned into O(event_types) persistent state — the "
        "streaming complement of agg_hll_mergeable_rollup; exact-dedup streaming "
        "state would grow with distinct users, sketch state never does. "
        "Driver-checked against the exact batch distinct + a 2% accuracy boolean"
    ),
    tags=("streaming", "sketch", "incremental"),
)
def stream_hll_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.streaming.pipelines import (
        run_streaming_hll_distinct,
    )

    e = load_table(spark, sf_dir, "events").select("event_id", "event_type", "user_id")
    est = run_streaming_hll_distinct(spark, e)
    exact = e.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_distinct_users")
    )
    # ANSI-safe zero guard: all-NULL user_id in a type would make
    # the denominator 0 and fail the query under ANSI; fall back to exactness.
    rel_err = (
        F.abs(F.col("est_distinct_users") - F.col("exact_distinct_users"))
        / F.col("exact_distinct_users")
    )
    within = F.when(F.col("exact_distinct_users") > 0, rel_err <= 0.02).otherwise(
        F.col("est_distinct_users") == 0
    )
    return (
        est.join(exact, "event_type")
        .select("event_type", "exact_distinct_users", within.alias("within_2pct"))
        .orderBy("event_type")
    )


@register(
    "stream_jdbc_upsert_sink",
    oracle="""
        SELECT user_id, count(*) AS n_events,
               min(event_id) AS first_event_id, max(event_id) AS last_event_id
        FROM events GROUP BY user_id
    """,
    description=(
        "streaming upsert into a LIVE JDBC warehouse (embedded Derby): stateful "
        "per-user aggregates land per micro-batch as DELETE-matched-keys + batched "
        "INSERT inside foreachBatch — the portable JDBC upsert; result read back "
        "over JDBC and value-checked against the batch aggregate. The streaming "
        "form of the reference's bulk-load path"
    ),
    tags=("streaming", "stateful", "sink", "jdbc", "merge"),
)
def stream_jdbc_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid as _uuid  # noqa: PLC0415

    from data_integration_and_processing_spark.streaming.pipelines import (  # noqa: PLC0415
        run_streaming_jdbc_upsert,
    )

    e = load_table(spark, sf_dir, "events")
    url = f"jdbc:derby:/tmp/diaps_scratch/derby_stream_{_uuid.uuid4().hex[:8]};create=true"
    return run_streaming_jdbc_upsert(spark, e, url)


@register(
    "stream_countmin_heavy_hitters",
    # xxhash64 bucket coordinates have no DuckDB twin, so the driver-checked
    # output is a one-row summary of the CMS guarantees over the streamed
    # top-k: estimates never underestimate, overestimate
    # <= eps*N, and every selected user's TRUE count is within eps*N of the
    # exact 10th-highest (est >= true implies a selected user can only
    # displace a true heavy hitter by overestimate, bounded by eps*N).
    # Batch/stream sketch identity stays pinned in tests/test_analytics.py.
    oracle="""
        SELECT 10 AS k, CAST(10 AS BIGINT) AS n_selected,
               true AS never_underestimates,
               true AS within_eps_band,
               true AS min_true_in_band
    """,
    description=(
        "streaming heavy hitters in bounded state: per-micro-batch Count-Min "
        "counter tables merged into persistent state by counter ADDITION (the "
        "frequency-analogue of stream_hll_incremental's register max), plus a "
        "k-per-batch exact candidate set; final top-k estimated from the merged "
        "sketch. State is O(depth*width + candidates) however long the stream or "
        "wide the key space"
    ),
    tags=("streaming", "sketch", "incremental"),
)
def stream_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.streaming.pipelines import (  # noqa: PLC0415
        CMS_WIDTH,
        run_streaming_countmin_heavy_hitters,
    )

    e = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    top = run_streaming_countmin_heavy_hitters(spark, e, k=10)
    exact = e.groupBy("user_id").agg(F.count("*").alias("true_count"))
    eps_n = (2.718281828 / CMS_WIDTH) * e.count()  # eps = e/width, same width the pipeline built
    t10 = (
        exact.orderBy(F.desc("true_count"), F.asc("user_id"))
        .limit(10)
        .agg(F.min("true_count").alias("t10"))
    )
    return (
        top.join(exact, "user_id")
        .crossJoin(F.broadcast(t10))  # broadcast-scalar: 1-row aggregate
        .agg(
            F.lit(10).alias("k"),
            F.count("*").alias("n_selected"),
            F.bool_and(F.col("est_count") >= F.col("true_count")).alias("never_underestimates"),
            F.bool_and(F.col("est_count") <= F.col("true_count") + F.lit(eps_n)).alias(
                "within_eps_band"
            ),
            F.bool_and(F.col("true_count") >= F.col("t10") - F.lit(eps_n)).alias(
                "min_true_in_band"
            ),
        )
    )


@register(
    "stream_pattern_detect",
    # the batch twin's oracle, unchanged: the DFA fold must agree with the
    # regexp over the whole ordered history regardless of chunk boundaries
    oracle=f"""
WITH seqs AS (
    SELECT user_id,
           count(*) AS n_events,
           string_agg(substr(event_type, 1, 1), '' ORDER BY event_id) AS seq
    FROM events GROUP BY user_id
)
SELECT user_id, n_events,
       CAST(len(regexp_extract_all(seq, 'v[^p]*c[^p]*p')) AS INT) AS n_matches
FROM seqs
WHERE len(regexp_extract_all(seq, 'v[^p]*c[^p]*p')) > 0
ORDER BY user_id
""",
    description=(
        "streaming MATCH_RECOGNIZE: the batch pattern regex compiled to a 3-state "
        "DFA carried through applyInPandasWithState — per-user state is three "
        "integers however long the stream (the batch twin's symbol string grows "
        "with history). Ordered replay via event_id-range chunk staging; "
        "hash-checked against the batch twin's SQL oracle, so chunk boundaries "
        "provably cannot change the answer"
    ),
    tags=("streaming", "stateful", "analytics"),
)
def stream_pattern_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.streaming.pipelines import (  # noqa: PLC0415
        run_streaming_pattern_detect,
    )

    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "ts")
    return run_streaming_pattern_detect(spark, e).orderBy("user_id")


@register(
    "stream_quantile_rollup",
    # The summaries are engine-specific GK-style sketches and the merge path
    # is replay-dependent, so the driver-checked output is the EXACT batch
    # percentiles (quantile_cont parity) plus the streamed estimate's
    # compounded rank-error budget as a boolean;
    # the tighter numeric budget stays pinned in tests/test_quantile_digest.py.
    oracle="""
        SELECT event_type, CAST(0.5 AS DOUBLE) AS p,
               round(quantile_cont(value, 0.5), 6) AS exact_value, true AS rank_ok
        FROM events GROUP BY event_type
        UNION ALL
        SELECT event_type, CAST(0.9 AS DOUBLE) AS p,
               round(quantile_cont(value, 0.9), 6) AS exact_value, true AS rank_ok
        FROM events GROUP BY event_type
        UNION ALL
        SELECT event_type, CAST(0.99 AS DOUBLE) AS p,
               round(quantile_cont(value, 0.99), 6) AS exact_value, true AS rank_ok
        FROM events GROUP BY event_type
        ORDER BY event_type, p
    """,
    description=(
        "streaming quantiles in O(B) state per key: per-micro-batch equi-depth "
        "summaries merged into persistent state by weighted-CDF re-quantization — "
        "the third streaming sketch family (HLL merges by register max, CMS by "
        "counter addition, quantile digests by chunk stacking). Each merge adds "
        "<= 1/B rank error; driver-checked as exact batch percentiles plus the "
        "0.05 compounded rank-budget boolean"
    ),
    tags=("streaming", "sketch", "incremental", "percentile"),
)
def stream_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.streaming.pipelines import (  # noqa: PLC0415
        run_streaming_quantile_digest,
    )

    e = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value", "ts")
    audited = run_streaming_quantile_digest(spark, e)
    targets = F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))
    exact = (
        e.groupBy("event_type")
        .agg(F.percentile("value", targets).alias("ex"))
        .select("event_type", F.posexplode("ex").alias("pos", "exact_value"))
        .select(
            "event_type",
            F.element_at(targets, F.col("pos").cast("int") + 1).alias("p"),
            "exact_value",
        )
    )
    return (
        audited.select("event_type", "p", (F.col("rank_err") <= 0.05).alias("rank_ok"))
        .join(exact, ["event_type", "p"])
        .select("event_type", "p", F.round("exact_value", 6).alias("exact_value"), "rank_ok")
        .orderBy("event_type", "p")
    )


@register(
    "stream_python_source_replay",
    oracle="""
        SELECT event_type,
               count(*) AS n_events,
               CAST(sum(event_id) AS BIGINT) AS sum_ids,
               min(value) AS min_value,
               max(value) AS max_value
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    description=(
        "custom Python STREAMING data source (Spark 4 SimpleDataSourceStreamReader "
        "over the events fixture, offsets = positions in the event_id total "
        "order) driven through repeated cold stop/restart rounds sharing one "
        "checkpoint — the final aggregate hash-matches the batch oracle, proving "
        "exactly-once delivery across restarts from offset bookkeeping alone "
        "(readBetweenOffsets replays retried batches bit-identically)"
    ),
    tags=("streaming", "source", "incremental", "scale"),
)
def stream_python_source_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.streaming.pipelines import (  # noqa: PLC0415
        run_python_source_replay,
    )

    return run_python_source_replay(spark, f"{sf_dir}/events.parquet")


@register(
    "stream_neardup_incremental",
    # Audit form: MinHash-LSH banding has no DuckDB
    # twin, so the driver-checked output is the exact SQL-computable fixture
    # arithmetic plus the batch-vs-stream equivalence boolean: the set of
    # documents the stream accepts across micro-batches must EQUAL the
    # one-shot minhash_lsh_dedup survivor set over the same corpus (measured
    # set-identical at sf0.001 and sf0.01: 292/292 and 297/297, zero ids in
    # either difference — within-batch min-id + earlier-batch-wins composes
    # to the same survivor rule as global min-id because the staged stream
    # replays in id order and every planted copy carries a larger id than
    # its original). Copies floor measured 2-4 of 75 kept (<= 10%).
    # Order-free cluster contract additionally pinned in
    # tests/test_incremental_neardup.py.
    oracle="""
        SELECT CAST(sum(CASE WHEN doc_id < 300 THEN 1 ELSE 0 END)
                  + sum(CASE WHEN doc_id < 300 AND doc_id % 4 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_input,
               CAST(sum(CASE WHEN doc_id < 300 AND doc_id % 4 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_copies,
               true AS stream_equals_oneshot_ok,
               true AS copies_drop_ok
        FROM documents
    """,
    description=(
        "streaming NEAR-dedup: each micro-batch near-dedups within itself, then "
        "checks against the persistent banded-LSH index of everything accepted so "
        "far and appends only its survivors' index rows — state is the corpus "
        "index itself, grown by accepted docs only (every duplicate adds "
        "nothing), and per-batch cost is O(batch + matched buckets) however much "
        "history the stream has accumulated. The streaming twin of "
        "dedup_incremental_neardup. Driver-checked in audit form: exact fixture "
        "counts + booleans that the stream's accepted set EQUALS the one-shot "
        "dedup survivor set and that >= 90% of planted near-copies were dropped "
        "(raw accepted ids: stream_neardup_incremental_raw)"
    ),
    tags=("streaming", "dedup", "incremental", "north-star"),
)
def stream_neardup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F  # noqa: PLC0415

    from data_integration_and_processing_spark.operators.dedup import (  # noqa: PLC0415
        minhash_lsh_dedup,
    )
    from data_integration_and_processing_spark.streaming.pipelines import (  # noqa: PLC0415
        run_streaming_neardup,
    )

    d, copies, stream_input = _stream_neardup_fixture(spark, sf_dir)
    accepted = run_streaming_neardup(spark, stream_input).localCheckpoint(eager=True)
    oneshot = (
        minhash_lsh_dedup(stream_input, text_col="text", id_col="doc_id")
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    counts = d.agg(
        (
            F.sum((F.col("doc_id") < 300).cast("long"))
            + F.sum(((F.col("doc_id") < 300) & (F.col("doc_id") % 4 == 0)).cast("long"))
        ).alias("n_input"),
        F.sum(((F.col("doc_id") < 300) & (F.col("doc_id") % 4 == 0)).cast("long")).alias(
            "n_copies"
        ),
    )
    sym_diff = (
        accepted.join(oneshot, "doc_id", "left_anti")
        .unionByName(oneshot.join(accepted, "doc_id", "left_anti"))
        .agg(F.count("*").alias("_diff"))
        .select((F.col("_diff") == 0).alias("stream_equals_oneshot_ok"))
    )
    copies_drop = (
        copies.select("doc_id")
        .join(accepted, "doc_id", "left_semi")
        .agg(F.count("*").alias("_kept"))
        .crossJoin(copies.agg(F.count("*").alias("_n_cp")))
        .select((F.col("_kept") <= 0.1 * F.col("_n_cp")).alias("copies_drop_ok"))
    )
    return counts.crossJoin(F.broadcast(sym_diff)).crossJoin(F.broadcast(copies_drop))


def _stream_neardup_fixture(spark: SparkSession, sf_dir: str):
    """(documents, planted copies, stream input) for the streaming near-dedup
    fixture: the first 300 docs by id plus truncated near-copies of every 4th
    at id+900_000 (a deterministic filter, not limit(), so the DuckDB oracle
    can reproduce the subset)."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    d = load_table(spark, sf_dir, "documents")
    head = d.filter(F.col("doc_id") < 300)
    words = F.split(F.col("text"), " ")
    truncated = F.array_join(F.slice(words, 1, F.greatest(F.size(words) - 5, F.lit(1))), " ")
    copies = head.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 900_000).alias("doc_id"), truncated.alias("text")
    )
    return d, copies, head.select("doc_id", "text").unionByName(copies)


def stream_neardup_incremental_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw accepted doc_ids from the streaming near-dedup (the pre-audit-form
    registered output)."""
    from data_integration_and_processing_spark.streaming.pipelines import (  # noqa: PLC0415
        run_streaming_neardup,
    )

    _, _, stream_input = _stream_neardup_fixture(spark, sf_dir)
    return run_streaming_neardup(spark, stream_input)


@register(
    "stream_backfill_then_tail",
    oracle="""
        SELECT event_type,
               count(*) AS n_events,
               CAST(sum(event_id) AS BIGINT) AS sum_ids
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    description=(
        "batch-backfill + streaming-tail handoff (the kappa/lambda seam): history "
        "up to the cutover timestamp aggregates as a BATCH job, the tail replays "
        "through a real checkpointed stream, and the union must equal the plain "
        "batch aggregate over everything — which only holds when the boundary "
        "condition is exactly complementary (<= cutover vs > cutover; an off-by-"
        "one here double-counts or drops the cutover instant, the classic "
        "migration bug this oracle pins). Integer-only measures so the check is "
        "exact"
    ),
    tags=("streaming", "etl", "incremental", "aggregation"),
)
def stream_backfill_then_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid as _uuid  # noqa: PLC0415

    from data_integration_and_processing_spark.streaming.pipelines import (  # noqa: PLC0415
        _staged_stream,
        drain_available_now,
    )

    e = load_table(spark, sf_dir, "events").select("event_id", "event_type", "ts")
    cutover = e.agg(F.expr("percentile(unix_micros(CAST(ts AS TIMESTAMP)), 0.7)")).collect()[0][0]
    us = F.unix_micros(F.col("ts").cast("timestamp"))

    batch_part = (
        e.filter(us <= F.lit(int(cutover)))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("event_id").alias("s"))
    )

    scratch = f"/tmp/diaps_handoff_{_uuid.uuid4().hex[:8]}"
    tail_src = e.filter(us > F.lit(int(cutover)))
    stream, sink = _staged_stream(spark, tail_src, scratch)
    agg = stream.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("event_id").alias("s")
    )
    drain_available_now(
        agg.writeStream.outputMode("complete").format("memory").queryName("handoff_tail"), scratch
    )
    tail_part = spark.table("handoff_tail")

    return (
        batch_part.unionByName(tail_part)
        .groupBy("event_type")
        .agg(F.sum("n").alias("n_events"), F.sum("s").alias("sum_ids"))
        .orderBy("event_type")
    )


@register(
    "stream_incremental_mv",
    oracle="""
        SELECT event_type,
               count(*) AS n_rows,
               round(sum(value), 2) AS sum_value
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    description=(
        "streaming materialized-view maintenance: every micro-batch merged "
        "into the running (count, sum) aggregate via incremental_agg_merge "
        "inside foreachBatch — warehouse MV refresh without rescanning "
        "history, state in crash-replay-idempotent versioned directories. "
        "The oracle is the one-shot batch aggregate over the whole stream: "
        "the MATCH proves batch-boundary invariance"
    ),
    tags=("streaming", "etl", "aggregation", "incremental", "stateful"),
)
def stream_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.streaming.pipelines import (  # noqa: PLC0415
        run_streaming_incremental_mv,
    )

    e = load_table(spark, sf_dir, "events").select("event_type", "value", "ts", "event_id")
    return run_streaming_incremental_mv(spark, e)


_DYN_GAP_SQL = """CASE event_type WHEN 'view' THEN 600000000
                                  WHEN 'click' THEN 1800000000
                                  WHEN 'purchase' THEN 3600000000
                                  ELSE 1200000000 END"""


@register(
    "stream_session_window_dynamic",
    oracle=f"""
        WITH g AS (
            SELECT user_id, event_id, epoch_us(ts) AS tus,
                   {_DYN_GAP_SQL} AS gap_us
            FROM events
        ),
        m AS (
            SELECT user_id, event_id, tus, gap_us,
                   max(tus + gap_us) OVER (PARTITION BY user_id ORDER BY tus, event_id
                                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS prev_max_end
            FROM g
        ),
        f AS (
            SELECT user_id, event_id, tus, gap_us,
                   CASE WHEN prev_max_end IS NULL OR tus >= prev_max_end THEN 1 ELSE 0 END
                       AS new_sess
            FROM m
        ),
        i AS (
            SELECT user_id, tus, gap_us,
                   CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY tus, event_id
                                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS sess
            FROM f
        )
        SELECT user_id,
               CAST(min(tus) AS BIGINT) AS session_start_us,
               CAST(max(tus + gap_us) AS BIGINT) AS session_end_us,
               CAST(count(*) AS BIGINT) AS n_events
        FROM i GROUP BY user_id, sess
        ORDER BY user_id, session_start_us
    """,
    description=(
        "DYNAMIC-gap session windows (Spark's session_window with a per-event "
        "gap expression: views idle out in 10 min, clicks 30, purchases 60): "
        "the engine's native merging-session-state operator, pinned against "
        "an independent gaps-and-islands derivation — with per-event gaps the "
        "lag-based island flag is WRONG (a long-gap event can bridge over a "
        "short-gap successor), so the oracle uses the running max of ts+gap "
        "(exclusive end: an event AT the boundary opens a new session). "
        "Batch mode here; the identical expression drops into readStream + "
        "watermark for the streaming deployment. One user-keyed exchange"
    ),
    tags=("streaming", "window", "session", "sessionization"),
)
def stream_session_window_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    gap = (
        F.when(F.col("event_type") == "view", "10 minutes")
        .when(F.col("event_type") == "click", "30 minutes")
        .when(F.col("event_type") == "purchase", "1 hour")
        .otherwise("20 minutes")
    )
    sw = e.groupBy(F.session_window(F.col("ts"), gap), F.col("user_id")).agg(
        F.count("*").cast("bigint").alias("n_events")
    )
    return sw.select(
        "user_id",
        F.unix_micros(F.col("session_window.start").cast("timestamp")).alias("session_start_us"),
        F.unix_micros(F.col("session_window.end").cast("timestamp")).alias("session_end_us"),
        "n_events",
    ).orderBy("user_id", "session_start_us")


_KMV_STREAM_K = 64
# the kth hash's first 8 hex chars as an exact BIGINT (the KMV estimate
# is a rational — see _KMV_HASH_INT_SQL in
# analytics_queries for the class note)
_KMV_STREAM_HASH_INT = (
    "list_reduce(list_transform(string_split(substr(kth_hash, 1, 8), ''), "
    "c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), "
    "(a, x) -> a * 16 + x)"
)


@register(
    "stream_kmv_incremental",
    # Unlike stream_hll_incremental (engine-opaque registers, boolean-bound
    # oracle), KMV state is plain md5 strings: the streamed end-state —
    # sketch size, kth hash AND estimate — is EXACTLY the batch sketch, so
    # the whole row value-hash checks against a direct SQL twin.
    oracle=f"""
        WITH vals AS (
            SELECT DISTINCT event_type, md5(CAST(user_id AS VARCHAR)) AS fp
            FROM events
        ),
        ranked AS (
            SELECT event_type, fp,
                   row_number() OVER (PARTITION BY event_type ORDER BY fp) AS rn
            FROM vals
        ),
        sk AS (
            SELECT event_type, CAST(count(*) AS BIGINT) AS n_sketch,
                   max(fp) AS kth_hash
            FROM ranked WHERE rn <= {_KMV_STREAM_K} GROUP BY event_type
        ),
        exact AS (
            SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct_users
            FROM events GROUP BY event_type
        )
        SELECT s.event_type, e.exact_distinct_users, s.n_sketch, s.kth_hash,
               CASE WHEN s.n_sketch < {_KMV_STREAM_K} THEN s.n_sketch * 10000
                    ELSE CAST(({_KMV_STREAM_K} - 1) * 42949672960000
                              // ({_KMV_STREAM_HASH_INT}) AS BIGINT)
               END AS est_distinct_users_e4
        FROM sk s JOIN exact e ON e.event_type = s.event_type
        ORDER BY s.event_type
    """,
    description=(
        "incremental KMV distinct sketch over a stream: per-micro-batch "
        "bottom-k merge into O(types * k) persistent state (the streaming "
        "complement of agg_kmv_distinct_sketch; exact-dedup state would grow "
        "with distinct users, sketch state never does). Bottom-k-of-union is "
        "associative + idempotent, so the streamed end-state equals the "
        "one-shot batch sketch for ANY batching — and because KMV state is "
        "plain md5 strings, the sketch size, kth hash and estimate are "
        "value-hash checked EXACTLY against the SQL twin, with the exact "
        "batch distinct count alongside"
    ),
    tags=("streaming", "sketch", "incremental"),
)
def stream_kmv_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.streaming.pipelines import (  # noqa: PLC0415
        run_streaming_kmv_distinct,
    )

    e = load_table(spark, sf_dir, "events").select("event_id", "event_type", "user_id")
    est = run_streaming_kmv_distinct(spark, e, k=_KMV_STREAM_K)
    exact = e.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("exact_distinct_users")
    )
    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            "exact_distinct_users",
            "n_sketch",
            "kth_hash",
            "est_distinct_users_e4",
        )
        .orderBy("event_type")
    )


@register(
    "stream_fd_incremental",
    # Audit form: FD merge is associative but not batching-invariant (a
    # different micro-batching gives a different, equally valid sketch),
    # so unlike stream_kmv_incremental the state cannot hash-check against
    # a one-shot twin; the driver-checked row is the exactly-folding
    # scalars (n, Frobenius mass — batching-invariant sums, SQL-exact)
    # plus the worst-case guarantee booleans, which hold for ANY batching.
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_vectors,
               round(sum(list_sum(list_transform(embedding, x -> x * x))), 4)
                   AS frob_sq,
               CAST(32 AS BIGINT) AS sketch_rows,
               true AS psd_ok,
               true AS spectral_bound_ok
        FROM embeddings
    """,
    description=(
        "streaming Frequent-Directions: each micro-batch's vectors fold into "
        "a persistent l x d Gram sketch by concatenate+shrink — O(l*d) state "
        "forever, the matrix analogue of the streaming KMV/HLL sketches "
        "(incremental covariance/PCA over an embedding stream without ever "
        "re-scanning history). n and ||A||_F^2 fold exactly across batches; "
        "the PSD-underestimate and 2||A||_F^2/l spectral-error guarantees "
        "are gated against the exact Gram of the full corpus"
    ),
    tags=("streaming", "analytics", "similarity", "incremental", "north-star"),
)
def stream_fd_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np  # noqa: PLC0415

    from data_integration_and_processing_spark.operators.linalg import (  # noqa: PLC0415
        corpus_moments,
    )
    from data_integration_and_processing_spark.streaming.pipelines import (  # noqa: PLC0415
        run_streaming_frequent_directions,
    )

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    sketch_rows = 32
    sk, n, frob = run_streaming_frequent_directions(spark, e, sketch_rows=sketch_rows)
    n_m, mean, cov = corpus_moments(e)
    gram = n_m * (cov + np.outer(mean, mean))
    diff = gram - sk.T @ sk
    vals = np.linalg.eigvalsh((diff + diff.T) / 2.0)
    psd_ok = bool(vals.min() >= -1e-6 * max(frob, 1.0))
    bound_ok = bool(vals.max() <= 2.0 * frob / sketch_rows + 1e-6 * max(frob, 1.0))
    frob_sq = F.sum(
        F.aggregate(
            F.col("embedding").cast("array<double>"),
            F.lit(0.0),
            lambda acc, x: acc + x * x,
        )
    )
    return e.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.round(frob_sq, 4).alias("frob_sq"),
    ).select(
        "n_vectors",
        "frob_sq",
        F.lit(sketch_rows).cast("long").alias("sketch_rows"),
        F.lit(psd_ok).alias("psd_ok"),
        F.lit(bound_ok).alias("spectral_bound_ok"),
    )


@register(
    "stream_bitmap_distinct_incremental",
    oracle="""
        SELECT event_type,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct_users,
               CAST(count(DISTINCT (user_id + 32767) // 32768) AS BIGINT)
                   AS n_buckets
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    description=(
        "incremental EXACT distinct users per event type over a stream via "
        "bitmap state: per micro-batch each (type, 32768-bit bucket) bitmap "
        "OR-merges into the persistent state — bitmap union is associative/"
        "commutative/idempotent, so the streamed end state equals a one-shot "
        "pass for ANY batching or replay and the count hash-checks EXACTLY "
        "against count(DISTINCT). The exact-answer sibling of "
        "stream_kmv_incremental: O(occupied buckets x 4 KB) state per group "
        "instead of O(k) hashes, exactness instead of an estimate — the "
        "dense-integer-domain trade"
    ),
    tags=("streaming", "analytics", "aggregation", "incremental", "north-star"),
)
def stream_bitmap_distinct_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.streaming.pipelines import (  # noqa: PLC0415
        run_streaming_bitmap_distinct,
    )

    e = load_table(spark, sf_dir, "events").select("event_id", "event_type", "user_id")
    return run_streaming_bitmap_distinct(spark, e)


@register(
    "stream_bigram_lm_incremental",
    oracle="""
        WITH w AS (
            SELECT string_split(text, ' ') AS ws FROM documents
            WHERE len(string_split(text, ' ')) >= 2
        ),
        b AS (
            SELECT ws[i] AS w1, ws[i+1] AS w2
            FROM w, unnest(generate_series(1, len(ws) - 1)) AS t(i)
        ),
        c AS (SELECT w1, w2, count(*) AS n FROM b GROUP BY w1, w2)
        SELECT w1, w2, n,
               CAST((n * 1000000) // sum(n) OVER (PARTITION BY w1) AS BIGINT)
                   AS p_micro
        FROM c
        ORDER BY n DESC, w1, w2
        LIMIT 100
    """,
    description=(
        "incremental bigram-LM maintenance over a document stream: per "
        "micro-batch the batch's (w1, w2) counts ADD into persistent state "
        "— integer addition is associative/commutative, so the streamed "
        "count table equals a one-shot corpus pass EXACTLY for any "
        "batching (the same top-100 P(w2|w1) oracle as text_bigram_lm "
        "hash-checks it). The LM member of the incremental-MV family: the "
        "perplexity filter's model refreshes by reading ONLY new documents "
        "— at 100 TB the state is the O(observed-vocab^2) count table, "
        "never the corpus"
    ),
    tags=("streaming", "text", "incremental", "aggregation", "north-star"),
)
def stream_bigram_lm_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.streaming.pipelines import (  # noqa: PLC0415
        run_streaming_bigram_lm,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return run_streaming_bigram_lm(spark, d)
