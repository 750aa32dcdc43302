"""Time-series analytics queries over ``events`` (operators/temporal.py).

Every query is DuckDB-oracle-checked; all
time arithmetic is epoch-microsecond BIGINT (timezone-proof), weighted sums
go through DECIMAL, and the EWMA recurrence is an identical left-fold in
both engines (``F.aggregate`` vs ``list_reduce``), so even a sequential
float recurrence hash-matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_integration_and_processing_spark.operators.temporal import (
    event_deltas,
    ewma_fold,
    merge_intervals,
    ohlc_bars,
    time_weighted_avg,
)
from data_integration_and_processing_spark.queries.catalog import register
from data_integration_and_processing_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# time-weighted average (LOCF)
# ---------------------------------------------------------------------------

_TWA_ORACLE = """
WITH s AS (
    SELECT event_type,
           epoch_us(ts) AS us,
           CAST(value AS DECIMAL(14,6)) AS v
    FROM events
),
l AS (
    SELECT event_type, us, v,
           lead(us) OVER (PARTITION BY event_type ORDER BY us) AS next_us
    FROM s
),
g AS (
    SELECT event_type,
           sum(v * (next_us - us)) AS wsum,
           max(us) - min(us) AS span_us,
           count(*) AS n_obs
    FROM l GROUP BY event_type
)
SELECT event_type, n_obs, span_us,
       CAST(CAST(wsum * 1000000 AS HUGEINT) // nullif(span_us, 0) AS BIGINT)
           AS time_weighted_avg_micro
FROM g ORDER BY event_type
"""


@register(
    "temporal_time_weighted_avg",
    oracle=_TWA_ORACLE,
    description=(
        "LOCF time-weighted average of value per event_type: each observation "
        "holds until its successor (lead window), weighted sum accumulates as "
        "DECIMAL x exact integer microseconds so partial-aggregation order can't "
        "move the float; one lead window + one aggregate = a single shuffle keyed "
        "by the series key"
    ),
    tags=("temporal", "window", "aggregation"),
)
def temporal_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return time_weighted_avg(e, ["event_type"], ts_col="ts", value_col="value").orderBy(
        "event_type"
    )


# ---------------------------------------------------------------------------
# OHLC bars
# ---------------------------------------------------------------------------

_OHLC_ORACLE = """
WITH s AS (
    SELECT event_type,
           epoch_us(ts) AS us,
           event_id, value
    FROM events
),
r AS (
    SELECT event_type, us // 86400000000 AS bucket_id, us, event_id, value,
           row_number() OVER (PARTITION BY event_type, us // 86400000000
                              ORDER BY us, event_id) AS rn_a,
           row_number() OVER (PARTITION BY event_type, us // 86400000000
                              ORDER BY us DESC, event_id DESC) AS rn_d
    FROM s
)
SELECT event_type, bucket_id,
       max(CASE WHEN rn_a = 1 THEN value END) AS open,
       max(value) AS high,
       min(value) AS low,
       max(CASE WHEN rn_d = 1 THEN value END) AS close,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(14,6))) AS DOUBLE), 6) AS sum_value
FROM r
GROUP BY event_type, bucket_id
ORDER BY event_type, bucket_id
"""


@register(
    "temporal_ohlc_bars",
    oracle=_OHLC_ORACLE,
    description=(
        "daily open/high/low/close downsampling per event_type: min_by/max_by on "
        "the (ts_us, event_id) total order pick open/close inside ONE declarative "
        "partial+final HashAggregate — no window sort, map-side combine, one row "
        "per (series, day) per map task through the shuffle"
    ),
    tags=("temporal", "aggregation"),
)
def temporal_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return ohlc_bars(e, ["event_type"], ts_col="ts", value_col="value").orderBy(
        "event_type", "bucket_id"
    )


# ---------------------------------------------------------------------------
# interval merge (gaps-and-islands)
# ---------------------------------------------------------------------------

_HOLD_US = 600 * 1_000_000  # each event opens a 10-minute activity interval

_ISLANDS_ORACLE = f"""
WITH iv AS (
    SELECT user_id,
           epoch_us(ts) AS s_us,
           epoch_us(ts) + {_HOLD_US} AS e_us,
           event_id
    FROM events
),
flagged AS (
    SELECT user_id, s_us, e_us, event_id,
           CASE WHEN max(e_us) OVER (PARTITION BY user_id ORDER BY s_us, e_us, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     IS NULL
                  OR s_us > max(e_us) OVER (PARTITION BY user_id ORDER BY s_us, e_us, event_id
                                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                THEN 1 ELSE 0 END AS new_island
    FROM iv
),
islands AS (
    -- event_id tiebreak keeps the running sum deterministic when rows tie
    -- on (s_us, e_us) — same user, same timestamp, constant hold
    SELECT user_id, s_us, e_us,
           CAST(sum(new_island) OVER (PARTITION BY user_id ORDER BY s_us, e_us, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS island_id
    FROM flagged
)
SELECT user_id, island_id,
       min(s_us) AS island_start,
       max(e_us) AS island_end,
       count(*) AS n_intervals,
       max(e_us) - min(s_us) AS island_span
FROM islands
GROUP BY user_id, island_id
ORDER BY user_id, island_id
"""


@register(
    "temporal_interval_merge",
    oracle=_ISLANDS_ORACLE,
    description=(
        "gaps-and-islands: merge overlapping 10-minute activity intervals per user "
        "into contiguous sessions via running-max-end break detection + running-sum "
        "island ids — two window passes over ONE partitioning and an aggregate, a "
        "single shuffle keyed by the high-cardinality user_id; pure integer "
        "microsecond arithmetic, exact in any engine"
    ),
    tags=("temporal", "window", "sessionize"),
)
def temporal_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    iv = e.select(
        "user_id",
        us.alias("s_us"),
        (us + F.lit(_HOLD_US)).alias("e_us"),
        "event_id",
    )
    return merge_intervals(iv, ["user_id"], "s_us", "e_us", tiebreak_col="event_id").orderBy(
        "user_id", "island_id"
    )


# ---------------------------------------------------------------------------
# EWMA (sequential fold)
# ---------------------------------------------------------------------------

_EWMA_ALPHA = 0.3

_EWMA_ORACLE = f"""
WITH s AS (
    SELECT user_id,
           list(CAST(value AS DOUBLE)
                ORDER BY epoch_us(ts), event_id) AS vals
    FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(len(vals) AS BIGINT) AS n_obs,
       round(list_reduce(vals, (acc, x) -> {_EWMA_ALPHA} * x + {1.0 - _EWMA_ALPHA} * acc), 6)
           AS ewma,
       round(vals[-1], 6) AS last_value
FROM s ORDER BY user_id
"""


@register(
    "temporal_ewma",
    oracle=_EWMA_ORACLE,
    description=(
        "exponentially-weighted moving average per user — a sequential recurrence "
        "expressed as a left-fold: sort_array(collect_list(struct)) then "
        "F.aggregate, entirely inside whole-stage codegen (no UDF, no Python); "
        "identical fold order to DuckDB's list_reduce gives bit-identical doubles"
    ),
    tags=("temporal", "aggregation", "fold"),
)
def temporal_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return ewma_fold(e, ["user_id"], alpha=_EWMA_ALPHA).orderBy("user_id")


# ---------------------------------------------------------------------------
# ordered deltas / rate
# ---------------------------------------------------------------------------

_DELTAS_ORACLE = """
WITH s AS (
    SELECT user_id, event_id,
           epoch_us(ts) AS us,
           CAST(value AS DOUBLE) AS v
    FROM events
),
l AS (
    SELECT user_id, event_id, us, v,
           lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us,
           lag(v)  OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_v
    FROM s
)
SELECT user_id, event_id,
       us - prev_us AS gap_us,
       round(v - prev_v, 6) + 0 AS delta_value,
       ((CAST(round(v * 10000) AS BIGINT) - CAST(round(prev_v * 10000) AS BIGINT))
        * CAST(100000000 AS BIGINT)) // (us - prev_us) AS rate_per_sec_micro
FROM l WHERE prev_us IS NOT NULL
ORDER BY user_id, event_id
"""


@register(
    "temporal_event_deltas",
    oracle=_DELTAS_ORACLE,
    description=(
        "per-event deltas vs the previous observation (gap microseconds, value "
        "delta, rate/sec): two lags over one window sort, one shuffle keyed by "
        "user_id; row-local subtraction/division is order-independent so no "
        "decimal staging needed"
    ),
    tags=("temporal", "window"),
)
def temporal_event_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return event_deltas(e, ["user_id"]).orderBy("user_id", "event_id")


# ---------------------------------------------------------------------------
# interarrival statistics
# ---------------------------------------------------------------------------

_INTERARRIVAL_ORACLE = """
WITH s AS (
    SELECT event_type,
           epoch_us(ts) AS us,
           event_id
    FROM events
),
l AS (
    SELECT event_type,
           us - lag(us) OVER (PARTITION BY event_type ORDER BY us, event_id) AS gap_us
    FROM s
),
g AS (SELECT event_type, gap_us FROM l WHERE gap_us IS NOT NULL)
SELECT event_type,
       count(*) AS n_gaps,
       CAST(CAST(sum(gap_us) AS HUGEINT) // count(*) AS BIGINT) AS avg_gap_us,
       quantile_cont(CAST(gap_us AS DOUBLE), 0.50) AS p50_gap_us,
       quantile_cont(CAST(gap_us AS DOUBLE), 0.95) AS p95_gap_us,
       CAST(max(gap_us) AS BIGINT) AS max_gap_us
FROM g GROUP BY event_type ORDER BY event_type
"""


@register(
    "temporal_interarrival_stats",
    oracle=_INTERARRIVAL_ORACLE,
    description=(
        "interarrival-time distribution per event_type: lag window for gaps, then "
        "count/mean/exact p50/p95/max in integer microseconds — the mean is an "
        "exact truncating integral division, the max a BIGINT, and the "
        "interpolated percentiles run over DOUBLE-cast integers UNROUNDED (the "
        "binary64 interpolation is engine-identical; a round(.,6) of a seconds "
        "quotient ties exactly on half-microsecond midpoints, a round-half "
        "tie); one window + one aggregate shuffle"
    ),
    tags=("temporal", "window", "percentile"),
)
def temporal_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    gaps = event_deltas(e, ["event_type"]).select("event_type", "gap_us")
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count("*").alias("n_gaps"),
            F.expr("sum(gap_us) div count(*)").alias("avg_gap_us"),
            F.percentile(F.col("gap_us").cast("double"), 0.50).alias("p50_gap_us"),
            F.percentile(F.col("gap_us").cast("double"), 0.95).alias("p95_gap_us"),
            F.max("gap_us").cast("bigint").alias("max_gap_us"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# rolling z-score anomaly detection
# ---------------------------------------------------------------------------

_ZSCORE_WINDOW = 20  # trailing observations (excluding current) per series
_ZSCORE_MIN_N = 10
_ZSCORE_THRESHOLD = 2.5

_ZSCORE_ORACLE = f"""
WITH s AS (
    SELECT event_type, event_id,
           epoch_us(ts) AS us,
           CAST(value AS DOUBLE) AS v,
           CAST(value AS DECIMAL(14,6)) AS vd
    FROM events
),
w AS (
    SELECT event_type, event_id, us, v,
           count(*)      OVER fr AS n_w,
           sum(vd)       OVER fr AS sum_w,
           sum(vd * vd)  OVER fr AS sumsq_w
    FROM s
    WINDOW fr AS (PARTITION BY event_type ORDER BY us, event_id
                  ROWS BETWEEN {_ZSCORE_WINDOW} PRECEDING AND 1 PRECEDING)
),
z AS (
    SELECT event_type, event_id, v, n_w,
           CAST(sum_w AS DOUBLE) / n_w AS mean_w,
           (CAST(sumsq_w AS DOUBLE) - CAST(sum_w AS DOUBLE) * CAST(sum_w AS DOUBLE) / n_w)
               / (n_w - 1) AS var_w
    FROM w WHERE n_w >= {_ZSCORE_MIN_N}
)
SELECT event_type, event_id,
       round(v, 6) AS value,
       round(mean_w, 6) AS rolling_mean,
       round((v - mean_w) / sqrt(var_w), 6) AS zscore
FROM z
WHERE var_w > 0 AND abs((v - mean_w) / sqrt(var_w)) > {_ZSCORE_THRESHOLD}
ORDER BY event_type, event_id
"""


@register(
    "temporal_rolling_zscore",
    oracle=_ZSCORE_ORACLE,
    description=(
        "rolling z-score anomaly detection per series: trailing-20 window of "
        "DECIMAL sufficient statistics (sum, sum-of-squares — exact in any "
        "accumulation order), one IEEE mean/variance/z finish per row, flag "
        "|z| > 2.5. One window pass = one shuffle keyed by the series; the frame "
        "never materializes, only two running decimal sums"
    ),
    tags=("temporal", "window", "anomaly", "quality"),
)
def temporal_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window  # noqa: PLC0415

    e = load_table(spark, sf_dir, "events")
    s = e.select(
        "event_type",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.col("value").cast("double").alias("v"),
        F.col("value").cast("decimal(14,6)").alias("vd"),
    )
    # Sliding-frame aggregates re-scan the frame per row (O(window) adds
    # each); running sums are O(1)/row, and because the sums are DECIMAL the
    # frame sum equals the difference of cumulative sums EXACTLY — so the
    # trailing window is two lagged-cumsum subtractions, not a frame scan.
    ord_w = Window.partitionBy("event_type").orderBy(
        F.col("us").asc(), F.col("event_id").asc()
    )
    run = ord_w.rowsBetween(Window.unboundedPreceding, 0)
    zero = F.lit(0).cast("decimal(14,6)")
    w = (
        s.withColumn("_rn", F.row_number().over(ord_w))
        .withColumn("_cum", F.sum("vd").over(run))
        .withColumn("_cumsq", F.sum(F.col("vd") * F.col("vd")).over(run))
        .withColumn("n_w", F.least(F.col("_rn") - 1, F.lit(_ZSCORE_WINDOW)))
        .withColumn(
            "sum_w",
            F.coalesce(F.lag("_cum", 1).over(ord_w), zero)
            - F.coalesce(F.lag("_cum", _ZSCORE_WINDOW + 1).over(ord_w), zero),
        )
        .withColumn(
            "sumsq_w",
            F.coalesce(F.lag("_cumsq", 1).over(ord_w), zero)
            - F.coalesce(F.lag("_cumsq", _ZSCORE_WINDOW + 1).over(ord_w), zero),
        )
        .filter(F.col("n_w") >= _ZSCORE_MIN_N)
    )
    mean_w = F.col("sum_w").cast("double") / F.col("n_w")
    var_w = (
        F.col("sumsq_w").cast("double")
        - F.col("sum_w").cast("double") * F.col("sum_w").cast("double") / F.col("n_w")
    ) / (F.col("n_w") - 1)
    z = (F.col("v") - mean_w) / F.sqrt(var_w)
    return (
        w.filter((var_w > 0) & (F.abs(z) > _ZSCORE_THRESHOLD))
        .select(
            "event_type",
            "event_id",
            F.round(F.col("v"), 6).alias("value"),
            F.round(mean_w, 6).alias("rolling_mean"),
            F.round(z, 6).alias("zscore"),
        )
        .orderBy("event_type", "event_id")
    )


# ---------------------------------------------------------------------------
# MAD-based outlier audit
# ---------------------------------------------------------------------------

_MAD_K = 1.4826  # consistency constant: MAD ~ sigma for a normal distribution
_MAD_THRESHOLD = 3.0

_MAD_ORACLE = f"""
WITH med AS (
    SELECT event_type, quantile_cont(value, 0.50) AS med_v
    FROM events GROUP BY event_type
),
dev AS (
    SELECT e.event_type, e.value, m.med_v, abs(e.value - m.med_v) AS adev
    FROM events e JOIN med m USING (event_type)
),
mad AS (
    SELECT event_type, quantile_cont(adev, 0.50) AS mad_v
    FROM dev GROUP BY event_type
)
SELECT d.event_type,
       count(*) AS n_rows,
       round(max(m.mad_v), 6) AS mad,
       round(max(d.med_v), 6) AS median_value,
       CAST(sum(CASE WHEN d.adev > {_MAD_THRESHOLD} * {_MAD_K} * m.mad_v THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
ORDER BY d.event_type
"""


@register(
    "quality_outlier_mad",
    oracle=_MAD_ORACLE,
    description=(
        "robust outlier audit per series: median + median-absolute-deviation "
        "(exact interpolated percentiles), flag |x - median| > 3 * 1.4826 * MAD. "
        "Two value-cardinality aggregates broadcast back onto the scan — the "
        "events table is read twice but never shuffled with payload; medians are "
        "per-group scalars, so the joins are broadcast at any scale"
    ),
    tags=("temporal", "quality", "percentile", "anomaly"),
)
def quality_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = e.groupBy("event_type").agg(F.percentile("value", 0.50).alias("med_v"))
    dev = e.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med_v"))
    )
    mad = dev.groupBy("event_type").agg(F.percentile("adev", 0.50).alias("mad_v"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.max("mad_v"), 6).alias("mad"),
            F.round(F.max("med_v"), 6).alias("median_value"),
            F.sum(
                F.when(
                    F.col("adev") > F.lit(_MAD_THRESHOLD * _MAD_K) * F.col("mad_v"), 1
                ).otherwise(0)
            ).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


@register(
    "stream_ewma_stateful",
    oracle=_EWMA_ORACLE,  # the SAME oracle as the batch fold: the streaming
    # recurrence performs the identical float64 operation sequence
    description=(
        "streaming twin of temporal_ewma: the order-dependent recurrence carried "
        "across micro-batches in O(1) per-key state (applyInPandasWithState), "
        "under an explicit per-key ordered-delivery contract (time-range chunk "
        "replay). Hash-matches the batch fold's SQL oracle bit-for-bit — a "
        "stateful streaming operator with a value-checked result"
    ),
    tags=("temporal", "streaming", "stateful", "fold"),
)
def stream_ewma_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.streaming.pipelines import (  # noqa: PLC0415
        run_streaming_ewma,
    )

    e = load_table(spark, sf_dir, "events")
    return run_streaming_ewma(spark, e, alpha=_EWMA_ALPHA).orderBy("user_id")


# ---------------------------------------------------------------------------
# linear-interpolation resampling
# ---------------------------------------------------------------------------

_RESAMPLE_STEP_US = 6 * 3600 * 1_000_000  # 6-hour grid

_RESAMPLE_ORACLE = f"""
WITH obs AS (
    SELECT event_type, epoch_us(ts) AS us, event_id, CAST(value AS DOUBLE) AS v
    FROM events
),
bounds AS (
    SELECT event_type, min(us) AS lo, max(us) AS hi FROM obs GROUP BY event_type
),
grid AS (
    SELECT b.event_type, g.t
    FROM bounds b,
         LATERAL unnest(generate_series(
             (b.lo + {_RESAMPLE_STEP_US} - 1) // {_RESAMPLE_STEP_US} * {_RESAMPLE_STEP_US},
             b.hi, {_RESAMPLE_STEP_US})) AS g(t)
),
unioned AS (
    SELECT event_type, us, 1 AS is_obs, coalesce(event_id, -1) AS ord_id, v, us AS obs_us
    FROM obs
    UNION ALL
    SELECT event_type, t AS us, 0 AS is_obs, -1 AS ord_id, NULL AS v, NULL AS obs_us
    FROM grid
),
scanned AS (
    SELECT event_type, us, is_obs,
           last_value(v IGNORE NULLS)  OVER fr_prev AS prev_v,
           last_value(obs_us IGNORE NULLS) OVER fr_prev AS prev_us,
           first_value(v IGNORE NULLS) OVER fr_next AS next_v,
           first_value(obs_us IGNORE NULLS) OVER fr_next AS next_us
    FROM unioned
    WINDOW fr_prev AS (PARTITION BY event_type ORDER BY us, is_obs DESC, ord_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           fr_next AS (PARTITION BY event_type ORDER BY us, is_obs DESC, ord_id
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type, us AS grid_us,
       CASE WHEN next_us = prev_us THEN CAST(round(prev_v * 10000) AS BIGINT)
            ELSE CAST(round(prev_v * 10000) AS BIGINT)
                 + ((CAST(round(next_v * 10000) AS BIGINT)
                     - CAST(round(prev_v * 10000) AS BIGINT)) * (us - prev_us))
                   // (next_us - prev_us)
       END AS value_interp_e4
FROM scanned
WHERE is_obs = 0 AND prev_us IS NOT NULL AND next_us IS NOT NULL
ORDER BY event_type, grid_us
"""


@register(
    "temporal_resample_linear",
    oracle=_RESAMPLE_ORACLE,
    description=(
        "resample each series to a 6-hour grid with LINEAR interpolation "
        "(completing the resample matrix next to stream_gapfill_locf's LOCF): "
        "grid markers unioned with observations, ONE window partitioning serves "
        "both the backward (last ignore-nulls) and forward (first ignore-nulls) "
        "scans, one interpolation expression per grid row. A single shuffle "
        "keyed by the series; the grid adds |series| x |buckets| marker rows, "
        "tiny next to the fact table"
    ),
    tags=("temporal", "window", "timeseries"),
)
def temporal_resample_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window  # noqa: PLC0415

    e = load_table(spark, sf_dir, "events")
    step = _RESAMPLE_STEP_US
    obs = e.select(
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.lit(1).alias("is_obs"),
        F.coalesce("event_id", F.lit(-1)).alias("ord_id"),
        F.col("value").cast("double").alias("v"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("obs_us"),
    )
    bounds = e.groupBy("event_type").agg(
        F.min(F.unix_micros(F.col("ts").cast("timestamp"))).alias("lo"),
        F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("hi"),
    )
    # exact integer ceil-to-grid: (lo + step-1) - ((lo + step-1) % step) —
    # never a double quotient that could round across a grid boundary
    lo_pad = F.col("lo") + F.lit(step - 1)
    grid_start = lo_pad - (lo_pad % F.lit(step))
    grid = bounds.select(
        "event_type",
        F.explode(F.sequence(grid_start, F.col("hi"), F.lit(step))).alias("us"),
        F.lit(0).alias("is_obs"),
        F.lit(-1).alias("ord_id"),
        F.lit(None).cast("double").alias("v"),
        F.lit(None).cast("long").alias("obs_us"),
    )
    unioned = obs.unionByName(grid)
    order = [F.col("us").asc(), F.col("is_obs").desc(), F.col("ord_id").asc()]
    w_prev = Window.partitionBy("event_type").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_next = Window.partitionBy("event_type").orderBy(*order).rowsBetween(
        0, Window.unboundedFollowing
    )
    scanned = (
        unioned.withColumn("prev_v", F.last("v", ignorenulls=True).over(w_prev))
        .withColumn("prev_us", F.last("obs_us", ignorenulls=True).over(w_prev))
        .withColumn("next_v", F.first("v", ignorenulls=True).over(w_next))
        .withColumn("next_us", F.first("obs_us", ignorenulls=True).over(w_next))
    )
    # exact e4-grid interpolation: values are on the
    # 1e-4 grid, so the lerp ships as integer arithmetic with ONE truncating
    # div — identical on both engines, no float fraction at the boundary
    interp = F.expr(
        "CASE WHEN next_us = prev_us THEN CAST(round(prev_v * 10000, 0) AS BIGINT)"
        " ELSE CAST(round(prev_v * 10000, 0) AS BIGINT)"
        " + ((CAST(round(next_v * 10000, 0) AS BIGINT)"
        " - CAST(round(prev_v * 10000, 0) AS BIGINT)) * (us - prev_us))"
        " div (next_us - prev_us) END"
    )
    return (
        scanned.filter(
            (F.col("is_obs") == 0)
            & F.col("prev_us").isNotNull()
            & F.col("next_us").isNotNull()
        )
        .select(
            "event_type",
            F.col("us").alias("grid_us"),
            interp.alias("value_interp_e4"),
        )
        .orderBy("event_type", "grid_us")
    )


@register(
    "stream_ewma_watermarked",
    oracle=_EWMA_ORACLE,  # same oracle again: the buffered fold commits in
    # event-time order, so disorder does not change the result
    description=(
        "out-of-order-tolerant streaming EWMA: late events (deterministically "
        "delayed into later micro-batches by the replay) buffer in per-key state "
        "until the watermark passes, then fold in event-time order; the emitted "
        "projection over the pending tail makes the final answer the complete "
        "ordered fold — hash-matches the batch fold's SQL oracle despite "
        "disordered delivery. State = O(1) fold + O(watermark window) buffer"
    ),
    tags=("temporal", "streaming", "stateful", "watermark", "fold"),
)
def stream_ewma_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.streaming.pipelines import (  # noqa: PLC0415
        run_streaming_ewma_watermarked,
    )

    e = load_table(spark, sf_dir, "events")
    return run_streaming_ewma_watermarked(spark, e, alpha=_EWMA_ALPHA).orderBy("user_id")


# ---------------------------------------------------------------------------
# Holt linear-trend forecast (coupled recurrences as a struct fold)
# ---------------------------------------------------------------------------

_HOLT_ALPHA = 0.5
_HOLT_BETA = 0.3

# DuckDB 1.0's lambda binder miscompiles a struct lambda whose duplicated
# subexpression re-reads an accumulator field (acc.b resolves to the
# element's field) — so the oracle iterates the recurrence with a recursive
# CTE instead: plain SQL projections, one level per observation index, the
# identical float operation sequence as the Spark fold.
_HOLT_ORACLE = f"""
WITH RECURSIVE s AS (
    SELECT event_type,
           list(CAST(value AS DOUBLE) ORDER BY epoch_us(ts), event_id) AS vals
    FROM events GROUP BY event_type
),
r AS (
    SELECT event_type, 2 AS t, len(vals) AS n, vals,
           vals[1] AS l,
           CASE WHEN len(vals) >= 2 THEN vals[2] - vals[1]
                ELSE CAST(0.0 AS DOUBLE) END AS b
    FROM s
    UNION ALL
    SELECT event_type, t + 1, n, vals,
           {_HOLT_ALPHA} * vals[t] + {1.0 - _HOLT_ALPHA} * (l + b),
           {_HOLT_BETA} * (({_HOLT_ALPHA} * vals[t] + {1.0 - _HOLT_ALPHA} * (l + b)) - l)
               + {1.0 - _HOLT_BETA} * b
    FROM r WHERE t <= n
)
SELECT event_type, CAST(n AS BIGINT) AS n_obs,
       round(l, 6) AS level,
       round(b, 6) AS trend,
       round(l + b, 6) AS forecast_next
FROM r WHERE t = n + 1
ORDER BY event_type
"""


@register(
    "temporal_holt_forecast",
    oracle=_HOLT_ORACLE,
    description=(
        "Holt double-exponential-smoothing forecast per series: TWO coupled "
        "recurrences (level + trend) folded as ONE struct-accumulator left-fold "
        "inside whole-stage codegen — F.aggregate with a struct zero vs DuckDB "
        "list_reduce over structs, identical operation order, bit-identical "
        "doubles. One-step-ahead forecast = level + trend. Same single-shuffle "
        "scale shape as the EWMA fold"
    ),
    tags=("temporal", "aggregation", "fold", "forecast"),
)
def temporal_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    a, b = _HOLT_ALPHA, _HOLT_BETA
    staged = e.select(
        "event_type",
        F.struct(
            F.unix_micros(F.col("ts").cast("timestamp")).alias("u"),
            F.col("event_id").alias("t"),
            F.col("value").cast("double").alias("v"),
        ).alias("_obs"),
    )
    arr = F.array_sort(F.collect_list("_obs"))
    vals = F.transform(arr, lambda o: o["v"])
    init = F.struct(
        F.element_at(vals, 1).alias("l"),
        F.when(F.size(vals) >= 2, F.element_at(vals, 2) - F.element_at(vals, 1))
        .otherwise(F.lit(0.0))
        .alias("b"),
    )

    def _step(acc, x):
        new_l = F.lit(a) * x + F.lit(1.0 - a) * (acc["l"] + acc["b"])
        new_b = F.lit(b) * (
            (F.lit(a) * x + F.lit(1.0 - a) * (acc["l"] + acc["b"])) - acc["l"]
        ) + F.lit(1.0 - b) * acc["b"]
        return F.struct(new_l.alias("l"), new_b.alias("b"))

    st = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))), init, _step
    )
    return (
        staged.groupBy("event_type")
        .agg(
            F.size(arr).cast("bigint").alias("n_obs"),
            F.round(st["l"], 6).alias("level"),
            F.round(st["b"], 6).alias("trend"),
            F.round(st["l"] + st["b"], 6).alias("forecast_next"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# CUSUM change-point detection (closed form: prefix sum - running min)
# ---------------------------------------------------------------------------

# One-sided CUSUM s+_i = max(0, s+_{i-1} + (x_i - mu - slack)) has the closed
# form s+_i = P_i - min(0, P_1..P_i) with P the prefix sum of (x - mu - slack)
# — a running sum + running min over ONE window order, no sequential fold.
_CUSUM_ORACLE = """
WITH stats AS (
    SELECT event_type,
           CAST(sum(CAST(value AS DECIMAL(14,6))) AS DOUBLE) / count(*) AS mu,
           count(*) AS n_obs,
           sqrt((CAST(sum(CAST(value AS DECIMAL(14,6)) * CAST(value AS DECIMAL(14,6))) AS DOUBLE)
                 - CAST(sum(CAST(value AS DECIMAL(14,6))) AS DOUBLE)
                   * CAST(sum(CAST(value AS DECIMAL(14,6))) AS DOUBLE) / count(*))
                / (count(*) - 1)) AS sigma
    FROM events GROUP BY event_type
),
y AS (
    SELECT e.event_type, e.event_id, epoch_us(e.ts) AS us,
           CAST(e.value AS DOUBLE) - s.mu - 0.5 * s.sigma AS dev,
           s.sigma, s.n_obs
    FROM events e JOIN stats s USING (event_type)
),
p AS (
    SELECT event_type, event_id, us, sigma, n_obs,
           sum(dev) OVER (PARTITION BY event_type ORDER BY us, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix
    FROM y
),
m AS (
    SELECT event_type, sigma, n_obs, prefix,
           min(prefix) OVER (PARTITION BY event_type ORDER BY us, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_min
    FROM p
),
c AS (
    SELECT event_type, sigma, n_obs,
           prefix - least(run_min, 0.0) AS cusum
    FROM m
)
SELECT event_type, n_obs,
       round(max(cusum), 6) AS max_cusum,
       CAST(sum(CASE WHEN cusum > 4.0 * sigma THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms
FROM c GROUP BY event_type, n_obs ORDER BY event_type
"""


@register(
    "temporal_cusum_changepoint",
    oracle=_CUSUM_ORACLE,
    description=(
        "one-sided CUSUM change-point statistic per series WITHOUT a sequential "
        "fold: the recurrence max(0, s + dev) equals prefix_sum - min(0, running_"
        "min(prefix_sum)) — a running sum and running min over ONE window order, "
        "so the scan stays a single shuffle keyed by the series. Baseline mu/sigma "
        "from DECIMAL sufficient statistics; alarms counted above 4 sigma"
    ),
    tags=("temporal", "window", "anomaly"),
)
def temporal_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window  # noqa: PLC0415

    e = load_table(spark, sf_dir, "events")
    vd = F.col("value").cast("decimal(14,6)")
    stats = e.groupBy("event_type").agg(
        (F.sum(vd).cast("double") / F.count("*")).alias("mu"),
        F.count("*").alias("n_obs"),
        F.sqrt(
            (
                F.sum(vd * vd).cast("double")
                - F.sum(vd).cast("double") * F.sum(vd).cast("double") / F.count("*")
            )
            / (F.count("*") - 1)
        ).alias("sigma"),
    )
    y = e.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        (F.col("value").cast("double") - F.col("mu") - 0.5 * F.col("sigma")).alias("dev"),
        "sigma",
        "n_obs",
    )
    fr = (
        Window.partitionBy("event_type")
        .orderBy(F.col("us").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    p = y.withColumn("prefix", F.sum("dev").over(fr)).withColumn(
        "run_min", F.min("prefix").over(fr)
    )
    cusum = F.col("prefix") - F.least(F.col("run_min"), F.lit(0.0))
    return (
        p.select("event_type", "n_obs", "sigma", cusum.alias("cusum"))
        .groupBy("event_type", "n_obs")
        .agg(
            F.round(F.max("cusum"), 6).alias("max_cusum"),
            F.sum(F.when(F.col("cusum") > 4.0 * F.col("sigma"), 1).otherwise(0)).alias(
                "n_alarms"
            ),
        )
        .orderBy("event_type")
    )


@register(
    "stream_ohlc_continuous",
    oracle=_OHLC_ORACLE,  # same oracle as the batch bars: OHLC decomposes,
    # so the merged sink equals the batch aggregate bit-for-bit
    description=(
        "continuous-aggregate maintenance of OHLC bars: each micro-batch's "
        "partial (struct-keyed open/close, high/low, DECIMAL sum) merges into a "
        "keyed sink with the SAME associative functions — batch-boundary and "
        "arrival-order independent, hash-matching the batch oracle. The "
        "TimescaleDB-cagg / Materialize pattern for a non-trivial aggregate"
    ),
    tags=("temporal", "streaming", "aggregation"),
)
def stream_ohlc_continuous(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.streaming.pipelines import (  # noqa: PLC0415
        run_streaming_ohlc,
    )

    e = load_table(spark, sf_dir, "events")
    return run_streaming_ohlc(spark, e).orderBy("event_type", "bucket_id")


@register(
    "temporal_stl_lite",
    oracle="""
        WITH hourly AS (
            SELECT event_type,
                   CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr,
                   CAST(round(sum(value) * 10000) AS BIGINT) AS y_e4
            FROM events GROUP BY event_type, floor(epoch(ts) / 3600)
        ),
        trended AS (
            SELECT event_type, hr, y_e4,
                   CAST((sum(y_e4) OVER win * 100) // (count(*) OVER win)
                        AS BIGINT) AS trend_micro
            FROM hourly
            WINDOW win AS (PARTITION BY event_type ORDER BY hr
                           ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
        ),
        seasonal AS (
            SELECT event_type, hr % 24 AS hour_of_day,
                   CAST(sum(y_e4 * 100 - trend_micro) // count(*)
                        AS BIGINT) AS seasonal_micro
            FROM trended GROUP BY event_type, hr % 24
        )
        SELECT t.event_type, t.hr, t.y_e4, t.trend_micro, s.seasonal_micro,
               t.y_e4 * 100 - t.trend_micro - s.seasonal_micro AS residual_micro
        FROM trended t JOIN seasonal s
          ON t.event_type = s.event_type AND t.hr % 24 = s.hour_of_day
        ORDER BY t.event_type, t.hr
    """,
    description=(
        "STL-lite decomposition of the hourly value series per event type: "
        "trend = 25-hour centered moving average, seasonal = per-hour-of-day "
        "mean of the detrended series, residual = the anomaly signal left "
        "over — the decomposition every seasonal anomaly detector runs "
        "before thresholding residuals. The whole chain runs in INTEGER "
        "units (hourly sums snapped to 1e-4, trend/seasonal as exact "
        "integer-micro truncating division, residual pure integer "
        "arithmetic): the sf0.001 tier proved round(avg(.),6) lands on "
        "live round-half ties BELOW the tie lint's 10^(9-k) magnitude bar "
        "— the mechanism is magnitude-independent. Everything after the "
        "hourly pre-aggregation runs on the O(hours) table"
    ),
    tags=("temporal", "window", "analytics", "aggregation"),
)
def temporal_stl_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window  # noqa: PLC0415

    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("hr"),
    ).agg(F.round(F.sum("value") * 10000, 0).cast("long").alias("y_e4"))
    w = Window.partitionBy("event_type").orderBy("hr").rowsBetween(-12, 12)
    trended = (
        hourly.withColumn("_sw", F.sum("y_e4").over(w))
        .withColumn("_cw", F.count(F.lit(1)).over(w))
        .withColumn(
            "trend_micro", F.expr("(_sw * CAST(100 AS BIGINT)) div _cw")
        )
        .drop("_sw", "_cw")
    )
    seasonal = trended.groupBy(
        "event_type", (F.col("hr") % 24).alias("hour_of_day")
    ).agg(
        F.expr(
            "sum(y_e4 * CAST(100 AS BIGINT) - trend_micro) div count(*)"
        ).alias("seasonal_micro")
    )
    t = trended.alias("t")
    s = seasonal.select(
        F.col("event_type").alias("s_event_type"),
        "hour_of_day",
        "seasonal_micro",
    )
    return (
        t.join(
            s,
            (F.col("t.event_type") == F.col("s_event_type"))
            & (F.col("t.hr") % 24 == F.col("hour_of_day")),
        )
        .select(
            F.col("t.event_type").alias("event_type"),
            "hr",
            "y_e4",
            "trend_micro",
            "seasonal_micro",
            (
                F.col("y_e4") * F.lit(100).cast("long")
                - F.col("trend_micro")
                - F.col("seasonal_micro")
            ).alias("residual_micro"),
        )
        .orderBy("event_type", "hr")
    )


@register(
    "temporal_sessionize_capped",
    oracle="""
        WITH flagged AS (
            SELECT user_id, event_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id, event_id, ts,
                   CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS gap_sess
            FROM flagged
        ),
        capped AS (
            SELECT user_id, gap_sess, ts,
                   CAST((epoch_us(ts)
                         - min(epoch_us(ts)) OVER (PARTITION BY user_id, gap_sess))
                        // 3600000000 AS BIGINT) AS sub_seq
            FROM sess
        )
        SELECT user_id, gap_sess, sub_seq,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(min(epoch_us(ts)) AS BIGINT) AS start_us,
               round(CAST(max(epoch_us(ts)) - min(epoch_us(ts)) AS DOUBLE) / 1000000.0, 6)
                   AS duration_sec
        FROM capped
        GROUP BY user_id, gap_sess, sub_seq
        ORDER BY user_id, gap_sess, sub_seq
    """,
    description=(
        "gap + max-duration sessionization: 30-min-inactivity sessions are "
        "additionally split into 1-hour sub-sessions measured from each "
        "session's start — the bucketed form of the 'cap session length' "
        "rule (true restart-anchored capping is inherently iterative; the "
        "bucket split is the closed-form window composition real pipelines "
        "deploy). All three window passes and the final rollup share the "
        "ONE user_id-keyed exchange (same partition prefix => Spark plans a "
        "single shuffle), exact epoch-microsecond arithmetic throughout"
    ),
    tags=("temporal", "window", "sessionization", "scale"),
)
def temporal_sessionize_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window  # noqa: PLC0415

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    flagged = e.select(
        "user_id",
        "event_id",
        "ts",
        us.alias("us"),
        F.when(
            prev.isNull()
            | (us - F.unix_micros(prev.cast("timestamp")) > 1_800_000_000),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    sess = flagged.withColumn(
        "gap_sess",
        F.sum("new_sess")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint"),
    )
    ws = Window.partitionBy("user_id", "gap_sess")
    capped = sess.withColumn(
        "sub_seq",
        F.floor((F.col("us") - F.min("us").over(ws)) / F.lit(3_600_000_000)).cast("bigint"),
    )
    return (
        capped.groupBy("user_id", "gap_sess", "sub_seq")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.min("us").cast("bigint").alias("start_us"),
            F.round((F.max("us") - F.min("us")).cast("double") / 1_000_000.0, 6).alias(
                "duration_sec"
            ),
        )
        .orderBy("user_id", "gap_sess", "sub_seq")
    )


@register(
    "temporal_pit_feature_backfill",
    oracle="""
        WITH p AS (
            SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
        )
        SELECT p.event_id, p.user_id,
               CAST(count(e.event_id) AS BIGINT) AS n_prior_30m
        FROM p LEFT JOIN events e
          ON e.user_id = p.user_id
         AND e.ts >= p.ts - INTERVAL 30 MINUTE
         AND e.ts < p.ts
        GROUP BY p.event_id, p.user_id
        ORDER BY p.event_id
    """,
    description=(
        "point-in-time feature backfill: for every purchase, the user's "
        "event count in the strictly-preceding 30 minutes — the feature-"
        "store backfill primitive (train-time features must see exactly "
        "what was known at decision time; a plain join leaks the future). "
        "The oracle states the semantics as the naive range join "
        "(|probes| x |window| pair blowup); the Spark plan is the merge-"
        "scan form — probe rows at t and t-30m union into the event "
        "stream, ONE user-keyed running count gives the strict prefix "
        "count at every probe, and feature = cnt(t) - cnt(t-30m). One "
        "exchange + one sort, zero pair expansion, any number of horizon "
        "probes rides the same scan (add t-7d, t-1h rows, not joins)"
    ),
    tags=("temporal", "window", "join", "llm-pipeline", "scale"),
)
def temporal_pit_feature_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window  # noqa: PLC0415

    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    base = e.select(
        "user_id",
        us.alias("tus"),
        F.lit(1).alias("is_base"),
        F.lit(None).cast("long").alias("probe_id"),
        F.lit(0).alias("sign"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", us.alias("t"), F.col("event_id")
    )
    probe_hi = purchases.select(
        "user_id",
        F.col("t").alias("tus"),
        F.lit(0).alias("is_base"),
        F.col("event_id").alias("probe_id"),
        F.lit(1).alias("sign"),
    )
    probe_lo = purchases.select(
        "user_id",
        (F.col("t") - F.lit(1_800_000_000)).alias("tus"),
        F.lit(0).alias("is_base"),
        F.col("event_id").alias("probe_id"),
        F.lit(-1).alias("sign"),
    )
    merged = base.unionByName(probe_hi).unionByName(probe_lo)
    w = (
        Window.partitionBy("user_id")
        .orderBy("tus", "is_base", "probe_id", "sign")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    counted = merged.withColumn("prefix", F.sum("is_base").over(w))
    return (
        counted.filter(F.col("is_base") == 0)
        .groupBy(F.col("probe_id").alias("event_id"), "user_id")
        .agg(F.sum(F.col("sign") * F.col("prefix")).cast("bigint").alias("n_prior_30m"))
        .orderBy("event_id")
    )


@register(
    "temporal_backtest_seasonal_naive",
    oracle="""
        WITH hourly AS (
            SELECT event_type,
                   CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS h,
                   CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY event_type, CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT)
        )
        SELECT a.event_type,
               CAST(count(*) AS BIGINT) AS n_evaluated,
               CAST(sum((abs(a.n - p.n) * 1000000) // a.n) // count(*) AS BIGINT)
                   AS mape_micro,
               CAST(sum((2 * abs(a.n - p.n) * 1000000) // (a.n + p.n)) // count(*)
                    AS BIGINT) AS smape_micro,
               CAST((sum(abs(a.n - p.n)) * 1000000) // count(*) AS BIGINT) AS mae_micro
        FROM hourly a JOIN hourly p
          ON a.event_type = p.event_type AND p.h = a.h - 86400
        GROUP BY a.event_type
        ORDER BY a.event_type
    """,
    description=(
        "forecast backtest: seasonal-naive prediction (this hour = same "
        "hour yesterday) scored with MAPE / sMAPE / MAE per event type — "
        "the baseline every real forecaster must beat, and the shape of "
        "every backtest harness (align predictions to actuals by a lagged "
        "key, aggregate the error). Events collapse to the hourly grid "
        "first (map-side combinable, O(types x hours) rows), so the "
        "self-join aligns grid rows, never raw events; errors are exact-"
        "integer differences with one rounded division per metric"
    ),
    tags=("temporal", "statistics", "aggregation", "scale"),
)
def temporal_backtest_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        (F.floor(F.unix_timestamp("ts") / 3600) * 3600).cast("bigint").alias("h"),
    ).agg(F.count("*").cast("bigint").alias("n"))
    a = hourly.select("event_type", "h", F.col("n").alias("actual"))
    p = hourly.select(
        F.col("event_type").alias("p_type"), (F.col("h") + 86400).alias("p_h"), F.col("n").alias("pred")
    )
    j = a.join(p, (F.col("event_type") == F.col("p_type")) & (F.col("h") == F.col("p_h")))
    return (
        j.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_evaluated"),
            # exact integer-micro error metrics:
            # per-row truncating micro ratios, then an exact integer mean
            F.expr(
                "sum((abs(actual - pred) * CAST(1000000 AS BIGINT)) div actual)"
                " div count(*)"
            ).alias("mape_micro"),
            F.expr(
                "sum((2 * abs(actual - pred) * CAST(1000000 AS BIGINT))"
                " div (actual + pred)) div count(*)"
            ).alias("smape_micro"),
            F.expr(
                "(sum(abs(actual - pred)) * CAST(1000000 AS BIGINT)) div count(*)"
            ).alias("mae_micro"),
        )
        .orderBy("event_type")
    )


@register(
    "temporal_mann_kendall_trend",
    oracle="""
        WITH daily AS (
            SELECT event_type,
                   CAST(date_trunc('day', ts) AS DATE) AS d,
                   round(avg(value), 9) AS v
            FROM events GROUP BY event_type, date_trunc('day', ts)
        ),
        s AS (
            SELECT a.event_type,
                   CAST(sum(CASE WHEN b.v > a.v THEN 1
                                 WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT) AS s_stat,
                   CAST(count(*) AS BIGINT) AS n_pairs
            FROM daily a JOIN daily b
              ON a.event_type = b.event_type AND b.d > a.d
            GROUP BY a.event_type
        ),
        n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days FROM daily GROUP BY event_type)
        SELECT s.event_type, n.n_days, s.s_stat, s.n_pairs,
               (s.s_stat * CAST(2000000 AS BIGINT))
                   // (n.n_days * (n.n_days - 1)) AS kendall_tau_a_micro,
               round(abs(s.s_stat)
                     / sqrt(n.n_days * (n.n_days - 1) * (2 * n.n_days + 5) / 18.0), 6)
                   AS z_abs,
               round(abs(s.s_stat)
                     / sqrt(n.n_days * (n.n_days - 1) * (2 * n.n_days + 5) / 18.0), 6)
                   >= 1.96 AS trend_significant
        FROM s JOIN n ON n.event_type = s.event_type
        ORDER BY s.event_type
    """,
    description=(
        "Mann-Kendall monotonic-trend test per event type over the daily "
        "mean-value series: the S statistic (sum of sign(v_j - v_i) over "
        "ordered day pairs), Kendall tau-a, and the normal-approximation "
        "|z| with a 1.96 significance verdict — the nonparametric drift "
        "detector that needs no distributional assumption. The all-pairs "
        "sum is bounded by the TIME GRAIN, not the data: series length = "
        "days regardless of row count (the daily rollup is the only "
        "corpus-scale aggregation; the pair join is O(days^2) per group). "
        "Daily means are rounded to 9 decimals BEFORE the sign comparison "
        "so both engines compare identical values at sign boundaries"
    ),
    tags=("temporal", "analytics", "quality", "north-star"),
)
def temporal_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.groupBy(
            "event_type", F.date_trunc("day", F.col("ts")).cast("date").alias("d")
        )
        .agg(F.round(F.avg("value"), 9).alias("v"))
        # consumed by both pair sides and the day count: materialize the
        # O(event_types * days) frame once — one corpus scan, not three
        .localCheckpoint(eager=True)
    )
    a = daily.select("event_type", F.col("d").alias("d1"), F.col("v").alias("v1"))
    b = daily.select("event_type", F.col("d").alias("d2"), F.col("v").alias("v2"))
    s = (
        a.join(b, "event_type")
        .filter(F.col("d2") > F.col("d1"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("v2") > F.col("v1"), 1)
                .when(F.col("v2") < F.col("v1"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s_stat"),
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
        )
    )
    n = daily.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    nd = F.col("n_days").cast("double")
    z = F.abs(F.col("s_stat")) / F.sqrt(nd * (nd - 1) * (2 * nd + 5) / 18.0)
    return (
        s.join(n, "event_type")
        .select(
            "event_type",
            "n_days",
            "s_stat",
            "n_pairs",
            # exact integer-micro tau-a; z_abs keeps
            # round() — its sqrt denominator is irrational, no exact tie
            F.expr(
                "(s_stat * CAST(2000000 AS BIGINT)) div (n_days * (n_days - 1))"
            ).alias("kendall_tau_a_micro"),
            F.round(z, 6).alias("z_abs"),
            (F.round(z, 6) >= 1.96).alias("trend_significant"),
        )
        .orderBy("event_type")
    )


@register(
    "temporal_autocorrelation",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
                   avg(value) AS v
            FROM events GROUP BY event_type, date_trunc('day', ts)
        ),
        lags AS (SELECT unnest(generate_series(1, 3)) AS lag),
        paired AS (
            SELECT a.event_type, l.lag, a.v AS x, b.v AS y
            FROM daily a
            CROSS JOIN lags l
            JOIN daily b ON b.event_type = a.event_type
                        AND b.d = a.d + CAST(l.lag AS INTEGER)
        ),
        mom AS (
            SELECT event_type, lag,
                   CAST(count(*) AS DOUBLE) AS n,
                   sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx,
                   sum(y * y) AS syy, sum(x * y) AS sxy
            FROM paired GROUP BY event_type, lag
        )
        SELECT event_type, CAST(lag AS BIGINT) AS lag,
               CAST(n AS BIGINT) AS n_pairs,
               round((sxy / n - (sx / n) * (sy / n))
                     / (sqrt(sxx / n - (sx / n) * (sx / n))
                        * sqrt(syy / n - (sy / n) * (sy / n))), 6) AS acf
        FROM mom ORDER BY event_type, lag
    """,
    description=(
        "lag-k autocorrelation (k = 1..3) of each event type's daily-mean "
        "series: Pearson correlation of (v_t, v_{t+k}) pairs joined on exact "
        "date arithmetic (gaps drop pairs, no imputation) — the seasonality/"
        "momentum fingerprint read before choosing a forecast model. The "
        "corpus-scale work is ONE daily rollup; pairing is O(days x lags) "
        "per series however large the corpus. Explicit moment sums (not "
        "corr built-ins, whose accumulation strategies differ at ulp level "
        "between engines), rounded to 6"
    ),
    tags=("temporal", "analytics", "window"),
)
def temporal_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.groupBy(
            "event_type", F.date_trunc("day", F.col("ts")).cast("date").alias("d")
        )
        .agg(F.avg("value").alias("v"))
        # both pair sides consume it: one corpus scan, not two
        .localCheckpoint(eager=True)
    )
    lags = spark.range(1, 4).select(F.col("id").cast("int").alias("lag"))
    a = daily.select("event_type", F.col("d").alias("d1"), F.col("v").alias("x"))
    b = daily.select(
        F.col("event_type").alias("et2"), F.col("d").alias("d2"), F.col("v").alias("y")
    )
    # pair on (series, date + lag): equi-keyed on the series so the planner
    # hash-joins; the date condition rides as the second equi key
    paired = a.crossJoin(F.broadcast(lags)).join(
        b,
        (F.col("event_type") == F.col("et2"))
        & (F.col("d2") == F.date_add(F.col("d1"), F.col("lag"))),
    )
    mom = paired.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n")
    acf = (F.col("sxy") / n - (F.col("sx") / n) * (F.col("sy") / n)) / (
        F.sqrt(F.col("sxx") / n - (F.col("sx") / n) * (F.col("sx") / n))
        * F.sqrt(F.col("syy") / n - (F.col("sy") / n) * (F.col("sy") / n))
    )
    return mom.select(
        "event_type",
        F.col("lag").cast("long").alias("lag"),
        n.cast("long").alias("n_pairs"),
        F.round(acf, 6).alias("acf"),
    ).orderBy("event_type", "lag")


@register(
    "temporal_theil_sen_slope",
    oracle="""
        WITH daily AS (
            SELECT event_type,
                   CAST(date_trunc('day', ts) AS DATE) AS d,
                   round(avg(value), 9) AS v
            FROM events GROUP BY event_type, date_trunc('day', ts)
        ),
        pts AS (
            SELECT event_type, date_diff('day', DATE '1970-01-01', d) AS t, v
            FROM daily
        ),
        slopes AS (
            SELECT a.event_type,
                   (b.v - a.v) / CAST(b.t - a.t AS DOUBLE) AS slope
            FROM pts a JOIN pts b
              ON a.event_type = b.event_type AND b.t > a.t
        ),
        med AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_pairs,
                   percentile_cont(0.5) WITHIN GROUP (ORDER BY slope) AS slope
            FROM slopes GROUP BY event_type
        ),
        inter AS (
            SELECT p.event_type,
                   percentile_cont(0.5) WITHIN GROUP (ORDER BY p.v - med.slope * p.t)
                       AS intercept
            FROM pts p JOIN med ON med.event_type = p.event_type
            GROUP BY p.event_type
        ),
        n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days FROM daily GROUP BY event_type)
        SELECT med.event_type, n.n_days, med.n_pairs,
               round(med.slope, 6) AS theil_sen_slope,
               round(inter.intercept, 6) AS theil_sen_intercept
        FROM med
        JOIN n ON n.event_type = med.event_type
        JOIN inter ON inter.event_type = med.event_type
        ORDER BY med.event_type
    """,
    description=(
        "Theil-Sen robust trend estimator per event type over the daily "
        "mean-value series: slope = median of all pairwise slopes "
        "(v_j-v_i)/(t_j-t_i), intercept = median of (v_i - slope*t_i) — the "
        "29%-breakdown-point companion to temporal_mann_kendall_trend "
        "(Kendall says WHETHER a monotone trend exists; Theil-Sen says HOW "
        "STEEP, immune to the outlier days that wreck OLS). Pair expansion "
        "is bounded by the TIME GRAIN (days^2 per series, not corpus rows); "
        "the only corpus-scale work is the daily rollup. Daily means round "
        "to 9 decimals BEFORE slope arithmetic so both engines interpolate "
        "the median over identical doubles (slopes are DOUBLE end-to-end — "
        "the DECIMAL-percentile knife-edge class cannot arise)"
    ),
    tags=("temporal", "analytics", "percentile", "north-star"),
)
def temporal_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.groupBy(
            "event_type", F.date_trunc("day", F.col("ts")).cast("date").alias("d")
        )
        .agg(F.round(F.avg("value"), 9).alias("v"))
        # consumed by slopes (twice), the intercept residuals, and the day
        # count: materialize the O(event_types * days) frame once so the
        # corpus rollup runs ONE scan, not six (the bounded-frame
        # localCheckpoint rule)
        .localCheckpoint(eager=True)
    )
    pts = daily.select(
        "event_type",
        F.datediff(F.col("d"), F.lit("1970-01-01").cast("date")).alias("t"),
        "v",
    )
    a = pts.select("event_type", F.col("t").alias("t1"), F.col("v").alias("v1"))
    b = pts.select("event_type", F.col("t").alias("t2"), F.col("v").alias("v2"))
    slopes = (
        a.join(b, "event_type")
        .filter(F.col("t2") > F.col("t1"))
        .select(
            "event_type",
            ((F.col("v2") - F.col("v1")) / (F.col("t2") - F.col("t1")).cast("double")).alias(
                "slope"
            ),
        )
    )
    med = slopes.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.expr("percentile(slope, 0.5)").alias("slope"),
    )
    inter = (
        pts.join(med.select("event_type", "slope"), "event_type")
        .select("event_type", (F.col("v") - F.col("slope") * F.col("t")).alias("r"))
        .groupBy("event_type")
        .agg(F.expr("percentile(r, 0.5)").alias("intercept"))
    )
    n = daily.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    return (
        med.join(n, "event_type")
        .join(inter, "event_type")
        .select(
            "event_type",
            "n_days",
            "n_pairs",
            F.round("slope", 6).alias("theil_sen_slope"),
            F.round("intercept", 6).alias("theil_sen_intercept"),
        )
        .orderBy("event_type")
    )


@register(
    "temporal_decayed_engagement",
    oracle="""
        WITH anchor AS (SELECT max(ts) AS t0 FROM events),
        w AS (
            SELECT e.user_id,
                   CAST(round(e.value * 1000000.0) AS BIGINT) AS value_micro,
                   CAST(round(exp(-0.05 * (date_diff('microsecond', e.ts, anchor.t0)
                                           / 86400000000.0)) * 1000000000.0)
                        AS BIGINT) AS wt_nano
            FROM events e CROSS JOIN anchor
        )
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(value_micro AS HUGEINT) * wt_nano) // 1000000000
                    AS BIGINT) AS decayed_value_micro,
               CAST(sum(wt_nano) AS BIGINT) AS decayed_count_nano
        FROM w
        GROUP BY user_id
        ORDER BY user_id
        LIMIT 200
    """,
    description=(
        "exponential time-decay engagement features per user (the "
        "feature-store staple: recent activity counts more, lambda = 0.05/"
        "day against the corpus max timestamp): decayed value sum and "
        "decayed event count in ONE map + map-side-combinable aggregate — "
        "at 100 TB this is a single combinable pass, and the feature "
        "refreshes incrementally because exp(-l*(t0'-t)) = exp(-l*(t0'-t0))"
        " * exp(-l*(t0-t)) — old state rescales by one scalar, only new "
        "events are read. Per-event weights snap to INTEGER nano units and "
        "values to integer micro BEFORE the sum (libm exp() differs at ulp "
        "level between engines — the snap absorbs it — and a sum of snapped "
        "DOUBLES would still be fold-order-sensitive in its low bits; "
        "integral sums are exact in any "
        "order), first 200 users for a bounded driver frame"
    ),
    tags=("temporal", "analytics", "aggregation", "incremental", "scale"),
)
def temporal_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    anchor = e.agg(F.max("ts").alias("t0"))
    # integer MICROSECONDS on both engines (NTZ rejects double casts under
    # ANSI, and every fixture ts has sub-second parts — at 'second' grain
    # DuckDB counts boundary crossings while Spark truncates the interval,
    # so they disagree by 1s on most rows; microsecond grain is exact for
    # microsecond-precision timestamps)
    delta_days = (
        F.expr("timestampdiff(MICROSECOND, ts, t0)").cast("double") / 86400000000.0
    )
    wt_nano = F.round(F.exp(F.lit(-0.05) * delta_days) * 1e9, 0).cast("long")
    value_micro = F.round(F.col("value") * 1e6, 0).cast("long")
    return (
        e.crossJoin(F.broadcast(anchor))
        .select("user_id", value_micro.alias("value_micro"), wt_nano.alias("wt_nano"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.expr(
                "sum(CAST(value_micro AS DECIMAL(38,0)) * wt_nano)"
                " div CAST(1000000000 AS BIGINT)"
            ).alias("decayed_value_micro"),
            F.sum("wt_nano").alias("decayed_count_nano"),
        )
        .orderBy("user_id")
        .limit(200)
    )
