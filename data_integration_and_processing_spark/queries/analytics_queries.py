"""Event-analytics queries over ``events`` (funnel, cohort retention,
mergeable sketches).

These are the classic product-analytics shapes a warehouse engine is asked
for daily; none exist in the reference (SURVEY.md §2.2 capability surface).
Scale notes per query; every count/ratio follows the float conventions
(integer counts exact in any order; ratios one rounded IEEE division).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_integration_and_processing_spark.queries.catalog import register
from data_integration_and_processing_spark.sources.tables import load_table

_FUNNEL_ORACLE = """
WITH v AS (
    SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
),
c AS (
    SELECT e.user_id, min(e.ts) AS t2
    FROM events e JOIN v ON e.user_id = v.user_id
    WHERE e.event_type = 'click' AND e.ts > v.t1
    GROUP BY e.user_id
),
p AS (
    SELECT e.user_id, min(e.ts) AS t3
    FROM events e JOIN c ON e.user_id = c.user_id
    WHERE e.event_type = 'purchase' AND e.ts > c.t2
    GROUP BY e.user_id
),
n AS (
    SELECT (SELECT count(*) FROM v) AS nv,
           (SELECT count(*) FROM c) AS nc,
           (SELECT count(*) FROM p) AS np
)
SELECT 1 AS stage_id, 'view' AS stage, nv AS users,
       CAST(1.0 AS DOUBLE) AS conversion FROM n
UNION ALL
SELECT 2, 'click_after_view', nc, round(nc / CAST(nullif(nv, 0) AS DOUBLE), 6) FROM n
UNION ALL
SELECT 3, 'purchase_after_click', np, round(np / CAST(nullif(nc, 0) AS DOUBLE), 6) FROM n
"""


@register(
    "events_funnel_conversion",
    oracle=_FUNNEL_ORACLE,
    description=(
        "ordered view->click->purchase funnel: first qualifying event per user per "
        "stage, each stage strictly after the previous one. Three conditional "
        "min-aggregations, each one shuffle keyed by user_id (the natural key the "
        "events stream is grouped on at scale); stage counts are single-row "
        "aggregates joined by a literal cross of three scalars"
    ),
    tags=("analytics", "events", "aggregation"),
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    v = e.filter(F.col("event_type") == "view").groupBy("user_id").agg(F.min("ts").alias("t1"))
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    n = (
        v.agg(F.count("*").alias("nv"))
        .crossJoin(c.agg(F.count("*").alias("nc")))
        .crossJoin(p.agg(F.count("*").alias("np")))
    )
    stage = F.explode(
        F.array(
            F.struct(
                F.lit(1).alias("stage_id"),
                F.lit("view").alias("stage"),
                F.col("nv").alias("users"),
                F.lit(1.0).alias("conversion"),
            ),
            F.struct(
                F.lit(2).alias("stage_id"),
                F.lit("click_after_view").alias("stage"),
                F.col("nc").alias("users"),
                F.round(F.col("nc") / F.expr("cast(nullif(nv, 0) as double)"), 6).alias(
                    "conversion"
                ),
            ),
            F.struct(
                F.lit(3).alias("stage_id"),
                F.lit("purchase_after_click").alias("stage"),
                F.col("np").alias("users"),
                F.round(F.col("np") / F.expr("cast(nullif(nc, 0) as double)"), 6).alias(
                    "conversion"
                ),
            ),
        )
    )
    return n.select(stage.alias("s")).select("s.stage_id", "s.stage", "s.users", "s.conversion")


_WEEK = 7 * 86400

_COHORT_ORACLE = f"""
WITH firstseen AS (
    SELECT user_id, CAST(floor(epoch(min(ts)) / {_WEEK}) AS BIGINT) AS cohort_week
    FROM events GROUP BY user_id
),
active AS (
    SELECT DISTINCT user_id, CAST(floor(epoch(ts) / {_WEEK}) AS BIGINT) AS active_week
    FROM events
),
cohort_sizes AS (
    SELECT cohort_week, count(*) AS cohort_size FROM firstseen GROUP BY cohort_week
)
SELECT f.cohort_week,
       a.active_week - f.cohort_week AS week_offset,
       count(*) AS active_users,
       s.cohort_size,
       (count(*) * CAST(1000000 AS BIGINT)) // s.cohort_size AS retention_micro
FROM active a
JOIN firstseen f ON a.user_id = f.user_id
JOIN cohort_sizes s ON f.cohort_week = s.cohort_week
GROUP BY f.cohort_week, a.active_week - f.cohort_week, s.cohort_size
"""


@register(
    "events_cohort_retention",
    oracle=_COHORT_ORACLE,
    description=(
        "cohort retention matrix: users bucketed by first-seen week, counted per "
        "(cohort, week-offset) with retention vs cohort size. Two shuffles keyed by "
        "user_id (first-seen + distinct active weeks) and one by (cohort, offset); "
        "the cohort-size table is O(weeks) rows and broadcast into the final join. "
        "epoch(ts) is timezone-free because the session runs UTC and the fixture "
        "timestamps are naive — pinned by the oracle MATCH itself"
    ),
    tags=("analytics", "events", "aggregation", "window"),
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    wk = F.floor(F.unix_timestamp("ts") / _WEEK).cast("bigint")
    firstseen = e.groupBy("user_id").agg(
        F.floor(F.unix_timestamp(F.min("ts")) / _WEEK).cast("bigint").alias("cohort_week")
    )
    active = e.select("user_id", wk.alias("active_week")).distinct()
    sizes = firstseen.groupBy("cohort_week").agg(F.count("*").alias("cohort_size"))
    return (
        active.join(firstseen, "user_id")
        .withColumn("week_offset", F.col("active_week") - F.col("cohort_week"))
        .groupBy("cohort_week", "week_offset")
        .agg(F.count("*").alias("active_users"))
        .join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "active_users",
            "cohort_size",
            # exact integer-micro retention: a
            # count/count quotient can land exactly on a round-half tie
            # whenever the reduced denominator is 2^7*5^j — truncating
            # integer division has no rounding mode to disagree on
            F.expr("(active_users * CAST(1000000 AS BIGINT)) div cohort_size").alias(
                "retention_micro"
            ),
        )
    )


@register(
    "agg_hll_mergeable_rollup",
    # HLL sketch binaries are engine-specific (Spark uses the Apache
    # DataSketches HllSketch format), so the driver-checked output is the
    # EXACT side plus the 5% accuracy bound as a boolean — a sketch
    # regression flips within_5pct and fails the value hash;
    # merge-consistency stays pinned in tests/test_analytics.py.
    oracle="""
        SELECT event_type,
               CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct_users,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(DISTINCT date_trunc('day', ts)) AS BIGINT) AS n_days,
               true AS within_5pct
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    description=(
        "mergeable-sketch rollup: per-(event_type, day) HLL sketches of user_id, "
        "unioned upward to per-event_type distinct-user estimates WITHOUT re-scanning "
        "events — the sketches-as-columns pattern that makes incremental / "
        "hierarchical distinct counting O(groups), not O(rows), at 100 TB. Partial "
        "aggregation applies to the sketch build (associative binary merge), so the "
        "shuffle carries one ~2KB sketch per (type, day) instead of user ids. The "
        "exact-distinct audit columns exist for the verification harness; a "
        "production rollup drops them (they are the O(rows) cost the sketch avoids)"
    ),
    tags=("analytics", "events", "aggregation", "sketch"),
)
def agg_hll_mergeable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    daily = e.groupBy(F.col("event_type"), day.alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sketch"),
        F.count("*").alias("n_events"),
    )
    rolled = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("raw_est"),
        F.sum("n_events").alias("n_events"),
        F.count("*").alias("n_days"),
    )
    exact = e.groupBy("event_type").agg(F.count_distinct("user_id").alias("exact_distinct_users"))
    # ANSI-safe: a group whose user_id is entirely NULL would have exact=0
    # and divide-by-zero under the session's ANSI default; the
    # fallback demands the sketch also saw nothing.
    rel_err = F.abs(F.col("raw_est") - F.col("exact_distinct_users")) / F.col(
        "exact_distinct_users"
    )
    within = F.when(F.col("exact_distinct_users") > 0, rel_err <= 0.05).otherwise(
        F.col("raw_est") == 0
    )
    return (
        rolled.join(F.broadcast(exact), "event_type")
        .select(
            "event_type",
            "exact_distinct_users",
            "n_events",
            "n_days",
            within.alias("within_5pct"),
        )
        .orderBy("event_type")
    )


_TREND_ORACLE = """
WITH base AS (
    SELECT event_type,
           CAST(floor(epoch(ts) / 86400) AS BIGINT) AS x,
           CAST(value AS DECIMAL(18,9)) AS y,
           CAST(CAST(value AS DECIMAL(28,9)) * 1000000000 AS DECIMAL(38,0)) AS y_nano
    FROM events
),
sums AS (
    SELECT event_type,
           count(*) AS n,
           sum(x) AS sx,
           sum(x * x) AS sxx,
           sum(y) AS sy,
           sum(y_nano) AS sy_nano,
           sum(x * y_nano) AS sxy_nano,
           sum(x * y) AS sxy,
           sum(y * y) AS syy
    FROM base GROUP BY event_type
),
sl AS (
    SELECT *,
           CAST((CAST(n AS HUGEINT) * CAST(sxy_nano AS HUGEINT)
                 - CAST(sx AS HUGEINT) * CAST(sy_nano AS HUGEINT))
                // (1000 * (CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx))
                AS BIGINT) AS slope_micro
    FROM sums
)
SELECT event_type, n, slope_micro,
       CAST((CAST(sy_nano AS HUGEINT)
             - CAST(slope_micro AS HUGEINT) * 1000 * sx)
            // (1000 * n) AS BIGINT) AS intercept_micro,
       round((CAST(n * sxy - sx * sy AS DOUBLE))
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
             / sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 6) AS pearson_r
FROM sl
"""


@register(
    "agg_exact_stats_trend",
    oracle=_TREND_ORACLE,
    description=(
        "OLS trend (slope/intercept of value vs day) and Pearson r per event_type "
        "from EXACT sufficient statistics: integer/decimal sums (order-independent, "
        "one pass, partial+final aggregation) finished with a fixed chain of IEEE "
        "ops — the only float steps are two correctly-rounded sqrts and spelled-out "
        "divisions, so results are bit-deterministic across engines, unlike "
        "built-in corr()/regr_slope() whose streaming accumulators are "
        "order-sensitive. This is also the 100 TB shape: sufficient statistics "
        "shuffle as one small row per group; the regression math runs on G rows"
    ),
    tags=("analytics", "aggregation", "statistics"),
)
def agg_exact_stats_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias("x"),
        F.col("value").cast("decimal(18,9)").alias("y"),
        F.expr("CAST(CAST(value AS DECIMAL(28,9)) * 1000000000 AS DECIMAL(38,0))").alias(
            "y_nano"
        ),
    )
    sums = base.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum("y_nano").alias("sy_nano"),
        F.sum(F.col("x") * F.col("y_nano")).alias("sxy_nano"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    # den in DECIMAL(38,0): x is epoch-day (~2e4), so n*sxx ≈ n²·4e8 wraps
    # int64 once a group passes ~1.5e5 rows; DuckDB computes the same term
    # in HUGEINT, so a LONG wrap here is a silent value divergence at
    # larger scale factors
    den = F.expr(
        "CAST(CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx"
        " AS DOUBLE)"
    )
    # slope AND intercept as EXACT integer-micro: the OLS quotient of DECIMAL-exact sufficient stats is
    # a rational that can land exactly on a round-half tie — truncating
    # integral div on the nano-scaled numerator has no rounding mode
    sl = sums.withColumn(
        "slope_micro",
        F.expr(
            "CAST((CAST(n AS DECIMAL(38,0)) * sxy_nano"
            " - CAST(sx AS DECIMAL(38,0)) * sy_nano)"
            " div (1000 * (CAST(n AS DECIMAL(38,0)) * sxx"
            " - CAST(sx AS DECIMAL(38,0)) * sx)) AS BIGINT)"
        ),
    )
    vary = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return sl.select(
        "event_type",
        "n",
        "slope_micro",
        F.expr(
            "(CAST(sy_nano AS DECIMAL(38,0))"
            " - CAST(slope_micro AS DECIMAL(38,0)) * 1000 * sx)"
            " div (1000 * n)"
        ).alias("intercept_micro"),
        F.round(num / F.sqrt(den) / F.sqrt(vary), 6).alias("pearson_r"),
    )


_HIST_BINS = 20

_HIST_ORACLE = f"""
WITH bounds AS (
    SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi FROM lineitem
),
binned AS (
    SELECT least(CAST(floor((l_extendedprice - lo) / ((hi - lo) / {_HIST_BINS}.0) ) AS INT),
                 {_HIST_BINS - 1}) AS bin,
           lo, hi
    FROM lineitem CROSS JOIN bounds
)
SELECT bin,
       count(*) AS n,
       ({_HIST_BINS} * CAST(round(lo * 100) AS BIGINT)
        + bin * (CAST(round(hi * 100) AS BIGINT) - CAST(round(lo * 100) AS BIGINT)))
       * {10000 // _HIST_BINS} AS bin_lo_micro,
       ({_HIST_BINS} * CAST(round(lo * 100) AS BIGINT)
        + (bin + 1) * (CAST(round(hi * 100) AS BIGINT) - CAST(round(lo * 100) AS BIGINT)))
       * {10000 // _HIST_BINS} AS bin_hi_micro
FROM binned GROUP BY bin, lo, hi
"""


@register(
    "agg_equiwidth_histogram",
    oracle=_HIST_ORACLE,
    description=(
        f"equi-width histogram of l_extendedprice in {_HIST_BINS} bins: pass 1 "
        "computes min/max (exact DECIMAL column -> the bin width is one IEEE "
        "division both engines mirror), pass 2 bins every row against the broadcast "
        "single-row bounds and counts per bin — integer counts, order-independent. "
        "The max value clamps into the last bin (floor((hi-lo)/w) == bins). At 100 "
        "TB both passes are single scans with tiny partial-agg shuffles; the bounds "
        "row broadcasts"
    ),
    tags=("analytics", "aggregation", "histogram"),
)
def agg_equiwidth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    bounds = li.agg(
        F.min("l_extendedprice").alias("lo"), F.max("l_extendedprice").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(float(_HIST_BINS))
    binned = li.select("l_extendedprice").crossJoin(F.broadcast(bounds)).select(
        F.least(
            F.floor((F.col("l_extendedprice") - F.col("lo")) / width).cast("int"),
            F.lit(_HIST_BINS - 1),
        ).alias("bin"),
        "lo",
        "hi",
    )
    # bin edges emitted as EXACT integer-micro: with cents-grid bounds the
    # edge lo + b*(hi-lo)/BINS equals (BINS*lo_c + b*range_c) * (1e6/(100*BINS))
    # — pure integer arithmetic (1e6/(100*20) = 500), no rounding mode or
    # division to diverge between engines
    lo_c = F.round(F.col("lo") * 100, 0).cast("long")
    hi_c = F.round(F.col("hi") * 100, 0).cast("long")
    rng_c = hi_c - lo_c
    scale = 10000 // _HIST_BINS
    return binned.groupBy("bin", "lo", "hi").agg(F.count("*").alias("n")).select(
        "bin",
        "n",
        ((F.lit(_HIST_BINS) * lo_c + F.col("bin") * rng_c) * scale).alias("bin_lo_micro"),
        ((F.lit(_HIST_BINS) * lo_c + (F.col("bin") + 1) * rng_c) * scale).alias(
            "bin_hi_micro"
        ),
    )


@register(
    "agg_equidepth_histogram",
    oracle="""
        WITH ranked AS (
            SELECT l_extendedprice,
                   ntile(10) OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS bin
            FROM lineitem
        )
        SELECT bin, count(*) AS n,
               min(l_extendedprice) AS bin_min,
               max(l_extendedprice) AS bin_max
        FROM ranked GROUP BY bin
    """,
    description=(
        "equi-depth (quantile) histogram of l_extendedprice in 10 bins via ntile "
        "over a TOTAL order (value + orderkey + linenumber tiebreak — ties split "
        "identically in any engine only when the order is total). Complements the "
        "equi-width histogram: depth buckets adapt to skew. The global sort is the "
        "honest cost; at scale swap ntile for approx_percentile cut points and a "
        "broadcast range join — same output schema, documented trade"
    ),
    tags=("analytics", "aggregation", "histogram", "window"),
)
def agg_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window  # noqa: PLC0415

    li = load_table(spark, sf_dir, "lineitem")
    w = Window.orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
    return (
        li.select("l_extendedprice", "l_orderkey", "l_linenumber")
        .withColumn("bin", F.ntile(10).over(w))
        .groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.min("l_extendedprice").alias("bin_min"),
            F.max("l_extendedprice").alias("bin_max"),
        )
    )


@register(
    "agg_sorted_collect",
    oracle="""
        SELECT r.r_name AS region_name,
               count(*) AS n_nations,
               string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations_csv
        FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
    """,
    description=(
        "deterministic collection aggregation: collect_list is ORDER-NONDETERMINISTIC "
        "in any parallel engine (partition arrival order), so reporting-grade "
        "string_agg/array outputs must sort inside the aggregation — array_sort("
        "collect_list(...)) mirrored by string_agg(... ORDER BY)/list_sort. The "
        "grouped collect shuffles only (region, name) pairs"
    ),
    tags=("analytics", "aggregation", "collection"),
)
def agg_sorted_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    n, r = load_table(spark, sf_dir, "nation"), load_table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.count("*").alias("n_nations"),
            # CSV, not array: driver canon cannot sort list-typed columns
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations_csv"),
        )
    )


# ---------------------------------------------------------------------------
# event-type transition matrix (first-order Markov counts)
# ---------------------------------------------------------------------------

_TRANSITION_ORACLE = """
WITH s AS (
    SELECT user_id, event_type,
           epoch_us(ts) AS us, event_id
    FROM events
),
t AS (
    SELECT user_id,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS from_type,
           event_type AS to_type
    FROM s
),
c AS (
    SELECT from_type, to_type, count(*) AS n_transitions
    FROM t WHERE from_type IS NOT NULL
    GROUP BY from_type, to_type
),
tot AS (
    SELECT from_type, sum(n_transitions) AS n_from FROM c GROUP BY from_type
)
SELECT c.from_type, c.to_type, c.n_transitions,
       CAST((c.n_transitions * 1000000) // t.n_from AS BIGINT) AS prob_micro
FROM c JOIN tot t USING (from_type)
ORDER BY c.from_type, c.to_type
"""


@register(
    "events_transition_matrix",
    oracle=_TRANSITION_ORACLE,
    description=(
        "first-order Markov transition matrix of event types per user journey: "
        "lag window keyed by user_id (the partitioning an event store already "
        "has), then a count aggregate whose input is one row per event and whose "
        "output is event-type-cardinality-squared — the normalizing totals join "
        "is over that tiny matrix, broadcast at any scale"
    ),
    tags=("analytics", "events", "window", "aggregation"),
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window  # noqa: PLC0415

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros(F.col("ts").cast("timestamp")).asc(), F.col("event_id").asc()
    )
    trans = (
        e.withColumn("from_type", F.lag("event_type").over(w))
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", F.col("event_type").alias("to_type"))
        .agg(F.count("*").alias("n_transitions"))
    )
    totals = trans.groupBy("from_type").agg(F.sum("n_transitions").alias("n_from"))
    return (
        trans.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            "n_transitions",
            # exact integer-micro
            F.expr("(n_transitions * CAST(1000000 AS BIGINT)) div n_from").alias(
                "prob_micro"
            ),
        )
        .orderBy("from_type", "to_type")
    )


# ---------------------------------------------------------------------------
# cumulative distinct users (running distinct rewritten as first-seen)
# ---------------------------------------------------------------------------

_CUMDISTINCT_ORACLE = """
WITH s AS (
    SELECT user_id, epoch_us(ts) // 86400000000 AS day_num FROM events
),
active AS (
    SELECT day_num, count(DISTINCT user_id) AS n_active_users
    FROM s GROUP BY day_num
),
first_seen AS (
    SELECT user_id, min(day_num) AS first_day FROM s GROUP BY user_id
),
new_per_day AS (
    SELECT first_day AS day_num, count(*) AS n_new_users
    FROM first_seen GROUP BY first_day
)
SELECT a.day_num, a.n_active_users,
       coalesce(n.n_new_users, 0) AS n_new_users,
       CAST(sum(coalesce(n.n_new_users, 0))
            OVER (ORDER BY a.day_num ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_distinct_users
FROM active a LEFT JOIN new_per_day n USING (day_num)
ORDER BY a.day_num
"""


@register(
    "events_cumulative_distinct_users",
    oracle=_CUMDISTINCT_ORACLE,
    description=(
        "running distinct-user count per day — the textbook rewrite of an "
        "unscalable windowed COUNT(DISTINCT): distinct-per-day for actives, plus "
        "min(day) per user ('first seen') so the cumulative curve is a running "
        "SUM over day-cardinality rows instead of a distinct over an ever-growing "
        "window. Two shuffles keyed by day and user; the global-order window runs "
        "over |days| rows, not |events|"
    ),
    tags=("analytics", "events", "window", "aggregation"),
)
def events_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window  # noqa: PLC0415

    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    day_us = F.lit(86_400_000_000)
    # exact integer day ordinal (us - us % d) / d — the division is over an
    # exact multiple, never a rounding double quotient
    s = e.select(
        "user_id",
        ((us - us % day_us) / day_us).cast("long").alias("day_num"),
    )
    active = s.groupBy("day_num").agg(F.countDistinct("user_id").alias("n_active_users"))
    first_seen = s.groupBy("user_id").agg(F.min("day_num").alias("first_day"))
    new_per_day = first_seen.groupBy(F.col("first_day").alias("day_num")).agg(
        F.count("*").alias("n_new_users")
    )
    w = Window.orderBy("day_num").rowsBetween(Window.unboundedPreceding, 0)
    return (
        active.join(new_per_day, "day_num", "left")
        .select(
            "day_num",
            "n_active_users",
            F.coalesce("n_new_users", F.lit(0)).alias("n_new_users"),
            F.sum(F.coalesce("n_new_users", F.lit(0))).over(w).alias("cum_distinct_users"),
        )
        .orderBy("day_num")
    )


# ---------------------------------------------------------------------------
# PageRank over the customer-part co-purchase graph
# ---------------------------------------------------------------------------


def _pagerank_oracle(n_iter: int = 10, damping: float = 0.85) -> str:
    """Unrolled fixed-iteration PageRank in SQL (the k-center-oracle trick:
    a fixed iteration count needs no recursion — chain one GROUP BY CTE per
    power iteration). The co-purchase graph is symmetrized, so every vertex
    has out-edges and the dangling-mass term is identically zero; with the
    mass-|V| convention (r0 = 1.0) each step is exactly
    ``r' = (1-d) + d * sum(r(u)/deg(u), u->v)``, matching
    operators/graph.py:pagerank line for line. Cross-engine float-sum order
    differs, but ten iterations keep the accumulated drift ~1e-13 — far
    inside the 6dp output rounding."""
    head = f"""WITH pairs AS (
    SELECT DISTINCT o_custkey * 2 AS cust_v, l_partkey * 2 + 1 AS part_v
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS MATERIALIZED (
    SELECT cust_v AS src, part_v AS dst FROM pairs
    UNION ALL
    SELECT part_v, cust_v FROM pairs
),
deg AS MATERIALIZED (SELECT src AS id, CAST(count(*) AS DOUBLE) AS d FROM edges GROUP BY src),
r0 AS (SELECT id, 1.0 AS rank FROM deg)"""
    steps = [
        f"""r{i + 1} AS MATERIALIZED (
    SELECT e.dst AS id, {1.0 - damping} + {damping} * sum(r.rank / dg.d) AS rank
    FROM edges e JOIN r{i} r ON r.id = e.src JOIN deg dg ON dg.id = e.src
    GROUP BY e.dst
)"""
        for i in range(n_iter)
    ]
    return (
        head
        + ",\n"
        + ",\n".join(steps)
        + f"""
SELECT id,
       CASE WHEN id % 2 = 0 THEN 'customer' ELSE 'part' END AS vertex_type,
       CAST(floor(id / 2.0) AS BIGINT) AS entity_key,
       round(rank, 6) AS rank
FROM r{n_iter}
ORDER BY round(rank, 6) DESC, id ASC
LIMIT 25"""
    )


def _symmetrize_bipartite(pairs: DataFrame) -> DataFrame:
    """Both orientations of each (cust_v, part_v) co-purchase pair from ONE
    pass over the pair lineage: the previous union-of-two-selects planned
    the orders><lineitem join + distinct subtree TWICE (Spark does not merge
    common subtrees across union branches); a 2-element array explode fans
    out in-task instead — same edge multiset, half the upstream work."""
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("cust_v").alias("src"), F.col("part_v").alias("dst")),
                F.struct(F.col("part_v").alias("src"), F.col("cust_v").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


@register(
    "graph_pagerank",
    # Unrolled power method (10 chained GROUP-BY CTEs — no recursion
    # needed for a FIXED iteration count, same trick as the k-center
    # oracle); mass conservation, determinism, and degree-rank correlation
    # additionally pinned in tests/test_graph.py
    oracle=_pagerank_oracle(n_iter=10, damping=0.85),
    description=(
        "PageRank over the customer<->part co-purchase graph (orders x lineitem "
        "edges, symmetrized): 10 fixed power iterations, each ONE shuffle of "
        "(vertex, double) pairs keyed by destination — the Pregel shape — with "
        "dangling-mass redistribution and localCheckpoint lineage truncation. "
        "Returns the top 25 vertices by rank (deterministic tiebreak)"
    ),
    tags=("analytics", "graph", "iterative", "north-star"),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.operators.graph import pagerank  # noqa: PLC0415

    orders, lineitem = (
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )
    # bipartite co-purchase edges: customer -> part, namespaced into one id
    # space (customers even, parts odd), symmetrized so no vertex dangles.
    # No distinct(): the pair dedup rides the operator's one src-keyed
    # exchange (dedup_edges=True) — see graph_label_propagation
    pairs = orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey).select(
        (F.col("o_custkey") * 2).alias("cust_v"),
        (F.col("l_partkey") * 2 + 1).alias("part_v"),
    )
    edges = _symmetrize_bipartite(pairs)
    ranks = pagerank(edges, damping=0.85, n_iter=10, dedup_edges=True)
    return (
        ranks.select(
            "id",
            F.when(F.col("id") % 2 == 0, F.lit("customer")).otherwise(F.lit("part")).alias(
                "vertex_type"
            ),
            (F.col("id") / F.lit(2)).cast("long").alias("entity_key"),
            F.round("rank", 6).alias("rank"),
        )
        .orderBy(F.col("rank").desc(), F.col("id").asc())
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Pareto frontier (skyline query)
# ---------------------------------------------------------------------------

_SKYLINE_ORACLE = """
SELECT p_partkey,
       round(p_retailprice, 6) AS price,
       CAST(p_size AS BIGINT) AS size
FROM part a
WHERE NOT EXISTS (
    SELECT 1 FROM part b
    WHERE b.p_retailprice < a.p_retailprice AND b.p_size > a.p_size
)
ORDER BY price, p_partkey
"""


@register(
    "analytics_pareto_frontier",
    oracle=_SKYLINE_ORACLE,
    description=(
        "skyline / Pareto frontier (minimize price, maximize size, strict "
        "dominance): the quadratic NOT-EXISTS definition rewritten as a "
        "linear-scan window — per distinct price the group max size, a running "
        "max over the price order lagged by one group, and a part survives iff "
        "no strictly-cheaper price group beats its size. The global-order window "
        "runs over |distinct prices| grouped rows, not |parts|; the part scan "
        "itself shuffles once on the price key"
    ),
    tags=("analytics", "window", "skyline"),
)
def analytics_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window  # noqa: PLC0415

    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_retailprice", "p_size")
    per_price = p.groupBy("p_retailprice").agg(F.max("p_size").alias("gmax"))
    w = Window.orderBy("p_retailprice").rowsBetween(Window.unboundedPreceding, -1)
    thresholds = per_price.withColumn("best_cheaper", F.max("gmax").over(w))
    return (
        p.join(thresholds.select("p_retailprice", "best_cheaper"), "p_retailprice")
        .filter(F.col("best_cheaper").isNull() | (F.col("best_cheaper") <= F.col("p_size")))
        .select(
            "p_partkey",
            F.round("p_retailprice", 6).alias("price"),
            F.col("p_size").cast("bigint").alias("size"),
        )
        .orderBy("price", "p_partkey")
    )


# ---------------------------------------------------------------------------
# last-touch attribution
# ---------------------------------------------------------------------------

_ATTRIBUTION_ORACLE = """
WITH s AS (
    SELECT user_id, event_id, event_type,
           epoch_us(ts) AS us
    FROM events
),
tagged AS (
    SELECT user_id, event_id, event_type, us,
           last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
               OVER w AS touch_type,
           last_value(CASE WHEN event_type <> 'purchase' THEN event_id END IGNORE NULLS)
               OVER w AS touch_event_id,
           last_value(CASE WHEN event_type <> 'purchase' THEN us END IGNORE NULLS)
               OVER w AS touch_us
    FROM s
    WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT user_id, event_id AS purchase_event_id, touch_type, touch_event_id,
       us - touch_us AS gap_us
FROM tagged
WHERE event_type = 'purchase' AND touch_type IS NOT NULL
ORDER BY user_id, purchase_event_id
"""


@register(
    "events_attribution_last_touch",
    oracle=_ATTRIBUTION_ORACLE,
    description=(
        "last-touch attribution: each purchase credited to the user's most recent "
        "preceding non-purchase event — a conditional last_value(IGNORE NULLS) "
        "over the trailing frame, ONE window pass on the user_id partitioning the "
        "event store already has; no self-join, no as-of join, integer-"
        "microsecond gaps"
    ),
    tags=("analytics", "events", "window", "attribution"),
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window  # noqa: PLC0415

    e = load_table(spark, sf_dir, "events")
    s = e.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("us").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    not_purchase = F.col("event_type") != "purchase"
    tagged = (
        s.withColumn(
            "touch_type",
            F.last(F.when(not_purchase, F.col("event_type")), ignorenulls=True).over(w),
        )
        .withColumn(
            "touch_event_id",
            F.last(F.when(not_purchase, F.col("event_id")), ignorenulls=True).over(w),
        )
        .withColumn(
            "touch_us",
            F.last(F.when(not_purchase, F.col("us")), ignorenulls=True).over(w),
        )
    )
    return (
        tagged.filter((F.col("event_type") == "purchase") & F.col("touch_type").isNotNull())
        .select(
            "user_id",
            F.col("event_id").alias("purchase_event_id"),
            "touch_type",
            "touch_event_id",
            (F.col("us") - F.col("touch_us")).alias("gap_us"),
        )
        .orderBy("user_id", "purchase_event_id")
    )


# ---------------------------------------------------------------------------
# weighted median (exact, cumulative-weight formulation)
# ---------------------------------------------------------------------------

_WMEDIAN_ORACLE = """
WITH s AS (
    SELECT l_returnflag,
           CAST(l_extendedprice AS DOUBLE) AS v,
           CAST(l_quantity AS DECIMAL(12,2)) AS w
    FROM lineitem
),
cum AS (
    SELECT l_returnflag, v, w,
           sum(w) OVER (PARTITION BY l_returnflag ORDER BY v, w
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
           sum(w) OVER (PARTITION BY l_returnflag) AS total
    FROM s
),
med AS (
    SELECT l_returnflag, min(v) AS weighted_median
    FROM cum WHERE 2 * cumw >= total GROUP BY l_returnflag
),
p90 AS (
    SELECT l_returnflag, min(v) AS weighted_p90
    FROM cum WHERE 10 * cumw >= 9 * total GROUP BY l_returnflag
)
SELECT m.l_returnflag,
       round(m.weighted_median, 6) AS weighted_median,
       round(p.weighted_p90, 6) AS weighted_p90
FROM med m JOIN p90 p USING (l_returnflag)
ORDER BY m.l_returnflag
"""


@register(
    "agg_weighted_median",
    oracle=_WMEDIAN_ORACLE,
    description=(
        "exact weighted median + weighted p90 (quantity-weighted price): running "
        "DECIMAL weight sums over the value order, threshold picked with the "
        "integer-safe comparison 2*cumw >= total (no float division at the "
        "boundary). One window shuffle keyed by the group; the threshold "
        "aggregates are group-cardinality-sized"
    ),
    tags=("analytics", "aggregation", "percentile", "window"),
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window  # noqa: PLC0415

    l = load_table(spark, sf_dir, "lineitem")
    s = l.select(
        "l_returnflag",
        F.col("l_extendedprice").cast("double").alias("v"),
        F.col("l_quantity").cast("decimal(12,2)").alias("w"),
    )
    ordw = Window.partitionBy("l_returnflag").orderBy(F.col("v").asc(), F.col("w").asc())
    cum = s.withColumn(
        "cumw", F.sum("w").over(ordw.rowsBetween(Window.unboundedPreceding, 0))
    ).withColumn("total", F.sum("w").over(Window.partitionBy("l_returnflag")))
    med = (
        cum.filter(2 * F.col("cumw") >= F.col("total"))
        .groupBy("l_returnflag")
        .agg(F.min("v").alias("weighted_median"))
    )
    p90 = (
        cum.filter(10 * F.col("cumw") >= 9 * F.col("total"))
        .groupBy("l_returnflag")
        .agg(F.min("v").alias("weighted_p90"))
    )
    return (
        med.join(p90, "l_returnflag")
        .select(
            "l_returnflag",
            F.round("weighted_median", 6).alias("weighted_median"),
            F.round("weighted_p90", 6).alias("weighted_p90"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "graph_triangle_census",
    oracle="""
        WITH pp AS (
            SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
            FROM lineitem l1 JOIN lineitem l2
              ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        ),
        deg AS (
            SELECT id, count(*) AS deg FROM (
                SELECT a AS id FROM pp UNION ALL SELECT b AS id FROM pp
            ) GROUP BY id
        ),
        agg AS (
            SELECT CAST(count(*) AS BIGINT) AS n_vertices,
                   CAST(CAST(sum(deg * (deg - 1)) AS BIGINT) / 2 AS BIGINT) AS n_wedges
            FROM deg
        ),
        tri AS (
            SELECT CAST(count(*) AS BIGINT) AS n_triangles
            FROM pp e1
            JOIN pp e2 ON e1.b = e2.a
            JOIN pp e3 ON e3.a = e1.a AND e3.b = e2.b
        )
        SELECT agg.n_vertices,
               (SELECT CAST(count(*) AS BIGINT) FROM pp) AS n_edges,
               agg.n_wedges,
               tri.n_triangles,
               CASE WHEN agg.n_wedges > 0
                    THEN (3 * tri.n_triangles * CAST(1000000 AS BIGINT))
                         // agg.n_wedges
                    ELSE CAST(0 AS BIGINT) END AS clustering_coeff_micro
        FROM agg, tri
    """,
    description=(
        "global triangle census of the part co-purchase graph (parts sharing an "
        "order): degree-oriented enumeration — edges point from the lower-(degree, "
        "id) endpoint, bounding the path-join fan-out by O(sqrt(m)) per vertex and "
        "total work by O(m^1.5) even under power-law degree skew; the id-ordered SQL "
        "oracle enumerates the same orientation-independent count. Output: vertices, "
        "edges, wedges, triangles, global clustering coefficient"
    ),
    tags=("analytics", "graph", "join", "aggregation"),
)
def graph_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.operators.graph import triangle_stats  # noqa: PLC0415

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    l1 = li.alias("l1")
    l2 = li.alias("l2")
    edges = (
        l1.join(
            l2,
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_partkey") < F.col("l2.l_partkey")),
        )
        .select(F.col("l1.l_partkey").alias("src"), F.col("l2.l_partkey").alias("dst"))
        .distinct()
    )
    return triangle_stats(edges)


# ---------------------------------------------------------------------------
# BFS shortest distances (third graph operator)
# ---------------------------------------------------------------------------

_BFS_MAX_DEPTH = 3

_BFS_ORACLE = f"""
WITH RECURSIVE e AS (
    SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM lineitem
    UNION
    SELECT DISTINCT l_suppkey * 2 + 1, l_partkey * 2 FROM lineitem
),
bfs(id, dist) AS (
    SELECT CAST(2 AS BIGINT) AS id, 0 AS dist
    UNION
    SELECT e.dst, bfs.dist + 1
    FROM bfs JOIN e ON e.src = bfs.id
    WHERE bfs.dist < {_BFS_MAX_DEPTH}
)
SELECT id, CAST(min(dist) AS INT) AS dist FROM bfs GROUP BY id ORDER BY id
"""


@register(
    "graph_bfs_distances",
    oracle=_BFS_ORACLE,
    description=(
        "Pregel-shaped BFS over the part-supplier bipartite graph (nodes 2p / "
        "2s+1): per level ONE vertex-keyed join (frontier x adjacency) and one "
        "anti join against the settled set — first reach is the min distance, no "
        "path enumeration, so a dense graph costs O(frontier * degree) per level "
        "while the recursive-CTE oracle pays the path blowup. Frontier and "
        "settled set localCheckpointed per level (lineage truncation). The "
        "level-synchronous loop is the driver-coordination pattern pagerank and "
        "connected components already use; depth-bounded here"
    ),
    tags=("analytics", "graph", "join", "scale"),
)
def graph_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.operators.graph import bfs_distances  # noqa: PLC0415

    li = load_table(spark, sf_dir, "lineitem")
    # both orientations from one lineitem scan (the union form scanned twice)
    edges = li.select(
        F.explode(
            F.array(
                F.struct(
                    (F.col("l_partkey") * 2).alias("src"),
                    (F.col("l_suppkey") * 2 + 1).alias("dst"),
                ),
                F.struct(
                    (F.col("l_suppkey") * 2 + 1).alias("src"),
                    (F.col("l_partkey") * 2).alias("dst"),
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    return bfs_distances(edges, [2], max_depth=_BFS_MAX_DEPTH).orderBy("id")


# ---------------------------------------------------------------------------
# sequential pattern detection (MATCH_RECOGNIZE-shaped)
# ---------------------------------------------------------------------------

# view, then a click with no purchase between, then the purchase —
# greedy-quantifier-free so Java regex and RE2 scan identically.
_PATTERN = "v[^p]*c[^p]*p"

_PATTERN_ORACLE = f"""
WITH seqs AS (
    SELECT user_id,
           count(*) AS n_events,
           string_agg(substr(event_type, 1, 1), '' ORDER BY event_id) AS seq
    FROM events GROUP BY user_id
)
SELECT user_id, n_events,
       CAST(len(regexp_extract_all(seq, '{_PATTERN}')) AS INT) AS n_matches
FROM seqs
WHERE len(regexp_extract_all(seq, '{_PATTERN}')) > 0
ORDER BY user_id
"""


@register(
    "events_pattern_detect",
    oracle=_PATTERN_ORACLE,
    description=(
        "MATCH_RECOGNIZE-shaped sequential pattern detection: each user's event "
        "stream folds to an ordered symbol string (one shuffle, event_id total "
        "order) and the pattern 'view, then click with no purchase between, then "
        "purchase' runs as a regex over it — counts of non-overlapping matches. "
        "Per-user state is the symbol string (bounded by the user's event count); "
        "the pattern machinery itself is JVM regexp, no UDF. The generalization of "
        "events_funnel_conversion's fixed three-step shape to arbitrary patterns"
    ),
    tags=("analytics", "events", "window"),
)
def events_pattern_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    symbols = F.concat_ws(
        "",
        F.transform(
            F.array_sort(F.collect_list(F.struct("event_id", "event_type"))),
            lambda x: x["event_type"].substr(1, 1),
        ),
    )
    seqs = e.groupBy("user_id").agg(
        F.count("*").alias("n_events"), symbols.alias("seq")
    )
    n_matches = F.regexp_count(F.col("seq"), F.lit(_PATTERN)).cast("int")
    return (
        seqs.select("user_id", "n_events", n_matches.alias("n_matches"))
        .filter(F.col("n_matches") > 0)
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# time-bounded funnel (each step within 72h of the previous)
# ---------------------------------------------------------------------------

_FUNNEL_TB_ORACLE = """
WITH v AS (
    SELECT user_id, min(ts) AS t_v FROM events WHERE event_type = 'view' GROUP BY user_id
),
c AS (
    SELECT e.user_id, min(e.ts) AS t_c
    FROM events e JOIN v ON v.user_id = e.user_id
    WHERE e.event_type = 'click' AND e.ts > v.t_v AND e.ts <= v.t_v + INTERVAL 72 HOUR
    GROUP BY e.user_id
),
p AS (
    SELECT e.user_id
    FROM events e JOIN c ON c.user_id = e.user_id
    WHERE e.event_type = 'purchase' AND e.ts > c.t_c AND e.ts <= c.t_c + INTERVAL 72 HOUR
    GROUP BY e.user_id
)
SELECT (SELECT count(*) FROM v) AS n_view,
       (SELECT count(*) FROM c) AS n_click,
       (SELECT count(*) FROM p) AS n_purchase,
       ((SELECT count(*) FROM p) * CAST(1000000 AS BIGINT)) // (SELECT count(*) FROM v)
           AS conversion_micro
"""


@register(
    "events_funnel_time_bounded",
    oracle=_FUNNEL_TB_ORACLE,
    description=(
        "time-bounded funnel: view -> click -> purchase with each step within 72h "
        "of the previous (the unbounded funnel overcounts users who 'converted' "
        "months later). Three user-keyed conditional-min aggregates, each joined "
        "to the prior step's anchor time — every pass is column-pruned and "
        "partial-agg combinable; timestamps compare at microsecond precision in "
        "both engines"
    ),
    tags=("analytics", "events", "temporal"),
)
def events_funnel_time_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    step = F.expr("INTERVAL 72 HOURS")
    v = e.filter(F.col("event_type") == "view").groupBy("user_id").agg(F.min("ts").alias("t_v"))
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter((F.col("ts") > F.col("t_v")) & (F.col("ts") <= F.col("t_v") + step))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_c"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter((F.col("ts") > F.col("t_c")) & (F.col("ts") <= F.col("t_c") + step))
        .groupBy("user_id")
        .agg(F.count("*").alias("_n"))
    )
    nv = v.agg(F.count("*").alias("n_view"))
    nc = c.agg(F.count("*").alias("n_click"))
    np_ = p.agg(F.count("*").alias("n_purchase"))
    return (
        nv.crossJoin(nc)
        .crossJoin(np_)
        .select(
            "n_view",
            "n_click",
            "n_purchase",
            # exact integer-micro
            F.expr("(n_purchase * CAST(1000000 AS BIGINT)) div n_view").alias(
                "conversion_micro"
            ),
        )
    )


# ---------------------------------------------------------------------------
# day-of-week seasonality profile
# ---------------------------------------------------------------------------

_SEASON_ORACLE = """
WITH base AS (
    SELECT event_type, dayofweek(ts) + 1 AS dow, value FROM events
),
per_dow AS (
    SELECT event_type, dow, count(*) AS n_events,
           (CAST(round(sum(value) * 10000) AS BIGINT) * 100) // count(*) AS avg_value_micro
    FROM base GROUP BY event_type, dow
),
overall AS (
    SELECT event_type, count(*) AS n_total
    FROM base GROUP BY event_type
)
SELECT p.event_type, CAST(p.dow AS INT) AS dow, p.n_events, p.avg_value_micro,
       (p.n_events * CAST(7000000 AS BIGINT)) // o.n_total AS seasonality_index_micro
FROM per_dow p JOIN overall o ON p.event_type = o.event_type
ORDER BY p.event_type, dow
"""


@register(
    "temporal_seasonality_profile",
    oracle=_SEASON_ORACLE,
    description=(
        "day-of-week seasonality profile: per (event_type, weekday) volume and "
        "mean value plus the seasonality index n / (total/7) — the load-shape "
        "fingerprint capacity planning and anomaly baselines start from. One "
        "partial-agg shuffle keyed by (type, dow); output is 7x|types| rows. "
        "NOTE Spark dayofweek is 1=Sunday while DuckDB's is 0=Sunday — the classic "
        "cross-engine calendar off-by-one, which this oracle (+1 on the DuckDB "
        "side) had to fix in anger"
    ),
    tags=("analytics", "temporal", "events", "aggregation"),
)
def temporal_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    base = e.select("event_type", F.dayofweek("ts").alias("dow"), "value")
    # exact integer-micro quotients: the e4-snapped
    # value sum and the 7x count ratio are BIGINT-exact on both engines, so
    # truncating div has no rounding mode to disagree on
    per_dow = base.groupBy("event_type", "dow").agg(
        F.count("*").alias("n_events"),
        F.expr(
            "(CAST(round(sum(value) * 10000, 0) AS BIGINT) * CAST(100 AS BIGINT))"
            " div count(*)"
        ).alias("avg_value_micro"),
    )
    overall = base.groupBy("event_type").agg(F.count("*").alias("n_total"))
    return (
        per_dow.join(F.broadcast(overall), "event_type")
        .select(
            "event_type",
            F.col("dow").cast("int").alias("dow"),
            "n_events",
            "avg_value_micro",
            F.expr("(n_events * CAST(7000000 AS BIGINT)) div n_total").alias(
                "seasonality_index_micro"
            ),
        )
        .orderBy("event_type", "dow")
    )


# ---------------------------------------------------------------------------
# Pareto concentration (the 80/20 audit)
# ---------------------------------------------------------------------------

_PARETO_ORACLE = """
WITH per_user AS (
    SELECT user_id, count(*) AS n FROM events GROUP BY user_id
),
ranked AS (
    SELECT user_id, n,
           row_number() OVER (ORDER BY n DESC, user_id ASC) AS rnk,
           sum(n) OVER (ORDER BY n DESC, user_id ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
           sum(n) OVER () AS total_n,
           count(*) OVER () AS total_users
    FROM per_user
)
SELECT CAST(min(CASE WHEN cum_n >= 0.8 * total_n THEN rnk END) AS BIGINT) AS users_for_80pct,
       CAST(max(total_users) AS BIGINT) AS total_users,
       (min(CASE WHEN cum_n >= 0.8 * total_n THEN rnk END) * CAST(1000000 AS BIGINT))
             // max(total_users) AS user_share_for_80pct_micro,
       CAST(max(CASE WHEN rnk <= CAST(ceil(0.2 * total_users) AS BIGINT)
                     THEN (cum_n * 1000000) // total_n END) AS BIGINT)
           AS volume_share_of_top20pct_micro
FROM ranked
"""


@register(
    "events_pareto_concentration",
    oracle=_PARETO_ORACLE,
    description=(
        "Pareto/80-20 concentration audit: how few users produce 80% of events, "
        "and what share the top 20% of users hold — the workload-concentration "
        "number that predicts hot-key skew before a join does (see "
        "profile_join_key_skew for the per-key view). One aggregate to "
        "user-cardinality rows, then rank + running-sum windows over that small "
        "set; output is a single audit row"
    ),
    tags=("analytics", "events", "window", "skew"),
)
def events_pareto_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window  # noqa: PLC0415

    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(F.count("*").alias("n"))
    order = Window.orderBy(F.desc("n"), F.asc("user_id"))
    ranked = per_user.select(
        "n",
        F.row_number().over(order).alias("rnk"),
        F.sum("n").over(order.rowsBetween(Window.unboundedPreceding, Window.currentRow)).alias("cum_n"),
        F.sum("n").over(Window.partitionBy()).alias("total_n"),
        F.count("*").over(Window.partitionBy()).alias("total_users"),
    )
    users_80 = F.min(F.when(F.col("cum_n") >= 0.8 * F.col("total_n"), F.col("rnk")))
    # exact integer-micro shares: total_n/total_users
    # are constant across rows, so max over per-row truncating quotients ==
    # the truncating quotient of the max — monotone, no rounding mode
    top20_share_micro = F.max(
        F.when(
            F.col("rnk") <= F.ceil(0.2 * F.col("total_users")).cast("bigint"),
            F.expr("(cum_n * CAST(1000000 AS BIGINT)) div total_n"),
        )
    )
    return ranked.agg(
        users_80.cast("bigint").alias("users_for_80pct"),
        F.max("total_users").cast("bigint").alias("total_users"),
        (users_80 * F.lit(1000000).cast("bigint")).cast("long").alias("_u80m"),
        top20_share_micro.alias("volume_share_of_top20pct_micro"),
    ).select(
        "users_for_80pct",
        "total_users",
        F.expr("_u80m div total_users").alias("user_share_for_80pct_micro"),
        "volume_share_of_top20pct_micro",
    )


# ---------------------------------------------------------------------------
# error-burst detection (ops anomaly on windowed counts)
# ---------------------------------------------------------------------------

_BURST_ORACLE = """
WITH buckets AS (
    SELECT date_trunc('hour', ts) AS w, count(*) AS n_errors
    FROM events WHERE event_type = 'error'
    GROUP BY 1
),
stats AS (
    SELECT avg(CAST(n_errors AS DOUBLE)) AS mu,
           stddev_samp(CAST(n_errors AS DOUBLE)) AS sigma
    FROM buckets
)
SELECT b.w AS window_start, b.n_errors,
       round((b.n_errors - s.mu) / s.sigma, 6) AS z_score
FROM buckets b CROSS JOIN stats s
WHERE (b.n_errors - s.mu) / s.sigma > 2.0
ORDER BY window_start
"""


@register(
    "events_error_burst_detection",
    oracle=_BURST_ORACLE,
    description=(
        "error-burst detection: hourly error counts z-scored against the feed's "
        "own distribution, windows beyond 2 sigma flagged — the paging-alert "
        "shape. One bucket aggregate (hour-cardinality rows), a broadcast scalar "
        "stats cross, a filter; the streaming twin is a tumbling-window count "
        "stream joined to the same broadcast baseline"
    ),
    tags=("analytics", "events", "temporal", "quality"),
)
def events_error_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    buckets = e.groupBy(F.date_trunc("hour", F.col("ts")).alias("window_start")).agg(
        F.count("*").alias("n_errors")
    )
    stats = buckets.agg(
        F.avg(F.col("n_errors").cast("double")).alias("mu"),
        F.stddev_samp(F.col("n_errors").cast("double")).alias("sigma"),
    )
    z = (F.col("n_errors") - F.col("mu")) / F.col("sigma")
    return (
        buckets.crossJoin(F.broadcast(stats))
        .filter(z > 2.0)
        .select("window_start", "n_errors", F.round(z, 6).alias("z_score"))
        .orderBy("window_start")
    )


@register(
    "agg_hll_intersection",
    # HLL sketch binaries are engine-specific; the driver-checked output is
    # the EXACT overlap plus the inclusion-exclusion estimate's 10% bound as
    # a boolean — a sketch regression flips within_10pct
    # and fails the value hash.
    oracle="""
        WITH p(pair, a, b) AS (
            VALUES ('click&purchase', 'click', 'purchase'),
                   ('view&click', 'view', 'click'),
                   ('signup&error', 'signup', 'error')
        ),
        u AS (SELECT DISTINCT event_type, user_id FROM events)
        SELECT p.pair,
               CAST(count(ub.user_id) AS BIGINT) AS exact_overlap,
               true AS within_10pct
        FROM p
        LEFT JOIN u ua ON ua.event_type = p.a
        LEFT JOIN u ub ON ub.event_type = p.b AND ub.user_id = ua.user_id
        GROUP BY p.pair ORDER BY p.pair
    """,
    description=(
        "sketch set-algebra: estimated distinct-user OVERLAP between event-type "
        "pairs via inclusion-exclusion over HLL sketches (|A n B| = |A|+|B|-|A u B|, "
        "union = register max) — audience-overlap arithmetic from O(types) sketch "
        "state, no pairwise exact distinct over raw rows. Exact audit columns + "
        "a 10% tolerance raise_error exist for the harness; production drops "
        "them. Inclusion-exclusion compounds two estimates' error, hence the "
        "wider gate than the rollup's 5%"
    ),
    tags=("analytics", "aggregation", "sketch", "events"),
)
def agg_hll_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    pairs = [("click", "purchase"), ("view", "click"), ("signup", "error")]
    # one sketch build for all three pair arms (each arm otherwise re-ran
    # the corpus sketch agg — O(event_types) rows, materialize once); the
    # exact-overlap sides still scan per pair, which is the audit's point
    sk = (
        e.groupBy("event_type")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .localCheckpoint(eager=True)
    )
    out = None
    for a, b in pairs:
        two = sk.filter(F.col("event_type").isin(a, b))
        est = two.agg(
            F.lit(f"{a}&{b}").alias("pair"),
            F.sum(F.hll_sketch_estimate("sk")).alias("sum_each"),
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_union"),
        ).select(
            "pair", "sum_each", (F.col("sum_each") - F.col("est_union")).alias("est_overlap")
        )
        exact = (
            e.filter(F.col("event_type") == a)
            .select("user_id")
            .intersect(e.filter(F.col("event_type") == b).select("user_id"))
            .agg(F.count("*").alias("exact_overlap"))
            .select(F.lit(f"{a}&{b}").alias("pair"), "exact_overlap")
        )
        row = est.join(exact, "pair")
        out = row if out is None else out.unionByName(row)
    # Zero-overlap guard: with ANSI mode on (session default) a
    # zero exact_overlap would fail the whole query with a divide-by-zero;
    # fall back to an absolute bound — the HLL estimate of a truly empty
    # intersection must stay within 10% of the two audiences' sketch mass.
    rel_err = F.abs(F.col("est_overlap") - F.col("exact_overlap")) / F.col("exact_overlap")
    within = F.when(F.col("exact_overlap") > 0, rel_err <= 0.10).otherwise(
        F.abs(F.col("est_overlap")) <= 0.10 * F.col("sum_each")
    )
    return out.select("pair", "exact_overlap", within.alias("within_10pct")).orderBy("pair")


@register(
    "temporal_week_over_week",
    oracle="""
        WITH weekly AS (
            SELECT event_type, date_trunc('week', ts) AS week, count(*) AS n
            FROM events GROUP BY event_type, date_trunc('week', ts)
        )
        SELECT event_type, week, n,
               lag(n) OVER (PARTITION BY event_type ORDER BY week) AS prev_n,
               (n * CAST(1000000 AS BIGINT))
                   // lag(n) OVER (PARTITION BY event_type ORDER BY week)
                   - 1000000 AS wow_change_micro
        FROM weekly ORDER BY event_type, week
    """,
    description=(
        "week-over-week change per event type: weekly buckets (one partial-agg "
        "shuffle) then a lag window over week-cardinality rows — the reporting "
        "staple, with the window over the AGGREGATED grain so the sort touches "
        "dozens of rows per type, never events. NULL change on each type's first "
        "week (no synthetic zero — a fabricated baseline is the classic WoW lie)"
    ),
    tags=("analytics", "temporal", "events", "window"),
)
def temporal_week_over_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window  # noqa: PLC0415

    e = load_table(spark, sf_dir, "events")
    weekly = e.groupBy(
        "event_type", F.date_trunc("week", F.col("ts")).alias("week")
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("event_type").orderBy("week")
    prev = F.lag("n").over(w)
    return weekly.select(
        "event_type",
        "week",
        "n",
        prev.alias("prev_n"),
    ).withColumn(
        # exact integer-micro
        "wow_change_micro",
        F.expr("(n * CAST(1000000 AS BIGINT)) div prev_n - 1000000"),
    ).orderBy("event_type", "week")


# ---------------------------------------------------------------------------
# peak concurrency (endpoint-sweep running max)
# ---------------------------------------------------------------------------

_CONC_ORACLE = """
WITH presence AS (
    SELECT user_id,
           epoch_us(ts) AS s_us,
           epoch_us(ts) + 300000000 AS e_us
    FROM events
),
endpoints AS (
    SELECT s_us AS t, 1 AS delta, user_id FROM presence
    UNION ALL
    SELECT e_us AS t, -1 AS delta, user_id FROM presence
),
swept AS (
    SELECT t, sum(sum(delta)) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS concurrent
    FROM endpoints GROUP BY t
)
SELECT CAST(max(concurrent) AS BIGINT) AS peak_concurrent,
       CAST(min(concurrent) AS BIGINT) AS min_concurrent,
       CAST(count(*) AS BIGINT) AS n_distinct_instants
FROM swept
"""


@register(
    "events_peak_concurrency",
    oracle=_CONC_ORACLE,
    description=(
        "peak concurrency via the endpoint sweep: each event contributes a "
        "5-minute presence interval as (+1 at start, -1 at end) deltas; deltas "
        "pre-aggregate per instant (map-side combinable — ties collapse BEFORE "
        "the window), then one running sum over instant-cardinality rows, max "
        "out. The interval-stabbing question ('how many simultaneous X') "
        "answered without expanding intervals into per-minute rows — the naive "
        "explode at 100 TB is interval_length x rows; the sweep is 2 rows per "
        "interval"
    ),
    tags=("analytics", "events", "temporal", "window", "scale"),
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window  # noqa: PLC0415

    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    starts = e.select(us.alias("t"), F.lit(1).alias("delta"))
    ends = e.select((us + 300_000_000).alias("t"), F.lit(-1).alias("delta"))
    per_instant = starts.unionByName(ends).groupBy("t").agg(F.sum("delta").alias("d"))
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    swept = per_instant.select(F.sum("d").over(w).alias("concurrent"))
    return swept.agg(
        F.max("concurrent").cast("bigint").alias("peak_concurrent"),
        F.min("concurrent").cast("bigint").alias("min_concurrent"),
        F.count("*").cast("bigint").alias("n_distinct_instants"),
    )


@register(
    "agg_winsorized_mean",
    oracle="""
        WITH ranked AS (
            SELECT event_type, value,
                   row_number() OVER (PARTITION BY event_type ORDER BY value) AS r,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM events
        ),
        bounds AS (
            SELECT event_type,
                   min(CASE WHEN r = (n + 19) // 20 THEN value END) AS lo,
                   min(CASE WHEN r = (19 * n + 19) // 20 THEN value END) AS hi
            FROM ranked GROUP BY event_type
        )
        SELECT e.event_type,
               count(*) AS n,
               (CAST(round(sum(CASE WHEN e.value < b.lo THEN b.lo
                                    WHEN e.value > b.hi THEN b.hi
                                    ELSE e.value END) * 10000) AS BIGINT) * 100)
                   // count(*) AS winsorized_mean_micro,
               (CAST(round(sum(e.value) * 10000) AS BIGINT) * 100)
                   // count(*) AS raw_mean_micro
        FROM events e JOIN bounds b ON e.event_type = b.event_type
        GROUP BY e.event_type ORDER BY e.event_type
    """,
    description=(
        "winsorized mean per group: values clamped to the [p5, p95] band before "
        "averaging — the robust location estimate that survives the heavy tails "
        "a raw mean chases (MAD flags outliers; winsorizing neutralizes them "
        "without dropping rows). Bounds are EXACT order statistics at rank "
        "ceil(q*n) (the repaired rfm shape — no interpolated boundary, so every "
        "clamped value stays on the data's 1e-4 grid and the means ship as "
        "integer-micro truncating quotients, tie-free on both engines). Two "
        "passes: per-group rank window for the bounds (broadcast back), then "
        "one clamped aggregate"
    ),
    tags=("analytics", "aggregation", "quality", "percentile"),
)
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window  # noqa: PLC0415

    e = load_table(spark, sf_dir, "events")
    part = Window.partitionBy("event_type")
    ranked = e.select(
        "event_type",
        "value",
        F.row_number().over(part.orderBy("value")).alias("r"),
        F.count("*").over(part).alias("n"),
    )
    bounds = ranked.groupBy("event_type").agg(
        F.min(F.when(F.col("r") == F.expr("(n + 19) div 20"), F.col("value"))).alias("lo"),
        F.min(F.when(F.col("r") == F.expr("(19 * n + 19) div 20"), F.col("value"))).alias("hi"),
    )
    clamped = F.when(F.col("value") < F.col("lo"), F.col("lo")).when(
        F.col("value") > F.col("hi"), F.col("hi")
    ).otherwise(F.col("value"))
    return (
        e.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            # exact integer-micro means over e4-snapped sums
            F.expr(
                "(CAST(round(sum(CASE WHEN value < lo THEN lo"
                " WHEN value > hi THEN hi ELSE value END) * 10000, 0) AS BIGINT)"
                " * CAST(100 AS BIGINT)) div count(*)"
            ).alias("winsorized_mean_micro"),
            F.expr(
                "(CAST(round(sum(value) * 10000, 0) AS BIGINT)"
                " * CAST(100 AS BIGINT)) div count(*)"
            ).alias("raw_mean_micro"),
        )
        .orderBy("event_type")
    )


@register(
    "events_dau_wau",
    oracle="""
        WITH user_days AS (
            SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d FROM events
        ),
        days AS (SELECT DISTINCT d FROM user_days),
        wau AS (
            SELECT days.d, count(DISTINCT ud.user_id) AS wau
            FROM days JOIN user_days ud
              ON ud.d > days.d - INTERVAL 7 DAY AND ud.d <= days.d
            GROUP BY days.d
        ),
        dau AS (SELECT d, count(*) AS dau FROM user_days GROUP BY d)
        SELECT CAST(dau.d AS VARCHAR) AS day, dau.dau, wau.wau,
               (dau.dau * CAST(1000000 AS BIGINT)) // wau.wau AS stickiness_micro
        FROM dau JOIN wau ON dau.d = wau.d
        ORDER BY day
    """,
    description=(
        "DAU / trailing-7-day WAU / stickiness per day: the engagement staple, "
        "computed scale-correctly — events first collapse to (user, day) rows "
        "(ONE dedup shuffle; the fact table never joins anything), and the "
        "trailing-window distinct runs over that user-day grain against the "
        "day grid (a 7-day band join of day-cardinality x user-day rows). The "
        "naive form — distinct users over a sliding event window — re-scans raw "
        "events once per day of history"
    ),
    tags=("analytics", "events", "temporal", "join", "scale"),
)
def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    user_days = e.select(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("d")
    ).distinct()
    days = user_days.select("d").distinct()
    ud = user_days.select(F.col("user_id"), F.col("d").alias("ud_d"))
    wau = (
        days.join(
            ud,
            (F.col("ud_d") > F.date_sub(F.col("d"), 7)) & (F.col("ud_d") <= F.col("d")),
        )
        .groupBy("d")
        .agg(F.count_distinct("user_id").alias("wau"))
    )
    dau = user_days.groupBy("d").agg(F.count("*").alias("dau"))
    return (
        dau.join(wau, "d")
        .select(
            F.col("d").cast("string").alias("day"),
            "dau",
            "wau",
            # exact integer-micro
            F.expr("(dau * CAST(1000000 AS BIGINT)) div wau").alias("stickiness_micro"),
        )
        .orderBy("day")
    )


@register(
    "events_attribution_first_touch",
    oracle="""
        WITH s AS (
            SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
        ),
        tagged AS (
            SELECT user_id, event_id, event_type, us,
                   first_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_type,
                   first_value(CASE WHEN event_type <> 'purchase' THEN event_id END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_event_id
            FROM s
        )
        SELECT user_id, event_id AS purchase_event_id, touch_type, touch_event_id
        FROM tagged
        WHERE event_type = 'purchase' AND touch_type IS NOT NULL
        ORDER BY user_id, purchase_event_id
    """,
    description=(
        "first-touch attribution: each purchase credited to the user's EARLIEST "
        "preceding non-purchase event — first_value(IGNORE NULLS) over the same "
        "trailing frame last-touch uses, so the attribution pair shares one "
        "window pass shape and a marketing team can diff the two models row for "
        "row"
    ),
    tags=("analytics", "events", "window", "attribution"),
)
def events_attribution_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window  # noqa: PLC0415

    e = load_table(spark, sf_dir, "events")
    s = e.select(
        "user_id", "event_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("us").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    not_purchase = F.col("event_type") != "purchase"
    tagged = s.withColumn(
        "touch_type", F.first(F.when(not_purchase, F.col("event_type")), ignorenulls=True).over(w)
    ).withColumn(
        "touch_event_id",
        F.first(F.when(not_purchase, F.col("event_id")), ignorenulls=True).over(w),
    )
    return (
        tagged.filter((F.col("event_type") == "purchase") & F.col("touch_type").isNotNull())
        .select(
            "user_id",
            F.col("event_id").alias("purchase_event_id"),
            "touch_type",
            "touch_event_id",
        )
        .orderBy("user_id", "purchase_event_id")
    )


@register(
    "events_time_to_convert",
    oracle="""
        WITH v AS (
            SELECT user_id, min(epoch_us(ts)) AS t_v FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ),
        p AS (
            SELECT e.user_id, min(epoch_us(e.ts)) AS t_p
            FROM events e JOIN v ON v.user_id = e.user_id
            WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > v.t_v
            GROUP BY e.user_id
        ),
        lat AS (
            SELECT p.user_id, p.t_p - v.t_v AS gap_us
            FROM p JOIN v ON v.user_id = p.user_id
        )
        SELECT CAST(count(*) AS BIGINT) AS n_converted,
               percentile_cont(0.5) WITHIN GROUP (ORDER BY CAST(gap_us AS DOUBLE)) AS p50_us,
               percentile_cont(0.9) WITHIN GROUP (ORDER BY CAST(gap_us AS DOUBLE)) AS p90_us,
               CAST(min(gap_us) AS BIGINT) AS min_us,
               CAST(max(gap_us) AS BIGINT) AS max_us
        FROM lat
    """,
    description=(
        "time-to-convert distribution: first view to first subsequent purchase "
        "per user, summarized as exact latency percentiles — the funnel's "
        "COMPANION number (the funnel says how many convert; this says how "
        "long they take, which sets attribution windows and retargeting "
        "timing). Two conditional-min aggregates keyed by user, percentiles "
        "over user-cardinality rows; everything stays in integer "
        "microseconds — min/max are BIGINT and the interpolated percentiles "
        "run over DOUBLE-cast integers UNROUNDED (round(.,6) of a seconds "
        "quotient ties exactly on half-microsecond midpoints, a round-half "
        "tie)"
    ),
    tags=("analytics", "events", "temporal", "percentile"),
)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    v = e.filter(F.col("event_type") == "view").groupBy("user_id").agg(F.min(us).alias("t_v"))
    p = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id", us.alias("t"))
        .join(v, "user_id")
        .filter(F.col("t") > F.col("t_v"))
        .groupBy("user_id")
        .agg(F.min("t").alias("t_p"))
    )
    lat = p.join(v, "user_id").select((F.col("t_p") - F.col("t_v")).alias("gap_us"))
    return lat.agg(
        F.count("*").cast("bigint").alias("n_converted"),
        F.percentile(F.col("gap_us").cast("double"), 0.5).alias("p50_us"),
        F.percentile(F.col("gap_us").cast("double"), 0.9).alias("p90_us"),
        F.min("gap_us").cast("bigint").alias("min_us"),
        F.max("gap_us").cast("bigint").alias("max_us"),
    )


@register(
    "agg_order_size_distribution",
    oracle="""
        WITH per_order AS (
            SELECT l_orderkey, count(*) AS n_items FROM lineitem GROUP BY l_orderkey
        )
        SELECT CAST(n_items AS INT) AS n_items,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST((count(*) * 1000000) // sum(count(*)) OVER () AS BIGINT)
                   AS share_micro
        FROM per_order
        GROUP BY n_items ORDER BY n_items
    """,
    description=(
        "order-size distribution: lineitems-per-order histogram with shares — "
        "the two-level aggregate shape (fact rows fold to order grain, the "
        "histogram folds order-cardinality rows) where the naive GROUP BY + "
        "COUNT(DISTINCT ...) formulations shuffle the fact table twice. The "
        "basket-size staple every retail mart reports"
    ),
    tags=("analytics", "aggregation", "tpch"),
)
def agg_order_size_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window  # noqa: PLC0415

    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(F.count("*").alias("n_items"))
    hist = per_order.groupBy(F.col("n_items").cast("int").alias("n_items")).agg(
        F.count("*").cast("bigint").alias("n_orders")
    )
    return hist.select(
        "n_items",
        "n_orders",
        # exact integer-micro
        F.expr(
            "(n_orders * CAST(1000000 AS BIGINT)) div (sum(n_orders) OVER ())"
        ).alias("share_micro"),
    ).orderBy("n_items")


@register(
    "events_markov_transitions",
    oracle="""
        WITH t AS (
            SELECT event_type AS from_type,
                   lead(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS to_type
            FROM events
        )
        SELECT from_type, to_type, count(*) AS n,
               CAST((count(*) * 1000000)
                    // sum(count(*)) OVER (PARTITION BY from_type) AS BIGINT) AS p_micro
        FROM t WHERE to_type IS NOT NULL
        GROUP BY from_type, to_type
        ORDER BY from_type, to_type
    """,
    description=(
        "first-order Markov transition matrix over per-user event sequences: "
        "P(next event type | current), the behavioral model behind next-action "
        "prediction and funnel-shape drift monitoring. One shuffle keyed by "
        "user_id for the lead() ordering, one tiny k^2 aggregate (k = distinct "
        "event types); the per-row normalization window runs on the k^2 table, "
        "never the event stream"
    ),
    tags=("analytics", "events", "window", "aggregation"),
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        e.select("user_id", "ts", "event_id", "event_type")
        .withColumn("to_type", F.lead("event_type").over(w))
        .filter(F.col("to_type").isNotNull())
    )
    counts = trans.groupBy(
        F.col("event_type").alias("from_type"), "to_type"
    ).agg(F.count("*").alias("n"))
    tot = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        # exact integer-micro
        F.expr(
            "(n * CAST(1000000 AS BIGINT)) div (sum(n) OVER (PARTITION BY from_type))"
        ).alias("p_micro"),
    ).orderBy("from_type", "to_type")


@register(
    "events_cohort_ltv",
    oracle="""
        WITH f AS (
            SELECT user_id,
                   CAST(floor(epoch(min(ts)) / 604800) AS BIGINT) AS cohort_week
            FROM events GROUP BY user_id
        ),
        contrib AS (
            SELECT f.cohort_week,
                   CAST(floor(epoch(e.ts) / 604800) AS BIGINT) - f.cohort_week AS week_offset,
                   e.value
            FROM events e JOIN f USING (user_id)
        ),
        sizes AS (SELECT cohort_week, count(*) AS cohort_size FROM f GROUP BY cohort_week),
        per_offset AS (
            SELECT cohort_week, week_offset,
                   CAST(round(sum(value) * 10000) AS BIGINT) AS week_e4
            FROM contrib GROUP BY cohort_week, week_offset
        )
        SELECT p.cohort_week, p.week_offset, s.cohort_size,
               CAST((sum(p.week_e4) OVER (PARTITION BY p.cohort_week
                                          ORDER BY p.week_offset) * 100)
                    // s.cohort_size AS BIGINT) AS cum_value_per_user_micro
        FROM per_offset p JOIN sizes s USING (cohort_week)
        ORDER BY p.cohort_week, p.week_offset
    """,
    description=(
        "cohort lifetime-value curves: cumulative event value per user by "
        "cohort age (weeks since the cohort's first-seen week) — the LTV "
        "payback readout that pairs with events_cohort_retention's activity "
        "matrix. Per-week sums are snapped to integer 1e-4 units BEFORE the "
        "running total (float fold order cannot differ between engines) and "
        "the per-user quotient ships as exact integer-micro truncating "
        "division — no rounding mode to diverge; "
        "the cumulative window runs on the O(weeks^2) curve table, never "
        "the event stream"
    ),
    tags=("analytics", "events", "window", "aggregation"),
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    wk = F.floor(F.unix_timestamp("ts") / _WEEK).cast("bigint")
    firstseen = e.groupBy("user_id").agg(
        F.floor(F.unix_timestamp(F.min("ts")) / _WEEK).cast("bigint").alias("cohort_week")
    )
    sizes = firstseen.groupBy("cohort_week").agg(F.count("*").alias("cohort_size"))
    per_offset = (
        e.join(firstseen, "user_id")
        .withColumn("week_offset", wk - F.col("cohort_week"))
        .groupBy("cohort_week", "week_offset")
        .agg(F.round(F.sum("value") * 10000, 0).cast("long").alias("week_e4"))
    )
    cum = Window.partitionBy("cohort_week").orderBy("week_offset")
    return (
        per_offset.join(F.broadcast(sizes), "cohort_week")
        .withColumn("cum_e4", F.sum("week_e4").over(cum))
        .select(
            "cohort_week",
            "week_offset",
            "cohort_size",
            F.expr("(cum_e4 * CAST(100 AS BIGINT)) div cohort_size").alias(
                "cum_value_per_user_micro"
            ),
        )
        .orderBy("cohort_week", "week_offset")
    )


@register(
    "graph_degree_distribution",
    oracle="""
        WITH pairs AS (
            SELECT DISTINCT o.o_custkey * 2 AS cust_v, l.l_partkey * 2 + 1 AS part_v
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        ),
        deg AS (
            SELECT v, count(*) AS degree FROM (
                SELECT cust_v AS v FROM pairs UNION ALL SELECT part_v AS v FROM pairs
            ) GROUP BY v
        )
        SELECT degree, count(*) AS n_vertices,
               round(ln(CAST(count(*) AS DOUBLE)), 6) AS log_count
        FROM deg GROUP BY degree
        ORDER BY degree
    """,
    description=(
        "degree distribution of the customer<->part co-purchase graph (the "
        "power-law readout that sizes LSH caps, skew salting and hub "
        "mitigation before running pagerank/components at 100 TB): distinct "
        "bipartite edges -> per-vertex degree -> degree histogram. Two "
        "map-side-combinable aggregates; nothing wider than (vertex, count) "
        "ever shuffles"
    ),
    tags=("analytics", "graph", "aggregation", "profiling", "scale"),
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("cust_v"),
            (F.col("l_partkey") * 2 + 1).alias("part_v"),
        )
        .distinct()
    )
    # one pass over the pair lineage (see _symmetrize_bipartite): the
    # union-of-two-selects form planned the join+distinct subtree twice
    verts = pairs.select(F.explode(F.array("cust_v", "part_v")).alias("v"))
    deg = verts.groupBy("v").agg(F.count("*").alias("degree"))
    return (
        deg.groupBy("degree")
        .agg(F.count("*").alias("n_vertices"))
        .select(
            "degree",
            "n_vertices",
            F.round(F.log(F.col("n_vertices").cast("double")), 6).alias("log_count"),
        )
        .orderBy("degree")
    )


@register(
    "quality_order_total_reconcile",
    oracle="""
        WITH calc AS (
            SELECT l_orderkey,
                   round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
                       AS calc_total
            FROM lineitem GROUP BY l_orderkey
        ),
        j AS (
            SELECT o.o_orderkey, o.o_totalprice, c.calc_total,
                   abs(o.o_totalprice - c.calc_total) AS delta
            FROM orders o LEFT JOIN calc c ON o.o_orderkey = c.l_orderkey
        )
        SELECT count(*) AS n_orders,
               CAST(sum(CASE WHEN calc_total IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_orphan_orders,
               CAST(sum(CASE WHEN delta < 0.01 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_consistent,
               CAST((sum(CAST(round(delta * 100) AS BIGINT)) * 10000)
                    // count(delta) AS BIGINT) AS avg_abs_delta_micro,
               round(quantile_cont(delta, 0.5), 4) AS p50_abs_delta,
               round(max(delta), 4) AS max_abs_delta
        FROM j
    """,
    description=(
        "cross-table financial reconciliation: o_totalprice vs the lineitem-"
        "derived sum(extprice*(1-disc)*(1+tax)) — the header-vs-detail "
        "consistency audit every warehouse DQ suite runs (the fixtures fail "
        "it wholesale, which is exactly what the audit reports: 0 consistent, "
        "257 orders with no lineitems). Per-order sums rounded to cents "
        "before comparing so float fold order cannot flip a verdict; one "
        "orderkey-keyed aggregate + one join"
    ),
    tags=("quality", "aggregation", "join", "profiling"),
)
def quality_order_total_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    calc = lineitem.groupBy("l_orderkey").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 2
        ).alias("calc_total")
    )
    j = orders.join(calc, orders.o_orderkey == calc.l_orderkey, "left").select(
        "o_totalprice",
        "calc_total",
        F.abs(F.col("o_totalprice") - F.col("calc_total")).alias("delta"),
    )
    return j.agg(
        F.count("*").alias("n_orders"),
        F.sum(F.when(F.col("calc_total").isNull(), 1).otherwise(0)).alias("n_orphan_orders"),
        F.sum(F.when(F.col("delta") < 0.01, 1).otherwise(0)).alias("n_consistent"),
        # exact integer-micro average over cent-snapped deltas: delta is a difference of cents-grid values, so
        # round(delta*100) recovers the exact cent count on both engines
        F.expr(
            "(sum(CAST(round(delta * 100, 0) AS BIGINT)) * CAST(10000 AS BIGINT))"
            " div count(delta)"
        ).alias("avg_abs_delta_micro"),
        F.round(F.expr("percentile(delta, 0.5)"), 4).alias("p50_abs_delta"),
        F.round(F.max("delta"), 4).alias("max_abs_delta"),
    )


@register(
    "events_power_user_gini",
    oracle="""
        WITH per_user AS (
            SELECT user_id, count(*) AS n FROM events GROUP BY user_id
        ),
        ranked AS (
            SELECT n, row_number() OVER (ORDER BY n, user_id) AS i FROM per_user
        ),
        agg AS (
            SELECT count(*) AS nu,
                   CAST(sum(n) AS BIGINT) AS total,
                   CAST(sum(i * n) AS BIGINT) AS weighted
            FROM ranked
        )
        SELECT nu AS n_users, total AS n_events,
               (2 * weighted * CAST(1000000 AS BIGINT)) // (nu * total)
                   - ((nu + 1) * CAST(1000000 AS BIGINT)) // nu AS gini_micro
        FROM agg
    """,
    description=(
        "Gini coefficient of per-user event volume — the concentration "
        "audit behind 'do 1% of users generate 90% of traffic' (and the "
        "skew forecast for any user_id-keyed shuffle). Exact closed form "
        "over the sorted counts: 2*sum(rank*n)/(N*total) - (N+1)/N with a "
        "deterministic (n, user_id) tiebreak; everything after the per-user "
        "count runs on the O(users) table"
    ),
    tags=("analytics", "events", "aggregation", "profiling", "scale"),
)
def events_power_user_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(F.count("*").alias("n"))
    ranked = per_user.select(
        "n", F.row_number().over(Window.orderBy("n", "user_id")).alias("i")
    )
    return ranked.agg(
        F.count("*").alias("n_users"),
        F.sum("n").cast("bigint").alias("n_events"),
        # exact integer-micro: difference of two
        # truncating BIGINT quotients, identical on both engines
        F.expr(
            "(2 * sum(i * n) * CAST(1000000 AS BIGINT)) div (count(*) * sum(n))"
            " - ((count(*) + 1) * CAST(1000000 AS BIGINT)) div count(*)"
        ).alias("gini_micro"),
    )


@register(
    "events_session_length_histogram",
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id,
                   CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
            FROM flagged
        ),
        lens AS (SELECT user_id, sid, count(*) AS len FROM sess GROUP BY user_id, sid)
        SELECT len AS session_length, count(*) AS n_sessions,
               CAST((count(*) * 1000000) // sum(count(*)) OVER () AS BIGINT)
                   AS share_micro
        FROM lens GROUP BY len ORDER BY len
    """,
    description=(
        "session-length distribution (30-min gap sessionization -> events "
        "per session -> histogram with shares): the engagement-shape "
        "readout product teams watch weekly. One user-keyed shuffle shared "
        "by both window passes; the histogram aggregates the O(sessions) "
        "table"
    ),
    tags=("analytics", "events", "window", "sessionization", "aggregation"),
)
def events_session_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id", "ts", "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)) > 1800),
            1,
        ).otherwise(0).alias("new_sess"),
    )
    sess = flagged.select(
        "user_id",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("bigint").alias("sid"),
    )
    lens = sess.groupBy("user_id", "sid").agg(F.count("*").alias("len"))
    hist = lens.groupBy(F.col("len").alias("session_length")).agg(
        F.count("*").alias("n_sessions")
    )
    return hist.select(
        "session_length",
        "n_sessions",
        # exact integer-micro
        F.expr(
            "(n_sessions * CAST(1000000 AS BIGINT)) div (sum(n_sessions) OVER ())"
        ).alias("share_micro"),
    ).orderBy("session_length")


_WF_WINDOW_US = 86_400_000_000  # 1 day between the anchoring view and each later step
_WF_STEP = "CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2 WHEN 'purchase' THEN 3 END"


@register(
    "events_window_funnel",
    oracle=f"""
        WITH u AS (
            SELECT user_id,
                   list_sort(list(ARRAY[epoch_us(ts), {_WF_STEP}]
                                  ORDER BY epoch_us(ts))) AS evs
            FROM events
            WHERE event_type IN ('view', 'click', 'purchase')
            GROUP BY user_id
        ),
        folded AS (
            SELECT user_id,
                   list_reduce(
                       list_prepend(ARRAY[-1, -1, -1]::BIGINT[], evs),
                       (acc, x) -> ARRAY[
                           CASE WHEN x[2] = 1 AND acc[1] < 0 THEN x[1] ELSE acc[1] END,
                           CASE WHEN x[2] = 2 AND acc[2] < 0 AND acc[1] >= 0
                                     AND x[1] - acc[1] <= {_WF_WINDOW_US} THEN x[1] ELSE acc[2] END,
                           CASE WHEN x[2] = 3 AND acc[3] < 0 AND acc[2] >= 0
                                     AND x[1] - acc[1] <= {_WF_WINDOW_US} THEN x[1] ELSE acc[3] END
                       ]) AS st
            FROM u
        ),
        depths AS (
            SELECT CASE WHEN st[3] >= 0 THEN 3 WHEN st[2] >= 0 THEN 2
                        WHEN st[1] >= 0 THEN 1 ELSE 0 END AS depth
            FROM folded
        )
        SELECT depth, count(*) AS n_users,
               CAST((count(*) * 1000000) // sum(count(*)) OVER () AS BIGINT)
                   AS share_micro
        FROM depths GROUP BY depth ORDER BY depth
    """,
    description=(
        "ClickHouse windowFunnel parity: deepest view -> click -> purchase "
        "chain each user completes with every step inside ONE day of the "
        "anchoring first view — the horizon constraint events_funnel_"
        "conversion (unbounded) cannot express. Per-user fold over the "
        "time-sorted (ts, step) array: identical greedy left-fold in both "
        "engines (F.aggregate vs list_reduce), integer microseconds, zero "
        "shuffle beyond the per-user collect; depth histogram is O(4) rows"
    ),
    tags=("analytics", "events", "temporal", "north-star"),
)
def events_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    step = (
        F.when(F.col("event_type") == "view", 1)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "purchase", 3)
    )
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    evs = (
        e.filter(F.col("event_type").isin("view", "click", "purchase"))
        .select("user_id", F.array(us, step.cast("bigint")).alias("ev"))
        .groupBy("user_id")
        .agg(F.array_sort(F.collect_list("ev")).alias("evs"))
    )
    init = F.expr("array(-1L, -1L, -1L)")
    t, idx = lambda x: F.element_at(x, 1), lambda x: F.element_at(x, 2)

    def fold(acc, x):
        a1, a2, a3 = F.element_at(acc, 1), F.element_at(acc, 2), F.element_at(acc, 3)
        w = F.lit(_WF_WINDOW_US)
        return F.array(
            F.when((idx(x) == 1) & (a1 < 0), t(x)).otherwise(a1),
            F.when((idx(x) == 2) & (a2 < 0) & (a1 >= 0) & (t(x) - a1 <= w), t(x)).otherwise(a2),
            F.when((idx(x) == 3) & (a3 < 0) & (a2 >= 0) & (t(x) - a1 <= w), t(x)).otherwise(a3),
        )

    folded = evs.select(F.aggregate("evs", init, fold).alias("st"))
    depth = (
        F.when(F.element_at("st", 3) >= 0, 3)
        .when(F.element_at("st", 2) >= 0, 2)
        .when(F.element_at("st", 1) >= 0, 1)
        .otherwise(0)
    )
    from pyspark.sql import Window  # noqa: PLC0415

    hist = folded.groupBy(depth.alias("depth")).agg(F.count("*").alias("n_users"))
    return hist.select(
        "depth",
        "n_users",
        # exact integer-micro
        F.expr(
            "(n_users * CAST(1000000 AS BIGINT)) div (sum(n_users) OVER ())"
        ).alias("share_micro"),
    ).orderBy("depth")


@register(
    "events_top_paths",
    oracle="""
        WITH seq AS (
            SELECT event_type AS e1,
                   lead(event_type, 1) OVER w AS e2,
                   lead(event_type, 2) OVER w AS e3
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT concat_ws(' > ', e1, e2, e3) AS path, count(*) AS n
        FROM seq WHERE e3 IS NOT NULL
        GROUP BY 1
        ORDER BY n DESC, path
        LIMIT 20
    """,
    description=(
        "top order-3 behavior paths (the Sankey/flow readout, one order up "
        "from events_markov_transitions' order-1 matrix): consecutive event "
        "triples per user via two leads over ONE user-keyed window "
        "partitioning, then a k^3-bounded count. Deterministic top-20 via "
        "(count DESC, path) total order"
    ),
    tags=("analytics", "events", "window", "topk"),
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    return (
        seq.groupBy(F.concat_ws(" > ", "e1", "e2", "e3").alias("path"))
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "path")
        .limit(20)
    )


_RFM_ORACLE = """
WITH anchor AS (SELECT max(CAST(o_orderdate AS DATE)) AS d0 FROM orders),
cust AS (
    SELECT o_custkey,
           date_diff('day', max(CAST(o_orderdate AS DATE)), anchor.d0) AS recency_days,
           count(*) AS frequency,
           sum(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
    FROM orders CROSS JOIN anchor
    GROUP BY o_custkey, anchor.d0
),
rb AS (
    SELECT max(CASE WHEN rn = (1*n + 3) // 4 THEN v END) AS r25,
           max(CASE WHEN rn = (2*n + 3) // 4 THEN v END) AS r50,
           max(CASE WHEN rn = (3*n + 3) // 4 THEN v END) AS r75
    FROM (SELECT recency_days AS v,
                 row_number() OVER (ORDER BY recency_days) AS rn,
                 count(*) OVER () AS n
          FROM cust)
),
fb AS (
    SELECT max(CASE WHEN rn = (1*n + 3) // 4 THEN v END) AS f25,
           max(CASE WHEN rn = (2*n + 3) // 4 THEN v END) AS f50,
           max(CASE WHEN rn = (3*n + 3) // 4 THEN v END) AS f75
    FROM (SELECT frequency AS v,
                 row_number() OVER (ORDER BY frequency) AS rn,
                 count(*) OVER () AS n
          FROM cust)
),
mb AS (
    SELECT max(CASE WHEN rn = (1*n + 3) // 4 THEN v END) AS m25,
           max(CASE WHEN rn = (2*n + 3) // 4 THEN v END) AS m50,
           max(CASE WHEN rn = (3*n + 3) // 4 THEN v END) AS m75
    FROM (SELECT monetary AS v,
                 row_number() OVER (ORDER BY monetary) AS rn,
                 count(*) OVER () AS n
          FROM cust)
),
b AS (SELECT * FROM rb CROSS JOIN fb CROSS JOIN mb),
scored AS (
    SELECT 1 + CAST(recency_days < r75 AS INT) + CAST(recency_days < r50 AS INT)
             + CAST(recency_days < r25 AS INT) AS r_score,
           1 + CAST(frequency > f25 AS INT) + CAST(frequency > f50 AS INT)
             + CAST(frequency > f75 AS INT) AS f_score,
           1 + CAST(monetary > m25 AS INT) + CAST(monetary > m50 AS INT)
             + CAST(monetary > m75 AS INT) AS m_score,
           recency_days, monetary
    FROM cust CROSS JOIN b
)
SELECT r_score, f_score, m_score,
       count(*) AS n_customers,
       (CAST(sum(recency_days) AS BIGINT) * 1000000) // count(*) AS avg_recency_micro,
       (CAST(sum(monetary) * 100 AS BIGINT) * 10000) // count(*) AS avg_monetary_micro
FROM scored
GROUP BY r_score, f_score, m_score
ORDER BY r_score, f_score, m_score
"""


@register(
    "analytics_rfm_segmentation",
    oracle=_RFM_ORACLE,
    description=(
        "RFM customer segmentation: per-customer recency (days since last "
        "order vs corpus max date, integer-exact), frequency (order count), "
        "monetary (DECIMAL-exact spend sum, order-independent). Quartile "
        "boundaries are INTERPOLATION-FREE exact order statistics — the "
        "value at sorted rank ceil(q*n) = (4q*n + 3) // 4, i.e. ANSI "
        "percentile_disc, spelled out as row_number arithmetic on both "
        "engines: percentile_cont boundaries are "
        "build-dependent in DuckDB (input-typed, scale-rounded for DECIMAL "
        "and integer orderings), and a boundary that IS a data value in the "
        "column's native exact type (BIGINT/DECIMAL) has zero float math to "
        "diverge. Each metric scored 1-4 by strict comparison against its "
        "three boundaries (NOT ntile, whose tie-splitting depends on a "
        "global sort order), then one 64-cell segment rollup. Scale: orders "
        "collapse to customer grain in ONE map-side-combinable shuffle; "
        "boundaries are 9 scalars broadcast back (the three rank windows "
        "are single-partition over the customer-grain frame — at 100 TB "
        "swap for approx_percentile, same comparison contract)"
    ),
    tags=("analytics", "aggregation", "percentile", "scale"),
)
def analytics_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    anchor = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("d0"))
    cust = (
        o.crossJoin(F.broadcast(anchor))
        .groupBy("o_custkey", "d0")
        .agg(
            F.datediff(F.first("d0"), F.max(F.col("o_orderdate").cast("date"))).alias(
                "recency_days"
            ),
            F.count("*").alias("frequency"),
            # monetary in integer CENTS longs:
            # order statistics and score comparisons are scale-invariant,
            # the micro average divides out the 100, and long sums beat
            # DECIMAL128 — values identical, arithmetic cheaper
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
                "monetary"
            ),
        )
    )
    # exact order statistics: value at ascending rank ceil(q*n), spelled as
    # integer arithmetic (4q*n + 3) div 4 — the identical expression the
    # oracle runs, so each boundary is a data value in the column's native
    # exact type and no float interpolation can diverge. All NINE bounds
    # come from ONE window pass: the three metrics explode
    # to (metric, v) rows ranked within their metric partition — per-metric
    # row_number over v is exactly the old per-column global window (values
    # at each rank are deterministic under ties because only v orders the
    # frame) — where the old shape paid three window exchanges, three
    # single-row aggregates and two cross-joins. recency/frequency/monetary
    # are all exact integers, so the shared LONG explode column changes no
    # value; the score comparisons below are integer-vs-integer either way.
    mv = cust.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("_m"), F.col(c).cast("long").alias("v")
                    )
                    for m, c in (
                        ("r", "recency_days"),
                        ("f", "frequency"),
                        ("m", "monetary"),
                    )
                ]
            )
        ).alias("e")
    ).select("e._m", "e.v")
    wm = Window.partitionBy("_m").orderBy("v")
    ranked = mv.withColumn("rn", F.row_number().over(wm)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("_m"))
    )
    b = ranked.agg(
        *[
            F.max(
                F.when(
                    (F.col("_m") == m)
                    & (F.col("rn") == F.expr(f"({k}*n + 3) div 4")),
                    F.col("v"),
                )
            ).alias(f"{m}{q}")
            for m in ("r", "f", "m")
            for k, q in ((1, 25), (2, 50), (3, 75))
        ]
    )
    s = cust.crossJoin(F.broadcast(b))
    asint = lambda c: c.cast("int")  # noqa: E731
    scored = s.select(
        (
            F.lit(1)
            + asint(F.col("recency_days") < F.col("r75"))
            + asint(F.col("recency_days") < F.col("r50"))
            + asint(F.col("recency_days") < F.col("r25"))
        ).alias("r_score"),
        (
            F.lit(1)
            + asint(F.col("frequency") > F.col("f25"))
            + asint(F.col("frequency") > F.col("f50"))
            + asint(F.col("frequency") > F.col("f75"))
        ).alias("f_score"),
        (
            F.lit(1)
            + asint(F.col("monetary") > F.col("m25"))
            + asint(F.col("monetary") > F.col("m50"))
            + asint(F.col("monetary") > F.col("m75"))
        ).alias("m_score"),
        "recency_days",
        "monetary",
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("recency_days").alias("_sum_rec"),
            F.sum("monetary").alias("_sum_mon"),
        )
        # The two averages are emitted as EXACT integer-micro units with
        # floor division (all inputs non-negative, so Spark's truncating
        # `div` == DuckDB's flooring `//`): a rounded average can be a
        # perfect round-half tie at the 6th decimal (68570553.99/32 =
        # 2142829.8121875) where Spark HALF_UP and DuckDB binary-double
        # rounding split. Integer-micro has NO rounding mode
        # to diverge — same pattern as sim_retrieval_ndcg_mrr's IDCG hash.
        .select(
            "r_score",
            "f_score",
            "m_score",
            "n_customers",
            F.expr("(_sum_rec * CAST(1000000 AS BIGINT)) div n_customers").alias(
                "avg_recency_micro"
            ),
            F.expr("(_sum_mon * CAST(10000 AS BIGINT)) div n_customers").alias(
                "avg_monetary_micro"
            ),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


_BASKET_ORACLE = """
WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
cnt AS (SELECT pk, count(*) AS c FROM items GROUP BY pk),
n AS (SELECT count(DISTINCT ok) AS n_orders FROM items),
pairs AS (
    SELECT a.pk AS part_a, b.pk AS part_b, count(*) AS pair_cnt
    FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
    GROUP BY a.pk, b.pk
)
SELECT part_a, part_b,
       CAST(pair_cnt AS BIGINT) AS pair_cnt,
       CAST((CAST(pair_cnt AS HUGEINT) * 1000000000) // n.n_orders AS BIGINT) AS support_nano,
       CAST((CAST(pair_cnt AS HUGEINT) * 1000000000) // ca.c AS BIGINT) AS confidence_nano,
       CAST((CAST(pair_cnt AS HUGEINT) * n.n_orders * 1000000000)
            // (CAST(ca.c AS HUGEINT) * cb.c) AS BIGINT) AS lift_nano
FROM pairs
CROSS JOIN n
JOIN cnt ca ON part_a = ca.pk
JOIN cnt cb ON part_b = cb.pk
WHERE pair_cnt >= 2
ORDER BY lift_nano DESC, part_a, part_b
LIMIT 50
"""


@register(
    "agg_market_basket_lift",
    oracle=_BASKET_ORACLE,
    description=(
        "market-basket association mining: co-occurring part pairs within an "
        "order, scored by support / confidence / lift (emitted as exact "
        "integer-nano count ratios — no float rounding mode to diverge), "
        "min-support filtered, top-50 by lift. "
        "Pair expansion is the self-join of per-order DISTINCT "
        "item lists on the order key — output per order is C(k,2) where k is "
        "the order's item count (TPC-H k<=7), so the blowup is bounded by the "
        "basket size, never |parts|^2; the join shuffles both sides on the "
        "high-cardinality order key. Per-item supports are a part-cardinality "
        "table joined back UNHINTED — AQE broadcasts it under the threshold "
        "and falls back to a shuffle join when the part dimension outgrows "
        "it (forcing the broadcast would be the scale bug). "
        "The a<b canonicalization halves "
        "the pair space and makes the pair key deterministic"
    ),
    tags=("analytics", "aggregation", "join", "scale"),
)
def agg_market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")).distinct()
    cnt = items.groupBy("pk").agg(F.count("*").alias("c"))
    n = items.agg(F.countDistinct("ok").alias("n_orders"))
    a = items.select("ok", F.col("pk").alias("part_a"))
    b = items.select(F.col("ok").alias("ok_b"), F.col("pk").alias("part_b"))
    pairs = (
        a.join(b, (F.col("ok") == F.col("ok_b")) & (F.col("part_a") < F.col("part_b")))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("pair_cnt"))
        .filter(F.col("pair_cnt") >= 2)
    )
    ca = cnt.select(F.col("pk").alias("part_a"), F.col("c").alias("ca"))
    cb = cnt.select(F.col("pk").alias("part_b"), F.col("c").alias("cb"))
    scored = (
        pairs.crossJoin(F.broadcast(n))
        .join(ca, "part_a")
        .join(cb, "part_b")
        .select(
            "part_a",
            "part_b",
            F.col("pair_cnt").cast("bigint").alias("pair_cnt"),
            # scores as EXACT integer-nano ratios of counts (truncating
            # integral division, identical on both engines for any sign):
            # round(DOUBLE, 9) on a rational of counts can land on a
            # round-half tie where Spark HALF_UP and DuckDB binary
            # rounding split — swept by the round_tie_risk_columns lint
            F.expr(
                "(CAST(pair_cnt AS DECIMAL(38,0)) * 1000000000) div n_orders"
            ).alias("support_nano"),
            F.expr("(CAST(pair_cnt AS DECIMAL(38,0)) * 1000000000) div ca").alias(
                "confidence_nano"
            ),
            F.expr(
                "(CAST(pair_cnt AS DECIMAL(38,0)) * n_orders * 1000000000)"
                " div (CAST(ca AS DECIMAL(38,0)) * cb)"
            ).alias("lift_nano"),
        )
    )
    return scored.orderBy(F.desc("lift_nano"), "part_a", "part_b").limit(50)


_ENTROPY_ORACLE = """
WITH b AS (
    SELECT event_type, hour(ts) AS h, count(*) AS c
    FROM events GROUP BY event_type, hour(ts)
),
t AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n FROM b GROUP BY event_type)
SELECT b.event_type,
       t.n AS n_events,
       CAST(count(*) AS BIGINT) AS n_hours_active,
       round(-sum((CAST(b.c AS DOUBLE) / t.n) * ln(CAST(b.c AS DOUBLE) / t.n)), 6)
           AS entropy_nats,
       round(exp(-sum((CAST(b.c AS DOUBLE) / t.n) * ln(CAST(b.c AS DOUBLE) / t.n))), 6)
           AS perplexity
FROM b JOIN t ON b.event_type = t.event_type
GROUP BY b.event_type, t.n
ORDER BY b.event_type
"""


@register(
    "agg_shannon_entropy",
    oracle=_ENTROPY_ORACLE,
    description=(
        "Shannon entropy (and perplexity) of each event type's hour-of-day "
        "distribution — the temporal-concentration diagnostic (a bot burst has "
        "near-zero entropy; organic traffic approaches ln 24). Two "
        "map-side-combinable aggregations: events -> (type, hour) counts "
        "(<=24G rows), then the entropy fold over those counts; the raw table "
        "is scanned once and every probability is an exact-integer ratio, so "
        "the only float steps are the fixed p*ln(p) chain, rounded once"
    ),
    tags=("analytics", "aggregation", "statistics", "quality"),
)
def agg_shannon_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    b = e.groupBy("event_type", F.hour("ts").alias("h")).agg(F.count("*").alias("c"))
    t = b.groupBy("event_type").agg(F.sum("c").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    joined = b.join(F.broadcast(t), "event_type")
    return (
        joined.groupBy("event_type", "n")
        .agg(
            F.count("*").cast("bigint").alias("n_hours_active"),
            F.round(-F.sum(p * F.log(p)), 6).alias("entropy_nats"),
            F.round(F.exp(-F.sum(p * F.log(p))), 6).alias("perplexity"),
        )
        .select(
            "event_type",
            F.col("n").alias("n_events"),
            "n_hours_active",
            "entropy_nats",
            "perplexity",
        )
        .orderBy("event_type")
    )


_CC_ORACLE = """
WITH RECURSIVE
items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
pairs AS (
    SELECT a.pk AS part_a, b.pk AS part_b
    FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
    GROUP BY a.pk, b.pk
    HAVING count(*) >= 2
),
edges AS (
    SELECT part_a AS u, part_b AS v FROM pairs
    UNION ALL
    SELECT part_b AS u, part_a AS v FROM pairs
),
nodes AS (SELECT DISTINCT u AS node FROM edges),
reach(node, r) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT reach.node, e.v FROM reach JOIN edges e ON reach.r = e.u
),
lbl AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
SELECT CAST(node AS BIGINT) AS id,
       CAST(component AS BIGINT) AS component,
       CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS component_size
FROM lbl
ORDER BY id
"""


@register(
    "graph_connected_components",
    oracle=_CC_ORACLE,
    description=(
        "connected components of the co-purchase graph (parts co-occurring "
        "in >= 2 orders), labels = min reachable id — the clustering step "
        "every dedup/linkage pipeline runs after pair detection, here "
        "exposed as a first-class graph query. Spark side is the size-routed "
        "operator (operators/dedup.py::connected_components): driver "
        "union-find below the 2M-edge cap, else iterative min-label "
        "propagation (one join + one vertex-keyed aggregate per round, "
        "localCheckpoint truncating lineage, O(diameter) rounds). The "
        "oracle computes the SAME labels by recursive-CTE transitive "
        "closure — exact fixpoint semantics, feasible at oracle scale only, "
        "which is exactly why the distributed path exists"
    ),
    tags=("analytics", "graph", "iterative", "scale"),
)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.operators.dedup import (  # noqa: PLC0415
        connected_components,
    )

    li = load_table(spark, sf_dir, "lineitem")
    # co-occurrence pairs via ONE order-keyed aggregation + in-task i<j
    # expansion (the pairs_within_buckets pattern) instead of a distinct +
    # self-join on l_orderkey: collect_set dedupes (ok, pk) inside the
    # aggregate, so the old plan's 4 exchanges (distinct, both join sides,
    # pair count) become 2, and the pair fan-out never crosses the wire.
    # array_sort + slice-from-i+1 keeps the part_a < part_b contract.
    grouped = li.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.array_sort(F.collect_set("l_partkey")).alias("pks")
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("pks"),
            lambda a, i: F.transform(
                F.slice(F.col("pks"), i + 2, F.size(F.col("pks"))),
                lambda b: F.struct(a.alias("part_a"), b.alias("part_b")),
            ),
        )
    )
    pairs = (
        grouped.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.part_a").alias("part_a"), F.col("p.part_b").alias("part_b"))
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
        .select("part_a", "part_b")
    )
    cc = connected_components(
        pairs.select(F.col("part_a").alias("id_a"), F.col("part_b").alias("id_b"))
    )
    sizes = cc.groupBy("component").agg(F.count("*").alias("component_size"))
    return (
        cc.join(sizes, "component")
        .select(
            F.col("id").cast("bigint").alias("id"),
            F.col("component").cast("bigint").alias("component"),
            F.col("component_size").cast("bigint").alias("component_size"),
        )
        .orderBy("id")
    )


_FUNNEL_ANY_ORACLE = """
WITH u AS (
    SELECT user_id,
           min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
           min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
           min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
    FROM events GROUP BY user_id
)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       CAST(count(t_view) AS BIGINT) AS n_view,
       CAST(count(t_click) AS BIGINT) AS n_click,
       CAST(count(t_purchase) AS BIGINT) AS n_purchase,
       CAST(count(CASE WHEN t_view IS NOT NULL AND t_click IS NOT NULL
                        AND t_purchase IS NOT NULL THEN 1 END) AS BIGINT) AS n_all3,
       CAST(count(CASE WHEN t_view IS NOT NULL AND t_click IS NOT NULL
                        AND t_purchase IS NOT NULL
                        AND epoch_us(greatest(t_view, t_click, t_purchase))
                          - epoch_us(least(t_view, t_click, t_purchase))
                          <= 604800000000 THEN 1 END) AS BIGINT) AS n_all3_7d,
       (count(CASE WHEN t_view IS NOT NULL AND t_click IS NOT NULL
                    AND t_purchase IS NOT NULL THEN 1 END)
        * CAST(1000000 AS BIGINT)) // count(*) AS rate_all3_micro
FROM u
"""


@register(
    "events_funnel_any_order",
    oracle=_FUNNEL_ANY_ORACLE,
    description=(
        "unordered funnel: users who performed ALL THREE of view/click/"
        "purchase in ANY order, plus the subset whose first occurrences span "
        "<= 7 days — the 'engaged across behaviors' complement to the "
        "strictly-sequenced funnel (events_funnel_conversion requires "
        "view -> click -> purchase in order; this counts breadth). One "
        "user-keyed conditional aggregation (first occurrence per type via "
        "min(CASE)), then a single global rollup row — no joins, no windows"
    ),
    tags=("analytics", "events", "aggregation"),
)
def events_funnel_any_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    t = lambda et: F.min(F.when(F.col("event_type") == et, F.col("ts")))  # noqa: E731
    u = e.groupBy("user_id").agg(
        t("view").alias("t_view"), t("click").alias("t_click"), t("purchase").alias("t_purchase")
    )
    all3 = F.col("t_view").isNotNull() & F.col("t_click").isNotNull() & F.col(
        "t_purchase"
    ).isNotNull()
    span_us = F.unix_micros(
        F.greatest("t_view", "t_click", "t_purchase").cast("timestamp")
    ) - F.unix_micros(F.least("t_view", "t_click", "t_purchase").cast("timestamp"))
    return u.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.count("t_view").cast("bigint").alias("n_view"),
        F.count("t_click").cast("bigint").alias("n_click"),
        F.count("t_purchase").cast("bigint").alias("n_purchase"),
        F.count(F.when(all3, 1)).cast("bigint").alias("n_all3"),
        F.count(F.when(all3 & (span_us <= 604_800_000_000), 1)).cast("bigint").alias("n_all3_7d"),
        # exact integer-micro
        F.expr(
            "(count(CASE WHEN t_view IS NOT NULL AND t_click IS NOT NULL"
            " AND t_purchase IS NOT NULL THEN 1 END) * CAST(1000000 AS BIGINT))"
            " div count(*)"
        ).alias("rate_all3_micro"),
    )


_LIFECYCLE_ORACLE = """
WITH uw AS (
    SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk FROM events
),
seq AS (
    SELECT user_id, wk,
           lag(wk)  OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk,
           lead(wk) OVER (PARTITION BY user_id ORDER BY wk) AS next_wk
    FROM uw
),
states AS (
    SELECT wk,
           CASE WHEN prev_wk IS NULL THEN 'new'
                WHEN prev_wk = wk - INTERVAL 7 DAY THEN 'retained'
                ELSE 'resurrected' END AS state
    FROM seq
),
churn AS (
    SELECT CAST(wk + INTERVAL 7 DAY AS DATE) AS wk, count(*) AS n_churned
    FROM seq
    WHERE (next_wk IS NULL OR next_wk > wk + INTERVAL 7 DAY)
      AND CAST(wk + INTERVAL 7 DAY AS DATE) <= (SELECT max(wk) FROM uw)
    GROUP BY CAST(wk + INTERVAL 7 DAY AS DATE)
),
active AS (
    SELECT wk,
           CAST(count(CASE WHEN state = 'new' THEN 1 END) AS BIGINT) AS n_new,
           CAST(count(CASE WHEN state = 'retained' THEN 1 END) AS BIGINT) AS n_retained,
           CAST(count(CASE WHEN state = 'resurrected' THEN 1 END) AS BIGINT) AS n_resurrected
    FROM states GROUP BY wk
)
SELECT CAST(active.wk AS VARCHAR) AS week,
       n_new, n_retained, n_resurrected,
       CAST(coalesce(churn.n_churned, 0) AS BIGINT) AS n_churned
FROM active LEFT JOIN churn ON active.wk = churn.wk
ORDER BY week
"""


@register(
    "events_growth_accounting",
    oracle=_LIFECYCLE_ORACLE,
    description=(
        "weekly growth accounting: every active (user, week) classified as "
        "new / retained / resurrected from the user's lag(week), and churn "
        "attributed to the week AFTER a user's last consecutive week via "
        "lead(week) — the standard DAU-decomposition ledger (growth = new + "
        "resurrected - churned). Events collapse to user-week grain in one "
        "dedup shuffle; both window passes share the user-keyed exchange; "
        "the final rollup is week-cardinality. No self-joins of the fact "
        "table — the naive churn anti-join per week re-scans events O(weeks) "
        "times"
    ),
    tags=("analytics", "events", "window", "temporal", "scale"),
)
def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window  # noqa: PLC0415

    e = load_table(spark, sf_dir, "events")
    uw = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("wk")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("wk")
    seq = uw.select(
        "user_id",
        "wk",
        F.lag("wk").over(w).alias("prev_wk"),
        F.lead("wk").over(w).alias("next_wk"),
    )
    states = seq.select(
        "wk",
        F.when(F.col("prev_wk").isNull(), "new")
        .when(F.col("prev_wk") == F.date_sub("wk", 7), "retained")
        .otherwise("resurrected")
        .alias("state"),
    )
    active = states.groupBy("wk").agg(
        F.count(F.when(F.col("state") == "new", 1)).cast("bigint").alias("n_new"),
        F.count(F.when(F.col("state") == "retained", 1)).cast("bigint").alias("n_retained"),
        F.count(F.when(F.col("state") == "resurrected", 1)).cast("bigint").alias("n_resurrected"),
    )
    max_wk = uw.agg(F.max("wk").alias("max_wk"))
    churn = (
        seq.filter(F.col("next_wk").isNull() | (F.col("next_wk") > F.date_add("wk", 7)))
        .select(F.date_add("wk", 7).alias("wk"))
        .crossJoin(F.broadcast(max_wk))
        .filter(F.col("wk") <= F.col("max_wk"))
        .groupBy("wk")
        .agg(F.count("*").alias("n_churned"))
    )
    return (
        active.join(churn, "wk", "left")
        .select(
            F.col("wk").cast("string").alias("week"),
            "n_new",
            "n_retained",
            "n_resurrected",
            F.coalesce("n_churned", F.lit(0)).cast("bigint").alias("n_churned"),
        )
        .orderBy("week")
    )


# ---------------------------------------------------------------------------
# label propagation communities (same co-purchase graph as graph_pagerank)
# ---------------------------------------------------------------------------


def _lpa_oracle(n_iter: int = 4) -> str:
    """Unrolled synchronous label propagation in SQL (the _pagerank_oracle
    trick): one GROUP BY + row_number CTE per superstep, argmax by
    (count DESC, label ASC) — the exact deterministic tie-break the Spark
    struct-max computes. Integer labels, so there is no cross-engine float
    drift at all."""
    head = """WITH pairs AS (
    SELECT DISTINCT o_custkey * 2 AS cust_v, l_partkey * 2 + 1 AS part_v
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS MATERIALIZED (
    SELECT cust_v AS src, part_v AS dst FROM pairs
    UNION ALL
    SELECT part_v, cust_v FROM pairs
),
l0 AS (SELECT DISTINCT src AS id, src AS label FROM edges)"""
    steps = [
        f"""l{i + 1} AS MATERIALIZED (
    SELECT id, label FROM (
        SELECT e.dst AS id, l.label AS label, count(*) AS c,
               row_number() OVER (
                   PARTITION BY e.dst ORDER BY count(*) DESC, l.label ASC
               ) AS rn
        FROM edges e JOIN l{i} l ON l.id = e.src
        GROUP BY e.dst, l.label
    ) WHERE rn = 1
)"""
        for i in range(n_iter)
    ]
    return (
        head
        + ",\n"
        + ",\n".join(steps)
        + f"""
SELECT id,
       CASE WHEN id % 2 = 0 THEN 'customer' ELSE 'part' END AS vertex_type,
       CAST(floor(id / 2.0) AS BIGINT) AS entity_key,
       CAST(label AS BIGINT) AS label
FROM l{n_iter}
ORDER BY id"""
    )


@register(
    "graph_label_propagation",
    oracle=_lpa_oracle(n_iter=4),
    description=(
        "synchronous label-propagation communities over the customer<->part "
        "co-purchase graph: 4 fixed supersteps, each ONE (dst,label) count "
        "shuffle + a struct-argmax groupBy (ties to the smallest label — the "
        "deterministic variant; async LPA is run-order dependent), labels "
        "riding pagerank's once-shuffled edge co-partitioning. Per-vertex "
        "final labels hash-checked against the unrolled SQL supersteps"
    ),
    tags=("analytics", "graph", "iterative", "north-star"),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.operators.graph import (  # noqa: PLC0415
        label_propagation,
    )

    orders, lineitem = (
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )
    # no distinct() here: the pair dedup folds into the
    # operator's one src-keyed edge exchange (dedup_edges=True) — an
    # (src, dst) dedup after symmetrization is exactly the pair dedup,
    # since the orientation struct determines the pair. One exchange for
    # the whole edge build instead of distinct + repartition.
    pairs = orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey).select(
        (F.col("o_custkey") * 2).alias("cust_v"),
        (F.col("l_partkey") * 2 + 1).alias("part_v"),
    )
    edges = _symmetrize_bipartite(pairs)
    labels = label_propagation(edges, n_iter=4, dedup_edges=True)
    return (
        labels.select(
            "id",
            F.when(F.col("id") % 2 == 0, F.lit("customer")).otherwise(F.lit("part")).alias(
                "vertex_type"
            ),
            (F.col("id") / F.lit(2)).cast("long").alias("entity_key"),
            "label",
        )
        .orderBy("id")
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) mergeable distinct sketch — exact-twin checkable
# ---------------------------------------------------------------------------

_KMV_K = 128
# first 8 md5 hex chars as an integer, exactly, in both engines
_KMV_FRAC_SQL = (
    "list_reduce(list_transform(string_split(substr({fp}, 1, 8), ''), "
    "c -> strpos('0123456789abcdef', c) - 1), (a, x) -> a * 16 + x) "
    "/ 4294967296.0"
)
# the same first-8-hex-chars prefix as an exact BIGINT: the KMV estimate (k-1)/(h/2^32) is a RATIONAL (k-1)*2^32/h, so
# its rounded form can land exactly on a round-half tie — the e4-scaled
# truncating quotient below has no rounding mode to disagree on
_KMV_HASH_INT_SQL = (
    "list_reduce(list_transform(string_split(substr({fp}, 1, 8), ''), "
    "c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), "
    "(a, x) -> a * 16 + x)"
)

_KMV_ORACLE = f"""
WITH vals AS (
    SELECT DISTINCT o_orderpriority AS grp, md5(CAST(o_custkey AS VARCHAR)) AS fp
    FROM orders
),
ranked AS (
    SELECT grp, fp,
           row_number() OVER (PARTITION BY grp ORDER BY fp) AS rn
    FROM vals
),
sk AS (SELECT grp, fp, rn FROM ranked WHERE rn <= {_KMV_K}),
per_group AS (
    SELECT grp, CAST(count(*) AS BIGINT) AS n_sketch, max(fp) AS kth_hash
    FROM sk GROUP BY grp
),
exact AS (
    SELECT o_orderpriority AS grp, CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact
    FROM orders GROUP BY o_orderpriority
),
merged_ranked AS (
    SELECT fp, row_number() OVER (ORDER BY fp) AS rn
    FROM (SELECT DISTINCT fp FROM sk)
),
merged AS (
    SELECT CAST(count(*) AS BIGINT) AS n_sketch, max(fp) AS kth_hash
    FROM merged_ranked WHERE rn <= {_KMV_K}
),
merged_exact AS (
    SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact FROM orders
),
unioned AS (
    SELECT e.grp, e.n_exact, p.n_sketch, p.kth_hash FROM exact e JOIN per_group p ON e.grp = p.grp
    UNION ALL
    SELECT 'ALL', me.n_exact, m.n_sketch, m.kth_hash FROM merged m CROSS JOIN merged_exact me
)
SELECT grp, n_exact, n_sketch, kth_hash,
       CASE WHEN n_sketch < {_KMV_K} THEN n_sketch * 10000
            ELSE CAST(({_KMV_K} - 1) * 42949672960000
                      // ({_KMV_HASH_INT_SQL.format(fp="kth_hash")}) AS BIGINT)
       END AS est_distinct_e4,
       abs(CASE WHEN n_sketch < {_KMV_K} THEN n_sketch * 10000
                ELSE CAST(({_KMV_K} - 1) * 42949672960000
                          // ({_KMV_HASH_INT_SQL.format(fp="kth_hash")}) AS BIGINT)
           END - n_exact * 10000) * 4 <= n_exact * 10000 AS within_rel_err
FROM unioned
ORDER BY grp
"""


@register(
    "agg_kmv_distinct_sketch",
    oracle=_KMV_ORACLE,
    description=(
        "KMV (k-minimum-values) mergeable distinct-count sketch, k=128: the "
        "bottom-k md5 hashes per group are the sketch state (the shuffle "
        "carries at most k 16-byte hashes per group after a combiner-friendly "
        "distinct), estimate = (k-1)/R_k; the ALL row is rebuilt purely from "
        "the per-group sketches — the mergeability property HLL gives up "
        "set-intersection for. Unlike HLL/CMS the whole sketch is "
        "deterministic, so the state itself (kth hash) and the estimate are "
        "hash-checked EXACTLY against the SQL twin, with a 2.8-sigma "
        "relative-error boolean documenting the accuracy contract"
    ),
    tags=("analytics", "aggregation", "percentile", "north-star"),
)
def agg_kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window  # noqa: PLC0415

    k = _KMV_K
    o = load_table(spark, sf_dir, "orders")
    fp = F.md5(F.col("o_custkey").cast("string").cast("binary"))
    # combiner-friendly dedup BEFORE the rank: the (grp, fp) distinct
    # map-side-combines, so the window only ever ranks distinct hashes
    vals = o.select(F.col("o_orderpriority").alias("grp"), fp.alias("fp")).distinct()
    w = Window.partitionBy("grp").orderBy("fp")
    # consumed twice (per-group state + merge): materialize the
    # O(n_groups * k) sketch once so the base scan + rank never recompute
    sk = (
        vals.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .localCheckpoint(eager=True)
    )
    per_group = sk.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_sketch"), F.max("fp").alias("kth_hash")
    )
    exact = o.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.countDistinct("o_custkey").cast("long").alias("n_exact")
    )
    merged = (
        sk.select("fp")
        .distinct()
        # bottom-k of the sketch union: TakeOrderedAndProject (per-partition
        # top-k + a k-row driver merge), never a single-reducer window
        .orderBy("fp")
        .limit(k)
        .agg(F.count(F.lit(1)).cast("long").alias("n_sketch"), F.max("fp").alias("kth_hash"))
    )
    merged_exact = o.agg(F.countDistinct("o_custkey").cast("long").alias("n_exact"))
    unioned = (
        exact.join(per_group, "grp")
        .select("grp", "n_exact", "n_sketch", "kth_hash")
        .unionByName(
            merged.crossJoin(F.broadcast(merged_exact)).select(
                F.lit("ALL").alias("grp"), "n_exact", "n_sketch", "kth_hash"
            )
        )
    )
    # exact e4-scaled KMV estimate: (k-1)*2^32*1e4
    # div h with h = the kth hash's first 8 hex chars as a BIGINT — the
    # rational estimate ships as a truncating integer quotient
    est_e4 = F.when(F.col("n_sketch") < k, F.col("n_sketch") * F.lit(10000)).otherwise(
        F.expr(f"CAST({(k - 1) * 4294967296 * 10000} AS BIGINT)"
               " div CAST(conv(substring(kth_hash, 1, 8), 16, 10) AS BIGINT)")
    ).cast("long")
    out = unioned.select(
        "grp",
        "n_exact",
        "n_sketch",
        "kth_hash",
        est_e4.alias("est_distinct_e4"),
        (F.abs(est_e4 - F.col("n_exact") * 10000) * 4 <= F.col("n_exact") * 10000).alias(
            "within_rel_err"
        ),
    ).orderBy("grp")
    return out


_KMV_INTER_ORACLE = f"""
WITH vals AS (
    SELECT DISTINCT o_orderpriority AS grp, o_custkey,
           md5(CAST(o_custkey AS VARCHAR)) AS fp
    FROM orders
),
sk AS (
    SELECT grp, fp FROM (
        SELECT grp, fp, row_number() OVER (PARTITION BY grp ORDER BY fp) AS rn
        FROM (SELECT DISTINCT grp, fp FROM vals)
    ) WHERE rn <= {_KMV_K}
),
grps AS (SELECT DISTINCT grp FROM sk),
prs AS (
    SELECT a.grp AS g1, b.grp AS g2 FROM grps a JOIN grps b ON a.grp < b.grp
),
union_ranked AS (
    SELECT p.g1, p.g2, u.fp,
           row_number() OVER (PARTITION BY p.g1, p.g2 ORDER BY u.fp) AS rn
    FROM prs p JOIN (
        SELECT DISTINCT s.grp, s.fp FROM sk s
    ) u ON u.grp IN (p.g1, p.g2)
    GROUP BY p.g1, p.g2, u.fp
),
union_k AS (SELECT g1, g2, fp FROM union_ranked WHERE rn <= {_KMV_K}),
union_stats AS (
    SELECT g1, g2, CAST(count(*) AS BIGINT) AS m, max(fp) AS theta
    FROM union_k GROUP BY g1, g2
),
matching AS (
    SELECT u.g1, u.g2, CAST(count(*) AS BIGINT) AS n_matching
    FROM union_k u
    JOIN sk s1 ON s1.grp = u.g1 AND s1.fp = u.fp
    JOIN sk s2 ON s2.grp = u.g2 AND s2.fp = u.fp
    GROUP BY u.g1, u.g2
),
exact_inter AS (
    SELECT a.grp AS g1, b.grp AS g2, CAST(count(*) AS BIGINT) AS exact_intersection
    FROM (SELECT DISTINCT grp, o_custkey FROM vals) a
    JOIN (SELECT DISTINCT grp, o_custkey FROM vals) b
      ON a.o_custkey = b.o_custkey AND a.grp < b.grp
    GROUP BY a.grp, b.grp
)
SELECT s.g1, s.g2, COALESCE(x.n_matching, 0) AS n_matching,
       e.exact_intersection,
       CASE WHEN s.m < {_KMV_K} THEN COALESCE(x.n_matching, 0) * 10000
            ELSE CAST(COALESCE(x.n_matching, 0) * ({_KMV_K} - 1) * 42949672960000
                      // (({_KMV_HASH_INT_SQL.format(fp="s.theta")}) * {_KMV_K})
                      AS BIGINT)
       END AS est_intersection_e4,
       abs(CASE WHEN s.m < {_KMV_K} THEN COALESCE(x.n_matching, 0) * 10000
                ELSE CAST(COALESCE(x.n_matching, 0) * ({_KMV_K} - 1) * 42949672960000
                          // (({_KMV_HASH_INT_SQL.format(fp="s.theta")}) * {_KMV_K})
                          AS BIGINT)
           END - e.exact_intersection * 10000)
           <= 3500 * e.exact_intersection + {_KMV_K} * 10000 AS within_err
FROM union_stats s
JOIN exact_inter e ON e.g1 = s.g1 AND e.g2 = s.g2
LEFT JOIN matching x ON x.g1 = s.g1 AND x.g2 = s.g2
ORDER BY s.g1, s.g2
"""


@register(
    "agg_kmv_set_intersection",
    oracle=_KMV_INTER_ORACLE,
    description=(
        "set-intersection estimation from KMV sketches (the theta-sketch "
        "recipe HLL cannot do without inclusion-exclusion blowup): per group "
        "pair, merge the two bottom-k sketches, count survivors present in "
        "BOTH, scale by the merged theta — everything computed from the "
        "O(k)-row sketch states, never re-touching the base table except for "
        "the exact-intersection audit column. Deterministic sketch => the "
        "matching counts and estimates hash-check exactly against the SQL "
        "twin; the error boolean documents the k=128 accuracy contract"
    ),
    tags=("analytics", "aggregation", "setop", "north-star"),
)
def agg_kmv_set_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window  # noqa: PLC0415

    k = _KMV_K
    o = load_table(spark, sf_dir, "orders")
    fp = F.md5(F.col("o_custkey").cast("string").cast("binary"))
    vals = o.select(
        F.col("o_orderpriority").alias("grp"), F.col("o_custkey"), fp.alias("fp")
    ).distinct()
    w = Window.partitionBy("grp").orderBy("fp")
    sk = (
        vals.select("grp", "fp")
        .distinct()
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("grp", "fp")
        # consumed THREE times (pair union, both match sides): materialize
        # the O(n_groups * k) sketch once so the base scan + rank never
        # recompute (triangle_stats' materialize-then-reuse discipline)
        .localCheckpoint(eager=True)
    )
    grps = sk.select("grp").distinct()
    prs = (
        grps.alias("a")
        .join(grps.alias("b"), F.col("a.grp") < F.col("b.grp"))
        .select(F.col("a.grp").alias("g1"), F.col("b.grp").alias("g2"))
    )
    # sketch union per pair: broadcast the O(n_groups^2) pair table onto the
    # O(n_groups * k) sketch rows, dedup, rank within pair
    union_rows = (
        F.broadcast(prs)
        .join(sk, (sk.grp == F.col("g1")) | (sk.grp == F.col("g2")))
        .select("g1", "g2", "fp")
        .distinct()
    )
    wp = Window.partitionBy("g1", "g2").orderBy("fp")
    union_k = union_rows.withColumn("rn", F.row_number().over(wp)).filter(F.col("rn") <= k)
    union_stats = union_k.groupBy("g1", "g2").agg(
        F.count(F.lit(1)).cast("long").alias("m"), F.max("fp").alias("theta")
    )
    s1 = sk.select(F.col("grp").alias("g1"), "fp")
    s2 = sk.select(F.col("grp").alias("g2"), "fp")
    matching = (
        union_k.join(s1, ["g1", "fp"]).join(s2, ["g2", "fp"])
        .groupBy("g1", "g2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_matching"))
    )
    # both sides of the exact-intersection self-join: one materialization,
    # O(n_groups * distinct_keys) rows (the bounded audit column, not the
    # sketch path)
    pk = vals.select("grp", "o_custkey").distinct().localCheckpoint(eager=True)
    exact_inter = (
        pk.alias("a")
        .join(
            pk.alias("b"),
            (F.col("a.o_custkey") == F.col("b.o_custkey")) & (F.col("a.grp") < F.col("b.grp")),
        )
        .groupBy(F.col("a.grp").alias("g1"), F.col("b.grp").alias("g2"))
        .agg(F.count(F.lit(1)).cast("long").alias("exact_intersection"))
    )
    # exact e4-scaled theta-sketch estimate:
    # n_matching*(k-1)*2^32*1e4 div (h*k), all BIGINT, truncating
    n_match = F.coalesce(F.col("n_matching"), F.lit(0)).cast("long")
    h = "CAST(conv(substring(theta, 1, 8), 16, 10) AS BIGINT)"
    est_e4 = F.when(F.col("m") < k, n_match * F.lit(10000)).otherwise(
        F.expr(
            f"(coalesce(n_matching, 0) * CAST({(k - 1) * 4294967296 * 10000} AS BIGINT))"
            f" div ({h} * {k})"
        )
    ).cast("long")
    return (
        union_stats.join(exact_inter, ["g1", "g2"])
        .join(matching, ["g1", "g2"], "left")
        .select(
            "g1",
            "g2",
            n_match.alias("n_matching"),
            "exact_intersection",
            est_e4.alias("est_intersection_e4"),
            (
                F.abs(est_e4 - F.col("exact_intersection") * 10000)
                <= F.lit(3500) * F.col("exact_intersection") + F.lit(k * 10000)
            ).alias("within_err"),
        )
        .orderBy("g1", "g2")
    )


_KMV_DIFF_ORACLE = f"""
WITH vals AS (
    SELECT DISTINCT o_orderpriority AS grp, o_custkey,
           md5(CAST(o_custkey AS VARCHAR)) AS fp
    FROM orders
),
sk AS (
    SELECT grp, fp FROM (
        SELECT grp, fp, row_number() OVER (PARTITION BY grp ORDER BY fp) AS rn
        FROM (SELECT DISTINCT grp, fp FROM vals)
    ) WHERE rn <= {_KMV_K}
),
grps AS (SELECT DISTINCT grp FROM sk),
prs AS (
    SELECT a.grp AS g1, b.grp AS g2 FROM grps a JOIN grps b ON a.grp <> b.grp
),
union_ranked AS (
    SELECT p.g1, p.g2, u.fp,
           row_number() OVER (PARTITION BY p.g1, p.g2 ORDER BY u.fp) AS rn
    FROM prs p JOIN (
        SELECT DISTINCT s.grp, s.fp FROM sk s
    ) u ON u.grp IN (p.g1, p.g2)
    GROUP BY p.g1, p.g2, u.fp
),
union_k AS (SELECT g1, g2, fp FROM union_ranked WHERE rn <= {_KMV_K}),
union_stats AS (
    SELECT g1, g2, CAST(count(*) AS BIGINT) AS m, max(fp) AS theta
    FROM union_k GROUP BY g1, g2
),
anotb AS (
    SELECT u.g1, u.g2, CAST(count(*) AS BIGINT) AS n_anotb
    FROM union_k u
    JOIN sk s1 ON s1.grp = u.g1 AND s1.fp = u.fp
    LEFT JOIN sk s2 ON s2.grp = u.g2 AND s2.fp = u.fp
    WHERE s2.fp IS NULL
    GROUP BY u.g1, u.g2
),
exact_diff AS (
    SELECT a.g1, a.g2, CAST(count(*) AS BIGINT) AS exact_difference
    FROM (SELECT p.g1, p.g2, v.o_custkey
          FROM prs p JOIN (SELECT DISTINCT grp, o_custkey FROM vals) v
            ON v.grp = p.g1) a
    LEFT JOIN (SELECT DISTINCT grp, o_custkey FROM vals) b
      ON b.grp = a.g2 AND b.o_custkey = a.o_custkey
    WHERE b.o_custkey IS NULL
    GROUP BY a.g1, a.g2
)
SELECT s.g1, s.g2, COALESCE(x.n_anotb, 0) AS n_anotb,
       COALESCE(e.exact_difference, 0) AS exact_difference,
       CASE WHEN s.m < {_KMV_K} THEN COALESCE(x.n_anotb, 0) * 10000
            ELSE CAST(COALESCE(x.n_anotb, 0) * ({_KMV_K} - 1) * 42949672960000
                      // (({_KMV_HASH_INT_SQL.format(fp="s.theta")}) * {_KMV_K})
                      AS BIGINT)
       END AS est_difference_e4,
       abs(CASE WHEN s.m < {_KMV_K} THEN COALESCE(x.n_anotb, 0) * 10000
                ELSE CAST(COALESCE(x.n_anotb, 0) * ({_KMV_K} - 1) * 42949672960000
                          // (({_KMV_HASH_INT_SQL.format(fp="s.theta")}) * {_KMV_K})
                          AS BIGINT)
           END - COALESCE(e.exact_difference, 0) * 10000)
           <= 3500 * COALESCE(e.exact_difference, 0) + {_KMV_K} * 10000 AS within_err
FROM union_stats s
LEFT JOIN anotb x ON x.g1 = s.g1 AND x.g2 = s.g2
LEFT JOIN exact_diff e ON e.g1 = s.g1 AND e.g2 = s.g2
ORDER BY s.g1, s.g2
"""


@register(
    "agg_kmv_set_difference",
    oracle=_KMV_DIFF_ORACLE,
    description=(
        "set-DIFFERENCE (A-not-B) estimation from KMV sketches, completing "
        "the sketch set algebra (with distinct and intersection): per "
        "ORDERED group pair, the union sketch's bottom-k is a uniform sample "
        "of A∪B below theta, and because theta <= each side's own theta a "
        "sampled hash lies in A exactly when it is in A's sketch — so "
        "|A\\\\B| ~= (union members in sk_A and not in sk_B) * est|A∪B| / k. "
        "Everything is computed from the O(k)-row sketch states (the "
        "corpus-snapshot diff primitive: 'how many NEW documents does this "
        "crawl add' without re-touching either corpus). Deterministic md5 "
        "sketch => counts and estimates hash-check exactly against the SQL "
        "twin; the error boolean documents the k=128 accuracy contract"
    ),
    tags=("analytics", "aggregation", "setop", "north-star"),
)
def agg_kmv_set_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window  # noqa: PLC0415

    k = _KMV_K
    o = load_table(spark, sf_dir, "orders")
    fp = F.md5(F.col("o_custkey").cast("string").cast("binary"))
    # the sketch table and the exact-audit key table both
    # start from the same distinct projection — materialize it once instead
    # of re-scanning + re-distincting orders for each arm (fp is a function
    # of o_custkey, so (grp, fp)-distinct == (grp, custkey)-distinct and
    # both arms are plain projections of this one frame).
    # LAZY localCheckpoint, not persist() and not an eager checkpoint: both frames are multi-consumer so they must
    # materialize ONCE, and an eager checkpoint is a sequential driver
    # barrier (~0.4s measured) — but a bare persist() leaks: nothing
    # ever unpersists it, and CacheManager's canonicalized-plan matching
    # silently reuses the first invocation's cache across re-runs (warm-
    # cache timings, session-lifetime pinned blocks). A lazy localCheckpoint
    # materializes inside the first consuming action exactly like the lazy
    # cache did, but the blocks are RDD-scoped: freed by the ContextCleaner
    # when the result frame is dropped, and never shared across invocations.
    vals = (
        o.select(F.col("o_orderpriority").alias("grp"), F.col("o_custkey"), fp.alias("fp"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    w = Window.partitionBy("grp").orderBy("fp")
    sk = (
        vals.select("grp", "fp")
        .distinct()  # oracle parity: collision-proof (grp, fp) dedup
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("grp", "fp")
        .localCheckpoint(eager=False)
    )
    grps = sk.select("grp").distinct()
    prs = (
        grps.alias("a")
        .join(grps.alias("b"), F.col("a.grp") != F.col("b.grp"))
        .select(F.col("a.grp").alias("g1"), F.col("b.grp").alias("g2"))
    )
    union_rows = (
        F.broadcast(prs)
        .join(sk, (sk.grp == F.col("g1")) | (sk.grp == F.col("g2")))
        .select("g1", "g2", "fp")
        .distinct()
    )
    wp = Window.partitionBy("g1", "g2").orderBy("fp")
    union_k = union_rows.withColumn("rn", F.row_number().over(wp)).filter(F.col("rn") <= k)
    union_stats = union_k.groupBy("g1", "g2").agg(
        F.count(F.lit(1)).cast("long").alias("m"), F.max("fp").alias("theta")
    )
    s1 = sk.select(F.col("grp").alias("g1"), "fp")
    s2 = sk.select(F.col("grp").alias("g2"), "fp")
    anotb = (
        union_k.join(s1, ["g1", "fp"])
        .join(s2, ["g2", "fp"], "left_anti")
        .groupBy("g1", "g2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_anotb"))
    )
    # exact audit column: per ordered pair, g1 members absent from g2 —
    # bounded O(n_groups * distinct_keys), the audit path not the sketch
    # path; a plain projection of the checkpointed vals (no third scan)
    pk = vals.select("grp", "o_custkey")
    g1_members = F.broadcast(prs).join(
        pk.select(F.col("grp").alias("g1"), "o_custkey"), "g1"
    )
    exact_diff = (
        g1_members.join(
            pk.select(F.col("grp").alias("g2"), "o_custkey"), ["g2", "o_custkey"], "left_anti"
        )
        .groupBy("g1", "g2")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_difference"))
    )
    # exact e4-scaled theta-sketch estimate
    n_ab = F.coalesce(F.col("n_anotb"), F.lit(0)).cast("long")
    ex = F.coalesce(F.col("exact_difference"), F.lit(0)).cast("long")
    h = "CAST(conv(substring(theta, 1, 8), 16, 10) AS BIGINT)"
    est_e4 = F.when(F.col("m") < k, n_ab * F.lit(10000)).otherwise(
        F.expr(
            f"(coalesce(n_anotb, 0) * CAST({(k - 1) * 4294967296 * 10000} AS BIGINT))"
            f" div ({h} * {k})"
        )
    ).cast("long")
    return (
        union_stats.join(anotb, ["g1", "g2"], "left")
        .join(exact_diff, ["g1", "g2"], "left")
        .select(
            "g1",
            "g2",
            n_ab.alias("n_anotb"),
            ex.alias("exact_difference"),
            est_e4.alias("est_difference_e4"),
            (F.abs(est_e4 - ex * 10000) <= F.lit(3500) * ex + F.lit(k * 10000)).alias(
                "within_err"
            ),
        )
        .orderBy("g1", "g2")
    )


def _kcore_oracle(k: int = 3, n_iter: int = 4) -> str:
    """Unrolled k-core peel in SQL (the _lpa_oracle trick): per superstep
    one degree CTE (HAVING >= k) and one both-endpoints-alive edge filter;
    output = surviving edges' per-vertex degrees. Integer-only, so there
    is no cross-engine drift at all."""
    head = """WITH pairs AS (
    SELECT DISTINCT o_custkey * 2 AS cust_v, l_partkey * 2 + 1 AS part_v
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
e0 AS MATERIALIZED (
    SELECT cust_v AS src, part_v AS dst FROM pairs
    UNION ALL
    SELECT part_v, cust_v FROM pairs
)"""
    steps = [
        f"""a{i + 1} AS MATERIALIZED (
    SELECT src AS id FROM e{i} GROUP BY src HAVING count(*) >= {k}
),
e{i + 1} AS MATERIALIZED (
    SELECT e.src, e.dst FROM e{i} e
    JOIN a{i + 1} x ON x.id = e.src
    JOIN a{i + 1} y ON y.id = e.dst
)"""
        for i in range(n_iter)
    ]
    return (
        head
        + ",\n"
        + ",\n".join(steps)
        + f"""
SELECT src AS id,
       CASE WHEN src % 2 = 0 THEN 'customer' ELSE 'part' END AS vertex_type,
       CAST(count(*) AS BIGINT) AS core_deg
FROM e{n_iter}
GROUP BY src ORDER BY id"""
    )


@register(
    "graph_kcore_peel",
    oracle=_kcore_oracle(k=3, n_iter=4),
    description=(
        "k-core peeling (k=3, 4 fixed supersteps) over the customer<->part "
        "co-purchase graph — the dense-subgraph extractor for spam/link-farm/"
        "bot-ring detection in corpus curation: each superstep drops every "
        "vertex whose remaining degree is under k, via one map-side-combined "
        "degree aggregation plus two semi-joins of the (only ever shrinking) "
        "edge list against the O(V) alive set. Fixed supersteps keep the "
        "result deterministic and unrolled-CTE-oracle-checkable (the LPA/"
        "pagerank contract); surviving per-vertex degrees hash-check exactly "
        "(integer-only)"
    ),
    tags=("analytics", "graph", "iterative", "north-star", "scale"),
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.operators.graph import kcore_peel  # noqa: PLC0415

    orders, lineitem = (
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )
    # no distinct(): pair dedup rides the operator's src exchange —
    # see graph_label_propagation's edge build for the argument
    pairs = orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey).select(
        (F.col("o_custkey") * 2).alias("cust_v"),
        (F.col("l_partkey") * 2 + 1).alias("part_v"),
    )
    edges = _symmetrize_bipartite(pairs)
    cores = kcore_peel(edges, k=3, n_iter=4, dedup_edges=True)
    return cores.select(
        "id",
        F.when(F.col("id") % 2 == 0, F.lit("customer")).otherwise(F.lit("part")).alias(
            "vertex_type"
        ),
        "core_deg",
    ).orderBy("id")


@register(
    "agg_frequent_directions",
    # Audit form: the sketch itself is SVD output (no SQL twin), so the
    # driver-checked row is the exact corpus arithmetic (count + Frobenius
    # mass, both SQL sums) plus the two deterministic WORST-CASE guarantees
    # the sketch is deployed for — they hold under any partitioning, so
    # they are partition-layout-independent booleans.
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
        "Frequent-Directions Gram/covariance sketch of the embedding corpus — "
        "the matrix member of the mergeable-sketch family (KMV/HLL/CMS/"
        "q-digest): O(l*d) doubles of state per shard, merged by concatenate+"
        "shrink, with the deterministic guarantee 0 <= A^T A - B^T B and "
        "spectral error <= 2||A||_F^2 / l. Per partition one Arrow-batched "
        "streaming pass (an SVD every l rows); the driver folds O(parts) tiny "
        "sketches. Driver-checked in audit form: exact count + Frobenius mass "
        "(SQL sums) and the PSD / spectral-bound booleans measured against "
        "the EXACT Gram (itself a distributed O(d^2)-key aggregation)"
    ),
    tags=("analytics", "aggregation", "similarity", "north-star", "scale"),
)
def agg_frequent_directions(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np  # noqa: PLC0415

    from data_integration_and_processing_spark.operators.linalg import (  # noqa: PLC0415
        corpus_moments,
        frequent_directions,
    )

    e = load_table(spark, sf_dir, "embeddings")
    sketch_rows = 32
    sk, n, frob = frequent_directions(e, sketch_rows=sketch_rows)
    # exact Gram A^T A recovered from the one-pass exact moments
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
    "graph_link_prediction_jaccard",
    oracle="""
        WITH pairs AS (
            SELECT DISTINCT o_custkey AS cust, l_partkey AS part
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ),
        part_deg AS (
            SELECT part, count(*) AS pd FROM pairs GROUP BY part
        ),
        capped AS (
            SELECT p.cust, p.part FROM pairs p
            JOIN part_deg d ON d.part = p.part
            WHERE d.pd <= 50
        ),
        cust_deg AS (
            SELECT cust, count(*) AS cd FROM capped GROUP BY cust
        ),
        wedges AS (
            SELECT a.cust AS c1, b.cust AS c2, count(*) AS cn
            FROM capped a JOIN capped b
              ON a.part = b.part AND a.cust < b.cust
            GROUP BY a.cust, b.cust
        ),
        scored AS (
            SELECT w.c1, w.c2, w.cn,
                   CAST((w.cn * 1000000) // (d1.cd + d2.cd - w.cn) AS BIGINT)
                       AS jaccard_micro
            FROM wedges w
            JOIN cust_deg d1 ON d1.cust = w.c1
            JOIN cust_deg d2 ON d2.cust = w.c2
        )
        SELECT c1, c2, CAST(cn AS BIGINT) AS cn, jaccard_micro
        FROM scored
        ORDER BY jaccard_micro DESC, c1, c2
        LIMIT 20
    """,
    description=(
        "neighborhood-similarity link prediction: customer pairs scored by "
        "Jaccard over their purchased-part neighborhoods (the collaborative-"
        "filtering / entity-resolution candidate generator), top 20. The "
        "wedge join is keyed by the shared PART with hub parts capped at "
        "degree 50 — the same skew bound every bucketed candidate generator "
        "in the repo uses (a celebrity hub would otherwise emit O(d^2) "
        "wedges); degrees and the cap are defined over the capped graph in "
        "both engines so the arithmetic is identical. Top-k via "
        "TakeOrderedAndProject on (rounded score, pair) — deterministic "
        "cutoff, no global sort"
    ),
    tags=("analytics", "graph", "similarity", "join", "scale"),
)
def graph_link_prediction_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, lineitem = (
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )
    # the bipartite edge list is consumed by the degree aggs and both wedge
    # sides: materialize it once (the kcore/pagerank once-shuffled-edges
    # discipline) — the un-checkpointed plan re-ran the orders x lineitem
    # join per consumer, 8 scans of each table (measured)
    pairs = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    part_deg = pairs.groupBy("part").agg(F.count(F.lit(1)).alias("pd"))
    capped = (
        pairs.join(part_deg.filter(F.col("pd") <= 50), "part")
        .select("cust", "part")
        .localCheckpoint(eager=True)
    )
    cust_deg = capped.groupBy("cust").agg(F.count(F.lit(1)).alias("cd"))
    a = capped.select(F.col("part"), F.col("cust").alias("c1"))
    b = capped.select(F.col("part"), F.col("cust").alias("c2"))
    wedges = (
        a.join(b, "part")
        .filter(F.col("c1") < F.col("c2"))
        .groupBy("c1", "c2")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    scored = (
        wedges.join(cust_deg.select(F.col("cust").alias("c1"), F.col("cd").alias("d1")), "c1")
        .join(cust_deg.select(F.col("cust").alias("c2"), F.col("cd").alias("d2")), "c2")
        .select(
            "c1",
            "c2",
            F.col("cn").cast("long").alias("cn"),
            # exact integer-micro: the top-k ORDER BY
            # now compares exact integers, so the cutoff cannot flip on a
            # cross-engine rounding split either
            F.expr("(cn * CAST(1000000 AS BIGINT)) div (d1 + d2 - cn)").alias(
                "jaccard_micro"
            ),
        )
    )
    return scored.orderBy(F.desc("jaccard_micro"), "c1", "c2").limit(20)


@register(
    "agg_bitmap_exact_distinct",
    oracle="""
        SELECT o_orderpriority AS grp,
               CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
               CAST(count(DISTINCT (o_custkey + 32767) // 32768) AS BIGINT) AS n_buckets
        FROM orders GROUP BY o_orderpriority ORDER BY grp
    """,
    description=(
        "EXACT distinct counting via bitmap aggregation (the warehouse "
        "bitmap-index technique, the exact-answer sibling of the KMV/HLL "
        "sketches): keys split into 32768-bit buckets "
        "(bitmap_bucket_number / bitmap_bit_position), per (group, bucket) "
        "one bitmap_construct_agg OR-fold — 4 KB of state per bucket "
        "however many rows land in it, map-side combinable — then "
        "bitmap_count sums per group. Shuffle volume is O(groups x "
        "occupied buckets x 4 KB), independent of row count and, unlike "
        "count(DISTINCT), with no per-key dedup shuffle of the raw values; "
        "the bucket count rides along as the state-size observable"
    ),
    tags=("analytics", "aggregation", "scale"),
)
def agg_bitmap_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    per_bucket = (
        o.select(
            F.col("o_orderpriority").alias("grp"),
            F.expr("bitmap_bucket_number(o_custkey)").alias("bucket"),
            F.expr("bitmap_bit_position(o_custkey)").alias("pos"),
        )
        .groupBy("grp", "bucket")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
    )
    return (
        per_bucket.groupBy("grp")
        .agg(
            F.sum(F.expr("bitmap_count(bm)")).cast("long").alias("n_distinct"),
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
        )
        .orderBy("grp")
    )


@register(
    "graph_local_clustering",
    oracle="""
        WITH pp AS (
            SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
            FROM lineitem l1 JOIN lineitem l2
              ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        ),
        deg AS (
            SELECT id, count(*) AS deg FROM (
                SELECT a AS id FROM pp UNION ALL SELECT b AS id FROM pp
            ) GROUP BY id
        ),
        tri AS (
            SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM pp e1
            JOIN pp e2 ON e1.b = e2.a
            JOIN pp e3 ON e3.a = e1.a AND e3.b = e2.b
        ),
        tv AS (
            SELECT id, count(*) AS triangles FROM (
                SELECT x AS id FROM tri
                UNION ALL SELECT y FROM tri
                UNION ALL SELECT z FROM tri
            ) GROUP BY id
        ),
        cc AS (
            SELECT deg.id,
                   CAST(deg.deg AS BIGINT) AS deg,
                   CAST(coalesce(tv.triangles, 0) AS BIGINT) AS triangles,
                   CASE WHEN deg.deg >= 2
                        THEN 2.0 * coalesce(tv.triangles, 0)
                             / (deg.deg * (deg.deg - 1.0))
                        ELSE 0.0 END AS local_cc
            FROM deg LEFT JOIN tv ON tv.id = deg.id
        ),
        avgcc AS (SELECT avg(local_cc) AS avg_cc FROM cc)
        SELECT cc.id, cc.deg, cc.triangles,
               round(cc.local_cc, 6) AS local_cc,
               round(avgcc.avg_cc, 6) AS avg_local_cc
        FROM cc, avgcc
        ORDER BY round(cc.local_cc, 6) DESC, cc.id
        LIMIT 25
    """,
    description=(
        "per-vertex local clustering coefficient of the part co-purchase "
        "graph — 2*T(v)/(deg(v)*(deg(v)-1)) — the Watts-Strogatz companion "
        "to graph_triangle_census's GLOBAL coefficient: top-25 most-"
        "clustered vertices plus the corpus mean (the small-world "
        "fingerprint; in curation, high-local-cc vertices are the cliquey "
        "spam/bot neighborhoods k-core alone misses when degree is low). "
        "Same degree-oriented O(m^1.5)-bounded triangle enumeration as the "
        "census, each triangle attributed to all three endpoints "
        "(orientation-independent counts, so the id-ordered SQL "
        "enumeration agrees exactly); selection by ROUNDED coefficient "
        "with id tiebreak. The corpus mean is a 1-row broadcast cross"
    ),
    tags=("analytics", "graph", "join", "aggregation", "north-star"),
)
def graph_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.operators.graph import (  # noqa: PLC0415
        local_clustering,
    )

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    l1 = li.alias("l1")
    l2 = li.alias("l2")
    edges = (
        l1.join(
            l2,
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_partkey") < F.col("l2.l_partkey")),
        )
        .select(F.col("l1.l_partkey").alias("src"), F.col("l2.l_partkey").alias("dst"))
        .distinct()
    )
    cc = local_clustering(edges)
    avg_cc = cc.agg(F.avg("local_cc").alias("_avg_cc"))
    return (
        cc.crossJoin(F.broadcast(avg_cc))
        .select(
            "id",
            "deg",
            "triangles",
            F.round("local_cc", 6).alias("local_cc"),
            F.round("_avg_cc", 6).alias("avg_local_cc"),
        )
        .orderBy(F.desc("local_cc"), "id")
        .limit(25)
    )


@register(
    "graph_link_prediction_adamic_adar",
    oracle="""
        WITH pairs AS (
            SELECT DISTINCT o_custkey AS cust, l_partkey AS part
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ),
        part_deg AS (
            SELECT part, count(*) AS pd FROM pairs GROUP BY part
        ),
        capped AS (
            SELECT p.cust, p.part, d.pd FROM pairs p
            JOIN part_deg d ON d.part = p.part
            WHERE d.pd <= 50
        ),
        scored AS (
            SELECT a.cust AS c1, b.cust AS c2,
                   CAST(count(*) AS BIGINT) AS cn,
                   sum(1.0 / ln(CAST(a.pd AS DOUBLE))) AS aa
            FROM capped a JOIN capped b
              ON a.part = b.part AND a.cust < b.cust
            GROUP BY a.cust, b.cust
        )
        SELECT c1, c2, cn, round(aa, 6) AS adamic_adar
        FROM scored
        ORDER BY round(aa, 6) DESC, c1, c2
        LIMIT 20
    """,
    description=(
        "Adamic-Adar link prediction over the customer/purchased-part "
        "bipartite graph: shared neighbors weighted by 1/ln(neighbor "
        "degree) — a rare shared part is stronger evidence than a popular "
        "one, the refinement Jaccard (graph_link_prediction_jaccard, same "
        "wedge machinery) treats as equal. A shared part implies degree "
        ">= 2, so ln(pd) > 0 by construction. Same scale shape: wedge join "
        "keyed by the shared part with hub parts capped at degree 50; the "
        "degree rides ON the capped edge row, so the weight needs no extra "
        "join. Top-20 selected by ROUNDED score with id tiebreaks "
        "(per-pair weight sums are engine-order float adds)"
    ),
    tags=("analytics", "graph", "join", "aggregation", "north-star"),
)
def graph_link_prediction_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, lineitem = (
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )
    pairs = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    part_deg = pairs.groupBy("part").agg(F.count(F.lit(1)).alias("pd"))
    capped = (
        pairs.join(part_deg.filter(F.col("pd") <= 50), "part")
        .select("cust", "part", "pd")
        .localCheckpoint(eager=True)
    )
    a = capped.select("part", F.col("cust").alias("c1"), "pd")
    b = capped.select("part", F.col("cust").alias("c2"))
    scored = (
        a.join(b, "part")
        .filter(F.col("c1") < F.col("c2"))
        .groupBy("c1", "c2")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cn"),
            F.sum(F.lit(1.0) / F.log(F.col("pd").cast("double"))).alias("aa"),
        )
    )
    return (
        scored.select("c1", "c2", "cn", F.round("aa", 6).alias("adamic_adar"))
        .orderBy(F.desc("adamic_adar"), "c1", "c2")
        .limit(20)
    )
