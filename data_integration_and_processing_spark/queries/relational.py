"""Relational operator surface (SURVEY.md §2.2 — all absent in the
reference, provided here via Spark built-ins).

Every query is declarative DataFrame API so Catalyst picks the physical
join/agg strategy; scale notes on each query record the plan we expect at
100 TB (broadcast vs shuffle, partial aggregation, sort-based top-k).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_integration_and_processing_spark.operators.parallelism import tiny_local_df
from data_integration_and_processing_spark.queries.catalog import register
from data_integration_and_processing_spark.sources.tables import load_table, load_tables

# Revenue = sum(extendedprice * (1 - discount)), computed in DECIMAL so the
# result is exact and engine-order-independent, emitted as DOUBLE (see the
# numeric convention note in flagship.py). The SQL string is the oracle-side
# mirror of the Column expression.
_REV_SQL = "CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)"


def _revenue() -> F.Column:
    return (
        F.sum(F.col("l_extendedprice").cast("decimal(12,2)") * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)")))
        .cast("double")
    )


# ---------------------------------------------------------------------------
# Filters / projections
# ---------------------------------------------------------------------------

@register(
    "filter_predicate_pushdown",
    oracle="""
        SELECT o_orderkey, o_totalprice, o_orderpriority
        FROM orders
        WHERE o_orderstatus = 'F'
          AND o_totalprice > 50000
          AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
    """,
    description="conjunctive filters + column pruning; predicates reach the parquet scan",
    tags=("filter",),
)
def filter_predicate_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        (F.col("o_orderstatus") == "F")
        & (F.col("o_totalprice") > 50000)
        & (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_totalprice", "o_orderpriority")


@register(
    "project_derived_columns",
    oracle="""
        SELECT l_orderkey,
               l_linenumber,
               CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE)
                   AS net_price,
               CASE WHEN l_discount >= 0.05 THEN 'high' ELSE 'low' END AS discount_band
        FROM lineitem
        WHERE l_linenumber <= 2
    """,
    description="projection with computed columns and CASE WHEN",
    tags=("projection",),
)
def project_derived_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    # Money arithmetic in DECIMAL (exact), emitted as DOUBLE — see the
    # numeric convention note in flagship.py.
    net = F.col("l_extendedprice").cast("decimal(12,2)") * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
    return l.filter(F.col("l_linenumber") <= 2).select(
        "l_orderkey",
        "l_linenumber",
        net.cast("double").alias("net_price"),
        F.when(F.col("l_discount") >= 0.05, "high").otherwise("low").alias("discount_band"),
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------

@register(
    "join_inner_shuffle",
    oracle="""
        SELECT o.o_orderkey, c.c_name, o.o_totalprice
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE o.o_totalprice > 100000
    """,
    description="equi inner join orders x customer; AQE picks broadcast/shuffle-hash by size",
    tags=("join",),
)
def join_inner_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    o, c = load_tables(spark, sf_dir, "orders", "customer")
    return (
        o.filter(F.col("o_totalprice") > 100000)
        .join(c, o.o_custkey == c.c_custkey, "inner")
        .select("o_orderkey", "c_name", "o_totalprice")
    )


@register(
    "join_broadcast_dim",
    oracle="""
        SELECT p.p_brand,
               {rev} AS revenue,
               count(*) AS n_items
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_brand
        ORDER BY p.p_brand
    """.format(rev=_REV_SQL),
    description="fact x broadcast dimension join + aggregate; no fact-side shuffle for the join",
    tags=("join", "aggregation"),
)
def join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.operators.parallelism import fan_out_scan  # noqa: PLC0415

    l, p = load_tables(spark, sf_dir, "lineitem", "part")
    # part is ~1/30 of lineitem at TPC-H ratios: explicit broadcast keeps the
    # 100 TB fact table unshuffled for the join (only the agg shuffles, on 25
    # groups after map-side partial aggregation).
    # the broadcast probe + DECIMAL partial aggregation ran
    # inside the effectively-single-split fixture scan (1.03s stage on 3
    # tasks); fan_out_scan spreads it — q1's fix, same order-independent
    # decimal sums, no-op on any scan already wider than the core count.
    return (
        fan_out_scan(l).join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(_revenue().alias("revenue"), F.count("*").alias("n_items"))
        .orderBy("p_brand")
    )


@register(
    "join_left_outer",
    oracle="""
        SELECT c.c_custkey, c.c_name, count(o.o_orderkey) AS n_orders
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, c.c_name
    """,
    description="left outer join preserving customers with zero orders",
    tags=("join",),
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o, c = load_tables(spark, sf_dir, "orders", "customer")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@register(
    "join_full_outer",
    oracle="""
        WITH cust_n AS (SELECT c_nationkey AS nationkey, count(*) AS n_cust
                        FROM customer GROUP BY c_nationkey),
             supp_n AS (SELECT s_nationkey AS nationkey, count(*) AS n_supp
                        FROM supplier GROUP BY s_nationkey)
        SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
               coalesce(c.n_cust, 0) AS n_cust,
               coalesce(s.n_supp, 0) AS n_supp
        FROM cust_n c FULL OUTER JOIN supp_n s ON c.nationkey = s.nationkey
    """,
    description="full outer join of two aggregates with coalesced keys",
    tags=("join",),
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c, s = load_tables(spark, sf_dir, "customer", "supplier")
    cust_n = c.groupBy(F.col("c_nationkey").alias("nationkey")).agg(F.count("*").alias("n_cust"))
    supp_n = s.groupBy(F.col("s_nationkey").alias("nationkey")).agg(F.count("*").alias("n_supp"))
    joined = cust_n.alias("c").join(supp_n.alias("s"), F.col("c.nationkey") == F.col("s.nationkey"), "full")
    return joined.select(
        F.coalesce(F.col("c.nationkey"), F.col("s.nationkey")).alias("nationkey"),
        F.coalesce(F.col("n_cust"), F.lit(0)).alias("n_cust"),
        F.coalesce(F.col("n_supp"), F.lit(0)).alias("n_supp"),
    )


@register(
    "join_left_semi",
    oracle="""
        SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
    """,
    description="left semi join (EXISTS): customers with a >200k order, no duplication",
    tags=("join",),
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    o, c = load_tables(spark, sf_dir, "orders", "customer")
    big = o.filter(F.col("o_totalprice") > 200000)
    return c.join(big, big.o_custkey == c.c_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    "join_left_anti",
    oracle="""
        SELECT c_custkey, c_name FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    description="left anti join (NOT EXISTS): customers with no orders",
    tags=("join",),
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    o, c = load_tables(spark, sf_dir, "orders", "customer")
    return c.join(o, o.o_custkey == c.c_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "join_cross",
    oracle="""
        SELECT r1.r_name AS from_region, r2.r_name AS to_region
        FROM region r1 CROSS JOIN region r2
        WHERE r1.r_regionkey <> r2.r_regionkey
    """,
    description="cross join (tiny x tiny) with a theta filter",
    tags=("join",),
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region")
    r1 = r.select(F.col("r_regionkey").alias("k1"), F.col("r_name").alias("from_region"))
    r2 = r.select(F.col("r_regionkey").alias("k2"), F.col("r_name").alias("to_region"))
    return r1.crossJoin(r2).filter(F.col("k1") != F.col("k2")).select("from_region", "to_region")


@register(
    "join_range_band",
    oracle="""
        WITH bands(band, lo, hi) AS (
            VALUES ('xs', 0.0, 10000.0), ('s', 10000.0, 25000.0), ('m', 25000.0, 50000.0),
                   ('l', 50000.0, 75000.0), ('xl', 75000.0, 1e12)
        )
        SELECT b.band, count(*) AS n_items,
               round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_price
        FROM lineitem l JOIN bands b ON l.l_extendedprice >= b.lo AND l.l_extendedprice < b.hi
        GROUP BY b.band
        ORDER BY b.band
    """,
    description="range (theta) join against a broadcast band table, then aggregate",
    tags=("join", "range"),
)
def join_range_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    bands = tiny_local_df(
        spark,
        [("xs", 0.0, 10000.0), ("s", 10000.0, 25000.0), ("m", 25000.0, 50000.0),
         ("l", 50000.0, 75000.0), ("xl", 75000.0, 1e12)],
        "band string, lo double, hi double",
    )
    # Inequality join => BroadcastNestedLoopJoin; correct at scale because the
    # band side is O(1) rows. A band join against a LARGE range table would
    # instead bucket both sides on overlapping range keys first.
    return (
        l.join(F.broadcast(bands), (l.l_extendedprice >= bands.lo) & (l.l_extendedprice < bands.hi))
        .groupBy("band")
        .agg(
            F.count("*").alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double"), 2
            ).alias("total_price"),
        )
        .orderBy("band")
    )


@register(
    "join_asof_event",
    oracle="""
        WITH tagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN event_type = 'click' THEN ts END AS click_ts,
                   event_type
            FROM events WHERE event_type IN ('click', 'error')
        ), carried AS (
            SELECT user_id, ts, event_id, event_type,
                   last_value(click_ts IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_ts
            FROM tagged
        )
        SELECT event_id, user_id, ts, last_click_ts
        FROM carried WHERE event_type = 'error'
    """,
    description="as-of join: for each error event, the most recent click at/before it (same user)",
    tags=("join", "asof"),
)
def join_asof_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # Scalable as-of: union both sides, one sort per user partition, carry the
    # last match forward with last(ignorenulls). One shuffle + sort, linear in
    # input — never the per-key quadratic blowup of a naive theta join.
    tagged = e.filter(F.col("event_type").isin("click", "error")).select(
        "user_id", "ts", "event_id", "event_type",
        F.when(F.col("event_type") == "click", F.col("ts")).alias("click_ts"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(Window.unboundedPreceding, 0)
    carried = tagged.withColumn("last_click_ts", F.last("click_ts", ignorenulls=True).over(w))
    return carried.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts", "last_click_ts")


# ---------------------------------------------------------------------------
# Aggregations
# ---------------------------------------------------------------------------

@register(
    "agg_groupby_stats",
    oracle="""
        WITH per AS (
            SELECT o_orderpriority, o_orderstatus, o_totalprice,
                   CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS c
            FROM orders
        )
        SELECT o_orderpriority, o_orderstatus,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price,
               min(o_totalprice) AS min_price,
               max(o_totalprice) AS max_price,
               sqrt(CAST(CAST(count(*) AS HUGEINT) * sum(CAST(c AS HUGEINT) * c)
                         - CAST(sum(c) AS HUGEINT) * CAST(sum(c) AS HUGEINT) AS DOUBLE)
                    / CAST(count(*) * (count(*) - 1) * 10000 AS DOUBLE)) AS sd_price
        FROM per
        GROUP BY o_orderpriority, o_orderstatus
    """,
    description=(
        "multi-key hash aggregate with count/sum/min/max/stddev; the stddev "
        "numerator n*sum(c^2) - sum(c)^2 is EXACT integer cents-squared "
        "arithmetic finished by one cast->divide->sqrt chain — a DECIMAL "
        "sum-of-squares cast to DOUBLE double-rounds in DuckDB once the "
        "integer representation exceeds 2^53 (int128 then scale division) "
        "while Spark rounds the decimal once, a last-ulp divergence that a "
        "round-trip (repr) canon exposes"
    ),
    tags=("aggregation",),
)
def agg_groupby_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    # Exact-decimal sums; stddev via EXACT integer cents-squared sufficient
    # statistics finished by one cast->divide->sqrt chain (built-in
    # stddev_samp accumulates in engine-specific order, and even a DECIMAL
    # sum-of-squares cast to DOUBLE double-rounds in DuckDB past 2^53 —
    # a last-ulp divergence that a round-trip (repr) canon exposes).
    price = F.col("o_totalprice").cast("decimal(14,2)")
    per = o.withColumn("c", F.expr("CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)"))
    n = F.count("*")
    num = (
        n.cast("decimal(38,0)") * F.sum(F.expr("CAST(c * c AS DECIMAL(38,0))"))
        - F.sum("c").cast("decimal(38,0)") * F.sum("c").cast("decimal(38,0)")
    )
    den = (n * (n - F.lit(1)) * F.lit(10000)).cast("double")
    return per.groupBy("o_orderpriority", "o_orderstatus").agg(
        n.alias("n_orders"),
        F.sum(price).cast("double").alias("sum_price"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.sqrt(num.cast("double") / den).alias("sd_price"),
    )


@register(
    "agg_count_distinct",
    oracle="""
        SELECT l_returnflag,
               count(DISTINCT l_suppkey) AS n_suppliers,
               count(DISTINCT l_partkey) AS n_parts,
               count(*) AS n_rows
        FROM lineitem
        GROUP BY l_returnflag
    """,
    description="exact multi-column distinct aggregation (expand + two-phase agg)",
    tags=("aggregation", "distinct"),
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count("*").alias("n_rows"),
    )


@register(
    "agg_approx_count_distinct",
    # The sketch estimate itself is engine-specific, so the driver-checked
    # output carries the EXACT side plus the sketch's accuracy bound as a
    # boolean: if the HLL estimate drifts beyond 5*rsd of exact, within_5rsd
    # flips false and the value hash goes red: the sketch entry is
    # oracle-checked without weakening the check.
    oracle="""
        SELECT l_returnflag,
               CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
               CAST(count(*) AS BIGINT) AS n_rows,
               true AS within_5rsd
        FROM lineitem GROUP BY l_returnflag
    """,
    description=(
        "approx_count_distinct (HyperLogLog++) — the 100 TB-scale path for "
        "distincts. The driver-checked output is the exact count plus the "
        "sketch's |approx-exact|/exact <= 5*rsd accuracy bound as a boolean, "
        "so the hash check exercises the sketch's guarantee, not just that "
        "it ran"
    ),
    tags=("aggregation", "distinct", "approx"),
)
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    rsd = 0.01
    agg = l.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=rsd).alias("raw_approx"),
        F.count_distinct("l_partkey").alias("exact_parts"),
        F.count("*").alias("n_rows"),
    )
    # ANSI-safe zero guard: an all-NULL partkey group would make
    # exact_parts 0 and divide-by-zero under the session's ANSI default.
    rel_err = F.abs(F.col("raw_approx") - F.col("exact_parts")) / F.col("exact_parts")
    within = F.when(F.col("exact_parts") > 0, rel_err <= 5 * rsd).otherwise(
        F.col("raw_approx") == 0
    )
    return agg.select(
        "l_returnflag",
        "exact_parts",
        "n_rows",
        within.alias("within_5rsd"),
    )


@register(
    "agg_rollup",
    oracle="""
        SELECT o_orderpriority, o_orderstatus,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price
        FROM orders
        GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
    description="hierarchical ROLLUP aggregate (priority -> status -> grand total)",
    tags=("aggregation", "rollup"),
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.rollup("o_orderpriority", "o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(14,2)")).cast("double").alias("sum_price"),
    )


@register(
    "agg_cube",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               count(*) AS n_items, round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    description="CUBE aggregate over both grouping dimensions",
    tags=("aggregation", "cube"),
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return l.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_items"), F.round(F.sum("l_quantity"), 2).alias("sum_qty")
    )


@register(
    "agg_grouping_sets",
    oracle="""
        SELECT c_mktsegment, c_nationkey, count(*) AS n_cust,
               CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_bal
        FROM customer
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey))
    """,
    description="explicit GROUPING SETS via SQL on a registered view",
    tags=("aggregation", "grouping-sets"),
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_gs")
    return spark.sql(
        """
        SELECT c_mktsegment, c_nationkey, count(*) AS n_cust,
               CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_bal
        FROM customer_gs
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey))
        """
    )


@register(
    "agg_having",
    oracle="""
        SELECT l_suppkey, count(*) AS n_items,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        FROM lineitem
        GROUP BY l_suppkey
        HAVING count(*) > 550
    """,
    description=(
        "aggregate + HAVING filter on the aggregated value; the money sum is "
        "DECIMAL-exact (cents grid — no accumulation-order noise and no "
        "3rd-decimal round-half tie exists), cast to DOUBLE after aggregation"
    ),
    tags=("aggregation",),
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_suppkey")
        .agg(
            F.count("*").alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double"), 2
            ).alias("total"),
        )
        .filter(F.col("n_items") > 550)
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------

@register(
    "window_topk_per_group",
    oracle="""
        SELECT * FROM (
            SELECT c_mktsegment, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY c_mktsegment
                                      ORDER BY o_totalprice DESC, o_orderkey) AS rn
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        ) WHERE rn <= 3
    """,
    description="top-k per group: row_number window with deterministic tie-break",
    tags=("window", "topk"),
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o, c = load_tables(spark, sf_dir, "orders", "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
    )


@register(
    "window_rank_dense_rank",
    oracle="""
        SELECT p_brand, p_partkey, p_retailprice,
               rank() OVER (PARTITION BY p_brand ORDER BY p_size DESC) AS price_rank,
               dense_rank() OVER (PARTITION BY p_brand ORDER BY p_size DESC) AS price_dense_rank
        FROM part
    """,
    description="rank vs dense_rank over a tie-heavy ordering (p_size)",
    tags=("window",),
)
def window_rank_dense_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_size"))
    return p.select(
        "p_brand", "p_partkey", "p_retailprice",
        F.rank().over(w).alias("price_rank"),
        F.dense_rank().over(w).alias("price_dense_rank"),
    )


@register(
    "window_lag_lead",
    oracle="""
        SELECT user_id, event_id, ts,
               lag(ts)  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts,
               lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts,
               CAST(floor(epoch(ts)) AS BIGINT)
                 - CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT)
                   AS gap_seconds
        FROM events
    """,
    description="lag/lead over per-user event sequences + inter-event gap",
    tags=("window", "events"),
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    return e.select(
        "user_id", "event_id", "ts",
        prev_ts.alias("prev_ts"),
        F.lead("ts").over(w).alias("next_ts"),
        (F.unix_timestamp("ts") - F.unix_timestamp(prev_ts)).cast("bigint").alias("gap_seconds"),
    )


@register(
    "window_running_sum",
    oracle="""
        SELECT o_custkey, o_orderkey, o_orderdate,
               round(sum(o_totalprice) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
        FROM orders
    """,
    description="cumulative sum per customer (ROWS frame, deterministic order)",
    tags=("window",),
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey", "o_orderkey", "o_orderdate",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    )


@register(
    "window_range_frame",
    oracle="""
        SELECT o_custkey, o_orderkey, o_orderdate,
               count(*) OVER (
                   PARTITION BY o_custkey ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
                   RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS orders_trailing_30d
        FROM orders
    """,
    description="RANGE frame: trailing-30-day order count per customer",
    tags=("window", "range"),
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-2_592_000, 0)  # 30 days in seconds
    )
    return o.select(
        "o_custkey", "o_orderkey", "o_orderdate",
        F.count("*").over(w).alias("orders_trailing_30d"),
    )


@register(
    "window_ntile_distribution",
    oracle="""
        SELECT c_custkey, c_acctbal,
               ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS bal_quartile,
               percent_rank() OVER (ORDER BY c_acctbal, c_custkey) AS bal_pct_rank,
               cume_dist()    OVER (ORDER BY c_acctbal, c_custkey) AS bal_cume_dist
        FROM customer
    """,
    description="ntile / percent_rank / cume_dist distribution functions",
    tags=("window",),
)
def window_ntile_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    w = Window.orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey", "c_acctbal",
        F.ntile(4).over(w).alias("bal_quartile"),
        F.percent_rank().over(w).alias("bal_pct_rank"),
        F.cume_dist().over(w).alias("bal_cume_dist"),
    )


# ---------------------------------------------------------------------------
# Sort / limit / top-k, set ops, distinct
# ---------------------------------------------------------------------------

@register(
    "sort_multi_key_limit",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_extendedprice
        FROM lineitem
        ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        LIMIT 100
    """,
    description="global top-100 via orderBy+limit (TakeOrderedAndProject: per-partition heap, no full sort)",
    tags=("sort", "topk"),
)
def sort_multi_key_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber"))
        .limit(100)
    )


@register(
    "set_ops_nations",
    oracle="""
        SELECT 'both' AS op, n_nationkey AS nationkey FROM (
            SELECT DISTINCT c_nationkey AS n_nationkey FROM customer
            INTERSECT
            SELECT DISTINCT s_nationkey FROM supplier)
        UNION ALL
        SELECT 'cust_only' AS op, n_nationkey FROM (
            SELECT DISTINCT c_nationkey AS n_nationkey FROM customer
            EXCEPT
            SELECT DISTINCT s_nationkey FROM supplier)
        UNION ALL
        SELECT 'all_union' AS op, n_nationkey FROM (
            SELECT c_nationkey AS n_nationkey FROM customer
            UNION
            SELECT s_nationkey FROM supplier)
    """,
    description="INTERSECT / EXCEPT / UNION(distinct) over nation-key sets, tagged",
    tags=("setop",),
)
def set_ops_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    c, s = load_tables(spark, sf_dir, "customer", "supplier")
    cust = c.select(F.col("c_nationkey").alias("nationkey"))
    supp = s.select(F.col("s_nationkey").alias("nationkey"))
    both = cust.intersect(supp).select(F.lit("both").alias("op"), "nationkey")
    cust_only = cust.distinct().subtract(supp.distinct()).select(F.lit("cust_only").alias("op"), "nationkey")
    all_union = cust.union(supp).distinct().select(F.lit("all_union").alias("op"), "nationkey")
    return both.unionByName(cust_only).unionByName(all_union)


@register(
    "distinct_pairs",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    description="distinct as aggregate-without-aggregates",
    tags=("distinct",),
)
def distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


# ---------------------------------------------------------------------------
# Subquery shapes (decorrelated Spark-first: join against aggregates)
# ---------------------------------------------------------------------------

@register(
    "subquery_scalar_avg",
    oracle="""
        SELECT o_orderstatus, count(*) AS n_above
        FROM orders
        WHERE o_totalprice > (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) / count(*) FROM orders)
        GROUP BY o_orderstatus
    """,
    description="scalar subquery: orders above global average price",
    tags=("subquery",),
)
def subquery_scalar_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    avg_price = o.select(
        (F.sum(F.col("o_totalprice").cast("decimal(14,2)")).cast("double") / F.count("*")).alias("a")
    )
    # Spark-first decorrelation: cross join the 1-row aggregate (broadcast),
    # identical to what Catalyst rewrites a scalar subquery into.
    return (
        o.crossJoin(F.broadcast(avg_price))
        .filter(F.col("o_totalprice") > F.col("a"))
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_above"))
    )


@register(
    "subquery_correlated_avg",
    oracle="""
        SELECT c.c_custkey, c.c_name
        FROM customer c
        WHERE c.c_acctbal > (SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / count(*)
                             FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
    """,
    description="correlated scalar subquery, decorrelated into a per-nation aggregate join",
    tags=("subquery",),
)
def subquery_correlated_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    nation_avg = c.groupBy(F.col("c_nationkey").alias("nk")).agg(
        (F.sum(F.col("c_acctbal").cast("decimal(12,2)")).cast("double") / F.count("*")).alias("nation_avg")
    )
    return (
        c.join(F.broadcast(nation_avg), c.c_nationkey == nation_avg.nk)
        .filter(F.col("c_acctbal") > F.col("nation_avg"))
        .select("c_custkey", "c_name")
    )


# ---------------------------------------------------------------------------
# Multi-join analytical queries (TPC-H shapes)
# ---------------------------------------------------------------------------

@register(
    "q3_shipping_priority",
    oracle="""
        SELECT l.l_orderkey,
               {rev} AS revenue,
               o.o_orderdate, o.o_orderpriority
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
          AND l.l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """.format(rev=_REV_SQL),
    description="TPC-H Q3 shape: 3-way join, filter, agg, global top-10",
    tags=("tpch", "join", "aggregation"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c, o, l = load_tables(spark, sf_dir, "customer", "orders", "lineitem")
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp")
    return (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .join(o, c.c_custkey == o.o_custkey)
        .filter(F.col("o_orderdate") < cutoff)
        .join(l, l.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > cutoff)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_revenue().alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    oracle="""
        SELECT n.n_name,
               {rev} AS revenue
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY n.n_name
        ORDER BY revenue DESC
    """.format(rev=_REV_SQL),
    description="TPC-H Q5 shape: 6-way star join with broadcast dims, revenue by nation",
    tags=("tpch", "join", "aggregation"),
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c, o, l, s, n, r = load_tables(
        spark, sf_dir, "customer", "orders", "lineitem", "supplier", "nation", "region"
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        )
        .join(l, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r.filter(F.col("r_name") == "ASIA")), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(_revenue().alias("revenue"))
        .orderBy(F.desc("revenue"))
    )


@register(
    "q10_returned_items",
    oracle="""
        SELECT c.c_custkey, c.c_name,
               {rev} AS revenue,
               n.n_name
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        WHERE l.l_returnflag = 'R'
          AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
        GROUP BY c.c_custkey, c.c_name, n.n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """.format(rev=_REV_SQL),
    description="TPC-H Q10 shape: returned-item revenue by customer, top-20",
    tags=("tpch", "join", "aggregation"),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c, o, l, n = load_tables(spark, sf_dir, "customer", "orders", "lineitem", "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-07-01 00:00:00").cast("timestamp"))
        )
        .join(l.filter(F.col("l_returnflag") == "R"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(_revenue().alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "agg_exact_percentile",
    oracle="""
        SELECT l_returnflag,
               quantile_cont(l_quantity, 0.25) AS p25,
               quantile_cont(l_quantity, 0.50) AS p50,
               quantile_cont(l_quantity, 0.90) AS p90
        FROM lineitem GROUP BY l_returnflag
    """,
    description="exact interpolated percentiles (sort-based aggregate; quantities are whole numbers so interpolation is engine-exact)",
    tags=("aggregation", "percentile"),
)
def agg_exact_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", 0.25).alias("p25"),
        F.percentile("l_quantity", 0.50).alias("p50"),
        F.percentile("l_quantity", 0.90).alias("p90"),
    )


@register(
    "agg_pivot",
    oracle="""
        SELECT l_returnflag,
               CAST(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END) AS DOUBLE) AS qty_f,
               CAST(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END) AS DOUBLE) AS qty_o
        FROM lineitem GROUP BY l_returnflag
    """,
    description="pivot: linestatus values become columns (compiles to one pass of conditional aggregates)",
    tags=("aggregation", "pivot"),
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    # explicit value list: avoids the extra distinct-values job and keeps
    # the output schema stable — required practice at scale
    p = (
        l.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.coalesce(F.sum("l_quantity"), F.lit(0.0)))
    )
    return p.select(
        "l_returnflag",
        F.col("F").cast("double").alias("qty_f"),
        F.col("O").cast("double").alias("qty_o"),
    )


@register(
    "project_unpivot",
    oracle="""
        SELECT o_orderkey, 'totalprice' AS metric, CAST(o_totalprice AS DOUBLE) AS value
        FROM orders WHERE o_orderkey % 100 = 0
        UNION ALL
        SELECT o_orderkey, 'custkey' AS metric, CAST(o_custkey AS DOUBLE) AS value
        FROM orders WHERE o_orderkey % 100 = 0
    """,
    description="unpivot/melt: wide columns to (metric, value) rows — pure map-side row expansion",
    tags=("projection", "unpivot"),
)
def project_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    return o.select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("totalprice"),
        F.col("o_custkey").cast("double").alias("custkey"),
    ).unpivot("o_orderkey", ["totalprice", "custkey"], "metric", "value")


@register(
    "window_distribution_functions",
    oracle="""
        SELECT s_suppkey,
               s_nationkey,
               CASE WHEN count(*) OVER p > 1
                    THEN ((rank() OVER w - 1) * 1000000000) // (count(*) OVER p - 1)
                    ELSE 0 END AS pr_nano,
               (CAST(count(*) OVER (PARTITION BY s_nationkey
                                    ORDER BY s_acctbal DESC, s_suppkey
                                    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) * 1000000000) // count(*) OVER p AS cd_nano,
               nth_value(s_suppkey, 2) OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey
                                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS second_best
        FROM supplier
        WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey),
               p AS (PARTITION BY s_nationkey)
    """,
    description=(
        "distribution window functions: percent_rank, cume_dist, nth_value — "
        "the two distribution scores ship as exact integer-nano rank ratios "
        "(rank-1)*1e9 div (n-1) and cume*1e9 div n via truncating integral "
        "division (the built-ins return a DOUBLE quotient whose round(.,9) "
        "can land on a round-half tie)"
    ),
    tags=("window",),
)
def window_distribution_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    s = load_table(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(F.desc("s_acctbal"), F.asc("s_suppkey"))
    wrows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wpart = Window.partitionBy("s_nationkey")
    wrange = w.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    return s.select(
        "s_suppkey",
        "s_nationkey",
        (F.rank().over(w) - 1).cast("long").alias("_rk"),
        F.count(F.lit(1)).over(wpart).alias("_cnt"),
        F.count(F.lit(1)).over(wrange).alias("_cume"),
        F.nth_value("s_suppkey", 2).over(wrows).alias("second_best"),
    ).select(
        "s_suppkey",
        "s_nationkey",
        F.expr(
            "CASE WHEN _cnt > 1 THEN (_rk * CAST(1000000000 AS BIGINT)) div (_cnt - 1)"
            " ELSE CAST(0 AS BIGINT) END"
        ).alias("pr_nano"),
        F.expr("(_cume * CAST(1000000000 AS BIGINT)) div _cnt").alias("cd_nano"),
        "second_best",
    )


@register(
    "ids_contiguous_assign",
    oracle="""
        SELECT doc_id, source,
               CAST(row_number() OVER (ORDER BY source, doc_id) - 1 AS BIGINT) AS row_id
        FROM documents
    """,
    description=(
        "distributed contiguous-ID assignment: range repartition + parallel per-partition "
        "row_number + broadcast offsets — identical to a global row_number() without its "
        "single-task sort (operators/ids.py)"
    ),
    tags=("ids", "window", "scale"),
)
def ids_contiguous_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.operators.ids import assign_contiguous_ids

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return assign_contiguous_ids(d, ["source", "doc_id"], id_col="row_id")


@register(
    "join_fuzzy_deletion_blocking",
    oracle="""
        WITH probes AS (
            SELECT s_suppkey + 10000 AS probe_id,
                   concat(substr(s_name, 1, 9 + s_suppkey % 8),
                          substr(s_name, 11 + s_suppkey % 8, 18)) AS probe_name
            FROM supplier
        ),
        variants AS (
            SELECT s_suppkey, s_name,
                   unnest(list_distinct(list_append(list_transform(
                       generate_series(1, 18),
                       i -> concat(substr(s_name, 1, i - 1), substr(s_name, i + 1, 18))),
                       s_name))) AS variant
            FROM supplier
        )
        SELECT v.s_suppkey, p.probe_id, v.s_name, p.probe_name,
               levenshtein(v.s_name, p.probe_name) AS dist
        FROM variants v JOIN probes p ON v.variant = p.probe_name
        WHERE levenshtein(v.s_name, p.probe_name) <= 1
    """,
    description=(
        "record linkage without a cross join: 1-deletion neighborhood blocking "
        "(SymSpell-style) — explode deletion variants as equi-join keys, verify "
        "levenshtein on candidates only; probes are supplier names with one character "
        "deleted (operators/linkage.py)"
    ),
    tags=("join", "linkage", "north-star"),
)
def join_fuzzy_deletion_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.operators.linkage import fuzzy_join_one_edit

    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    # deterministic perturbation: delete one digit (position varies by key)
    p = F.lit(10) + F.col("s_suppkey") % 8
    probes = s.select(
        (F.col("s_suppkey") + 10000).alias("probe_id"),
        F.concat(
            F.substring(F.col("s_name"), F.lit(1), p - 1),
            F.substring(F.col("s_name"), p + 1, F.lit(18)),
        ).alias("probe_name"),
    )
    return fuzzy_join_one_edit(s, probes, "s_name", "probe_name", 18).select(
        "s_suppkey", "probe_id", "s_name", "probe_name", "dist"
    )


@register(
    "agg_approx_percentile",
    # Driver-checked output = EXACT percentiles (Spark F.percentile and
    # DuckDB quantile_cont share the p*(n-1) linear-interpolation
    # definition) plus the sketch's 1% relative-error bound as booleans —
    # a sketch regression flips the boolean and fails the value hash.
    # The tighter rank-error bound stays pinned in
    # tests/test_plan_properties.py.
    oracle="""
        SELECT l_returnflag,
               round(quantile_cont(l_extendedprice, 0.5), 6) AS p50_exact,
               round(quantile_cont(l_extendedprice, 0.95), 6) AS p95_exact,
               true AS p50_within_1pct,
               true AS p95_within_1pct
        FROM lineitem GROUP BY l_returnflag
    """,
    description=(
        "approximate percentiles (KLL-style sketch, percentile_approx): the scale path — "
        "exact percentile memory grows with distinct values, the sketch is fixed-size "
        "and mergeable across partitions. The driver-checked output is the exact "
        "percentiles plus the sketch's 1% relative-error bound as booleans, so the "
        "hash check exercises the bound"
    ),
    tags=("aggregation", "percentile", "approx"),
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    agg = l.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("raw_p50"),
        F.percentile_approx("l_extendedprice", 0.95, 10000).alias("raw_p95"),
        F.percentile("l_extendedprice", 0.5).alias("p50_exact"),
        F.percentile("l_extendedprice", 0.95).alias("p95_exact"),
    )

    def _within(raw: str, exact: str) -> Column:
        return F.abs(F.col(raw) - F.col(exact)) / F.col(exact) <= 0.01

    return agg.select(
        "l_returnflag",
        F.round("p50_exact", 6).alias("p50_exact"),
        F.round("p95_exact", 6).alias("p95_exact"),
        _within("raw_p50", "p50_exact").alias("p50_within_1pct"),
        _within("raw_p95", "p95_exact").alias("p95_within_1pct"),
    )


def _reset_managed_table(spark: SparkSession, name: str) -> None:
    """Drop a managed table AND its warehouse directory if a previous process
    died between creating the location and registering the table — a fresh
    metastore + leftover location otherwise fails saveAsTable with
    LOCATION_ALREADY_EXISTS."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    import os
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    wh_path = wh.removeprefix("file:")
    loc = os.path.join(wh_path, name.lower())
    if wh_path and os.path.isdir(loc):
        shutil.rmtree(loc, ignore_errors=True)


@register(
    "join_bucketed_colocated",
    oracle="""
        SELECT o.o_orderpriority,
               count(*) AS n_items,
               CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderpriority
    """,
    description=(
        "co-located bucketed join: both fact tables pre-bucketed by the join key "
        "(bucketBy 8 + sortBy), so the sort-merge join reads matching buckets with NO "
        "Exchange in the plan — the storage-layout lever that removes the fact-fact "
        "shuffle entirely at 100 TB (plan shape pinned in tests/test_storage_layout.py)"
    ),
    tags=("join", "aggregation", "partitioning", "scale"),
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    suffix = sf_dir.rstrip("/").rsplit("sf", 1)[-1].replace(".", "_")
    li_tbl, ord_tbl = f"li_bkt_{suffix}", f"ord_bkt_{suffix}"
    for tbl in (li_tbl, ord_tbl):
        _reset_managed_table(spark, tbl)
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    (l.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(li_tbl))
    (o.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(ord_tbl))
    lb, ob = spark.table(li_tbl), spark.table(ord_tbl)
    return (
        lb.join(ob, lb.l_orderkey == ob.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).cast("double").alias("sum_price"),
        )
    )


@register(
    "join_temporal_pointintime",
    oracle="""
        WITH dim AS (
            SELECT c_custkey, c_acctbal AS acctbal_v, 1 AS dim_version,
                   DATE '1992-01-01' AS valid_from, DATE '1995-12-31' AS valid_to
            FROM customer
            UNION ALL
            SELECT c_custkey, c_acctbal + 100.0, 2, DATE '1996-01-01', NULL
            FROM customer
        )
        SELECT o_orderkey, CAST(o_orderdate AS VARCHAR) AS o_orderdate,
               acctbal_v, dim_version
        FROM orders JOIN dim ON o_custkey = c_custkey
         AND o_orderdate >= valid_from
         AND o_orderdate <= coalesce(valid_to, DATE '9999-12-31')
    """,
    description=(
        "temporal point-in-time join: each fact row matched to the SCD2 dimension "
        "version whose [valid_from, valid_to] interval covers the event date (open "
        "intervals via coalesce-to-infinity) — the lookup pattern every scd2_apply "
        "consumer runs. Plan: broadcast equi-join on the key with the interval "
        "predicate evaluated map-side; dimensions-with-history stay broadcastable "
        "because versions-per-key is small"
    ),
    tags=("join", "temporal", "scd2"),
)
def join_temporal_pointintime(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    v1 = c.select(
        "c_custkey",
        F.col("c_acctbal").alias("acctbal_v"),
        F.lit(1).alias("dim_version"),
        F.lit("1992-01-01").cast("date").alias("valid_from"),
        F.lit("1995-12-31").cast("date").alias("valid_to"),
    )
    v2 = c.select(
        "c_custkey",
        (F.col("c_acctbal") + 100.0).alias("acctbal_v"),
        F.lit(2).alias("dim_version"),
        F.lit("1996-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    dim = v1.unionByName(v2)
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    return (
        o.join(
            F.broadcast(dim),
            (o.o_custkey == dim.c_custkey)
            & (o.o_orderdate >= dim.valid_from)
            & (o.o_orderdate <= F.coalesce(dim.valid_to, F.lit("9999-12-31").cast("date"))),
        )
        .select(
            "o_orderkey",
            F.col("o_orderdate").cast("string").alias("o_orderdate"),
            "acctbal_v",
            "dim_version",
        )
    )


_D1_SQL = "list_transform(generate_series(1, 18), i -> concat(substr({x}, 1, i - 1), substr({x}, i + 1, 18)))"


@register(
    "join_fuzzy_two_edit",
    oracle=f"""
        WITH probes AS (
            SELECT s_suppkey + 10000 AS probe_id,
                   concat(substr(d1, 1, 2 + s_suppkey % 5),
                          substr(d1, 4 + s_suppkey % 5, 17)) AS probe_name
            FROM (
                SELECT s_suppkey,
                       concat(substr(s_name, 1, 9 + s_suppkey % 8),
                              substr(s_name, 11 + s_suppkey % 8, 18)) AS d1
                FROM supplier
            )
        ),
        bkeys AS (
            SELECT s_suppkey, s_name,
                   unnest(list_distinct(flatten([
                       [s_name],
                       {_D1_SQL.format(x='s_name')},
                       flatten(list_transform({_D1_SQL.format(x='s_name')},
                                              v -> {_D1_SQL.format(x='v')}))
                   ]))) AS key
            FROM supplier
        ),
        pkeys AS (
            SELECT probe_id, probe_name,
                   unnest(list_distinct(flatten([
                       [probe_name],
                       {_D1_SQL.format(x='probe_name')},
                       flatten(list_transform({_D1_SQL.format(x='probe_name')},
                                              v -> {_D1_SQL.format(x='v')}))
                   ]))) AS key
            FROM probes
        )
        SELECT DISTINCT b.s_suppkey, p.probe_id, b.s_name, p.probe_name,
               levenshtein(b.s_name, p.probe_name) AS dist
        FROM bkeys b JOIN pkeys p USING (key)
        WHERE levenshtein(b.s_name, p.probe_name) <= 2
    """,
    description=(
        "record linkage at edit distance <= 2: full SymSpell blocking — both sides "
        "explode their up-to-2-deletion neighborhoods (~172 keys per 18-char string), "
        "equi-join on shared keys, exact levenshtein verify on candidates only "
        "(operators/linkage.py::fuzzy_join_within_k); probes are supplier names with "
        "two characters deleted at key-dependent positions"
    ),
    tags=("join", "linkage", "north-star"),
)
def join_fuzzy_two_edit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.operators.linkage import fuzzy_join_within_k

    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    p1 = F.lit(10) + F.col("s_suppkey") % 8
    d1 = F.concat(
        F.substring(F.col("s_name"), F.lit(1), p1 - 1),
        F.substring(F.col("s_name"), p1 + 1, F.lit(18)),
    )
    p2 = F.lit(3) + F.col("s_suppkey") % 5
    probes = s.select(
        (F.col("s_suppkey") + 10000).alias("probe_id"),
        F.concat(
            F.substring(d1, F.lit(1), p2 - 1),
            F.substring(d1, p2 + 1, F.lit(17)),
        ).alias("probe_name"),
    )
    return fuzzy_join_within_k(s, probes, "s_name", "probe_name", 18, k=2).select(
        "s_suppkey", "probe_id", "s_name", "probe_name", "dist"
    )


_ASOF_NEAREST_ORACLE = """
WITH ev AS (
    SELECT user_id AS k, epoch_us(ts) AS us, 1 AS is_obs, event_id AS ord_id,
           event_id, epoch_us(ts) AS obs_us
    FROM events
),
mk AS (
    SELECT o_custkey AS k, epoch_us(o_orderdate) AS us, 0 AS is_obs,
           -o_orderkey AS ord_id, CAST(NULL AS BIGINT) AS event_id,
           CAST(NULL AS BIGINT) AS obs_us
    FROM orders WHERE o_custkey <= 200
),
u AS (SELECT * FROM ev UNION ALL SELECT * FROM mk),
scanned AS (
    SELECT k, us, is_obs, ord_id,
           last_value(event_id IGNORE NULLS) OVER fp AS prev_id,
           last_value(obs_us IGNORE NULLS)  OVER fp AS prev_us,
           first_value(event_id IGNORE NULLS) OVER fn AS next_id,
           first_value(obs_us IGNORE NULLS)  OVER fn AS next_us
    FROM u
    WINDOW fp AS (PARTITION BY k ORDER BY us, is_obs DESC, ord_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         fn AS (PARTITION BY k ORDER BY us, is_obs DESC, ord_id
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT -ord_id AS o_orderkey, k AS o_custkey,
       CASE WHEN next_us IS NULL THEN prev_id
            WHEN prev_us IS NULL THEN next_id
            WHEN us - prev_us <= next_us - us THEN prev_id
            ELSE next_id END AS nearest_event_id,
       CASE WHEN next_us IS NULL THEN us - prev_us
            WHEN prev_us IS NULL THEN next_us - us
            WHEN us - prev_us <= next_us - us THEN us - prev_us
            ELSE next_us - us END AS gap_us
FROM scanned
WHERE is_obs = 0 AND (prev_us IS NOT NULL OR next_us IS NOT NULL)
ORDER BY o_orderkey
"""


@register(
    "join_asof_nearest",
    oracle=_ASOF_NEAREST_ORACLE,
    description=(
        "nearest-neighbor as-of join (both directions, backward tiebreak): "
        "orders become marker rows UNIONED into the per-user event stream, one "
        "window partitioning serves the backward and forward ignore-nulls scans, "
        "and each marker picks the nearer neighbor — an as-of join in BOTH "
        "directions with ZERO join operators: one shuffle keyed by the user, "
        "total work O(|events| + |orders|) per key"
    ),
    tags=("join", "asof", "window", "temporal"),
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W  # noqa: PLC0415

    e = load_table(spark, sf_dir, "events")
    o = load_table(spark, sf_dir, "orders")
    ev = e.select(
        F.col("user_id").alias("k"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.lit(1).alias("is_obs"),
        F.col("event_id").alias("ord_id"),
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("obs_us"),
    )
    mk = o.filter(F.col("o_custkey") <= 200).select(
        F.col("o_custkey").alias("k"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("us"),
        F.lit(0).alias("is_obs"),
        (-F.col("o_orderkey")).alias("ord_id"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("long").alias("obs_us"),
    )
    u = ev.unionByName(mk)
    order = [F.col("us").asc(), F.col("is_obs").desc(), F.col("ord_id").asc()]
    fp = W.partitionBy("k").orderBy(*order).rowsBetween(W.unboundedPreceding, 0)
    fn = W.partitionBy("k").orderBy(*order).rowsBetween(0, W.unboundedFollowing)
    scanned = (
        u.withColumn("prev_id", F.last("event_id", ignorenulls=True).over(fp))
        .withColumn("prev_us", F.last("obs_us", ignorenulls=True).over(fp))
        .withColumn("next_id", F.first("event_id", ignorenulls=True).over(fn))
        .withColumn("next_us", F.first("obs_us", ignorenulls=True).over(fn))
    )
    prev_gap = F.col("us") - F.col("prev_us")
    next_gap = F.col("next_us") - F.col("us")
    nearest_id = (
        F.when(F.col("next_us").isNull(), F.col("prev_id"))
        .when(F.col("prev_us").isNull(), F.col("next_id"))
        .when(prev_gap <= next_gap, F.col("prev_id"))
        .otherwise(F.col("next_id"))
    )
    gap = (
        F.when(F.col("next_us").isNull(), prev_gap)
        .when(F.col("prev_us").isNull(), next_gap)
        .when(prev_gap <= next_gap, prev_gap)
        .otherwise(next_gap)
    )
    return (
        scanned.filter(
            (F.col("is_obs") == 0)
            & (F.col("prev_us").isNotNull() | F.col("next_us").isNotNull())
        )
        .select(
            (-F.col("ord_id")).alias("o_orderkey"),
            F.col("k").alias("o_custkey"),
            nearest_id.alias("nearest_event_id"),
            gap.alias("gap_us"),
        )
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# SQL-text entry point: one ANSI string, two engines
# ---------------------------------------------------------------------------

# The SAME string is executed by spark.sql() AND handed to DuckDB as the
# oracle — the portability statement for SQL-first users migrating off the
# reference: the engine's SQL surface is ANSI enough that the query text
# itself is the contract, not the DataFrame DSL.
_SQL_PARITY_TEXT = """
SELECT n.n_name AS nation,
       count(*) AS n_orders,
       round(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE o.o_orderstatus = 'F'
GROUP BY n.n_name
HAVING count(*) > 10
ORDER BY nation
"""


@register(
    "sql_text_parity",
    oracle=_SQL_PARITY_TEXT,
    description=(
        "SQL-text entry point: the identical ANSI string runs through spark.sql() "
        "over temp views AND through DuckDB as its own oracle — joins, aggregate, "
        "HAVING, ORDER BY. Catalyst still plans it like the DSL twin (broadcast "
        "the dimensions, shuffle the fact once), because SQL and DataFrame code "
        "meet in the same logical plan"
    ),
    tags=("flagship", "join", "aggregation", "sql"),
)
def sql_text_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("orders", "customer", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_SQL_PARITY_TEXT)


# ---------------------------------------------------------------------------
# binned interval-overlap join (large x large ranges)
# ---------------------------------------------------------------------------

_HOUR_US = 3_600_000_000
_INCIDENT_HALF_US = 1_800_000_000  # ±30 min around each error event

_INTERVAL_ORACLE = """
WITH a AS (
    SELECT user_id, date_trunc('day', ts) AS d,
           epoch_us(min(ts)) AS s, epoch_us(max(ts)) + 1 AS e
    FROM events GROUP BY user_id, date_trunc('day', ts)
),
b AS (
    SELECT event_id, epoch_us(ts) - 1800000000 AS s, epoch_us(ts) + 1800000000 AS e
    FROM events WHERE event_type = 'error'
),
pairs AS (
    SELECT DISTINCT a.user_id, a.d, b.event_id
    FROM a JOIN b ON a.s < b.e AND b.s < a.e
)
SELECT user_id, count(*) AS n_overlaps
FROM pairs GROUP BY user_id ORDER BY user_id
"""


@register(
    "join_interval_binned",
    oracle=_INTERVAL_ORACLE,
    description=(
        "interval-overlap join where BOTH range sets are large (user-day activity "
        "intervals x ±30min incident windows): each interval explodes to the hour "
        "buckets it touches, the join runs bucket-equal (an ordinary hash join a "
        "shuffle can partition), candidates dedupe, and the exact overlap "
        "predicate verifies. The oracle pays the quadratic theta join; the engine "
        "pays O(intervals x buckets-touched) — the binning join_range_band's "
        "broadcast-small-side shape cannot provide once neither side broadcasts"
    ),
    tags=("join", "range", "temporal", "scale"),
)
def join_interval_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # ts may arrive as TIMESTAMP_NTZ under a stock session; unix_micros needs LTZ
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    a = (
        e.groupBy("user_id", F.date_trunc("day", F.col("ts")).alias("d"))
        .agg(F.min(us).alias("s"), (F.max(us) + 1).alias("e"))
    )
    b = e.filter(F.col("event_type") == "error").select(
        "event_id",
        (us - _INCIDENT_HALF_US).alias("bs"),
        (us + _INCIDENT_HALF_US).alias("be"),
    )
    a_binned = a.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                (F.col("s") / _HOUR_US).cast("long"), ((F.col("e") - 1) / _HOUR_US).cast("long")
            )
        ),
    )
    b_binned = b.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                (F.col("bs") / _HOUR_US).cast("long"), ((F.col("be") - 1) / _HOUR_US).cast("long")
            )
        ),
    )
    pairs = (
        a_binned.join(b_binned, "bucket")
        .filter((F.col("s") < F.col("be")) & (F.col("bs") < F.col("e")))
        .select("user_id", "d", "event_id")
        .distinct()
    )
    return pairs.groupBy("user_id").agg(F.count("*").alias("n_overlaps")).orderBy("user_id")


# ---------------------------------------------------------------------------
# keyset pagination (the OFFSET-free page fetch)
# ---------------------------------------------------------------------------

_PAGE_SIZE = 50
_PAGE_CURSOR = (3, 100)  # (o_totalprice tier marker) — see query: cursor is a (price, key) pair


@register(
    "sort_keyset_pagination",
    oracle=f"""
        SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
        FROM orders
        WHERE (o_totalprice, o_orderkey) > (300000.0, 100)
        ORDER BY o_totalprice, o_orderkey
        LIMIT {_PAGE_SIZE}
    """,
    description=(
        "keyset (cursor) pagination: the next page is WHERE (sort_key, id) > "
        "(last_seen) ORDER BY ... LIMIT n — a pushdown-able range predicate plus "
        "a TakeOrdered, so page 10k costs the same as page 1. OFFSET pagination "
        "re-sorts and discards everything before the page; at 100 TB a deep "
        "OFFSET is a full-table sort per page, the keyset fetch is a pruned scan"
    ),
    tags=("sort", "filter", "scale"),
)
def sort_keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cursor_price, cursor_key = 300000.0, 100
    after_cursor = (F.col("o_totalprice") > cursor_price) | (
        (F.col("o_totalprice") == cursor_price) & (F.col("o_orderkey") > cursor_key)
    )
    return (
        o.filter(after_cursor)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"))
        .orderBy(F.asc("o_totalprice"), F.asc("o_orderkey"))
        .limit(_PAGE_SIZE)
    )


# ---------------------------------------------------------------------------
# null-safe join semantics (<=> / IS NOT DISTINCT FROM)
# ---------------------------------------------------------------------------

_NULLSAFE_ORACLE = """
WITH a AS (
    SELECT o_orderkey AS k,
           CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderpriority END AS grp
    FROM orders WHERE o_orderkey <= 2000
),
b AS (
    SELECT CASE WHEN n % 7 = 0 THEN NULL ELSE '' || (1 + n % 5) || '-GROUP' END AS grp,
           n AS tag
    FROM (SELECT unnest(range(0, 14)) AS n)
)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN a.grp IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_key_pairs
FROM a JOIN b ON a.grp IS NOT DISTINCT FROM b.grp
"""


@register(
    "join_null_safe",
    oracle=_NULLSAFE_ORACLE,
    description=(
        "null-safe equi join (<=> / IS NOT DISTINCT FROM): NULL keys MATCH each "
        "other instead of silently dropping — the semantics a dimensional join on "
        "an optional attribute actually needs, and a classic correctness trap "
        "(plain = joins lose every NULL-keyed row with no error). Catalyst plans "
        "<=> as an ordinary hash join on a null-safe key, so the scale shape is "
        "unchanged; the audit column counts the pairs a naive join would have lost"
    ),
    tags=("join", "quality"),
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    a = o.select(
        F.col("o_orderkey").alias("k"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None)).otherwise(F.col("o_orderpriority")).alias("grp"),
    )
    b_rows = spark.range(0, 14).select(
        F.when(F.col("id") % 7 == 0, F.lit(None))
        .otherwise(F.concat((F.lit(1) + F.col("id") % 5).cast("string"), F.lit("-GROUP")))
        .alias("b_grp"),
        F.col("id").alias("tag"),
    )
    joined = a.join(F.broadcast(b_rows), a["grp"].eqNullSafe(b_rows["b_grp"]))
    return joined.agg(
        F.count("*").alias("n_pairs"),
        F.sum(F.when(F.col("grp").isNull(), 1).otherwise(0)).cast("bigint").alias("null_key_pairs"),
    )


@register(
    "window_rolling_median",
    oracle="""
        SELECT event_id, event_type,
               round(quantile_cont(value, 0.5) OVER w, 6) AS rolling_median,
               round(quantile_cont(value, 0.9) OVER w, 6) AS rolling_p90
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN 24 PRECEDING AND CURRENT ROW)
        ORDER BY event_type, ts, event_id
        LIMIT 5000
    """,
    description=(
        "exact rolling median/p90 over a 25-row trailing frame per event type "
        "— the robust-baseline window that percentile-based anomaly detectors "
        "sit on (interpolated exact percentiles as WINDOW aggregates, "
        "engine-identical on doubles after 6dp rounding). One shuffle keyed "
        "by event_type; the frame re-sort is per-partition. At 100 TB the "
        "partition key would include a time bucket so no single event_type "
        "pins a reducer"
    ),
    tags=("window", "percentile", "temporal"),
)
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    e.createOrReplaceTempView("_rm_events")
    return spark.sql(
        """
        SELECT event_id, event_type,
               round(percentile(value, 0.5) OVER w, 6) AS rolling_median,
               round(percentile(value, 0.9) OVER w, 6) AS rolling_p90
        FROM _rm_events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN 24 PRECEDING AND CURRENT ROW)
        ORDER BY event_type, ts, event_id
        LIMIT 5000
        """
    )


@register(
    "sql_recursive_date_spine",
    oracle="""
        WITH RECURSIVE bounds AS (
            SELECT CAST(floor(epoch(min(ts)) / 86400) AS BIGINT) AS lo,
                   CAST(floor(epoch(max(ts)) / 86400) AS BIGINT) AS hi
            FROM events
        ),
        spine(d) AS (
            SELECT lo FROM bounds
            UNION ALL
            SELECT d + 1 FROM spine, bounds WHERE d < bounds.hi
        ),
        daily AS (
            SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d,
                   count(*) AS n
            FROM events GROUP BY 1
        )
        SELECT spine.d AS day_num,
               CAST(coalesce(daily.n, 0) AS BIGINT) AS n_events,
               daily.n IS NULL AS is_gap
        FROM spine LEFT JOIN daily USING (d)
        ORDER BY day_num
    """,
    description=(
        "calendar-spine gap fill via RECURSIVE CTE (new in Spark 4): "
        "generate every day between the stream's min and max, left-join the "
        "daily counts, and surface zero-event days explicitly — the reporting "
        "spine that makes 'no data' distinguishable from 'no rows'. The "
        "recursion is O(days) driver-light rows; the event table aggregates "
        "once and joins broadcast"
    ),
    tags=("relational", "sql", "temporal", "join"),
)
def sql_recursive_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("_spine_events")
    return spark.sql(
        """
        WITH RECURSIVE bounds AS (
            SELECT CAST(floor(unix_timestamp(min(ts)) / 86400) AS BIGINT) AS lo,
                   CAST(floor(unix_timestamp(max(ts)) / 86400) AS BIGINT) AS hi
            FROM _spine_events
        ),
        spine AS (
            SELECT lo AS d FROM bounds
            UNION ALL
            SELECT d + 1 FROM spine, bounds WHERE d < bounds.hi
        ),
        daily AS (
            SELECT CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT) AS d,
                   count(*) AS n
            FROM _spine_events GROUP BY 1
        )
        SELECT spine.d AS day_num,
               CAST(coalesce(daily.n, 0) AS BIGINT) AS n_events,
               daily.n IS NULL AS is_gap
        FROM spine LEFT JOIN daily USING (d)
        ORDER BY day_num
        """
    )


@register(
    "join_lateral_topn",
    oracle="""
        SELECT n.n_name, t.c_custkey, round(t.c_acctbal, 2) AS acctbal,
               t.rank_in_nation
        FROM nation n, LATERAL (
            SELECT c_custkey, c_acctbal,
                   row_number() OVER (ORDER BY c_acctbal DESC, c_custkey)
                       AS rank_in_nation
            FROM customer
            WHERE c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_custkey
            LIMIT 3
        ) t
        ORDER BY n.n_name, t.rank_in_nation
    """,
    description=(
        "top-3 customers per nation via correlated LATERAL subquery — the "
        "SQL-standard top-N-per-group form (the window-function twin is "
        "window_topk_per_group; both plans decorrelate to the same "
        "partitioned-rank shape, which this query's oracle MATCH pins). "
        "Deterministic ties: (acctbal DESC, custkey)"
    ),
    tags=("relational", "join", "sql", "topk"),
)
def join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("_lat_nation")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("_lat_customer")
    return spark.sql(
        """
        SELECT n.n_name, t.c_custkey, round(t.c_acctbal, 2) AS acctbal,
               t.rank_in_nation
        FROM _lat_nation n, LATERAL (
            SELECT c_custkey, c_acctbal,
                   row_number() OVER (ORDER BY c_acctbal DESC, c_custkey)
                       AS rank_in_nation
            FROM _lat_customer
            WHERE c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_custkey
            LIMIT 3
        ) t
        ORDER BY n.n_name, t.rank_in_nation
        """
    )


@register(
    "join_semi_range",
    oracle="""
        SELECT o.o_orderkey, o.o_orderpriority
        FROM orders o
        WHERE EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate >= o.o_orderdate
              AND l.l_shipdate < o.o_orderdate + INTERVAL 30 DAY
        )
        ORDER BY o.o_orderkey
        LIMIT 2000
    """,
    description=(
        "range-conditioned EXISTS (semi join with a band predicate): orders "
        "with any lineitem shipped within 30 days of order placement — the "
        "TPC-H Q4 shape isolated as a reusable join variant. The equi key "
        "(orderkey) drives the hash semi join; the band predicate evaluates "
        "as a residual filter inside it, so no range-join explosion"
    ),
    tags=("relational", "join", "subquery"),
)
def join_semi_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    cond = (
        (l.l_orderkey == o.o_orderkey)
        & (l.l_shipdate >= o.o_orderdate)
        & (l.l_shipdate < F.date_add(o.o_orderdate.cast("date"), 30).cast("timestamp"))
    )
    return (
        o.join(l, cond, "left_semi")
        .select("o_orderkey", "o_orderpriority")
        .orderBy("o_orderkey")
        .limit(2000)
    )


# ---------------------------------------------------------------------------
# interval overlap join WITHOUT an equality key (grid-bucketed)
# ---------------------------------------------------------------------------

_IOV_CELL_DAYS = 32  # grid cell width; intervals span <= ~35 days here

_INTERVAL_OVERLAP_ORACLE = """
WITH a AS (
    -- the fixture has no receipt date; transit time is a deterministic
    -- 1-13 day function of the key, mirrored on both sides
    SELECT l_orderkey * 10 + l_linenumber AS id_a,
           CAST(l_shipdate AS DATE) AS start_a,
           CAST(l_shipdate AS DATE) + CAST(1 + l_orderkey % 13 AS INTEGER) AS end_a
    FROM lineitem WHERE l_orderkey % 401 = 1
),
b AS (
    SELECT o_orderkey AS id_b,
           CAST(o_orderdate AS DATE) AS start_b,
           CAST(o_orderdate AS DATE) + 30 AS end_b
    FROM orders WHERE o_orderkey % 499 = 1
)
SELECT a.id_a, b.id_b,
       CAST(greatest(a.start_a, b.start_b) AS VARCHAR) AS ov_start,
       CAST(least(a.end_a, b.end_b) AS VARCHAR) AS ov_end,
       CAST(date_diff('day', greatest(a.start_a, b.start_b),
                      least(a.end_a, b.end_b)) + 1 AS BIGINT) AS overlap_days
FROM a JOIN b ON a.start_a <= b.end_b AND b.start_b <= a.end_a
ORDER BY id_a, id_b
"""


@register(
    "join_interval_overlap",
    oracle=_INTERVAL_OVERLAP_ORACLE,
    description=(
        "interval overlap join with NO equality key (shipment transit windows "
        "x order fulfilment windows): the naive plan is a cross join with a "
        "range predicate — quadratic and single-stage at scale. Grid-bucketed "
        "instead: each interval is exploded to the ~1-2 fixed-width day cells "
        "it covers (in-task, no shuffle), the join runs on the cell key, and "
        "each overlapping pair is kept exactly once by claiming it in the "
        "LATER of the two start cells — the distinct-FREE dedup that "
        "join_interval_binned's `.distinct()` variant pays a second shuffle "
        "for (same candidate generation, cheaper uniqueness). Shuffle volume "
        "is O(intervals * cells covered), join fan-in per cell is bounded by "
        "cell width, and cell width is the documented lever (match it to the "
        "p99 interval span). The oracle is the direct range-predicate join — "
        "feasible only at oracle scale, which is the point"
    ),
    tags=("join", "temporal", "scale"),
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, o = load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "orders")
    cell = lambda c: F.floor(F.unix_date(F.col(c)) / _IOV_CELL_DAYS)  # noqa: E731
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
    ae = a.select(
        "*", F.explode(F.sequence(cell("start_a"), cell("end_a"))).alias("cell")
    )
    be = b.select(
        "*", F.explode(F.sequence(cell("start_b"), cell("end_b"))).alias("cell")
    )
    ov_start = F.greatest("start_a", "start_b")
    ov_end = F.least("end_a", "end_b")
    return (
        ae.join(be, "cell")
        .filter(
            (F.col("start_a") <= F.col("end_b"))
            & (F.col("start_b") <= F.col("end_a"))
            # claim each pair in the later start cell only (dedup without
            # a distinct): every overlapping pair co-occurs in that cell
            & (
                F.col("cell")
                == F.greatest(
                    F.floor(F.unix_date(F.col("start_a")) / _IOV_CELL_DAYS),
                    F.floor(F.unix_date(F.col("start_b")) / _IOV_CELL_DAYS),
                )
            )
        )
        .select(
            "id_a",
            "id_b",
            ov_start.cast("string").alias("ov_start"),
            ov_end.cast("string").alias("ov_end"),
            (F.datediff(ov_end, ov_start) + 1).cast("bigint").alias("overlap_days"),
        )
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Spark 4 SQL pipe syntax (|>) — same logical plan as classic SQL
# ---------------------------------------------------------------------------

_PIPE_CLASSIC_ORACLE = """
SELECT l_returnflag,
       count(*) AS n_items,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
GROUP BY l_returnflag
ORDER BY l_returnflag
"""

_PIPE_TEXT = """
FROM lineitem
|> WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
|> AGGREGATE count(*) AS n_items,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                      * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
   GROUP BY l_returnflag
|> ORDER BY l_returnflag
"""


@register(
    "sql_pipe_syntax_parity",
    oracle=_PIPE_CLASSIC_ORACLE,
    description=(
        "Spark 4 SQL pipe syntax (|> operators): the linear FROM -> WHERE -> "
        "AGGREGATE -> ORDER BY form runs through spark.sql() and is value-"
        "checked against the classic-SQL oracle — pipe stages lower to the "
        "SAME logical plan (filter pushdown into the scan, partial "
        "aggregation), so the surface is free at 100 TB. Money math in "
        "DECIMAL inside the sum (order-independent), emitted as DOUBLE — "
        "the flagship's float-safety discipline"
    ),
    tags=("aggregation", "sql", "filter"),
)
def sql_pipe_syntax_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_PIPE_TEXT)


# ---------------------------------------------------------------------------
# Spark 4 collation surface (UTF8_LCASE) — case-insensitive semantics
# without lower() rewrites
# ---------------------------------------------------------------------------

_COLLATION_ORACLE = """
WITH v AS (
    SELECT s_suppkey, upper(s_name) AS name FROM supplier
    UNION ALL
    SELECT s_suppkey + 1000000, lower(s_name) AS name FROM supplier
)
SELECT lower(name) AS name_ci,
       count(*) AS n_rows,
       count(DISTINCT name) AS n_exact_variants,
       min(s_suppkey) AS min_key
FROM v GROUP BY lower(name) ORDER BY name_ci
"""


@register(
    "func_collation_pack",
    oracle=_COLLATION_ORACLE,
    description=(
        "Spark 4 collation surface: grouping on a UTF8_LCASE-collated column "
        "merges case variants natively (the upper+lower twin of every "
        "supplier name collapses to one group, n_rows=2, n_exact_variants=2) "
        "— the engine-level alternative to lower() rewrites, which lose the "
        "original strings and defeat dictionary encodings. The oracle IS the "
        "lower() rewrite, proving semantic equivalence; output projects "
        "lower() so the representative-row choice inside each collated group "
        "cannot leak into the hash"
    ),
    tags=("functions", "aggregation"),
)
def func_collation_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    v = s.select("s_suppkey", F.upper("s_name").alias("name")).unionByName(
        s.select(
            (F.col("s_suppkey") + 1000000).alias("s_suppkey"),
            F.lower("s_name").alias("name"),
        )
    )
    ci = F.expr("collate(name, 'UTF8_LCASE')")
    return (
        v.groupBy(ci.alias("k"))
        .agg(
            F.count("*").alias("n_rows"),
            F.count_distinct(F.expr("collate(name, 'UTF8_BINARY')")).alias(
                "n_exact_variants"
            ),
            F.min("s_suppkey").alias("min_key"),
        )
        .select(
            F.lower(F.expr("collate(k, 'UTF8_BINARY')")).alias("name_ci"),
            "n_rows",
            "n_exact_variants",
            "min_key",
        )
        .orderBy("name_ci")
    )
