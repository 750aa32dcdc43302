"""Extended TPC-H-shaped query pack over the fixture star schema.

The fixture is a simplified TPC-H (no partsupp, no ship/commit/receipt-date
triple, no shipmode/comment columns — see TESTDATA.md), so queries whose
predicates need those columns are *adapted*: the join/agg/subquery shape is
kept, the filter is re-expressed over available columns. Q1/Q3/Q5/Q10 live
in flagship.py / relational.py; this pack adds the rest of the canonical
shapes: scalar+correlated subqueries (Q17/Q22), group-filtered joins (Q18),
disjunctive multi-predicate scans (Q19), two-level aggregation (Q13),
fraction-of-total windows (Q8/Q14/Q15), and multi-join year series (Q7/Q9).

Numeric convention (same as relational.py): money math in DECIMAL so sums
are exact and engine-order-independent, emitted as DOUBLE; ratio outputs
rounded to 6 digits in both engines. Quantities stay DOUBLE — they are
whole numbers, so double addition is exact in any order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_integration_and_processing_spark.queries.catalog import register
from data_integration_and_processing_spark.queries.relational import _REV_SQL, _revenue
from data_integration_and_processing_spark.sources.tables import load_table, load_tables

_REV_EXPR_SQL = "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"


def _rev_col() -> F.Column:
    return F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )


@register(
    "q2_top_supplier_per_nation",
    oracle="""
        SELECT n_name, s_name, s_acctbal
        FROM (
            SELECT n.n_name, s.s_name, s.s_acctbal,
                   row_number() OVER (PARTITION BY n.n_name
                                      ORDER BY s.s_acctbal DESC, s.s_suppkey) AS rn
            FROM supplier s
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name = 'EUROPE'
        ) WHERE rn = 1
    """,
    description="Q2 shape (adapted: no partsupp): best supplier per European nation via window top-1",
    tags=("tpch", "window", "join"),
)
def q2_top_supplier_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    s, n, r = load_tables(spark, sf_dir, "supplier", "nation", "region")
    joined = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r.filter(F.col("r_name") == "EUROPE")), n.n_regionkey == r.r_regionkey)
    )
    w = Window.partitionBy("n_name").orderBy(F.desc("s_acctbal"), F.asc("s_suppkey"))
    return (
        joined.select("n_name", "s_name", "s_acctbal", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "q4_order_priority",
    oracle="""
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1997-01-01' AND o.o_orderdate < TIMESTAMP '1997-04-01'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
        GROUP BY o_orderpriority
    """,
    description="Q4 shape (adapted filter: qty>45 instead of commit<receipt): EXISTS semi-join + count",
    tags=("tpch", "join", "aggregation"),
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o, l = load_tables(spark, sf_dir, "orders", "lineitem")
    o = o.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    hit = l.filter(F.col("l_quantity") > 45).select("l_orderkey")
    return (
        o.join(hit, o.o_orderkey == hit.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "q6_forecast_revenue",
    oracle="""
        SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2)))
                    AS DOUBLE) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24
    """,
    description="Q6: pure scan-filter-agg; every predicate pushes to the parquet scan",
    tags=("tpch", "filter", "aggregation"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(12,2)") * F.col("l_discount").cast("decimal(4,2)"))
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "q7_volume_shipping",
    oracle=f"""
        SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
               year(l.l_shipdate) AS ship_year, {_REV_SQL} AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
           OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
        GROUP BY 1, 2, 3
    """,
    description="Q7: bidirectional nation-pair trade volume by year (6-way join)",
    tags=("tpch", "join", "aggregation"),
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, o, c, s, n = load_tables(spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation")
    cn = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    joined = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), c.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), s.s_nationkey == F.col("sn_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        joined.groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year"))
        .agg(_revenue().alias("revenue"))
    )


@register(
    "q8_market_share",
    oracle=f"""
        WITH flows AS (
            SELECT year(o.o_orderdate) AS order_year,
                   sn.n_name AS supp_nation,
                   {_REV_EXPR_SQL} AS rev
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation cn ON c.c_nationkey = cn.n_nationkey
            JOIN region r ON cn.n_regionkey = r.r_regionkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation sn ON s.s_nationkey = sn.n_nationkey
            JOIN part p ON l.l_partkey = p.p_partkey
            WHERE r.r_name = 'EUROPE' AND p.p_type = 'PROMO'
        )
        SELECT order_year,
               CAST((CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN rev ELSE 0 END)
                          * 10000 AS HUGEINT) * 1000000)
                    // CAST(sum(rev) * 10000 AS HUGEINT) AS BIGINT) AS mkt_share_micro
        FROM flows GROUP BY order_year
    """,
    description="Q8: NATION_3's market share of PROMO parts sold into EUROPE, per year",
    tags=("tpch", "join", "aggregation"),
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, o, c, s, n, r, p = load_tables(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation", "region", "part"
    )
    cn = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_rkey"))
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    flows = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), c.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(r.filter(F.col("r_name") == "EUROPE")), F.col("cn_rkey") == F.col("r_regionkey"))
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), s.s_nationkey == F.col("sn_key"))
        .join(F.broadcast(p.filter(F.col("p_type") == "PROMO")), l.l_partkey == p.p_partkey)
        .select(F.year("o_orderdate").alias("order_year"), "supp_nation", _rev_col().alias("rev"))
    )
    nation_rev = F.sum(F.when(F.col("supp_nation") == "NATION_3", F.col("rev")).otherwise(F.lit(0)))
    # exact integer-micro share: DECIMAL-exact 1e-4
    # grid revenue sums, one truncating DECIMAL(38) quotient
    return flows.groupBy("order_year").agg(
        (nation_rev * 10000).cast("decimal(38,0)").alias("_nn"),
        (F.sum("rev") * 10000).cast("decimal(38,0)").alias("_tn"),
    ).select(
        "order_year",
        F.expr("CAST((_nn * 1000000) div _tn AS BIGINT)").alias("mkt_share_micro"),
    )


@register(
    "q9_product_profit",
    oracle="""
        SELECT sn.n_name AS nation, year(o.o_orderdate) AS order_year,
               CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))
                        - CAST(p.p_retailprice AS DECIMAL(12,2)) * CAST(l.l_quantity AS DECIMAL(12,2))
                          * CAST(0.1 AS DECIMAL(3,1)))
                    AS DOUBLE) AS profit
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_type = 'STANDARD'
        GROUP BY 1, 2
    """,
    description="Q9 shape (adapted cost: 10% of retail price stands in for ps_supplycost)",
    tags=("tpch", "join", "aggregation"),
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, o, s, n, p = load_tables(spark, sf_dir, "lineitem", "orders", "supplier", "nation", "part")
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("nation"))
    cost = (
        F.col("p_retailprice").cast("decimal(12,2)")
        * F.col("l_quantity").cast("decimal(12,2)")
        * F.lit(0.1).cast("decimal(3,1)")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), s.s_nationkey == F.col("sn_key"))
        .join(F.broadcast(p.filter(F.col("p_type") == "STANDARD")), l.l_partkey == p.p_partkey)
        .groupBy("nation", F.year("o_orderdate").alias("order_year"))
        .agg(F.sum(_rev_col() - cost).cast("double").alias("profit"))
    )


@register(
    "q13_customer_distribution",
    oracle="""
        WITH per_cust AS (
            SELECT c.c_custkey, count(o.o_orderkey) AS c_count
            FROM customer c
            LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                               AND o.o_orderpriority <> '1-URGENT'
            GROUP BY c.c_custkey
        )
        SELECT c_count, count(*) AS custdist
        FROM per_cust GROUP BY c_count
    """,
    description="Q13: two-level aggregation — orders per customer (incl. zero), then histogram",
    tags=("tpch", "join", "aggregation"),
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c, o = load_tables(spark, sf_dir, "customer", "orders")
    o = o.filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "q14_promo_revenue",
    oracle=f"""
        SELECT month(l.l_shipdate) AS ship_month,
               CAST((CAST(sum(CASE WHEN p.p_type = 'PROMO' THEN {_REV_EXPR_SQL} ELSE 0 END)
                          * 10000 AS HUGEINT) * 100000000)
                    // CAST(sum({_REV_EXPR_SQL}) * 10000 AS HUGEINT) AS BIGINT)
                   AS promo_share_micro
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1997-01-01' AND l.l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY 1
    """,
    description="Q14: promo revenue share per month (conditional aggregation over a broadcast join)",
    tags=("tpch", "join", "aggregation"),
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, p = load_tables(spark, sf_dir, "lineitem", "part")
    l = l.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    rev = _rev_col()
    promo = F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0)))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy(F.month("l_shipdate").alias("ship_month"))
        # exact integer-micro percentage: both
        # revenue sums are DECIMAL-exact on the 1e-4 grid, so the share
        # ships as one truncating DECIMAL(38) quotient (x1e8 = % in micro)
        .agg(
            (
                (promo * 10000).cast("decimal(38,0)") * F.lit(100000000).cast("decimal(38,0)")
            ).alias("_pn"),
            (F.sum(rev) * 10000).cast("decimal(38,0)").alias("_tn"),
        )
        .select(
            "ship_month",
            F.expr("CAST(_pn div _tn AS BIGINT)").alias("promo_share_micro"),
        )
    )


@register(
    "q15_top_supplier",
    oracle=f"""
        WITH srev AS (
            SELECT l_suppkey, {_REV_SQL} AS total_rev
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
            GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name, sr.total_rev
        FROM srev sr JOIN supplier s ON sr.l_suppkey = s.s_suppkey
        WHERE sr.total_rev = (SELECT max(total_rev) FROM srev)
    """,
    description="Q15: top revenue supplier for a quarter (agg + scalar-subquery max filter)",
    tags=("tpch", "join", "subquery"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, s = load_tables(spark, sf_dir, "lineitem", "supplier")
    srev = (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(_revenue().alias("total_rev"))
    )
    best = srev.select(F.max("total_rev").alias("best_rev"))
    return (
        srev.join(F.broadcast(best), srev.total_rev == best.best_rev)
        .join(s, srev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev")
    )


@register(
    "q16_supplier_count_by_part",
    oracle="""
        SELECT p.p_brand, p.p_type, p.p_size, count(DISTINCT l.l_suppkey) AS supplier_cnt
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_size IN (1, 5, 9, 13)
          AND p.p_brand <> 'Brand#1'
          AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY 1, 2, 3
    """,
    description="Q16 shape (lineitem stands in for partsupp): distinct suppliers per part group, NOT IN exclusion",
    tags=("tpch", "join", "aggregation", "distinct"),
)
def q16_supplier_count_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, p, s = load_tables(spark, sf_dir, "lineitem", "part", "supplier")
    bad = s.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    p = p.filter((F.col("p_size").isin(1, 5, 9, 13)) & (F.col("p_brand") != "Brand#1"))
    return (
        l.join(bad, l.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q17_small_quantity_revenue",
    oracle="""
        WITH part_avg AS (
            SELECT l_partkey, 0.2 * (CAST(sum(l_quantity) AS DOUBLE) / count(*)) AS qty_threshold
            FROM lineitem GROUP BY l_partkey
        )
        SELECT CAST(round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0, 2)
                    AS DOUBLE) AS avg_yearly
        FROM lineitem l
        JOIN part_avg pa ON l.l_partkey = pa.l_partkey
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_brand = 'Brand#11' AND l.l_quantity < pa.qty_threshold
    """,
    description="Q17: below-20%-of-average-quantity revenue (correlated avg rewritten as a join)",
    tags=("tpch", "join", "subquery", "aggregation"),
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, p = load_tables(spark, sf_dir, "lineitem", "part")
    # quantity values are whole numbers: the double sum is exact in any
    # order, so sum/count division is bit-identical to the oracle's.
    part_avg = l.groupBy(F.col("l_partkey").alias("pa_key")).agg(
        (F.lit(0.2) * (F.sum("l_quantity").cast("double") / F.count("*"))).alias("qty_threshold")
    )
    return (
        l.join(part_avg, l.l_partkey == F.col("pa_key"))
        .join(F.broadcast(p.filter(F.col("p_brand") == "Brand#11")), l.l_partkey == p.p_partkey)
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).cast("double") / 7.0, 2)
            .cast("double")
            .alias("avg_yearly")
        )
    )


@register(
    "q18_large_volume_customers",
    oracle="""
        SELECT c.c_name, o.o_orderkey, o.o_totalprice, big.sum_qty
        FROM (
            SELECT l_orderkey, sum(l_quantity) AS sum_qty
            FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 200
        ) big
        JOIN orders o ON big.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    description="Q18: large-volume orders (HAVING on a grouped fact) joined back to customers",
    tags=("tpch", "join", "aggregation"),
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, o, c = load_tables(spark, sf_dir, "lineitem", "orders", "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 200)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_name", "o_orderkey", "o_totalprice", "sum_qty")
    )


@register(
    "q19_disjunctive_predicates",
    oracle=f"""
        SELECT {_REV_SQL} AS revenue
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE (p.p_brand = 'Brand#11' AND p.p_size BETWEEN 1 AND 5  AND l.l_quantity BETWEEN 1 AND 11)
           OR (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 10 AND l.l_quantity BETWEEN 10 AND 20)
           OR (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 20 AND 30)
    """,
    description="Q19: disjunction of conjunctive brand/size/quantity predicates on a join",
    tags=("tpch", "join", "filter"),
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, p = load_tables(spark, sf_dir, "lineitem", "part")
    j = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    clause = (
        ((F.col("p_brand") == "Brand#11") & F.col("p_size").between(1, 5) & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 10) & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#13") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(20, 30))
    )
    return j.filter(clause).agg(_revenue().alias("revenue"))


@register(
    "q22_global_sales_opportunity",
    oracle="""
        WITH thresh AS (
            SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_bal
            FROM customer WHERE c_acctbal > 0
        )
        SELECT c.c_mktsegment, count(*) AS numcust,
               CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        FROM customer c, thresh t
        WHERE c.c_acctbal > t.avg_bal
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderpriority = '1-URGENT')
        GROUP BY c.c_mktsegment
    """,
    description="Q22 shape (adapted: 'no urgent order' — every fixture customer has some order): anti join + scalar subquery",
    tags=("tpch", "join", "subquery", "aggregation"),
)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c, o = load_tables(spark, sf_dir, "customer", "orders")
    # Threshold = exact decimal sum cast to double, then IEEE division —
    # bit-identical across engines regardless of aggregation order.
    thresh = (
        c.filter(F.col("c_acctbal") > 0)
        .agg((F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double") / F.count("*")).alias("avg_bal"))
    )
    return (
        c.join(F.broadcast(thresh))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            o.filter(F.col("o_orderpriority") == "1-URGENT"),
            c.c_custkey == o.o_custkey,
            "left_anti",
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("totacctbal"),
        )
    )


@register(
    "q12_priority_by_discount_band",
    oracle="""
        SELECT CASE WHEN l.l_discount >= 0.05 THEN 'high' ELSE 'low' END AS discount_band,
               CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
                    AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)
                    AS BIGINT) AS low_line_count
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_shipdate >= TIMESTAMP '1997-01-01' AND l.l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY 1
    """,
    description="Q12 shape (discount band stands in for shipmode): priority-class line counts per band",
    tags=("tpch", "join", "aggregation"),
)
def q12_priority_by_discount_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, o = load_tables(spark, sf_dir, "lineitem", "orders")
    l = l.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(F.when(F.col("l_discount") >= 0.05, "high").otherwise("low").alias("discount_band"))
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@register(
    "q20_excess_promo_suppliers",
    oracle="""
        WITH promo_qty AS (
            SELECT l.l_suppkey, sum(l.l_quantity) AS qty
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            WHERE p.p_type = 'PROMO'
              AND l.l_shipdate >= TIMESTAMP '1997-01-01' AND l.l_shipdate < TIMESTAMP '1998-01-01'
            GROUP BY l.l_suppkey
        ),
        thresh AS (SELECT 0.5 * (CAST(sum(qty) AS DOUBLE) / count(*)) AS t FROM promo_qty)
        SELECT s.s_suppkey, s.s_name, pq.qty
        FROM promo_qty pq, thresh
        JOIN supplier s ON pq.l_suppkey = s.s_suppkey
        WHERE pq.qty > thresh.t
    """,
    description="Q20 shape (lineitem stands in for partsupp): suppliers moving >50% of mean PROMO volume",
    tags=("tpch", "join", "subquery", "aggregation"),
)
def q20_excess_promo_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, p, s = load_tables(spark, sf_dir, "lineitem", "part", "supplier")
    promo_qty = (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(F.broadcast(p.filter(F.col("p_type") == "PROMO")), l.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    # quantities are whole numbers: sum exact in any order, division IEEE
    thresh = promo_qty.agg((F.lit(0.5) * (F.sum("qty").cast("double") / F.count("*"))).alias("t"))
    return (
        promo_qty.join(F.broadcast(thresh))
        .filter(F.col("qty") > F.col("t"))
        .join(s, promo_qty.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "qty")
    )


@register(
    "q21_sole_supplier_returns",
    oracle="""
        WITH per_order AS (
            SELECT l_orderkey,
                   count(*) AS n_lines,
                   count(DISTINCT l_suppkey) AS n_supps,
                   max(l_suppkey) AS the_supp,
                   max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS has_return
            FROM lineitem GROUP BY l_orderkey
        )
        SELECT s.s_name, count(*) AS numwait
        FROM per_order po JOIN supplier s ON po.the_supp = s.s_suppkey
        WHERE po.n_lines >= 2 AND po.n_supps = 1 AND po.has_return = 1
        GROUP BY s.s_name
    """,
    description="Q21 shape (returnflag stands in for late receipt): sole suppliers on multi-line orders with a return",
    tags=("tpch", "join", "aggregation", "distinct"),
)
def q21_sole_supplier_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, s = load_tables(spark, sf_dir, "lineitem", "supplier")
    per_order = l.groupBy("l_orderkey").agg(
        F.count("*").alias("n_lines"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.max("l_suppkey").alias("the_supp"),
        F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("has_return"),
    )
    return (
        per_order.filter((F.col("n_lines") >= 2) & (F.col("n_supps") == 1) & (F.col("has_return") == 1))
        .join(F.broadcast(s), F.col("the_supp") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )
