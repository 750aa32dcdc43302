"""True-shape TPC-H Q2/Q11/Q16/Q20 over a deterministically synthesized
``partsupp``.

The fixture has no partsupp table, so these queries build one in-plan with
pure modular arithmetic — expressible identically in Spark and ANSI SQL, so
the oracle constructs byte-identical rows:

- 4 suppliers per part: ``ps_suppkey = (p_partkey + i*step) % s_cnt`` with
  ``step = s_cnt // 4 + 1`` (offsets are distinct mod s_cnt for every
  fixture scale: s_cnt ∈ {10, 100, 1000});
- ``ps_availqty``/``ps_supplycost`` from small-prime hashes of (partkey, i);
- supplycost built as DECIMAL cents * 0.01 — no float division anywhere, so
  downstream money sums are exact and engine-order-independent (cast DOUBLE
  only at the output edge, repo float convention).

At 100 TB the same construction is a narrow projection + 4-way explode of
the part table — no shuffle; the joins that follow broadcast supplier and
nation like every other dimension join in the suite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_integration_and_processing_spark.queries.catalog import register
from data_integration_and_processing_spark.sources.tables import load_table

# SQL twin of synth_partsupp below — keep the arithmetic in lockstep.
_PS_SQL = """
    SELECT p_partkey AS ps_partkey,
           (p_partkey + i.i * ((SELECT count(*) FROM supplier) // 4 + 1))
               % (SELECT count(*) FROM supplier) AS ps_suppkey,
           CAST((p_partkey * 7 + i.i * 13) % 9999 + 1 AS INTEGER) AS ps_availqty,
           CAST((p_partkey * 31 + i.i * 17) % 100000 AS DECIMAL(10,0))
               * CAST(0.01 AS DECIMAL(3,2)) AS ps_supplycost
    FROM part CROSS JOIN (VALUES (0), (1), (2), (3)) AS i(i)
"""


def synth_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic partsupp: 4 suppliers per part via a mod rule, costs
    and quantities from small-prime hashes. Mirrors ``_PS_SQL`` exactly."""
    part = load_table(spark, sf_dir, "part").select("p_partkey")
    s_cnt = load_table(spark, sf_dir, "supplier").agg(F.count("*").alias("s_cnt"))
    step = (F.floor(F.col("s_cnt") / 4) + 1).cast("long")
    return (
        part.crossJoin(F.broadcast(s_cnt))
        .select(
            "p_partkey",
            "s_cnt",
            F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("i"),
        )
        .select(
            F.col("p_partkey").alias("ps_partkey"),
            F.pmod(F.col("p_partkey") + F.col("i") * step, F.col("s_cnt")).alias("ps_suppkey"),
            (F.pmod(F.col("p_partkey") * 7 + F.col("i") * 13, F.lit(9999)) + 1)
            .cast("int")
            .alias("ps_availqty"),
            (
                F.pmod(F.col("p_partkey") * 31 + F.col("i") * 17, F.lit(100000)).cast(
                    "decimal(10,0)"
                )
                * F.lit("0.01").cast("decimal(3,2)")
            ).alias("ps_supplycost"),
        )
    )


@register(
    "q11_important_stock",
    oracle=f"""
        WITH ps AS ({_PS_SQL}),
        valued AS (
            SELECT ps_partkey, ps_supplycost * ps_availqty AS v
            FROM ps
            JOIN supplier ON ps_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name IN ('NATION_3', 'NATION_7', 'NATION_11')
        )
        SELECT ps_partkey, CAST(sum(v) AS DOUBLE) AS stock_value
        FROM valued
        GROUP BY ps_partkey
        HAVING sum(v) > (SELECT sum(v) * 0.0005 FROM valued)
    """,
    description=(
        "TPC-H Q11 true shape (synthesized partsupp): per-part stock value in a nation "
        "group, HAVING against a scalar-subquery fraction of the total"
    ),
    tags=("tpch", "partsupp", "join", "aggregation", "subquery"),
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = synth_partsupp(spark, sf_dir)
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_7", "NATION_11")
    )
    # name-based join conditions: the supplier scan also appears (aggregated)
    # inside synth_partsupp, so dataset-bound references would be ambiguous
    valued = (
        ps.join(F.broadcast(supplier.select("s_suppkey", "s_nationkey")), F.col("ps_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation.select("n_nationkey")), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("ps_partkey", (F.col("ps_supplycost") * F.col("ps_availqty")).alias("v"))
    )
    per_part = valued.groupBy("ps_partkey").agg(F.sum("v").alias("sv"))
    total = valued.agg((F.sum("v") * F.lit(0.0005)).alias("threshold"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("sv") > F.col("threshold"))
        .select("ps_partkey", F.col("sv").cast("double").alias("stock_value"))
    )


@register(
    "q2_min_cost_supplier",
    oracle=f"""
        WITH ps AS ({_PS_SQL})
        SELECT s_acctbal, s_name, n_name, p_partkey, CAST(ps_supplycost AS DOUBLE) AS min_cost
        FROM part
        JOIN ps ON p_partkey = ps_partkey
        JOIN supplier ON s_suppkey = ps_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE p_size = 15 AND r_name = 'EUROPE'
          AND ps_supplycost = (
            SELECT min(ps_supplycost)
            FROM ps ps2
            JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
            JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
            JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
            WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE'
          )
    """,
    description=(
        "TPC-H Q2 true shape (synthesized partsupp): cheapest EUROPE supplier per "
        "size-15 part via correlated min-supplycost subquery (Spark: min window over "
        "the region-filtered partsupp, no second scan)"
    ),
    tags=("tpch", "partsupp", "join", "subquery", "window"),
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = synth_partsupp(spark, sf_dir)
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    europe = (
        ps.join(F.broadcast(supplier), F.col("ps_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    # correlated min-per-part subquery == min window over the filtered set
    w = Window.partitionBy("ps_partkey")
    return (
        europe.withColumn("min_sc", F.min("ps_supplycost").over(w))
        .filter(F.col("ps_supplycost") == F.col("min_sc"))
        .join(F.broadcast(part.filter(F.col("p_size") == 15)), F.col("ps_partkey") == F.col("p_partkey"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            F.col("ps_supplycost").cast("double").alias("min_cost"),
        )
    )


@register(
    "q16_partsupp_supplier_count",
    oracle=f"""
        WITH ps AS ({_PS_SQL})
        SELECT p_brand, p_type, p_size, count(DISTINCT ps_suppkey) AS supplier_cnt
        FROM ps
        JOIN part ON p_partkey = ps_partkey
        WHERE p_brand <> 'Brand#3' AND p_type NOT LIKE 'MEDIUM%'
          AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
          AND ps_suppkey NOT IN (
            SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
          )
        GROUP BY p_brand, p_type, p_size
    """,
    description=(
        "TPC-H Q16 true shape (synthesized partsupp): distinct supplier count per "
        "(brand, type, size) excluding a NOT-IN supplier set (negative balances stand "
        "in for the comment-complaints filter the fixture lacks)"
    ),
    tags=("tpch", "partsupp", "join", "aggregation", "distinct", "subquery"),
)
def q16_partsupp_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = synth_partsupp(spark, sf_dir)
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#3")
        & (~F.col("p_type").like("MEDIUM%"))
        & (F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22))
    )
    excluded = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        ps.join(F.broadcast(excluded), F.col("ps_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(part), F.col("ps_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("ps_suppkey").alias("supplier_cnt"))
    )


@register(
    "q20_excess_stock_suppliers",
    oracle=f"""
        WITH ps AS ({_PS_SQL})
        SELECT s_name, s_acctbal
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_4', 'NATION_8')
          AND s_suppkey IN (
            SELECT ps_suppkey FROM ps
            WHERE ps_partkey IN (
              SELECT p_partkey FROM part WHERE p_name LIKE 'small%'
            )
            AND ps_availqty > (
              SELECT 0.5 * coalesce(sum(l_quantity), 0)
              FROM lineitem
              WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
                AND l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate < TIMESTAMP '1997-01-01'
            )
          )
    """,
    description=(
        "TPC-H Q20 true shape (synthesized partsupp): suppliers in a nation group "
        "holding excess stock (> half of the 1996 shipped quantity) of 'small%' parts — "
        "correlated scalar aggregate re-expressed as a pre-aggregated left join"
    ),
    tags=("tpch", "partsupp", "join", "subquery", "aggregation"),
)
def q20_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = synth_partsupp(spark, sf_dir)
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_4", "NATION_8")
    )
    li = load_table(spark, sf_dir, "lineitem")
    shipped = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    qualified = (
        ps.join(F.broadcast(part), F.col("ps_partkey") == F.col("p_partkey"), "left_semi")
        .join(
            shipped,
            (F.col("ps_partkey") == shipped.l_partkey) & (F.col("ps_suppkey") == shipped.l_suppkey),
            "left",
        )
        .filter(F.col("ps_availqty") > F.lit(0.5) * F.coalesce(F.col("qty"), F.lit(0.0)))
        .select("ps_suppkey")
    )
    return (
        supplier.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .join(qualified, F.col("s_suppkey") == F.col("ps_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
    )
