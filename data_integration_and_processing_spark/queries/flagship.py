"""Flagship query: pricing summary (TPC-H Q1 shape).

The smallest end-to-end slice that exercises scan -> filter -> project ->
hash-aggregate -> sort (SURVEY.md §7 step 0). The reference has no query
engine at all (SURVEY.md §2.2), so this is the first capability the Spark
engine adds beyond ETL parity.

Scale notes: the shipdate filter and the projection push into the parquet
scan; the groupBy has 6 groups so the partial (map-side) aggregate collapses
virtually all rows before the shuffle — the plan is a single exchange of a
few KB regardless of input size.

Numeric convention (applies catalog-wide): money arithmetic is computed in
DECIMAL — exact and engine-order-independent — then emitted as DOUBLE.
Rounding an order-dependent double sum is a correctness trap: the exact
values here have decimal scale 4-6, so they constantly land on round()
half-way points, where Spark (shortest-repr HALF_UP) and any binary-rounding
engine disagree. Averages are emitted as exact-decimal-sum / count in double
arithmetic with no rounding: identical inputs give bit-identical doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_integration_and_processing_spark.operators.parallelism import fan_out_scan
from data_integration_and_processing_spark.queries.catalog import register
from data_integration_and_processing_spark.sources.tables import load_table

_Q1_ORACLE = """
SELECT l_returnflag,
       l_linestatus,
       CAST(sum(CAST(l_quantity      AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
           AS sum_disc_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))
                                                       * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE)
           AS sum_charge,
       CAST(sum(CAST(l_quantity      AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price,
       CAST(sum(CAST(l_discount      AS DECIMAL(4,2)))  AS DOUBLE) / count(*) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@register(
    "q1_pricing_summary",
    oracle=_Q1_ORACLE,
    description="scan→filter→project→agg→sort over lineitem (TPC-H Q1 shape)",
    tags=("flagship", "aggregation"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the fixture is one parquet row group, so the
    # partial DECIMAL aggregation — ~1.2s of the query's 1.45s serial —
    # ran inside the single scan task; fan_out_scan spreads it (no-op on
    # any scan already wider than the core count). The money casts narrow
    # to the columns' actual domains (quantity in [1, 50] -> DECIMAL(4,2),
    # extendedprice < 1e6 -> DECIMAL(8,2)): sums of <= 18-digit decimals
    # run on Spark's unscaled-long fast path instead of the Decimal128
    # one, values bit-identical (no representable overflow; ANSI mode
    # would throw loudly, never wrap, if the domain assumption broke).
    l = fan_out_scan(load_table(spark, sf_dir, "lineitem"))
    qty = F.col("l_quantity").cast("decimal(4,2)")
    price = F.col("l_extendedprice").cast("decimal(8,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")
    disc_price = price * (F.lit(1) - disc)
    charge = disc_price * (F.lit(1) + tax)
    n = F.count("*")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("2000-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(qty).cast("double") / n).alias("avg_qty"),
            (F.sum(price).cast("double") / n).alias("avg_price"),
            (F.sum(disc).cast("double") / n).alias("avg_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )
