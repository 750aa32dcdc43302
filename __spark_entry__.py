"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash).

All real logic lives in ``data_integration_and_processing_spark``; this
module only adapts the catalog registry to the driver's function signatures.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_integration_and_processing_spark.queries import catalog  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    specs = catalog.all_specs()
    return specs["q1_pricing_summary"].spark(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return catalog.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle for each SQL-expressible query."""
    return catalog.oracle_sql()
