"""LIVE JDBC round trips against embedded Apache Derby.

The reference's modus operandi is JDBC in and out
(/root/reference/PostgresDatabase.py:146-147,
/root/reference/ClickHouseDatabase.py:113-119); no PG/CH server exists in
the sandbox, but Spark ships Derby on its classpath, so the read_jdbc /
write_jdbc paths — partitioned reads, createTableColumnTypes, append vs
overwrite — are exercised against a real database here, not a parquet
stand-in.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from data_integration_and_processing_spark.sources.readers import read_jdbc
from data_integration_and_processing_spark.sources.tables import load_table
from data_integration_and_processing_spark.sources.writers import write_jdbc


@pytest.fixture(scope="module")
def derby_url(tmp_path_factory):
    db = tmp_path_factory.mktemp("derby") / "testdb"
    return f"jdbc:derby:{db};create=true"


def _nation(spark, sf_dir):
    return load_table(spark, sf_dir, "nation")


def test_jdbc_write_read_roundtrip(spark, sf_dir, derby_url):
    n = _nation(spark, sf_dir)
    write_jdbc(n, derby_url, "nation_rt", mode="overwrite")
    back = read_jdbc(spark, derby_url, "nation_rt")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, n.collect()))


def test_jdbc_partitioned_read(spark, sf_dir, derby_url):
    n = _nation(spark, sf_dir)
    write_jdbc(n, derby_url, "nation_part", mode="overwrite")
    back = read_jdbc(
        spark,
        derby_url,
        "nation_part",
        partition_column="n_nationkey",
        lower_bound=0,
        upper_bound=25,
        num_partitions=4,
    )
    assert back.rdd.getNumPartitions() == 4
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, n.collect()))


def test_jdbc_query_pushdown(spark, sf_dir, derby_url):
    n = _nation(spark, sf_dir)
    write_jdbc(n, derby_url, "nation_q", mode="overwrite")
    back = read_jdbc(
        spark,
        derby_url,
        table="",
        # Spark creates quoted (case-preserved) columns; Derby uppercases
        # unquoted identifiers, so the pushed-down query must quote them.
        query='SELECT "n_nationkey", "n_name" FROM nation_q WHERE "n_regionkey" = 0',
    )
    expect = n.filter(F.col("n_regionkey") == 0).select("n_nationkey", "n_name")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, expect.collect()))


def test_jdbc_append_vs_overwrite(spark, sf_dir, derby_url):
    n = _nation(spark, sf_dir)
    write_jdbc(n, derby_url, "nation_m", mode="overwrite")
    write_jdbc(n, derby_url, "nation_m", mode="append")
    assert read_jdbc(spark, derby_url, "nation_m").count() == 2 * n.count()
    write_jdbc(n, derby_url, "nation_m", mode="overwrite")
    assert read_jdbc(spark, derby_url, "nation_m").count() == n.count()


def test_jdbc_create_table_column_types(spark, sf_dir, derby_url):
    n = _nation(spark, sf_dir)
    write_jdbc(
        n,
        derby_url,
        "nation_t",
        mode="overwrite",
        column_types="n_name VARCHAR(64)",
    )
    back = read_jdbc(spark, derby_url, "nation_t")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, n.collect()))


def test_jdbc_post_ddl_hook(spark, sf_dir, derby_url):
    """The post-load DDL hook (reference GRANT SELECT analogue,
    PostgresDatabase.py:95) runs real statements on a driver-side
    connection: here a post-load index, verified in Derby's catalog."""
    from data_integration_and_processing_spark.sources.writers import (
        execute_jdbc_statements,
    )

    n = _nation(spark, sf_dir)
    write_jdbc(
        n,
        derby_url,
        "nation_ddl",
        mode="overwrite",
        # Spark writes the TABLE identifier unquoted (Derby uppercases it)
        # but quotes COLUMN names (case preserved) — the DDL must match.
        post_ddl=['CREATE INDEX nation_ddl_idx ON nation_ddl ("n_nationkey")'],
    )
    idx = read_jdbc(
        spark,
        derby_url,
        table="",
        query=(
            "SELECT CONGLOMERATENAME FROM SYS.SYSCONGLOMERATES "
            "WHERE CONGLOMERATENAME = 'NATION_DDL_IDX'"
        ),
    )
    assert idx.count() == 1
    # hook is usable standalone too (e.g. ANALYZE-style maintenance)
    execute_jdbc_statements(spark, derby_url, ["DROP INDEX NATION_DDL_IDX"])
    assert (
        read_jdbc(
            spark,
            derby_url,
            table="",
            query=(
                "SELECT CONGLOMERATENAME FROM SYS.SYSCONGLOMERATES "
                "WHERE CONGLOMERATENAME = 'NATION_DDL_IDX'"
            ),
        ).count()
        == 0
    )
