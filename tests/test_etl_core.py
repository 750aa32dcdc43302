"""Unit tests for the ETL core: naming, schema mapping, retry, pipelines."""

from __future__ import annotations

import logging

import pandas as pd
import pytest
from pyspark.sql import types as T

from data_integration_and_processing_spark.functions.naming import clean_columns, clean_name, rename_columns
from data_integration_and_processing_spark.functions.schema_mapping import (
    clickhouse_create_table_options,
    pandas_dtype_to_spark,
    postgres_create_column_types,
    schema_for_pandas,
    spark_type_to_clickhouse_ddl,
    spark_type_to_postgres_ddl,
)
from data_integration_and_processing_spark.plans.pipelines import table_name_from_path
from data_integration_and_processing_spark.plans.retry import retry


class TestCleanName:
    @pytest.mark.parametrize(
        ("raw", "expected"),
        [
            ("Product Name", "product_name"),
            ("acct-bal", "acct_bal"),
            ("a/b\\c", "a_b_c"),
            ("Total (%)?$", "total"),
            ("  Mixed Case-Col  ", "mixed_case_col"),
            ("already_clean", "already_clean"),
            ("a  b--c", "a_b_c"),
        ],
    )
    def test_clean(self, raw, expected):
        assert clean_name(raw) == expected

    def test_clean_columns_rejects_collisions(self, spark):
        df = spark.range(1).selectExpr("id as `A B`", "id as `a_b`")
        with pytest.raises(ValueError, match="duplicate"):
            clean_columns(df)

    def test_rename_ignores_missing_keys(self, spark):
        df = spark.range(1).selectExpr("id as x")
        out = rename_columns(df, {"x": "y", "nope": "z"})
        assert out.columns == ["y"]


class TestSchemaMapping:
    def test_unsigned_widening(self):
        assert pandas_dtype_to_spark("uint8") == T.ShortType()
        assert pandas_dtype_to_spark("uint16") == T.IntegerType()
        assert pandas_dtype_to_spark("uint32") == T.LongType()
        assert pandas_dtype_to_spark("uint64") == T.DecimalType(20, 0)

    def test_unknown_dtype_defaults_to_string(self):
        assert pandas_dtype_to_spark("complex128") == T.StringType()

    def test_schema_for_pandas_roundtrip(self, spark):
        pdf = pd.DataFrame(
            {
                "i": pd.array([1, 2], dtype="uint32"),
                "f": [1.5, 2.5],
                "s": ["a", "b"],
                "t": pd.to_datetime(["2024-01-01", "2024-01-02"]),
                "b": [True, False],
            }
        )
        sdf = spark.createDataFrame(pdf, schema=schema_for_pandas(pdf))
        got = dict(sdf.dtypes)
        assert got == {"i": "bigint", "f": "double", "s": "string", "t": "timestamp", "b": "boolean"}
        assert sdf.count() == 2

    def test_pg_ddl(self):
        assert spark_type_to_postgres_ddl(T.DoubleType()) == "double precision"
        assert spark_type_to_postgres_ddl(T.StringType()) == "varchar"
        assert spark_type_to_postgres_ddl(T.DecimalType(20, 0)) == "numeric(20,0)"
        assert postgres_create_column_types(
            T.StructType([T.StructField("a", T.LongType()), T.StructField("b", T.StringType())])
        ) == "a bigint, b varchar"

    def test_ch_ddl_all_nullable(self):
        assert spark_type_to_clickhouse_ddl(T.LongType()) == "Nullable(Int64)"
        assert spark_type_to_clickhouse_ddl(T.StringType()) == "Nullable(String)"
        assert spark_type_to_clickhouse_ddl(T.BooleanType()) == "Nullable(UInt8)"

    def test_ch_create_options(self):
        assert clickhouse_create_table_options() == "ENGINE = MergeTree ORDER BY tuple()"
        assert (
            clickhouse_create_table_options("tuple()", "ReplicatedMergeTree", ("/zk/t", "r1"))
            == "ENGINE = ReplicatedMergeTree('/zk/t', 'r1') ORDER BY tuple()"
        )


class TestRetry:
    def test_succeeds_after_failures(self):
        calls = {"n": 0}

        @retry(retries=3, delay=0.0)
        def flaky():
            calls["n"] += 1
            if calls["n"] < 3:
                raise RuntimeError("transient")
            return "ok"

        assert flaky() == "ok"
        assert calls["n"] == 3

    def test_reraises_on_exhaustion(self, caplog):
        @retry(retries=2, delay=0.0, logger=logging.getLogger("t"))
        def always_fails():
            raise ValueError("boom")

        with pytest.raises(ValueError, match="boom"), caplog.at_level(logging.WARNING, "t"):
            always_fails()


def test_table_name_from_path():
    assert table_name_from_path("/data/Wildberries_Reviews.XLSX") == "wildberries_reviews"


from data_integration_and_processing_spark.sources.xlsx import (  # noqa: E402
    write_minimal_xlsx as _write_minimal_xlsx,
)


def test_read_excel_stdlib_parser(spark, tmp_path):
    """O1 XLSX ingest runs for REAL without openpyxl: the stdlib
    zipfile+ElementTree fallback parses shared strings, numerics, booleans
    and sparse rows with first-row-header semantics."""
    from data_integration_and_processing_spark.sources.readers import read_excel

    path = tmp_path / "mini.xlsx"
    _write_minimal_xlsx(
        path,
        header=["Product Name", "Rating", "In Stock"],
        rows=[["Widget A", 4.5, True], ["Widget B", 3, False], ["Widget C", None, True]],
    )
    df = read_excel(spark, str(path))
    assert df.columns == ["Product Name", "Rating", "In Stock"]
    got = sorted(map(tuple, df.collect()))
    assert got[0] == ("Widget A", 4.5, True)
    assert got[1] == ("Widget B", 3.0, False)
    assert got[2][0] == "Widget C" and got[2][1] is None and got[2][2] is True


def test_ingest_xlsx_to_parquet_with_clean_rename(spark, tmp_path):
    """Reference O13 end-to-end on a real .xlsx: ingest_file reads the
    sheet, clean/renames the reference-style headers, and lands parquet."""
    from data_integration_and_processing_spark.plans.pipelines import ingest_file

    src_path = tmp_path / "Wildberries_Reviews.xlsx"
    _write_minimal_xlsx(
        src_path,
        header=["Review Text", "Product Rating", "Review Date"],
        rows=[["great product", 5, "2024-01-01"], ["meh", 2, "2024-01-02"]],
    )
    dest = tmp_path / "reviews_parquet"
    prepared = ingest_file(
        spark, str(src_path), str(dest), source_fmt="xlsx", dest_fmt="parquet"
    )
    assert prepared.columns == ["review_text", "product_rating", "review_date"]
    back = spark.read.parquet(str(dest))
    assert sorted(map(tuple, back.collect())) == [
        ("great product", 5, "2024-01-01"),
        ("meh", 2, "2024-01-02"),
    ]


def test_read_excel_sheet_selection_errors(spark, tmp_path):
    from data_integration_and_processing_spark.sources.xlsx import read_xlsx_rows

    path = tmp_path / "mini.xlsx"
    _write_minimal_xlsx(path, header=["a"], rows=[[1]], sheet="Data")
    assert read_xlsx_rows(str(path), "Data") == [["a"], [1]]
    with pytest.raises(ValueError, match="no sheet named"):
        read_xlsx_rows(str(path), "Missing")
    with pytest.raises(ValueError, match="out of range"):
        read_xlsx_rows(str(path), 3)


def test_xlsx_writer_escapes_xml_specials(tmp_path):
    """& < > " in cell text or the sheet name must survive a write/read
    round-trip — the hand-rolled XML templates escape on write and
    ElementTree unescapes on read (unescaped values would write a
    malformed sharedStrings.xml)."""
    from data_integration_and_processing_spark.sources.xlsx import read_xlsx_rows

    path = tmp_path / "specials.xlsx"
    tricky = 'a & b <tag> "quoted" \'single\''
    _write_minimal_xlsx(
        path, header=["txt", "n"], rows=[[tricky, 1], ["<>&", 2]], sheet='S "&" <1>'
    )
    rows = read_xlsx_rows(str(path), 'S "&" <1>')
    assert rows == [["txt", "n"], [tricky, 1], ["<>&", 2]]


def test_scd2_reapply_is_noop(spark, sf_dir):
    """Re-delivering the same delta after it has been applied must produce
    no new versions (idempotent ingestion)."""
    from pyspark.sql import functions as F

    from data_integration_and_processing_spark.plans.pipelines import scd2_apply
    from data_integration_and_processing_spark.sources.tables import load_table

    c = load_table(spark, sf_dir, "customer").limit(200)
    current = c.select(
        "c_custkey", "c_name", "c_acctbal",
        F.lit("2024-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    updates = c.filter(F.col("c_custkey") % 2 == 0).select(
        "c_custkey", "c_name", (F.col("c_acctbal") + 50.0).alias("c_acctbal")
    )
    once = scd2_apply(current, updates, "c_custkey", ["c_name", "c_acctbal"], "2024-06-01")
    n_versions = once.count()
    assert n_versions > current.count()  # changes created new versions
    twice = scd2_apply(once, updates, "c_custkey", ["c_name", "c_acctbal"], "2024-07-01")
    assert twice.count() == n_versions  # same delta again: nothing to do
    # exactly one open row per key, always
    open_per_key = twice.filter(F.col("valid_to").isNull()).groupBy("c_custkey").count()
    assert open_per_key.filter(F.col("count") != 1).count() == 0


def test_corrupt_csv_rows_are_quarantined(spark, tmp_path):
    """Malformed input must not abort a 100 TB load: PERMISSIVE CSV read
    nulls bad fields and captures the raw line in _corrupt_record, so bad
    rows can be split off to a dead-letter sink instead of killing the job."""
    from pyspark.sql import functions as F

    p = tmp_path / "dirty.csv"
    p.write_text("id,amount\n1,10.5\n2,not_a_number\n3,7.25\n")
    df = (
        spark.read.option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema("id long, amount double, _corrupt_record string")
        .csv(str(p))
    ).cache()  # corrupt-record capture requires materializing the parsed row
    good = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert good.count() == 2
    assert bad.count() == 1
    assert bad.collect()[0]["_corrupt_record"] == "2,not_a_number"


def test_cli_transfer_roundtrip(tmp_path):
    """The CLI twin of the reference's menu actions runs end-to-end in a
    fresh process: transfer with rename + overwrite semantics."""
    import subprocess
    import sys

    out = tmp_path / "sink"
    r = subprocess.run(
        [sys.executable, "-m", "data_integration_and_processing_spark", "transfer",
         "--source", "/root/testdata/sf0.001/region.parquet",
         "--dest", str(out), "--rename", "r_regionkey=region_key,r_name=region_name"],
        capture_output=True, text=True, timeout=300, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "wrote 5 rows" in r.stdout
    import duckdb

    cols = {c[0] for c in duckdb.sql(f"DESCRIBE SELECT * FROM '{out}/*.parquet'").fetchall()}
    assert {"region_key", "region_name"} <= cols


class TestCdcApply:
    def _apply(self, spark, rows):
        from data_integration_and_processing_spark.plans.pipelines import cdc_apply

        df = spark.createDataFrame(rows, "k INT, v STRING, seq INT, op STRING")
        out = cdc_apply(df, key_cols=["k"], seq_col="seq", op_col="op")
        return {(r.k, r.v) for r in out.collect()}

    def test_delete_then_reinsert_survives(self, spark):
        rows = [(1, "a", 1, "I"), (1, None, 2, "D"), (1, "b", 3, "I")]
        assert self._apply(spark, rows) == {(1, "b")}

    def test_trailing_delete_removes_key(self, spark):
        rows = [(1, "a", 1, "I"), (1, "b", 2, "U"), (1, None, 3, "D"), (2, "x", 1, "I")]
        assert self._apply(spark, rows) == {(2, "x")}

    def test_redelivered_event_is_idempotent(self, spark):
        # the same (seq, op) event delivered twice must not change the outcome
        rows = [(1, "a", 1, "I"), (1, "b", 2, "U"), (1, "b", 2, "U")]
        assert self._apply(spark, rows) == {(1, "b")}

    def test_struct_collapse_is_atomic(self, spark):
        # all payload columns must come from the SAME winning event — never a
        # column-wise mix of two events
        from data_integration_and_processing_spark.plans.pipelines import cdc_apply

        df = spark.createDataFrame(
            [(1, "old_name", "old_city", 1, "I"), (1, "new_name", "new_city", 2, "U")],
            "k INT, name STRING, city STRING, seq INT, op STRING",
        )
        out = cdc_apply(df, key_cols=["k"], seq_col="seq", op_col="op").collect()
        assert [(r.k, r.name, r.city) for r in out] == [(1, "new_name", "new_city")]


def test_incremental_watermark_empty_target_loads_all(spark):
    from data_integration_and_processing_spark.plans.pipelines import transfer_incremental

    src = spark.createDataFrame([(1, 10), (2, 20)], "k INT, ts INT")
    tgt = src.filter("1=0")
    assert transfer_incremental(src, tgt, "ts").count() == 2


class TestBackfill:
    def test_backfill_idempotent_and_atomic(self, spark, sf_dir, tmp_path):
        from pyspark.sql import functions as F

        from data_integration_and_processing_spark.plans.pipelines import backfill

        dest = str(tmp_path / "daily")

        def day_fn(s, p):
            return (
                s.read.parquet(f"{sf_dir}/orders.parquet")
                .filter(F.month("o_orderdate") == int(p))
                .groupBy("o_orderpriority")
                .agg(F.count("*").alias("n"))
            )

        first = backfill(spark, day_fn, dest, ["1", "2", "3"], partition_col="m")
        assert first == {"1": "written", "2": "written", "3": "written"}
        # re-run: everything present => skipped, bytes untouched
        again = backfill(spark, day_fn, dest, ["1", "2", "3"], partition_col="m")
        assert again == {"1": "skipped", "2": "skipped", "3": "skipped"}
        # delete one partition; only it is recomputed
        import shutil

        shutil.rmtree(f"{dest}/m=2")
        repair = backfill(spark, day_fn, dest, ["1", "2", "3"], partition_col="m")
        assert repair == {"1": "skipped", "2": "written", "3": "skipped"}
        # force recompute
        forced = backfill(spark, day_fn, dest, ["3"], partition_col="m", force=["3"])
        assert forced == {"3": "written"}
        # landed data is hive-readable with the partition column
        back = spark.read.parquet(dest)
        assert set(back.columns) == {"o_orderpriority", "n", "m"}
        assert back.select("m").distinct().count() == 3


def test_cli_query_subcommand(tmp_path, sf_dir):
    """CLI `query`: parquet dir -> views -> SQL text -> parquet out. Runs in
    a FRESH process like the other CLI tests — the CLI owns (and stops) its
    own SparkSession, and get_spark's getOrCreate would otherwise hand it
    the suite's shared session to kill."""
    import subprocess
    import sys

    dest = str(tmp_path / "out")
    r = subprocess.run(
        [sys.executable, "-m", "data_integration_and_processing_spark", "query",
         "--tables", sf_dir,
         "--sql", "SELECT o_orderpriority, count(*) AS n FROM orders GROUP BY 1",
         "--dest", dest],
        capture_output=True, text=True, timeout=300, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    import duckdb

    want = duckdb.connect().execute(
        f"SELECT count(DISTINCT o_orderpriority) FROM '{sf_dir}/orders.parquet'"
    ).fetchone()[0]
    got = duckdb.connect().execute(f"SELECT count(*) FROM '{dest}/*.parquet'").fetchone()[0]
    assert got == want


def test_backfill_crash_leaves_completed_partitions_visible(spark, sf_dir, tmp_path):
    """Crash mid-backfill: completed partitions stay readable, the failed one
    is invisible (no tmp dir promoted), and a re-run repairs exactly it."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from data_integration_and_processing_spark.plans.pipelines import backfill

    dest = str(tmp_path / "daily_crash")
    calls = {"n": 0}

    def flaky_fn(s, p):
        calls["n"] += 1
        if p == "2" and calls["n"] <= 2:
            raise RuntimeError("simulated cluster loss")
        return (
            s.read.parquet(f"{sf_dir}/orders.parquet")
            .filter(F.month("o_orderdate") == int(p))
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )

    with _pytest.raises(RuntimeError, match="simulated"):
        backfill(spark, flaky_fn, dest, ["1", "2", "3"], partition_col="m")
    # partition 1 completed and is readable; 2 and 3 never became visible
    import os

    assert os.path.isdir(f"{dest}/m=1")
    assert not os.path.isdir(f"{dest}/m=2") and not os.path.isdir(f"{dest}/m=3")
    repair = backfill(spark, flaky_fn, dest, ["1", "2", "3"], partition_col="m")
    assert repair == {"1": "skipped", "2": "written", "3": "written"}


def test_incremental_agg_merge_composes_across_loads(spark, sf_dir):
    """Applying two successive delta loads through incremental_agg_merge
    must equal one full recompute over the final effective table — the
    materialized-view maintenance invariant, including group death
    (count->0) and group birth (insert-only keys)."""
    from pyspark.sql import functions as F

    from data_integration_and_processing_spark.plans.pipelines import incremental_agg_merge

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    keys, sums = ["l_returnflag", "l_linestatus"], ["l_quantity"]

    def agg(df):
        return df.groupBy(*keys).agg(
            F.count("*").alias("n_rows"),
            *[F.sum(c).alias(f"sum_{c}") for c in sums],
        )

    base = li.filter(F.col("l_orderkey") % 3 == 0)
    ins1 = li.filter(F.col("l_orderkey") % 3 == 1)
    del1 = base.filter(F.col("l_orderkey") % 5 == 0)
    snap1 = incremental_agg_merge(agg(base), ins1, del1, keys, sums)

    eff1 = base.filter(F.col("l_orderkey") % 5 != 0).unionByName(ins1)
    ins2 = li.filter(F.col("l_orderkey") % 3 == 2)
    del2 = eff1.filter(F.col("l_orderkey") % 7 == 1)
    snap2 = incremental_agg_merge(snap1, ins2, del2, keys, sums)

    eff2 = eff1.filter(F.col("l_orderkey") % 7 != 1).unionByName(ins2)
    expect = {
        tuple(r[k] for k in keys): (r["n_rows"], round(r["sum_l_quantity"], 2))
        for r in agg(eff2).collect()
    }
    got = {
        tuple(r[k] for k in keys): (r["n_rows"], round(r["sum_l_quantity"], 2))
        for r in snap2.collect()
    }
    assert got == expect
