"""Property-based tests (hypothesis) for the pure ETL functions — the
reference's only 'tests' were an empty unittest stub, so these pin the
cleaning/mapping semantics against arbitrary inputs, not just fixtures."""

from __future__ import annotations

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from data_integration_and_processing_spark.functions.naming import clean_name
from data_integration_and_processing_spark.functions.schema_mapping import (
    pandas_dtype_to_spark,
    spark_type_to_clickhouse_ddl,
    spark_type_to_postgres_ddl,
)

names = st.text(
    alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)), max_size=40
)


@settings(max_examples=300)
@given(names)
def test_clean_name_idempotent(name):
    once = clean_name(name)
    assert clean_name(once) == once


@settings(max_examples=300)
@given(names)
def test_clean_name_removes_forbidden_chars(name):
    out = clean_name(name)
    assert not re.search(r"[ \-/\\?()%$]", out)
    assert out == out.lower()
    assert not out.startswith("_") and not out.endswith("_")
    assert "__" not in out


@settings(max_examples=300)
@given(names)
def test_clean_name_preserves_word_characters(name):
    """Alphanumerics never disappear (cleaning only touches separators and
    the reference's strip set)."""
    kept = [c for c in name.lower() if c.isalnum()]
    out_kept = [c for c in clean_name(name) if c.isalnum()]
    assert out_kept == kept


_KNOWN_DTYPES = st.sampled_from(
    ["int8", "int16", "int32", "int64", "uint8", "uint16", "uint32", "uint64",
     "float32", "float64", "bool", "object", "string", "category",
     "datetime64[ns]", "timedelta64[ns]"]
)


@given(_KNOWN_DTYPES)
def test_dtype_mapping_total_and_ddl_emittable(dtype):
    """Every dtype maps to a Spark type that both sink DDL generators
    accept — no dtype can reach a sink and fail to produce a column type."""
    spark_t = pandas_dtype_to_spark(dtype)
    assert spark_type_to_postgres_ddl(spark_t)
    ch = spark_type_to_clickhouse_ddl(spark_t)
    assert ch.startswith("Nullable(")


@settings(max_examples=100)
@given(st.text(max_size=20))
def test_unknown_dtype_falls_back_to_string(garbage):
    if garbage in {"int8", "int16", "int32", "int64", "uint8", "uint16", "uint32",
                   "uint64", "float32", "float64", "bool", "boolean", "object",
                   "string", "category", "datetime64[ns]", "datetime64[us]",
                   "datetime64[ms]", "datetime64[ns, UTC]", "timedelta64[ns]"}:
        return
    assert pandas_dtype_to_spark(garbage).typeName() == "string"


def test_hash_bucket_sql_twin_matches_spark(spark, ddb):
    """The generated SQL twin must agree with hash_bucket for ANY long key,
    including negatives (ANSI % is signed; pmod is not)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from data_integration_and_processing_spark.operators.sampling import (
        hash_bucket,
        hash_bucket_sql,
    )

    @settings(max_examples=30, deadline=None)
    @given(st.lists(st.integers(min_value=-(2**62), max_value=2**62), min_size=1, max_size=40))
    def check(keys):
        sdf = spark.createDataFrame([(k,) for k in keys], "k long")
        got = {r["k"]: r["b"] for r in sdf.select("k", hash_bucket(["k"], 97, seed=5).alias("b")).collect()}
        expr = hash_bucket_sql(["k"], 97, seed=5)
        vals = ", ".join(f"({k})" for k in keys)
        want = dict(ddb.sql(f"SELECT k, {expr} AS b FROM (VALUES {vals}) t(k)").fetchall())
        assert got == {k: int(v) for k, v in want.items()}

    check()


def test_integral_div_twin_matches_duckdb(spark, ddb):
    """The round-tie lint's load-bearing cross-engine assumption: Spark's
    `a div b` and DuckDB's BIGINT `a // b` are BOTH truncation toward zero
    for every sign combination (NOT floor division — they agree on -7//2 =
    -3). Every integer-micro/nano quotient contract in the catalog rests on
    this; pin it over arbitrary signed pairs. (DuckDB's DECIMAL `//` does
    NOT truncate — the sweep keeps integral types on the DuckDB side, so
    only the BIGINT/HUGEINT semantics are load-bearing.)"""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    nums = st.integers(min_value=-(2**62), max_value=2**62)
    dens = st.integers(min_value=-(2**31), max_value=2**31).filter(lambda d: d != 0)

    @settings(max_examples=30, deadline=None)
    @given(st.lists(st.tuples(nums, dens), min_size=1, max_size=40))
    def check(pairs):
        sdf = spark.createDataFrame(pairs, "a long, b long")
        got = {
            (r["a"], r["b"]): r["q"]
            for r in sdf.selectExpr("a", "b", "a div b AS q").collect()
        }
        vals = ", ".join(f"({a}, {b})" for a, b in pairs)
        want = {
            (a, b): int(q)
            for a, b, q in ddb.sql(
                f"SELECT a, b, a // b FROM (VALUES {vals}) t(a, b)"
            ).fetchall()
        }
        assert got == want
        # and both equal Python's truncation toward zero
        for (a, b), q in got.items():
            trunc = abs(a) // abs(b) * (1 if (a >= 0) == (b >= 0) else -1)
            assert q == trunc, (a, b, q, trunc)

    check()


def test_micro_quotient_idioms_match_duckdb(spark, ddb):
    """The exact integer-micro conversion idioms, pinned as cross-engine
    properties over arbitrary data (not just the fixtures the replica
    samples):

    - share:   Spark `(n * 1e6) div (sum(n) OVER ())` == DuckDB
               `CAST((n * 1000000) // sum(n) OVER () AS BIGINT)` — the
               window-sum form, where DuckDB's sum() is HUGEINT and the
               BIGINT cast is load-bearing for the driver canon;
    - delta:   a SIGNED numerator (the wow/gini/psi class) through the
               same grouped quotient — truncation toward zero both sides;
    - mean:    per-row truncating micro then an exact integer mean (the
               mape/calibration/greedy-mix class).
    """
    from hypothesis import given, settings
    from hypothesis import strategies as st

    rows = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),  # group
            st.integers(min_value=-(2**31), max_value=2**31),  # signed n
            st.integers(min_value=1, max_value=2**31),  # positive d
        ),
        min_size=1,
        max_size=50,
    )

    @settings(max_examples=15, deadline=None)
    @given(rows)
    def check(data):
        sdf = spark.createDataFrame(data, "g int, n long, d long")
        got = {
            (r["g"], r["n"], r["d"]): (r["share"], r["mean_q"])
            for r in sdf.selectExpr(
                "g",
                "n",
                "d",
                "(n * CAST(1000000 AS BIGINT)) div (sum(d) OVER (PARTITION BY g))"
                " AS share",
                "(sum((n * CAST(1000000 AS BIGINT)) div d) OVER (PARTITION BY g))"
                " div (count(*) OVER (PARTITION BY g)) AS mean_q",
            ).collect()
        }
        vals = ", ".join(f"({g}, {n}, {d})" for g, n, d in data)
        want = {
            (g, n, d): (int(s), int(m))
            for g, n, d, s, m in ddb.sql(
                f"""

                -- VALUES literals type as INT32; the real oracles' counts
                -- are BIGINT already, so widen here to match their shape
                SELECT g, n, d,
                       CAST((CAST(n AS BIGINT) * 1000000)
                            // sum(CAST(d AS BIGINT)) OVER (PARTITION BY g)
                            AS BIGINT),
                       CAST(sum((CAST(n AS BIGINT) * 1000000)
                                // CAST(d AS BIGINT)) OVER (PARTITION BY g)
                            // count(*) OVER (PARTITION BY g) AS BIGINT)
                FROM (VALUES {vals}) t(g, n, d)
                """
            ).fetchall()
        }
        assert got == want

    check()
