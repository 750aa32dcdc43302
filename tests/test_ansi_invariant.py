"""ANSI-mode invariance: the engine must behave identically under
``spark.sql.ansi.enabled`` true (the Spark 4 / driver default) and false.

The regression class this pins: an expression relying on silent
wrap-around arithmetic (``x*31+y`` on longs) passes under a permissive
session and throws ARITHMETIC_OVERFLOW under any stock ANSI deployment.
Every hash/mix/pack expression in the engine must therefore be
value-identical in both modes — not merely "not crash".

ANSI is a runtime SQL conf, so one session is flipped per half and the
results compared exactly.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_integration_and_processing_spark.operators.dedup import (
    shingle_keys,
    simhash_from_hashes,
)
from data_integration_and_processing_spark.operators.sampling import hash_bucket


def _both_modes(spark, build):
    """Evaluate ``build()`` (a DataFrame factory) under ANSI on and off."""
    out = {}
    orig = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for mode in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", mode)
            out[mode] = [tuple(r) for r in build().collect()]
    finally:
        spark.conf.set("spark.sql.ansi.enabled", orig)
    return out["true"], out["false"]


def test_shingle_keys_identical_across_ansi_modes(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)

    def build():
        return docs.select("doc_id", F.array_sort(shingle_keys(F.col("text"))).alias("keys")).orderBy(
            "doc_id"
        )

    on, off = _both_modes(spark, build)
    assert on == off
    # and the keys are real (not all-empty from a silent failure path)
    assert any(len(r[1]) > 0 for r in on)


def test_hash_bucket_identical_across_ansi_modes(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(5000)

    def build():
        return orders.select(
            "o_orderkey", hash_bucket(["o_orderkey", "o_custkey"], 1000).alias("b")
        ).orderBy("o_orderkey")

    on, off = _both_modes(spark, build)
    assert on == off


def test_simhash_identical_across_ansi_modes(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)

    def build():
        hashes = F.transform(F.split("text", " "), lambda w: F.xxhash64(w))
        return docs.select("doc_id", simhash_from_hashes(hashes).alias("sh")).orderBy("doc_id")

    on, off = _both_modes(spark, build)
    assert on == off


def test_session_default_is_ansi_on(spark):
    """The factory must default to the stock Spark 4 posture the external
    driver runs with; SPARK_GRAFT_ANSI=false is the explicit opt-out."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"


@pytest.mark.parametrize("expr", ["1/0", "CAST('x' AS INT)"])
def test_permissive_forms_are_explicit_not_session_wide(spark, expr):
    """Sanity: under the ANSI-on default these raw forms DO throw — the
    engine's permissive behavior exists only where a query opts in via
    try_cast/try_divide, never as a session-wide default."""
    with pytest.raises(Exception):
        spark.sql(f"SELECT {expr}").collect()
