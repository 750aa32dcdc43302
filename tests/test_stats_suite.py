"""Behavioral invariants for the statistics/pipeline staples.

The oracle gate already pins value-parity with DuckDB; these tests pin the
STATISTICS — the properties that make the numbers meaningful (A/A null
behavior, CI coverage, conservation identities, independent recomputation).
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from data_integration_and_processing_spark.queries.catalog import all_specs


@pytest.fixture(scope="module")
def specs():
    return all_specs()


def test_welch_aa_test_is_null(spark, sf_dir, specs):
    """The two arms are a hash split of the same population (an A/A test):
    the t statistic must not reject — |t| below 4 is a generous bound."""
    row = specs["sample_ab_welch_ttest"].spark(spark, sf_dir).collect()[0]
    assert row["n0"] > 0 and row["n1"] > 0
    assert abs(row["t_stat"]) < 4.0, row
    assert row["df_welch"] > 1.0


def test_ks_aa_drift_is_small_and_bounded(spark, sf_dir, specs):
    """A/A split: bucketed KS distance must be small; and D is a valid
    distance (in [0, 1])."""
    row = specs["quality_ks_drift_bucketed"].spark(spark, sf_dir).collect()[0]
    assert 0 <= row["ks_d_micro"] <= 1_000_000
    assert row["ks_d_micro"] < 100_000, row  # same-population split


def test_bootstrap_ci_contains_raw_mean(spark, sf_dir, specs):
    """Poisson-bootstrap percentile CI must bracket the point estimate."""
    for r in specs["sample_poisson_bootstrap_ci"].spark(spark, sf_dir).collect():
        assert r["ci_lo"] <= r["mean_value_micro"] / 1e6 <= r["ci_hi"], r
        assert r["ci_lo"] < r["ci_hi"]


def test_growth_accounting_conserves_actives(spark, sf_dir, specs):
    """new + retained + resurrected = that week's active users, and
    retained(w) can't exceed the previous week's actives."""
    rows = specs["events_growth_accounting"].spark(spark, sf_dir).collect()
    actives = {r["week"]: r["n_new"] + r["n_retained"] + r["n_resurrected"] for r in rows}
    weeks = sorted(actives)
    for prev, cur in zip(weeks, weeks[1:]):
        r = next(x for x in rows if x["week"] == cur)
        assert r["n_retained"] <= actives[prev], (prev, cur)
    first = next(x for x in rows if x["week"] == weeks[0])
    assert first["n_retained"] == 0 and first["n_resurrected"] == 0


def test_pit_backfill_matches_pandas_recompute(spark, sf_dir, specs):
    """Independent per-user pandas recomputation of the 30-minute prior
    count agrees with the merge-scan plan for every probed purchase."""
    got = {
        r["event_id"]: r["n_prior_30m"]
        for r in specs["temporal_pit_feature_backfill"].spark(spark, sf_dir).collect()
    }
    e = pd.read_parquet(f"{sf_dir}/events.parquet")[["event_id", "user_id", "ts", "event_type"]]
    purchases = e[e.event_type == "purchase"]
    for uid, grp in e.groupby("user_id"):
        ts = grp.ts.sort_values()
        for _, p in purchases[purchases.user_id == uid].iterrows():
            lo, hi = p.ts - pd.Timedelta(minutes=30), p.ts
            expect = int(((ts >= lo) & (ts < hi)).sum())
            assert got[p.event_id] == expect, (p.event_id, got[p.event_id], expect)


def test_reservoir_sample_is_length_biased(spark, sf_dir, specs):
    """A-ES with w = n_chars must select longer-than-average documents:
    the sampled mean length exceeds the corpus mean."""
    sampled = specs["sample_weighted_reservoir"].spark(spark, sf_dir).collect()
    corpus_mean = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .agg({"n_chars": "avg"})
        .collect()[0][0]
    )
    sample_mean = sum(r["n_chars"] for r in sampled) / len(sampled)
    assert sample_mean > corpus_mean


def test_connected_components_labels_are_fixpoint(spark, sf_dir, specs):
    """Every vertex's label is the min id of its component: relabeling the
    label graph changes nothing, and a component's label is a member id."""
    rows = specs["graph_connected_components"].spark(spark, sf_dir).collect()
    by_comp: dict[int, list[int]] = {}
    for r in rows:
        by_comp.setdefault(r["component"], []).append(r["id"])
    for comp, members in by_comp.items():
        assert comp == min(members)
        assert len(members) == len(set(members))


def test_cuped_removes_perfectly_correlated_covariate(spark):
    """When the pre-period metric IS the experiment metric, theta = 1 and
    the CUPED-adjusted values collapse to a constant (variance -> 0) —
    the limiting case that catches sign/centering bugs in the moment
    arithmetic."""
    import math

    from pyspark.sql import functions as F

    rows = [(i, float(10 + (i * 37) % 13)) for i in range(200)]
    df = spark.createDataFrame(rows, "user_id long, y double")
    per_user = df.select("user_id", F.col("y").alias("y_pre"), "y")
    mom = per_user.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("y_pre").alias("sp"), F.sum("y").alias("sy"),
        F.sum(F.col("y_pre") * F.col("y_pre")).alias("spp"),
        F.sum(F.col("y_pre") * F.col("y")).alias("spy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    ).first()
    n, sp, sy, spp, spy = mom["n"], mom["sp"], mom["sy"], mom["spp"], mom["spy"]
    theta = (spy / n - (sp / n) * (sy / n)) / (spp / n - (sp / n) * (sp / n))
    assert math.isclose(theta, 1.0, rel_tol=1e-9)
    mp = sp / n
    resid = per_user.select(
        (F.col("y") - F.lit(theta) * (F.col("y_pre") - F.lit(mp))).alias("c")
    )
    stats = resid.agg(F.var_pop("c").alias("v")).first()
    assert stats["v"] < 1e-18


def test_js_divergence_bounds_and_identity(spark):
    """JS is 0 for identical distributions and <= ln 2 always; the registered
    query's even/odd split of a symmetric fixture must sit near 0."""
    from data_integration_and_processing_spark.queries.quality_queries import (
        quality_js_divergence_drift,
    )

    rows = [(i, "a" if i % 4 < 2 else "b", 1.0) for i in range(4000)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")

    import data_integration_and_processing_spark.queries.quality_queries as qq

    orig = qq.load_table
    try:
        qq.load_table = lambda s, d, t: df
        out = quality_js_divergence_drift(spark, "ignored").collect()
    finally:
        qq.load_table = orig
    js = out[0]["js_divergence"]
    assert 0.0 <= js <= math.log(2.0) + 1e-9
    # even/odd split of the i%4 layout gives IDENTICAL halves => JS == 0
    assert js == 0.0
    assert not out[0]["drift_flagged"]


def test_correlation_matrix_detects_a_planted_linear_pair(spark):
    """Swap the fixture for a frame where one pair is exactly linear and
    another independent-ish: r must be 1.0 and near 0 respectively."""
    from data_integration_and_processing_spark.queries.quality_queries import (
        profile_numeric_correlations,
    )

    n = 5000
    rows = [
        (float(i % 97), 2.0 * (i % 97) + 5.0, float((i * 7919) % 101), float(i % 13))
        for i in range(n)
    ]
    df = spark.createDataFrame(
        rows, "l_quantity double, l_extendedprice double, l_discount double, l_tax double"
    )

    import data_integration_and_processing_spark.queries.quality_queries as qq

    orig = qq.load_table
    try:
        qq.load_table = lambda s, d, t: df
        out = {(r["col_a"], r["col_b"]): r["pearson_r"]
               for r in profile_numeric_correlations(spark, "ignored").collect()}
    finally:
        qq.load_table = orig
    assert out[("l_quantity", "l_extendedprice")] == pytest.approx(1.0, abs=1e-9)
    assert abs(out[("l_quantity", "l_discount")]) < 0.1
