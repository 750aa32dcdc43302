"""Physical-plan regression tests for the scale claims in SCALE.md.

Correctness gates can't see a plan regress from broadcast to shuffle or
from a pruned scan to SELECT * — these assertions can, and they pin the
properties that decide whether a query survives a 100x scale-up.
"""

from __future__ import annotations

import pytest

from data_integration_and_processing_spark.queries.catalog import all_specs


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_star_join_broadcasts_dimensions(spark, sf_dir):
    """q5's six-way star join: every dimension join is a broadcast hash
    join — the fact table is never shuffled for a dimension."""
    plan = _plan(all_specs()["q5_local_supplier_volume"].spark(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_fact_scan_is_column_pruned(spark, sf_dir):
    """q5 touches 4 of lineitem's 11 columns; the parquet ReadSchema must
    shrink accordingly (a SELECT *-shaped scan reads ~3x the bytes)."""
    plan = _plan(all_specs()["q5_local_supplier_volume"].spark(spark, sf_dir))
    scan_lines = [ln for ln in plan.splitlines() if "lineitem" in ln and "ReadSchema" in ln]
    assert scan_lines, "no lineitem scan with ReadSchema in plan"
    schema_part = scan_lines[0].split("ReadSchema:")[1]
    assert schema_part.count(",") <= 3, f"lineitem scan not pruned: {schema_part}"


def test_filters_reach_the_scan(spark, sf_dir):
    """q6's selective predicates appear as PushedFilters on the parquet
    scan, not as a post-scan Filter only."""
    plan = _plan(all_specs()["q6_forecast_revenue"].spark(spark, sf_dir))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "[]" not in pushed[0].split("PushedFilters:")[1].split("]")[0] + "]"


def test_topk_never_sorts_globally(spark, sf_dir):
    """orderBy().limit(k) compiles to TakeOrderedAndProject: per-partition
    heaps and a k-row shuffle, not a full sort."""
    plan = _plan(all_specs()["q3_shipping_priority"].spark(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_aggregation_is_partial_then_final(spark, sf_dir):
    """q1's aggregate runs map-side partial then final: two HashAggregates
    around the exchange, so the shuffle carries groups, not rows."""
    plan = _plan(all_specs()["q1_pricing_summary"].spark(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2


def test_map_only_families_have_no_exchange(spark, sf_dir):
    """Sampling and text scoring are pure map stages — any KEYED Exchange
    (hashpartitioning/rangepartitioning) in their plans is a regression.
    A RoundRobinPartitioning exchange is allowed: that's fan_out_scan
    widening the fixture's single-row-group scan (a no-op at scale —
    operators/parallelism.py), not a data-dependent shuffle."""
    for name in ("sample_hash_deterministic", "text_quality_score"):
        plan = _plan(all_specs()[name].spark(spark, sf_dir))
        assert "hashpartitioning" not in plan and "rangepartitioning" not in plan, (
            f"{name} plan gained a keyed shuffle"
        )


def test_whole_stage_codegen_covers_relational_core(spark, sf_dir):
    """The q1 hot path (scan -> filter -> project -> partial agg) stays
    inside whole-stage codegen: no Python, no interpreted expressions."""
    df = all_specs()["q1_pricing_summary"].spark(spark, sf_dir)
    df.collect()  # AQE only shows codegen spans on the finalized plan
    plan = _plan(df)
    assert "*(" in plan  # whole-stage-codegen stages print as *(n) nodes
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_contiguous_ids_dense_and_ordered(spark, sf_dir):
    """assign_contiguous_ids covers 0..n-1 exactly, in key order, on a
    table big enough to spread across many range partitions."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_integration_and_processing_spark.operators.ids import assign_contiguous_ids
    from data_integration_and_processing_spark.sources.tables import load_table

    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    out = assign_contiguous_ids(l, ["l_orderkey", "l_linenumber"])
    n = l.count()
    stats = out.agg(
        F.min("row_id").alias("lo"), F.max("row_id").alias("hi"), F.countDistinct("row_id").alias("d")
    ).collect()[0]
    assert (stats["lo"], stats["hi"], stats["d"]) == (0, n - 1, n)
    # ids ascend with the key order: no inversions between id and key rank
    key_rank = F.row_number().over(Window.orderBy("l_orderkey", "l_linenumber")) - 1
    inversions = out.withColumn("key_rank", key_rank).filter(F.col("key_rank") != F.col("row_id")).count()
    assert inversions == 0


def test_approx_percentile_within_tolerance(spark, sf_dir):
    """percentile_approx at accuracy 10000 must land within 1% relative
    error of the exact percentile (rank error <= 1/accuracy)."""
    from pyspark.sql import functions as F

    from data_integration_and_processing_spark.sources.tables import load_table

    l = load_table(spark, sf_dir, "lineitem")
    both = l.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx"),
        F.percentile("l_extendedprice", 0.5).alias("exact"),
    )
    for r in both.collect():
        assert abs(r["approx"] - r["exact"]) / r["exact"] < 0.01, r


def test_validation_report_is_single_pass(spark, sf_dir):
    """Every expectation compiles into the same aggregation: the plan scans
    lineitem exactly once no matter how many rules are registered."""
    from data_integration_and_processing_spark.queries import catalog

    df = catalog.all_specs()["etl_validation_report"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan


def test_unigram_logprob_broadcasts_vocabulary(spark, sf_dir):
    """text_unigram_logprob's vocabulary join must broadcast the frequency
    table onto the token stream — a shuffle join on term would re-exchange
    the whole exploded token fact twice."""
    plan = _plan(all_specs()["text_unigram_logprob"].spark(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_psi_drift_scans_are_column_pruned(spark, sf_dir):
    """quality_psi_drift touches only price/priority/orderkey; the orders
    scans must not read the full 9-column schema."""
    plan = _plan(all_specs()["quality_psi_drift"].spark(spark, sf_dir))
    scans = [ln for ln in plan.splitlines() if "orders" in ln and "ReadSchema" in ln]
    assert scans
    for ln in scans:
        schema_part = ln.split("ReadSchema:")[1]
        assert schema_part.count(",") <= 2, f"orders scan not pruned: {schema_part}"


def test_triangle_census_has_no_cartesian(spark, sf_dir):
    """The degree-oriented path join must stay an equi-join on vertex ids —
    a CartesianProduct here means the orientation rewrite regressed."""
    plan = _plan(all_specs()["graph_triangle_census"].spark(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_binned_interval_join_is_hash_not_nested_loop(spark, sf_dir):
    """join_interval_binned's whole point: the overlap join runs as a
    bucket-equal HASH join, never the BroadcastNestedLoopJoin a raw theta
    condition produces."""
    plan = _plan(all_specs()["join_interval_binned"].spark(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" in plan  # the bucket-equal join is present as a real join


def test_bloom_prefilter_probes_are_broadcast(spark, sf_dir):
    """join_bloom_prefilter: every bitmap probe is a broadcast hash join
    (the bitmap table must never shuffle the fact side), and the exact semi
    join survives at the end."""
    plan = _plan(all_specs()["join_bloom_prefilter"].spark(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3  # 3 probe joins (+ semi)
    assert "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_vocab_coverage_membership_is_broadcast(spark, sf_dir):
    """text_vocab_coverage: the fixed-N vocabulary joins as a broadcast —
    the token stream is never shuffled for the membership flag."""
    plan = _plan(all_specs()["text_vocab_coverage"].spark(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_line_dedup_keeper_is_partial_min_not_window(spark, sf_dir):
    """line_dedup's keeper selection must be a map-side-combinable
    min(struct) aggregation — a row_number window would pin one reducer on
    a mega-hot boilerplate line (the exact skew the operator exists to
    survive)."""
    plan = _plan(all_specs()["text_line_dedup"].spark(spark, sf_dir))
    assert "partial_min(struct(doc_id" in plan
    assert "row_number" not in plan.lower()


def test_dau_wau_range_join_broadcasts_days(spark, sf_dir):
    """events_dau_wau's trailing-window distinct is a range join of the
    (day, user) pair table against the O(days) day list — the DAY side must
    broadcast so the pair table is never reshuffled for the range join."""
    plan = _plan(all_specs()["events_dau_wau"].spark(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_incremental_mv_never_rescans_base(spark, sf_dir):
    """etl_incremental_agg_maintenance merges snapshot + delta aggregates;
    each input must appear as its own aggregated branch (three partial
    aggregates), not a re-union of raw rows into one giant aggregate."""
    plan = _plan(all_specs()["etl_incremental_agg_maintenance"].spark(spark, sf_dir))
    assert plan.count("partial_count") >= 3  # snapshot + insert-delta + delete-delta


_TINY_CASES = [
    ([], "a long, b string"),
    ([(3, "x"), (1, None), (2, "y")], "a long, b string"),
    ([([[1.0, 2.5], None, []],), (None,), ([[-0.0]],)], "_cmat: array<array<double>>"),
    (
        [(1, "t", [0.5, None]), (2, None, None)],
        "i int not null, kind string, vals array<double>",
    ),
]


@pytest.mark.parametrize("arrow", ["true", "false"])
@pytest.mark.parametrize("rows,ddl", _TINY_CASES)
def test_tiny_local_df_matches_single_slice_rdd_frame(spark, rows, ddl, arrow):
    """tiny_local_df is a drop-in for the one-slice Python-RDD frame it
    replaced: same schema (DDL or StructType — the streaming sink passes a
    batch's ``schema``), same rows in the same order including None and
    nested arrays, one partition even when empty — with Arrow on (the
    repo session) and off (a stock session)."""
    from data_integration_and_processing_spark.operators.parallelism import tiny_local_df

    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, arrow)
    try:
        ref = spark.createDataFrame(spark.sparkContext.parallelize(rows, numSlices=1), ddl)
        for schema in (ddl, ref.schema):
            got = tiny_local_df(spark, rows, schema)
            assert got.schema == ref.schema
            assert got.collect() == ref.collect()
            assert got.rdd.getNumPartitions() == ref.rdd.getNumPartitions() == 1
    finally:
        spark.conf.set(key, prev)
