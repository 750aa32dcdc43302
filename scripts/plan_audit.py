#!/usr/bin/env python
"""Physical-plan audit across the catalog: per query, the plan features
that decide 100 TB behavior — shuffle (Exchange) count, join strategies,
scan column width + pushed filters, codegen coverage, Python-eval stages.

Usage:
    python scripts/plan_audit.py                  # whole catalog
    python scripts/plan_audit.py --only a,b --sf-dir /root/testdata/sf0.01

One JSON line per query plus a final summary. Nested loops are split by
physical shape (`broadcast_nested_loop` = BroadcastNestedLoopJoin,
`nested_loop` = CartesianProduct) but BOTH are gated against the declared
allowlist: Spark's JoinSelection falls back to BNLJ for any non-equi join
it cannot plan otherwise, broadcasting the smaller side REGARDLESS of
spark.sql.autoBroadcastJoinThreshold — so an unbounded
theta-join between two large tables compiles to BNLJ, and "it took the
broadcast shape" proves nothing about boundedness. An undeclared BNLJ
lands in `undeclared_broadcast_nested_loop`; an undeclared Cartesian in
`undeclared_nested_loop`; either fails `--fail-on cartesian`.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Queries where a nested-loop/cartesian shape is the DELIBERATE plan,
# audited one by one (full-catalog sweep). Categories:
# (a) broadcast SCALAR cross — a one-row aggregate (total/threshold/count)
#     joined onto a big side; constant-size build, zero scale risk;
# (b) broadcast BOUNDED-table cross — bands/salt range/centroids/query
#     batch, O(1)-to-O(k) rows by construction;
# (c) inequality join against a broadcast bounded side (range band, BM25
#     query terms).
DELIBERATE_NESTED_LOOP = {
    # (c) tiny band/condition tables
    "join_range_band",
    "join_cross",
    "text_bm25_search",
    # (a) scalar-aggregate crosses
    "agg_equiwidth_histogram",
    "prep_feature_scaling",
    "subquery_scalar_avg",
    "q11_important_stock",
    "q16_partsupp_supplier_count",
    "q20_excess_promo_suppliers",
    "q20_excess_stock_suppliers",
    "q22_global_sales_opportunity",
    "q2_min_cost_supplier",  # synth_partsupp's supplier-count scalar
    "sample_mix_to_target",
    "sample_temperature_mix",
    "stream_gapfill_locf",  # grid bounds scalar
    "events_funnel_conversion",
    "events_funnel_time_bounded",
    "etl_delete_propagation",  # per-table audit count scalars
    "multimodal_chunk_dedup",  # byte-total scalars
    "quality_fk_orphan_audit",
    "agg_heavy_hitters",  # corpus-total scalar
    "graph_pagerank",  # dangling-mass scalar per iteration
    # (b) bounded broadcast sides
    "skew_salted_join",  # salt-range replicate of the small side
    "sim_knn_join",  # broadcast query batch (bounded by construction)
    "sim_ann_join_ivf",  # n_cells centroid rows
    # --- BNLJ sites (a blanket BNLJ exemption would be wrong —
    # JoinSelection falls back to BNLJ for ANY non-equi join
    # regardless of the broadcast threshold, so every BNLJ site below was
    # re-read and is declared with the bound that makes it safe) ---
    # (a) audit-form scalar crosses: crossJoin(F.broadcast(one-row agg)) —
    # the registered audit pattern (fixture arithmetic + measured booleans)
    "events_error_burst_detection",
    "events_growth_accounting",
    "text_vocab_coverage_curve",  # top-vocab scalar + coverage scalar
    "agg_market_basket_lift",  # basket-count scalar
    "etl_corrupt_row_quarantine",  # quarantine-count scalar
    "sample_neyman_allocation",  # total-budget scalar
    "sim_matryoshka_prefix_recall",  # recall-floor scalar
    "analytics_rfm_segmentation",  # quantile-cut scalars
    "dedup_minhash_lsh",  # pair/recall audit scalars
    "dedup_simhash",
    "dedup_simhash_signatures",
    "dedup_pipeline_end2end",
    "dedup_cap_audit",
    "dedup_incremental_neardup",  # equivalence-boolean scalars
    "dedup_minhash_calibration",
    "dedup_chunk_neardup",  # planted-ledger scalars
    "sim_pca_project",  # variance/orthonormality scalars
    "sim_centroid_classification",
    "sim_uncertainty_sampling",
    "sim_binary_hamming_topk",
    "sim_retrieval_eval_ndcg",
    "search_hybrid_rrf",
    "pack_sequences_budget",  # budget scalar
    "curation_quality_classifier",  # AUC/count scalars via classifier op
    "sample_ab_srm_audit",
    "quality_ks_drift_bucketed",
    "quality_sequence_audit",
    "quality_freshness_lag_audit",
    "quality_auc_separability",
    "quality_chi2_drift",
    "stream_countmin_heavy_hitters",  # CMS audit scalars
    "stream_neardup_incremental",  # equivalence-boolean scalars
    "multimodal_phash_neardup",  # planted-recall scalars
    "multimodal_cdc_chunks",  # planted-ledger + coverage scalars
    "agg_kmv_distinct_sketch",  # k-th-hash scalar
    "agg_kmv_set_intersection",  # one-row-per-sketch crosses
    "agg_kmv_set_difference",  # O(groups^2) pair broadcast + audit scalars
    "agg_hll_intersection",  # inclusion-exclusion over one-row sketches
    "text_pmi_collocations",  # N_tok / N_big one-row scalar crosses
    "quality_calibration_bins",  # 10-row bin-gate scalar cross
    "quality_t_closeness_audit",  # 5-row global-distribution + 1-row total crosses
    "sample_ab_cuped_adjustment",  # 1-row theta/lift/variance scalar crosses
    "sim_mips_topk",  # 1-row max-norm scalar + equivalence-boolean crosses
    "sim_mips_via_ivf",  # broadcast query batch (exact ground truth) + 1-row
    # max-norm augmentation scalar + 1-row recall-verdict cross
    "graph_local_clustering",  # 1-row corpus-mean scalar cross
    "temporal_decayed_engagement",  # 1-row max-ts anchor cross
    "prep_target_encoding",  # 1-row global-prior scalar cross
    "text_heaps_law_fit",  # 1-row max-doc-id bucket-width cross
    "quality_js_divergence_drift",  # 1-row pooled-totals cross
    "temporal_autocorrelation",  # 3-row lag-table broadcast cross
    "sample_rolling_origin_cv",  # 4-row fold-bounds broadcast range join
    # (b) bounded broadcast sides inside operators
    "sim_topk_lsh",  # 1-row query vector (brute_force_topk ground truth)
    "sim_topk_ivf",  # IVFPQ index probed with refine=None (IVF-flat)
    "sim_topk_lsh_indexed",  # same plan as sim_topk_lsh
    "sim_topk_pq",  # 1-cell IVFPQ index (flat PQ)
    "sim_topk_ivfpq",  # O(k)-row recall-verdict constant-key cross
    "sim_retrieval_ndcg_mrr",  # broadcast %100 query batch (exact ground
    # truth all-pairs) + 1-row per-path nDCG/MRR verdict crosses
    "sim_ivfpq_upsert_audit",  # 1-row query vector + 1-row accounting /
    # self-hit / recall verdict crosses
    "sim_ivfpq_delete_audit",  # 1-row query vector + 1-row tombstone-
    # accounting / exclusion / recall verdict crosses
    "sim_ivfpq_tuning_frontier",  # broadcast %100 query batch inside the
    # shared exact ground truth; per-arm 1-row recall aggregates
    "sim_rerank_eval",  # broadcast %100 query batch (ground truth) +
    # 2-row arms literal x O(|Q|) idcg cross + 1-row verdict crosses
    "sim_ivfpq_compact_audit",  # 1-row query vector + 1-row accounting /
    # probe-equality / recall verdict crosses
    "sim_model_rerank_eval",  # broadcast %100 query batch (exact model
    # ground truth) + 1-row recall / slot-parity verdict crosses
    "sim_ann_recall_audit",  # query-batch crosses in the exact ground truth
    "sim_hard_negatives",  # broadcast anchor/positive batch
    "sim_sample_diversity",  # broadcast k-row sample
    # (c) inequality join against a calendar-bounded side: distinct days
    # (O(span), ~35 at sf0.1, ~365/yr at any corpus size) broadcast against
    # user-days for the 7-day WAU window
    "events_dau_wau",
}


def audit_plan(plan: str) -> dict:
    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "broadcast_joins": plan.count("BroadcastHashJoin"),
        "sortmerge_joins": plan.count("SortMergeJoin"),
        "shuffled_hash_joins": plan.count("ShuffledHashJoin"),
        # Split by physical shape only — NOT by risk class: JoinSelection
        # uses BNLJ as the last-resort plan for non-equi joins regardless of
        # the broadcast threshold, so BNLJ does not imply a bounded build
        # side. Both counters are gated against DELIBERATE_NESTED_LOOP.
        "broadcast_nested_loop": plan.count("BroadcastNestedLoopJoin"),
        "nested_loop": plan.count("CartesianProduct"),
        "codegen_spans": plan.count("WholeStageCodegen"),
        "python_stages": plan.count("ArrowEvalPython")
        + plan.count("FlatMapGroupsInPandas")
        + plan.count("MapInPandas")
        + plan.count("BatchEvalPython"),
        "scans": plan.count("Scan parquet"),
        "pushed_filter_scans": plan.count("PushedFilters: ["),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    ap.add_argument("--fail-on", default=None, choices=[None, "cartesian"])
    args = ap.parse_args()

    from data_integration_and_processing_spark.queries import catalog
    from data_integration_and_processing_spark.session import get_spark

    spark = get_spark(app_name="plan-audit")
    specs = catalog.all_specs()
    names = list(specs)
    if args.only:
        names = [n for n in args.only.split(",") if n in specs]

    offenders = []
    bnlj_offenders = []
    for name in names:
        try:
            df = specs[name].spark(spark, args.sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        except Exception as e:  # noqa: BLE001 — audit must not die on one query
            print(json.dumps({"query": name, "error": str(e)[:200]}))
            continue
        rec = audit_plan(plan)
        rec["query"] = name
        print(json.dumps(rec))
        # BOTH nested-loop shapes are gated: a Cartesian is always unbounded,
        # and a BNLJ may be JoinSelection's non-equi fallback over two large
        # sides (the broadcast threshold is NOT consulted there), so neither
        # shape passes without a per-query allowlist entry.
        if rec["nested_loop"] and name not in DELIBERATE_NESTED_LOOP:
            offenders.append(name)
        if rec["broadcast_nested_loop"] and name not in DELIBERATE_NESTED_LOOP:
            bnlj_offenders.append(name)

    print(
        json.dumps(
            {
                "plan_audit": {
                    "checked": len(names),
                    "undeclared_nested_loop": offenders,
                    "undeclared_broadcast_nested_loop": bnlj_offenders,
                }
            }
        )
    )
    spark.stop()
    if args.fail_on == "cartesian" and (offenders or bnlj_offenders):
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
