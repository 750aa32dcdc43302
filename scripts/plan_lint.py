#!/usr/bin/env python
"""Plan lint: sweep EVERY catalog query's physical plan for scale
anti-patterns that correctness gates cannot see.

Rules (each with a deliberate-usage whitelist):
- CARTESIAN: a CartesianProduct operator — an all-pairs join that did not
  broadcast; at 100 TB this is the difference between a job and an outage.
- PY_ROW_UDF: BatchEvalPython — a row-at-a-time (pickled) Python UDF in the
  data path; everything Python-side must be Arrow-batched (ArrowEvalPython /
  mapInPandas / applyInPandas).
- GLOBAL_WINDOW: a Window operator with an empty partition spec — a global
  sort onto ONE reducer. Fine on O(groups) intermediates (whitelisted per
  query); fatal on row-count-sized inputs.

Usage: python scripts/plan_lint.py [--only a,b] [--sf-dir ...]
Prints one JSON line per violation and a summary; exit 1 on any
non-whitelisted hit.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# name -> rules deliberately allowed, with the reason the plan is still
# scale-sane (kept next to the whitelist so it can't rot silently). Every
# GLOBAL_WINDOW entry runs on a BOUNDED intermediate (named below), never on
# a row-count-sized input — the rule exists to catch the latter.
WHITELIST: dict[str, dict[str, str]] = {
    "join_cross": {"CARTESIAN": "deliberate 5x5 region cartesian (constant)"},
    "text_unigram_logprob": {
        "GLOBAL_WINDOW": "corpus-total sum over the O(vocab) term-frequency "
        "aggregate (the text_zipf_fit class) — instead of an O(corpus-"
        "tokens) persisted token frame + eager count job"
    },
    "sim_rerank_eval": {
        "CARTESIAN": "2-row arms literal x O(|Q|) idcg rows and a 1-row "
        "verdict broadcast — both bounded by the %100 query batch, never "
        "corpus-sized"
    },
    "sim_model_rerank_eval": {
        "CARTESIAN": "exact-model ground truth: corpus x broadcast(%100 "
        "query batch) — the same bounded eval cross every retrieval-eval "
        "entry pays once — plus 1-row verdict broadcasts"
    },
    "stream_ivfpq_ingest": {
        "GLOBAL_WINDOW": "running ingested-count over the per-micro-batch "
        "ledger — exactly _STREAM_INGEST_BATCHES (3) rows at any corpus "
        "size, bounded by the batch count, never the data"
    },
    "curation_quality_classifier": {
        "GLOBAL_WINDOW": "rank-AUC cumulative over the O(distinct probability values) per-score aggregate, not corpus rows"
    },
    "quality_auc_separability": {
        "GLOBAL_WINDOW": "rank-AUC cumulative over the O(distinct scores) per-score aggregate, not corpus rows"
    },
    "agg_equidepth_histogram": {
        "GLOBAL_WINDOW": "exact ntile demo; scale swap to approx_percentile cutpoints documented"
    },
    "agg_order_size_distribution": {
        "GLOBAL_WINDOW": "share normalization over the O(distinct order sizes) histogram"
    },
    "analytics_pareto_frontier": {
        "GLOBAL_WINDOW": "prefix-max over per-PRICE maxima (O(distinct prices)), not parts"
    },
    "events_cumulative_distinct_users": {
        "GLOBAL_WINDOW": "running sum over the O(days) daily table"
    },
    "events_pareto_concentration": {
        "GLOBAL_WINDOW": "cumulative share over the O(users) per-user aggregate"
    },
    "events_peak_concurrency": {
        "GLOBAL_WINDOW": "sweep over O(distinct instants) after per-instant delta pre-agg; time-bucket coarsening is the lever"
    },
    "events_window_funnel": {
        "GLOBAL_WINDOW": "share normalization over the O(4) depth histogram"
    },
    "events_power_user_gini": {
        "GLOBAL_WINDOW": "exact Gini rank over the O(users) per-user aggregate"
    },
    "analytics_rfm_segmentation": {
        "GLOBAL_WINDOW": "exact order-statistic quartile boundaries: three rank windows over the O(customers) per-customer aggregate (build-insensitive percentile_disc contract; at 100 TB swap for approx_percentile, same comparisons)"
    },
    "events_session_length_histogram": {
        "GLOBAL_WINDOW": "share normalization over the O(session lengths) histogram"
    },
    "ids_contiguous_assign": {
        "GLOBAL_WINDOW": "cumulative offsets over the O(partitions) count table (the scale-safe pattern itself)"
    },
    "quality_sequence_audit": {
        "GLOBAL_WINDOW": "boundary-gap lag over the O(partitions) min/max table (row-sized lag is per-partition)"
    },
    "sample_mix_greedy_budget": {
        "GLOBAL_WINDOW": "greedy prefix sum over the O(sources) allocation table"
    },
    "search_hybrid_rrf": {
        "GLOBAL_WINDOW": "rank fusion over bounded top-k candidate lists"
    },
    "text_vocab_coverage_curve": {
        "GLOBAL_WINDOW": "rank + cumulative sum over the O(vocab) term-frequency table"
    },
    "text_zipf_fit": {
        "GLOBAL_WINDOW": "log-log rank over the O(vocab) term-frequency table"
    },
    "text_heaps_law_fit": {
        "GLOBAL_WINDOW": "cumulative sums over exactly 20 bucket rows (fixed sample-point count at any corpus size)"
    },
    "quality_js_divergence_drift": {
        "GLOBAL_WINDOW": "corpus-total sum over the O(categories) contribution table"
    },
    "window_ntile_distribution": {
        "GLOBAL_WINDOW": "SQL window-surface demo over customers; approx swap documented"
    },
    "quality_ks_drift_bucketed": {
        "GLOBAL_WINDOW": "cumulative ECDF counts over the O(bins) histogram (1000 rows)"
    },
}


def find_violations(plan: str) -> list[str]:
    out = []
    if "CartesianProduct" in plan:
        out.append("CARTESIAN")
    if "BatchEvalPython" in plan:
        out.append("PY_ROW_UDF")
    # Spark renders windows as `Window [exprs], [partition], [order]`;
    # missing clauses drop their bracket group. A window is GLOBAL (single
    # reducer) when no partition group is present:
    #   [exprs], [order]   -> 1 separator, 2nd group carries ASC/DESC
    #   [exprs]            -> 0 separators (over ())
    # while the benign partitioned-unordered form is
    #   [exprs], [partition] -> 1 separator, 2nd group has no sort markers.
    for m in re.finditer(r"^[\s:+\-|]*Window (\[.+)$", plan, re.MULTILINE):
        args = m.group(1)
        groups = args.count("], [")
        if groups >= 2:
            continue  # exprs + partition + order: partitioned
        if groups == 0:
            out.append("GLOBAL_WINDOW")
            break
        tail = args.rsplit("], [", 1)[1]
        if " ASC" in tail or " DESC" in tail:
            out.append("GLOBAL_WINDOW")
            break
    return out


def census(plan: str) -> dict[str, int]:
    """Operator census of one physical plan: the numbers that decide 100 TB
    behavior. `shuffles` counts repartitioning exchanges (hash + range),
    `single_partition` the one-reducer exchanges (scale-safe only on bounded
    intermediates), `broadcasts` the build sides kept off the shuffle,
    `sorts` the per-partition sort operators."""
    return {
        "shuffles": len(re.findall(r"Exchange (?:hash|range)partitioning", plan)),
        "single_partition": len(re.findall(r"Exchange SinglePartition", plan)),
        "broadcasts": len(re.findall(r"BroadcastExchange", plan)),
        "sorts": len(re.findall(r"^[\s:+\-|]*\*?\(?\d*\)?\s*Sort ", plan, re.MULTILINE)),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--only", default=None)
    ap.add_argument("--census", action="store_true",
                    help="print a per-query shuffle/broadcast census instead of lint JSON")
    args = ap.parse_args()

    from data_integration_and_processing_spark.queries import catalog
    from data_integration_and_processing_spark.session import get_spark

    spark = get_spark(app_name="plan-lint")
    spark.sparkContext.setLogLevel("ERROR")
    specs = catalog.all_specs()
    only = set(args.only.split(",")) if args.only else None

    n_checked = n_viol = n_skipped = 0
    totals: dict[str, int] = {}
    peak: dict[str, tuple[int, str]] = {}
    for name, spec in sorted(specs.items()):
        if only and name not in only:
            continue
        try:
            df = spec.spark(spark, args.sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001 — streaming/scratch queries may not plan statically
            n_skipped += 1
            print(json.dumps({"query": name, "status": "SKIP", "why": str(e)[:120]}))
            continue
        n_checked += 1
        if args.census:
            c = census(plan)
            for k, v in c.items():
                totals[k] = totals.get(k, 0) + v
                if v > peak.get(k, (-1, ""))[0]:
                    peak[k] = (v, name)
            print(json.dumps({"query": name, **c}))
            continue
        hits = find_violations(plan)
        allowed = WHITELIST.get(name, {})
        real = [h for h in hits if h not in allowed]
        for h in hits:
            if h in allowed:
                print(json.dumps({"query": name, "rule": h, "status": "WHITELISTED",
                                  "reason": allowed[h]}))
        if real:
            n_viol += 1
            print(json.dumps({"query": name, "rules": real, "status": "VIOLATION"}))
    if args.census:
        print(json.dumps({"census": {"checked": n_checked, "skipped": n_skipped,
                                     "totals": totals,
                                     "peak": {k: {"n": v[0], "query": v[1]}
                                              for k, v in peak.items()}}}))
    else:
        print(json.dumps({"plan_lint": {"checked": n_checked, "violations": n_viol,
                                        "skipped": n_skipped}}))
    spark.stop()
    return 1 if n_viol else 0


if __name__ == "__main__":
    raise SystemExit(main())
