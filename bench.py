#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed to completion through the `noop` sink — the full
plan runs (scan → shuffle → UDFs → final projection) but nothing is
materialized on the driver, so timings measure distributed execution, not
driver pickle throughput (row-level queries return 600k rows; collecting
them would time the anti-pattern the engine is designed to avoid). Warmup
runs (flagship query + one Arrow batch per core) are excluded to keep JVM/
codegen startup and the once-per-session Python-worker spawn out of
per-query numbers.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import sys
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_integration_and_processing_spark.queries import catalog  # noqa: E402
from data_integration_and_processing_spark.session import get_spark  # noqa: E402

# Representative slice of the catalog: ETL, relational joins/aggs/windows,
# every north-star family, and the streaming batch twin.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q9_product_profit",
    "q10_returned_items",
    "q18_large_volume_customers",
    "join_broadcast_dim",
    "join_asof_event",
    "agg_count_distinct",
    "agg_rollup",
    "window_topk_per_group",
    "etl_clean_rename_projection",
    "udf_grouped_map_zscore",
    "skew_salted_agg",
    "dedup_exact",
    # dedup_minhash_lsh left the headline in r8: the registered query became
    # the audit form (exact pair set + recall boolean — a different, heavier
    # plan), while the raw LSH path's timing signal lives in
    # _dedup_scale_probe below (same operator, 50k docs)
    "dedup_ngram_jaccard",
    "sim_topk_bruteforce",
    "sim_neardup_pairs",
    "text_fingerprint",
    "text_quality_score",
    "stream_tumbling_window",
    "stream_session_window",
    "pipeline_training_corpus",
    "temporal_interval_merge",
    "temporal_rolling_zscore",
    "sim_knn_join",
    "dedup_chunk_neardup",
    # r4 additions (no prior baseline; the regression gate skips unknown keys)
    "text_unigram_logprob",
    "quality_psi_drift",
    "join_dynamic_partition_pruning",
    "join_bloom_prefilter",
    "etl_partition_diff",
    "agg_quantile_digest_rollup",
    "dedup_ngram_containment",
    "sim_ann_join_ivf",
    "dedup_ngram_jaccard_prefix",
    # r5 additions (no prior baseline; the regression gate skips unknown keys)
    "text_line_dedup",
    "sim_dedup_semantic",
    "etl_incremental_agg_maintenance",
    "sample_poisson_bootstrap_ci",
    "events_growth_accounting",
    "analytics_rfm_segmentation",
    "graph_connected_components",
    # r6 additions (no prior baseline; the regression gate skips unknown keys)
    "text_duplicate_ngram_spans",
    "join_interval_overlap",
    "sample_coreset_kcenter",
    # r8 additions (no prior baseline; the regression gate skips unknown keys)
    "dedup_ngram_jaccard_auto",
    "sim_topk_ivf",
    # r9 additions (VERDICT r8 item 4): the registered sim_ann_join_ivf and
    # dedup_chunk_neardup entries are audit forms (exact ground truth + the
    # production plan + the recall/ledger join in one plan) — the regression
    # gate must ALSO track the plan a user actually runs, so the raw
    # production paths bench alongside them (resolved via RAW_HEADLINE, not
    # the catalog — raw paths are deliberately unregistered)
    "sim_ann_join_ivf_raw",
    "dedup_chunk_neardup_raw",
    # r9 session additions (no prior baseline; gate skips unknown keys):
    # LPA tracks the iterative-graph path on the headline board (pagerank's
    # timing signal lives in the 10x probe); epoch shuffle and the Gopher
    # ledger are the cheap curation paths a training pipeline runs per batch
    "graph_label_propagation",
    "sample_epoch_shuffle",
    "curation_gopher_rules",
    # r10 additions (no prior baseline; gate skips unknown keys): the raw
    # CDC chunker joins its new audit-form twin (same raw-path rationale as
    # sim_ann_join_ivf_raw); kcore tracks the second iterative-peel shape;
    # KMV difference and PMI are the new sketch/text paths
    "multimodal_cdc_chunks_raw",
    "graph_kcore_peel",
    "agg_kmv_set_difference",
    "text_pmi_collocations",
    # r11 additions (no prior baseline; gate skips unknown keys): the
    # IVF-served MIPS production path (the registered sim_mips_via_ivf is
    # its audit form — exact ground truth + recall verdict), the bigram-LM
    # perplexity filter (the per-batch fluency gate of a curation
    # pipeline), and the decayed-engagement feature pass
    "sim_mips_via_ivf_raw",
    "text_perplexity_filter",
    "temporal_decayed_engagement",
    # r12 additions (no prior baseline; gate skips unknown keys): the
    # retrieval-quality eval (nDCG/MRR of both served paths — the metric a
    # RAG corpus build gates on) and the production batch-serving path
    # through the incrementally-UPSERTED IVFPQ index (raw twin of the
    # registered sim_ivfpq_upsert_audit; tracks probe latency against a
    # maintained, not rebuilt, index)
    "sim_retrieval_ndcg_mrr",
    "sim_ivfpq_upsert_raw",
    # r13 addition (no prior baseline; gate skips unknown keys): the
    # two-stage retrieval serving path (ANN candidate fetch + exact rerank
    # — the RAG pattern; registered sim_rerank_eval is its audit form)
    "sim_rerank_eval_raw",
    # r15 addition (no prior baseline; gate skips unknown keys): the
    # end-to-end RAG ingest production path (model-UDF embed -> IVFPQ
    # serve; registered pipeline_rag_ingest is its audit form — the same
    # plan plus the exact-ground-truth recall join)
    "pipeline_rag_ingest_raw",
]


def _raw_headline_paths():
    """name -> callable for headline entries that are NOT catalog specs:
    the raw production plans whose registered twins became audit forms."""
    from data_integration_and_processing_spark.queries.curation_queries import (  # noqa: PLC0415
        dedup_chunk_neardup_raw,
    )
    from data_integration_and_processing_spark.queries.multimodal_queries import (  # noqa: PLC0415
        multimodal_cdc_chunks_raw,
    )
    from data_integration_and_processing_spark.queries.similarity_queries import (  # noqa: PLC0415
        pipeline_rag_ingest_raw,
        sim_ann_join_ivf_raw,
        sim_ivfpq_upsert_raw,
        sim_mips_via_ivf_raw,
        sim_rerank_eval_raw,
    )

    return {
        "sim_ann_join_ivf_raw": sim_ann_join_ivf_raw,
        "dedup_chunk_neardup_raw": dedup_chunk_neardup_raw,
        "multimodal_cdc_chunks_raw": multimodal_cdc_chunks_raw,
        "sim_mips_via_ivf_raw": sim_mips_via_ivf_raw,
        "sim_ivfpq_upsert_raw": sim_ivfpq_upsert_raw,
        "sim_rerank_eval_raw": sim_rerank_eval_raw,
        "pipeline_rag_ingest_raw": pipeline_rag_ingest_raw,
    }


# Flag a per-query regression only when BOTH hold — run-to-run variance on
# local[32] through the noop sink is ~±15-20%, so a ratio alone false-alarms
# on sub-second queries. Floor raised 0.3 -> 0.5 in r10 after the
# text_line_dedup bisection (SCALE.md): queries under ~1s are fixed-
# overhead-bound (two shuffles + scan setup ~0.5s), so sub-half-second
# absolute swings are noise even at a 1.46x ratio.
REGRESSION_RATIO = 1.3
REGRESSION_FLOOR_SEC = 0.5


DETAIL_FILE = "BENCH_DETAIL.json"


def _baseline_queries(cur_sf: float) -> tuple[str, dict[str, float], dict[str, float]]:
    """(name, per-query timings, canary) for the regression gate.

    Preferred source: the repo's own BENCH_DETAIL.json (written by the
    previous bench run and committed — VERDICT r7 item 2: the driver's
    ~2000-char stdout tail capture truncated the old fat JSON line two
    rounds running, leaving BENCH_r6/r7 with ``"parsed": null`` and the
    gate silently pinned to the r5 baseline). Fallback: the newest
    driver-recorded BENCH_r{N}.json that actually parsed.

    A baseline recorded at a DIFFERENT scale factor than this run is
    skipped (ADVICE r8): comparing timings across SFs reports bogus
    regressions — a detail file left behind by an sf0.01 dev loop must not
    gate the driver's sf0.1 run, and vice versa.
    """
    here = os.path.dirname(os.path.abspath(__file__))
    detail = os.path.join(here, DETAIL_FILE)

    def _sf_matches(doc: dict) -> bool:
        base_sf = doc.get("sf")
        return base_sf is not None and abs(float(base_sf) - cur_sf) < 1e-9

    try:
        with open(detail) as f:
            doc = json.load(f)
        if _sf_matches(doc):
            return DETAIL_FILE, dict(doc["queries"]), dict(doc.get("canary") or {})
        print(
            f"# baseline skip: {DETAIL_FILE} recorded at sf={doc.get('sf')}, "
            f"this run is sf={cur_sf}",
            file=sys.stderr,
        )
    except Exception:  # noqa: BLE001 — absent/malformed detail falls through to driver artifacts
        pass
    rounds: list[tuple[int, str]] = []
    for path in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", path)
        if m:
            rounds.append((int(m.group(1)), path))
    for _, path in sorted(rounds, reverse=True):
        try:
            with open(path) as f:
                doc = json.load(f)
            parsed = doc["parsed"]
            if not _sf_matches(parsed):
                continue
            return os.path.basename(path), dict(parsed["queries"]), dict(parsed.get("canary") or {})
        except Exception:  # noqa: BLE001 — a malformed artifact must not kill the bench
            continue
    return "", {}, {}


def _run_canaries(spark, sf_dir: str) -> dict[str, float]:
    """Host-drift canary pair (VERDICT r5 item 5): a fixed JVM-only query and
    a fixed Arrow-UDF micro-bench, timed best-of-3 BEFORE the headline loop.

    Rounds 4 and 5 each burned an investigation cycle on "regressions" that
    were host-state drift (uniform +10-20% across all headliners at round
    close; judge re-measures landed back on baseline). The canaries measure
    that drift directly: both workloads are code-frozen, so canary movement
    vs the previous round's recorded canary IS the environment, and the
    regression gate widens its threshold by exactly that factor. jvm_sec
    tracks scan/shuffle/codegen state; arrow_sec tracks the Python-worker /
    Arrow-transfer path, which drifts on a different schedule (worker pool
    state, fork cost) — hence a pair, gated on the max.
    """
    import numpy as np  # noqa: PLC0415
    from pyspark.sql import functions as F  # noqa: PLC0415
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415
    from pyspark.sql.types import DoubleType  # noqa: PLC0415

    # The JVM canary is an INLINE FROZEN query, deliberately not the live
    # q1 spec: when the canary executed q1, any code change that slowed the
    # q1 path (query edit, session config, scan tuning) widened every
    # regression threshold and silently suppressed real flags (ADVICE r6).
    # The literal below is a snapshot of q1's r6 shape — identical cost to
    # the r6-recorded canary (cross-round continuity) but immune to future
    # q1 edits. This literal must never be edited — it is the measuring
    # stick.
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    qty = F.col("l_quantity").cast("decimal(12,2)")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")
    cnt = F.count("*")
    frozen = (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1) - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (F.lit(1) - disc) * (F.lit(1) + tax)).cast("double").alias("sum_charge"),
            (F.sum(qty).cast("double") / cnt).alias("avg_qty"),
            (F.sum(price).cast("double") / cnt).alias("avg_price"),
            (F.sum(disc).cast("double") / cnt).alias("avg_disc"),
            cnt.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )
    jvm_best = float("inf")
    for _ in range(3):
        t0 = time.time()
        frozen.write.format("noop").mode("overwrite").save()
        jvm_best = min(jvm_best, time.time() - t0)

    @pandas_udf(DoubleType())
    def _canary(v: pd.Series) -> pd.Series:
        return np.sqrt(v) + np.log1p(v)

    n = spark.sparkContext.defaultParallelism
    arrow_best = float("inf")
    for _ in range(3):
        t0 = time.time()
        (
            spark.range(2_000_000, numPartitions=n)
            .select(_canary(F.col("id").cast("double")).alias("x"))
            .write.format("noop").mode("overwrite").save()
        )
        arrow_best = min(arrow_best, time.time() - t0)

    # Third canary, RECORDED ONLY (the drift gate stays on the frozen pair
    # for cross-round continuity): a many-stage shuffle job measuring the
    # box's parallel shuffle + task-scheduling character. Motivation
    # (r13): a box whose jvm/arrow canaries read FASTER than baseline ran
    # the 61-query common subset +12% SLOWER — the single-query canaries
    # under-model shuffle/scheduling throughput, and this column gives
    # future rounds the diagnostic they were missing. Code-frozen from r13.
    shuffle_best = float("inf")
    for _ in range(3):
        t0 = time.time()
        (
            spark.range(3_000_000, numPartitions=n)
            .select((F.col("id") % 9973).alias("k"), F.col("id").alias("v"))
            .repartition(64, "k")
            .groupBy("k")
            .agg(F.sum("v").alias("s"), F.count("*").alias("c"))
            .groupBy((F.col("k") % 64).alias("b"))
            .agg(F.sum("s").alias("s2"), F.sum("c").alias("c2"))
            .write.format("noop").mode("overwrite").save()
        )
        shuffle_best = min(shuffle_best, time.time() - t0)
    return {
        "jvm_sec": round(jvm_best, 3),
        "arrow_sec": round(arrow_best, 3),
        "shuffle_sec": round(shuffle_best, 3),
    }


def _dedup_scale_probe(spark, sf_dir: str) -> dict[str, float | int]:
    """Standing 50k-doc dedup probe (SCALE.md 'Measured headroom: dedup'):
    replicate the documents 10x with per-replica truncation so every
    original gains 9 true near-dups, then time MinHash-LSH pair detection.
    Scaling regressions in the candidate-bound path show up here long
    before the 10k-doc headline entry moves."""
    from pyspark.sql import DataFrame  # noqa: PLC0415
    from pyspark.sql import functions as F  # noqa: PLC0415

    from data_integration_and_processing_spark.operators.dedup import minhash_lsh_pairs  # noqa: PLC0415

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    words = F.split("text", " ")
    reps = [
        d.select(
            (F.col("doc_id") + F.lit(i * 1_000_000)).alias("doc_id"),
            F.concat_ws(" ", F.slice(words, 1, F.greatest(F.size(words) - i, F.lit(1)))).alias("text"),
        )
        for i in range(10)
    ]
    corpus = functools.reduce(DataFrame.unionByName, reps)
    # best-of-2, matching the headline best-of-3 policy: the r4 "regression"
    # on this probe (4.55 -> 5.17s) was single-shot noise — bisected in r5 to
    # the first 50k-scale invocation of the vectorized signature UDF paying
    # Arrow/worker state (8.6s cold, 3.57s warm vs 3.96s for the JVM path)
    best, pairs = float("inf"), 0
    for _ in range(2):
        caches: list = []
        t0 = time.time()
        pairs = minhash_lsh_pairs(corpus, text_col="text", id_col="doc_id", cache_handle=caches).count()
        best = min(best, time.time() - t0)
        for c in caches:
            c.unpersist()
    return {"sec": round(best, 3), "pairs": pairs, "docs": 10 * d.count()}


def _jaccard_prefix_probe(spark, sf_dir: str) -> dict[str, float | int]:
    """Standing 50k-doc plain-vs-prefix Jaccard probe (VERDICT r4 item 3),
    on a BOILERPLATE-HEAVY corpus: 4% of docs share an appended navbar/
    cookie-banner sentence, the shape the prefix filter exists for — its
    ~10 hot shingles (df=2000) cost the plain plan a C(2000,2)-per-shingle
    (~20M-row) pair expansion, while rarest-first prefixes exclude max-df
    shingles entirely. r5 measured: prefix 19.8s vs plain 25.3s, identical
    245,540 pairs (lossless). On a uniform corpus (no hot shingles) the two
    are a statistical tie at this scale (19.7-20.6s, either direction run
    to run) because the filter's ~2 extra shuffles offset its 2.8x
    candidate cut — SCALE.md 'prefix-Jaccard crossover'."""
    import functools as _ft  # noqa: PLC0415

    from pyspark.sql import DataFrame  # noqa: PLC0415
    from pyspark.sql import functions as F  # noqa: PLC0415

    from data_integration_and_processing_spark.operators.dedup import (  # noqa: PLC0415
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    words = F.split("text", " ")
    reps = [
        d.select(
            (F.col("doc_id") + F.lit(i * 1_000_000)).alias("doc_id"),
            F.concat_ws(" ", F.slice(words, 1, F.greatest(F.size(words) - i, F.lit(1)))).alias("text"),
        )
        for i in range(10)
    ]
    corpus = _ft.reduce(DataFrame.unionByName, reps)
    boiler = (
        "this site uses cookies accept our terms privacy policy "
        "all rights reserved contact us about careers"
    )
    corpus = corpus.withColumn(
        "text",
        F.when(
            F.pmod(F.pmod("doc_id", F.lit(1_000_000)), F.lit(25)) == 0,
            F.concat_ws(" ", F.col("text"), F.lit(boiler)),
        ).otherwise(F.col("text")),
    )
    out: dict[str, float | int] = {}
    for fn, key in ((ngram_jaccard_pairs, "plain"), (ngram_jaccard_pairs_prefix, "prefix")):
        best = float("inf")
        for _ in range(2):  # best-of-2: same single-shot-noise policy as the probes above
            caches: list = []
            t0 = time.time()
            out[f"{key}_pairs"] = fn(
                corpus, text_col="text", id_col="doc_id", threshold=0.5, cache_handle=caches
            ).count()
            best = min(best, time.time() - t0)
            for c in caches:
                c.unpersist()
        out[f"{key}_sec"] = round(best, 3)
    return out


def _interval_scale_probe(spark, sf_dir: str) -> dict[str, float | int]:
    """Standing interval-overlap probe at a scale where the naive range
    cross join is already 3.6e8 candidate pairs: ~60k shipment intervals x
    ~6k order windows through the grid-bucketed join
    (`join_interval_overlap`'s cell + later-start-cell-claim shape). The
    measured quantity is the full pair count — the grid join's shuffle is
    O(intervals x cells covered) (~1.2 cells each at 32-day cells), so this
    timing tracks the candidate-generation discipline, not the quadratic
    blowup it avoids."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cell_days = 32
    cell = lambda c: F.floor(F.unix_date(F.col(c)) / cell_days)  # noqa: E731
    ship = F.col("l_shipdate").cast("date")
    a = l.filter(F.col("l_orderkey") % 10 == 1).select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("id_a"),
        ship.alias("start_a"),
        F.date_add(ship, (F.lit(1) + F.col("l_orderkey") % 13).cast("int")).alias("end_a"),
    )
    b = o.filter(F.col("o_orderkey") % 25 == 1).select(
        F.col("o_orderkey").alias("id_b"),
        F.col("o_orderdate").cast("date").alias("start_b"),
        F.date_add(F.col("o_orderdate").cast("date"), 3).alias("end_b"),
    )
    ae = a.select("*", F.explode(F.sequence(cell("start_a"), cell("end_a"))).alias("cell"))
    be = b.select("*", F.explode(F.sequence(cell("start_b"), cell("end_b"))).alias("cell"))
    claim = F.col("cell") == F.greatest(
        F.floor(F.unix_date(F.col("start_a")) / cell_days),
        F.floor(F.unix_date(F.col("start_b")) / cell_days),
    )
    best, pairs = float("inf"), 0
    for _ in range(2):
        t0 = time.time()
        pairs = (
            ae.join(be, "cell")
            .filter(
                (F.col("start_a") <= F.col("end_b")) & (F.col("start_b") <= F.col("end_a")) & claim
            )
            .count()
        )
        best = min(best, time.time() - t0)
    return {"sec": round(best, 3), "pairs": pairs, "n_a": a.count(), "n_b": b.count()}


def _ann_scale_probe(spark, sf_dir: str) -> dict[str, float | int]:
    """Standing 20k-vector near-dup probe, FORCED onto the distributed
    sign-LSH candidate path (the corpus-size guard would route this size to
    the broadcast-matmul fast path): replicate embeddings 10x with a
    deterministic per-replica perturbation of one coordinate, then time
    embedding_neardup_pairs end to end. Keeps the scale path — the one the
    round-1 verdict flagged — measured every round, not just at the small
    size where the fast path wins."""
    from pyspark.sql import DataFrame  # noqa: PLC0415
    from pyspark.sql import functions as F  # noqa: PLC0415

    from data_integration_and_processing_spark.operators.similarity import (  # noqa: PLC0415
        embedding_neardup_pairs,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    reps = [
        e.select(
            (F.col("vec_id") + F.lit(i * 1_000_000)).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, j: (x + F.when(j == i, F.lit(0.001) * i).otherwise(F.lit(0.0))).cast(
                    "float"
                ),
            ).alias("embedding"),
        )
        for i in range(10)
    ]
    corpus = functools.reduce(DataFrame.unionByName, reps)
    t0 = time.time()
    # deeper tables for the higher threshold (the docstring's tuning rule):
    # 12 planes cut the random-pair collision rate from (1/2)^8 * 16 ≈ 6%
    # of all pairs to (1/2)^12 * 8 ≈ 0.2%, while pairs at cos ≈ 1 still
    # collide with p ≈ 0.95 per table across 8 tables
    pairs = embedding_neardup_pairs(
        corpus, threshold=0.95, force_path="lsh", n_planes=12, n_tables=8
    ).count()
    return {"sec": round(time.time() - t0, 3), "pairs": pairs, "vectors": 10 * e.count()}


def _kmeans_scale_probe(spark, sf_dir: str) -> dict[str, float | int]:
    """100k-vector distributed-Lloyd probe: the registered sim_kmeans_lloyd
    entry only ever sees the ~2k-row embeddings fixture at sf0.1, so the
    per-iteration k*(dim+2) partial-agg shuffle — the operator's whole scale
    claim — needs its own at-scale measurement. Vectors are synthesized
    deterministically (trig of (id, dim), no RNG) with 8 planted blobs
    offset by id mod 8, so the probe also records whether the planted
    structure is recovered (all clusters populated, inertia drops)."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from data_integration_and_processing_spark.operators.clustering import (  # noqa: PLC0415
        kmeans_lloyd,
    )

    n = 100_000
    df = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda d: F.sin(F.col("id").cast("double") * 0.37 + d.cast("double") * 1.7)
            + F.pmod(F.col("id"), F.lit(8)).cast("double") * 3.0,
        ).alias("embedding"),
    )
    t0 = time.time()
    _, model = kmeans_lloyd(df, k=8, n_iter=5)
    h = model.inertia_history
    return {
        "sec": round(time.time() - t0, 3),
        "vectors": n,
        "k": 8,
        "inertia_drop": round(h[-1] / h[0], 4) if h and h[0] > 0 else None,
        "clusters_nonempty": all(s > 0 for s in model.cluster_sizes),
    }


def _kmeans_k_scale_probe(spark, sf_dir: str) -> dict[str, dict]:
    """Large-k Lloyd probe (VERDICT r9 item 6): the registered audit and
    the 100k probe run k=8, but SemDeDup-style curation wants k in the
    hundreds-to-thousands, where the k*dim literal distance tree blows up
    whole-stage-codegen compile time (the failure mode r9 measured at
    small scale — and the literal tree recompiles EVERY iteration since
    the literal values change). Measures the k=64 gap in BOTH centers
    modes and k=256 on the broadcast path (auto picks broadcast past
    LITERAL_CENTERS_CAP=512 literal doubles), same 100k synthetic
    vectors as _kmeans_scale_probe."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from data_integration_and_processing_spark.operators.clustering import (  # noqa: PLC0415
        kmeans_lloyd,
    )

    n = 100_000
    df = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda d: F.sin(F.col("id").cast("double") * 0.37 + d.cast("double") * 1.7)
            + F.pmod(F.col("id"), F.lit(8)).cast("double") * 3.0,
        ).alias("embedding"),
    )
    out: dict[str, dict] = {}
    for label, k, mode in (
        ("k64_literal", 64, "literal"),
        ("k64_broadcast", 64, "broadcast"),
        ("k256_broadcast", 256, "broadcast"),
    ):
        t0 = time.time()
        _, model = kmeans_lloyd(df, k=k, n_iter=3, centers_mode=mode)
        h = model.inertia_history
        out[label] = {
            "sec": round(time.time() - t0, 3),
            "k": k,
            "inertia_drop": round(h[-1] / h[0], 4) if h and h[0] > 0 else None,
        }
    return out


def _classifier_width_probe(spark, sf_dir: str) -> dict[str, float | int | list]:
    """Hessian-free classifier probe at the width it was built for
    (VERDICT r9 item 5): D=8192 hashed features over the sf documents
    table, solver='cg' (auto would pick it anyway past GRAM_DIM_CAP=2048).
    Confirms the per-iteration cost stays O(D)-keyed (no D^2 Gram
    anywhere) and the truncated-Newton CG iteration count stays bounded
    (cap 10/step). Label = doc length above a fixed word count, so the
    model has real signal to descend on."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from data_integration_and_processing_spark.operators.classifier import (  # noqa: PLC0415
        hashed_token_features,
        train_logistic_regression,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        "text",
        (F.size(F.split("text", r"\s+")) > 40).cast("double").alias("label"),
    )
    n_features = 8192
    feats = hashed_token_features(d, label_col="label", n_features=n_features)
    t0 = time.time()
    model = train_logistic_regression(feats, n_features=n_features, n_iters=3, solver="cg")
    return {
        "sec": round(time.time() - t0, 3),
        "dim": n_features + 1,
        "newton_iters": len(model.losses) - 1,
        "cg_iters": list(model.cg_iters),
        "loss_drop": round(model.losses[-1] / model.losses[0], 4) if model.losses[0] else None,
        "monotone": all(b <= a for a, b in zip(model.losses, model.losses[1:])),
    }


def _pagerank_scale_probe(spark, sf_dir: str) -> dict[str, float | int]:
    """Standing pagerank-shaped probe (VERDICT r7 item 6): graph_pagerank is
    the census peak (68 shuffles / 42 broadcasts across 10 fixed power
    iterations), so iteration-lineage blowup — the classic iterative-DataFrame
    failure mode that localCheckpoint exists to prevent — would surface here
    first. The co-purchase edge set is replicated 10x into disjoint vertex-id
    spaces: same degree structure, 10x the per-iteration (id, double) shuffle
    volume, identical iteration count."""
    import functools as _ft  # noqa: PLC0415

    from pyspark.sql import DataFrame  # noqa: PLC0415
    from pyspark.sql import functions as F  # noqa: PLC0415

    from data_integration_and_processing_spark.operators.graph import pagerank  # noqa: PLC0415

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pairs = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("cust_v"),
            (F.col("l_partkey") * 2 + 1).alias("part_v"),
        )
        .distinct()
    )
    base = pairs.select(F.col("cust_v").alias("src"), F.col("part_v").alias("dst")).unionByName(
        pairs.select(F.col("part_v").alias("src"), F.col("cust_v").alias("dst"))
    )
    offset = 100_000_000
    edges = _ft.reduce(
        DataFrame.unionByName,
        [
            base.select(
                (F.col("src") + F.lit(i * offset)).alias("src"),
                (F.col("dst") + F.lit(i * offset)).alias("dst"),
            )
            for i in range(10)
        ],
    )
    n_iter = 10
    t0 = time.time()
    n_vertices = pagerank(edges, damping=0.85, n_iter=n_iter).count()
    return {
        "sec": round(time.time() - t0, 3),
        "iterations": n_iter,
        "vertices": n_vertices,
        "edges": 10 * base.count(),
    }


def _lpa_scale_probe(spark, sf_dir: str) -> dict[str, float | int]:
    """Label-propagation arm of the 10x iterative-graph probe: same
    replicated 12M-edge co-purchase graph as _pagerank_scale_probe, 4 fixed
    supersteps. Where pagerank moves O(V) (id, double) pairs per round, LPA's
    count shuffle is keyed by (dst, label) — up to O(E) partials before the
    map-side combine — so label-shuffle blowup or a broken edge
    co-partitioning would surface here and not in the pagerank arm."""
    import functools as _ft  # noqa: PLC0415

    from pyspark.sql import DataFrame  # noqa: PLC0415
    from pyspark.sql import functions as F  # noqa: PLC0415

    from data_integration_and_processing_spark.operators.graph import label_propagation  # noqa: PLC0415

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pairs = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("cust_v"),
            (F.col("l_partkey") * 2 + 1).alias("part_v"),
        )
        .distinct()
    )
    base = pairs.select(F.col("cust_v").alias("src"), F.col("part_v").alias("dst")).unionByName(
        pairs.select(F.col("part_v").alias("src"), F.col("cust_v").alias("dst"))
    )
    offset = 100_000_000
    edges = _ft.reduce(
        DataFrame.unionByName,
        [
            base.select(
                (F.col("src") + F.lit(i * offset)).alias("src"),
                (F.col("dst") + F.lit(i * offset)).alias("dst"),
            )
            for i in range(10)
        ],
    )
    n_iter = 4
    t0 = time.time()
    labels = label_propagation(edges, n_iter=n_iter)
    stats = labels.agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("label").alias("c")
    ).collect()[0]
    return {
        "sec": round(time.time() - t0, 3),
        "supersteps": n_iter,
        "vertices": int(stats["n"]),
        "communities": int(stats["c"]),
    }


def _kcore_scale_probe(spark, sf_dir: str) -> dict[str, float | int]:
    """k-core arm of the 10x iterative-graph probe (same replicated
    12M-edge co-purchase graph): the peel's cost profile is the INVERSE of
    pagerank/LPA — the edge list shrinks every superstep, so the probe
    watches that the first-round degree agg + two semi-joins dominate and
    later rounds get cheaper, not constant. Records survivor counts so a
    broken alive-filter (peeling too much or nothing) is visible, not just
    slow."""
    import functools as _ft  # noqa: PLC0415

    from pyspark.sql import DataFrame  # noqa: PLC0415
    from pyspark.sql import functions as F  # noqa: PLC0415

    from data_integration_and_processing_spark.operators.graph import kcore_peel  # noqa: PLC0415

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pairs = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("cust_v"),
            (F.col("l_partkey") * 2 + 1).alias("part_v"),
        )
        .distinct()
    )
    base = pairs.select(F.col("cust_v").alias("src"), F.col("part_v").alias("dst")).unionByName(
        pairs.select(F.col("part_v").alias("src"), F.col("cust_v").alias("dst"))
    )
    offset = 100_000_000
    edges = _ft.reduce(
        DataFrame.unionByName,
        [
            base.select(
                (F.col("src") + F.lit(i * offset)).alias("src"),
                (F.col("dst") + F.lit(i * offset)).alias("dst"),
            )
            for i in range(10)
        ],
    )
    k, n_iter = 3, 4
    t0 = time.time()
    cores = kcore_peel(edges, k=k, n_iter=n_iter)
    stats = cores.agg(
        F.count(F.lit(1)).alias("n"), F.sum("core_deg").alias("deg_sum")
    ).collect()[0]
    return {
        "sec": round(time.time() - t0, 3),
        "k": k,
        "supersteps": n_iter,
        "survivors": int(stats["n"]),
        "surviving_halfedges": int(stats["deg_sum"] or 0),
    }


def _fd_fold_probe(spark, sf_dir: str) -> dict[str, float | int | bool]:
    """Frequent-Directions fold-path probe (VERDICT r10 item 4): 200k
    synthetic d=64 vectors in 256 partitions — enough partials that the
    two-level sqrt(P)-group executor-side merge engages (threshold 64) —
    timed against the flat driver fold of the same input. At local[32]
    P=256 the driver fold is not yet the bottleneck, so the two should be
    close; the probe's job is a standing timing series for the tree path
    plus a hard check that the exact scalars (n, ||A||_F^2) are
    fold-shape-invariant."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from data_integration_and_processing_spark.operators.linalg import (  # noqa: PLC0415
        frequent_directions,
    )

    n, d, parts, sketch_rows = 200_000, 64, 256, 32
    vecs = (
        spark.range(n)
        .repartition(parts)
        .select(
            F.transform(
                F.sequence(F.lit(1), F.lit(d)),
                lambda j: F.sin(F.col("id").cast("double") * 0.7 + j.cast("double")),
            ).alias("embedding")
        )
    )
    t0 = time.time()
    _, n_flat, frob_flat = frequent_directions(
        vecs, sketch_rows=sketch_rows, tree_merge_threshold=10**9
    )
    flat_sec = time.time() - t0
    t0 = time.time()
    _, n_tree, frob_tree = frequent_directions(
        vecs, sketch_rows=sketch_rows, tree_merge_threshold=64
    )
    tree_sec = time.time() - t0
    return {
        "sec": round(tree_sec, 3),
        "flat_sec": round(flat_sec, 3),
        "rows": n,
        "dim": d,
        "partitions": parts,
        "sketch_rows": sketch_rows,
        "exact_scalars_equal": bool(
            n_flat == n_tree and abs(frob_flat - frob_tree) <= 1e-9 * abs(frob_flat)
        ),
    }


def _ivfpq_upsert_probe(spark, sf_dir: str) -> dict[str, float | int | bool]:
    """Incremental-maintenance probe (VERDICT r11 item 6 follow-through):
    50k synthetic d=64 vectors indexed once (IVFPQ, 16 cells), then a 5k
    batch (10%) lands twice — (a) UPSERTED into the existing index (assign
    to frozen cells + residual-encode against frozen codebooks + per-cell
    append) and (b) via a full REBUILD over base+batch. The ratio is the
    claim the operator exists to make: refresh cadence costs O(batch), a
    rebuild re-trains and re-encodes the corpus. Accounting boolean pins
    that the upserted index serves every row exactly once."""
    import shutil  # noqa: PLC0415

    from pyspark.sql import functions as F  # noqa: PLC0415

    from data_integration_and_processing_spark.operators.similarity import (  # noqa: PLC0415
        build_ivfpq_index,
        ivfpq_upsert,
    )

    n_base, n_batch, d = 50_000, 5_000, 64

    def _vecs(lo: int, hi: int):
        return (
            spark.range(lo, hi)
            .repartition(32)
            .select(
                F.col("id").alias("vec_id"),
                F.transform(
                    F.sequence(F.lit(1), F.lit(d)),
                    lambda j: F.sin(
                        F.col("id").cast("double") * 0.37 + j.cast("double")
                    ).cast("float"),
                ).alias("embedding"),
            )
        )

    base_path, rebuild_path = "/tmp/diaps_probe/ivfpq_upsert", "/tmp/diaps_probe/ivfpq_rebuild"
    shutil.rmtree("/tmp/diaps_probe", ignore_errors=True)
    build_ivfpq_index(_vecs(0, n_base), base_path, n_cells=16, m=8, nbits=4)
    t0 = time.time()
    ivfpq_upsert(_vecs(n_base, n_base + n_batch), base_path)
    upsert_sec = time.time() - t0
    t0 = time.time()
    build_ivfpq_index(_vecs(0, n_base + n_batch), rebuild_path, n_cells=16, m=8, nbits=4)
    rebuild_sec = time.time() - t0
    served = spark.read.parquet(f"{base_path}/data").count()
    shutil.rmtree("/tmp/diaps_probe", ignore_errors=True)
    return {
        "sec": round(upsert_sec, 3),
        "rebuild_sec": round(rebuild_sec, 3),
        "rebuild_over_upsert": round(rebuild_sec / upsert_sec, 2),
        "base_rows": n_base,
        "batch_rows": n_batch,
        "accounting_ok": bool(served == n_base + n_batch),
    }


def _model_rerank_probe(spark, sf_dir: str) -> dict:
    """Model-rerank serving-cost probe (VERDICT r14 item 6): the 100 TB
    claim on model_rerank_batch — stage-2 model cost ∝ batch *
    n_candidates, DECOUPLED from corpus size — was argued from the plan
    shape, not measured. Here the same 200-query batch reranks against a
    20k AND a 40k IVFPQ corpus sweeping n_candidates ∈ {50, 200, 800};
    stage2_sec times _model_rescore (the factored-out scorer + top-k
    stage) over a CHECKPOINTED shortlist, so candidate-generation noise
    can't leak into the model-cost series. The claim holds if stage2_sec
    tracks n_candidates and is flat across the corpus doubling (stage-1
    is the part that's allowed to grow with corpus size)."""
    import shutil  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415
    from pyspark.sql import functions as F  # noqa: PLC0415

    from data_integration_and_processing_spark.operators.similarity import (  # noqa: PLC0415
        _adc_shortlist,
        _model_rescore,
        build_ivfpq_index,
        model_rerank_batch,
    )

    d, n_queries = 64, 200
    w = np.linspace(0.5, 1.5, d)

    def _scorer(q: np.ndarray, c: np.ndarray) -> np.ndarray:
        return (q * c * w).sum(axis=1)

    def _vecs(n: int):
        return (
            spark.range(n)
            .repartition(32)
            .select(
                F.col("id").alias("vec_id"),
                F.transform(
                    F.sequence(F.lit(1), F.lit(d)),
                    lambda j: F.sin(
                        F.col("id").cast("double") * 0.37 + j.cast("double")
                    ).cast("float"),
                ).alias("embedding"),
            )
        )

    queries = [
        (i, [float(np.sin(i * 0.53 + j)) for j in range(1, d + 1)])
        for i in range(n_queries)
    ]
    root = "/tmp/diaps_probe/model_rerank"
    shutil.rmtree(root, ignore_errors=True)
    out: dict[str, dict] = {}
    def _best2(fn) -> float:
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            fn()
            best = min(best, time.time() - t0)
        return best

    for n_corpus in (20_000, 40_000):
        path = f"{root}/ivfpq_{n_corpus}"
        build_ivfpq_index(_vecs(n_corpus), path, n_cells=16, m=8, nbits=4)
        # warm the index scan + LUT-join + scorer paths once so cold-start
        # doesn't land on whichever sweep cell runs first
        model_rerank_batch(
            spark, path, queries, _scorer, k=10, n_candidates=50, nprobe=4
        ).count()
        per_cand: dict[str, dict] = {}
        for n_cand in (50, 200, 800):
            stage1_sec = _best2(
                lambda: _adc_shortlist(spark, path, queries, n_cand, nprobe=4).count()
            )
            short = _adc_shortlist(spark, path, queries, n_cand, nprobe=4).localCheckpoint(
                eager=True
            )
            stage2_sec = _best2(lambda: _model_rescore(short, _scorer, k=10).count())
            total_sec = _best2(
                lambda: model_rerank_batch(
                    spark, path, queries, _scorer, k=10, n_candidates=n_cand, nprobe=4
                ).count()
            )
            short.unpersist()
            per_cand[str(n_cand)] = {
                "stage1_sec": round(stage1_sec, 3),
                "stage2_sec": round(stage2_sec, 3),
                "total_sec": round(total_sec, 3),
                "shortlist_rows": n_queries * n_cand,
            }
        out[str(n_corpus)] = per_cand
    shutil.rmtree(root, ignore_errors=True)
    s20, s40 = out["20000"], out["40000"]
    return {
        # headline sec = the serving config the registered query uses
        "sec": s20["50"]["total_sec"],
        "corpora": out,
        "queries": n_queries,
        "dim": d,
        # the two booleans the 100 TB claim rests on: stage-2 grows with
        # n_candidates (16x candidates should cost visibly more)...
        "stage2_tracks_candidates": bool(
            s20["800"]["stage2_sec"] > s20["50"]["stage2_sec"]
        ),
        # ...and is corpus-flat: doubling the corpus moves stage-2 by less
        # than 50% at the widest fan-out (generous bound — scheduling noise
        # on sub-second stages; stage-1 is where corpus growth may land)
        "stage2_corpus_flat": bool(
            s40["800"]["stage2_sec"] <= s20["800"]["stage2_sec"] * 1.5 + 0.3
        ),
    }


def _probe_canary_units(obj, jvm_sec: float):
    """Annotate every probe timing with canary-normalized seconds (VERDICT
    r10 item 5): probes are single-shot and previously carried no drift
    correction, so a noisy box silently shifted the SCALE.md probe series
    (r10: pagerank 44.3s builder close vs 59.9s driver run, same code).
    sec / same-session-JVM-canary-sec is comparable across rounds the same
    way queries_normalized is for headliners."""
    if isinstance(obj, dict):
        out = {}
        for k, v in obj.items():
            out[k] = _probe_canary_units(v, jvm_sec)
            if k == "sec" and isinstance(v, (int, float)) and jvm_sec > 0:
                out["sec_canary_units"] = round(v / jvm_sec, 2)
        return out
    return obj


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")
    specs = catalog.all_specs()

    # warmup: JVM + codegen + parquet footer caches
    specs["q1_pricing_summary"].spark(spark, sf_dir).collect()

    # warmup: Python workers — one trivial Arrow batch per core forces the
    # worker spawn + pandas/numpy import (~7 s across 32 workers, paid once
    # per session; spark.python.worker.reuse keeps them alive thereafter, so
    # a long-lived cluster never pays it per query)
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415
    from pyspark.sql.types import DoubleType  # noqa: PLC0415

    @pandas_udf(DoubleType())
    def _warm(v: pd.Series) -> pd.Series:
        # hold the worker briefly so every core spawns its own (instant
        # tasks get served by a couple of reused workers, leaving the rest
        # of the pool cold)
        time.sleep(0.3)
        return v * 1.0

    n_cores = spark.sparkContext.defaultParallelism
    spark.range(n_cores, numPartitions=n_cores).select(_warm("id")).collect()

    # warmup: noop-sink write path — the timed queries execute through
    # .write.format("noop"), and the FIRST write in a session pays the
    # datasource/write-path class loading (~1 s); without this the cost
    # lands on whichever query runs first and reads as a regression
    spark.range(1).write.format("noop").mode("overwrite").save()

    canary = _run_canaries(spark, sf_dir)
    print(f"# canary: {canary}", file=sys.stderr)

    # r16 (VERDICT r15 "What's wrong" #1): the ANN serve-path entries probe a
    # fingerprint-keyed index cache under /tmp/diaps_scratch that survives
    # bench invocations, so their best-of-3 numbers time a WARM-INDEX probe,
    # never the build. Make the policy explicit instead of implicit: wipe the
    # index caches once, then time ONE scratch-cold invocation per index KIND
    # (build + probe, through the same noop sink) as an ADDED `<name>_cold`
    # entry — one representative query per kind; sim_rerank_eval_raw shares
    # the eval index with sim_retrieval_ndcg_mrr so it has no cold twin. The
    # warm best-of-3 loop below then times exactly what r14/r15 timed, so
    # existing entries stay round-over-round comparable, and the build cost
    # finally has its own tracked number at fixture scale (the at-volume
    # build cost is separately tracked by ivfpq_upsert_probe_50k's rebuild
    # arm). The cold numbers live in BENCH_DETAIL + stderr, NOT in the
    # driver-contract queries/value (VERDICT r15 item 2's own Done
    # criterion: "driver contract ... untouched") — they are a separate
    # reported component, not headline entries, so cross-round totals stay
    # comparable.
    import shutil  # noqa: PLC0415

    for stale in glob.glob("/tmp/diaps_scratch/*_index_*"):
        shutil.rmtree(stale, ignore_errors=True)
    raw_paths = _raw_headline_paths()
    cold_timings: dict[str, float] = {}
    for name in (
        "sim_topk_ivf",            # kind: ivfpq (the 8-cell index sim_topk_ivfpq shares)
        "sim_retrieval_ndcg_mrr",  # kind: ivfpq_eval (also serves sim_rerank_eval_raw)
        "sim_ivfpq_upsert_raw",    # kind: ivfpq_upsert (base build + batch upsert)
        "pipeline_rag_ingest_raw", # kind: ragivfpq (embed + build + probe)
    ):
        fn = raw_paths[name] if name in raw_paths else specs[name].spark
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        cold_timings[f"{name}_cold"] = round(time.time() - t0, 3)
        print(f"# {name}_cold: {cold_timings[f'{name}_cold']}s", file=sys.stderr)

    # best-of-3 per query: in-session drift (GC pauses, executor-thread
    # scheduling, Python-worker pool warm-up, page-cache state) adds
    # ~±20-35% to single runs — pandas-UDF queries drift hardest while the
    # worker pool warms — which false-alarms the regression gate; the min
    # of three runs is a stable noise floor for a fixed plan on a warm JVM
    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = raw_paths[name] if name in raw_paths else specs[name].spark
        best = float("inf")
        for _ in range(3):
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        timings[name] = round(best, 3)
        print(f"# {name}: {timings[name]}s", file=sys.stderr)

    probe = _dedup_scale_probe(spark, sf_dir)
    print(f"# dedup_scale_probe_50k: {probe}", file=sys.stderr)

    jaccard_probe = _jaccard_prefix_probe(spark, sf_dir)
    print(f"# jaccard_prefix_probe_50k: {jaccard_probe}", file=sys.stderr)

    ann_probe = _ann_scale_probe(spark, sf_dir)
    print(f"# ann_scale_probe_20k: {ann_probe}", file=sys.stderr)

    interval_probe = _interval_scale_probe(spark, sf_dir)
    print(f"# interval_scale_probe_60k: {interval_probe}", file=sys.stderr)

    pagerank_probe = _pagerank_scale_probe(spark, sf_dir)
    print(f"# pagerank_scale_probe_10x: {pagerank_probe}", file=sys.stderr)

    lpa_probe = _lpa_scale_probe(spark, sf_dir)
    print(f"# lpa_scale_probe_10x: {lpa_probe}", file=sys.stderr)

    kcore_probe = _kcore_scale_probe(spark, sf_dir)
    print(f"# kcore_scale_probe_10x: {kcore_probe}", file=sys.stderr)

    kmeans_probe = _kmeans_scale_probe(spark, sf_dir)
    print(f"# kmeans_scale_probe_100k: {kmeans_probe}", file=sys.stderr)

    kmeans_k_probe = _kmeans_k_scale_probe(spark, sf_dir)
    print(f"# kmeans_k_scale_probe_100k: {kmeans_k_probe}", file=sys.stderr)

    classifier_probe = _classifier_width_probe(spark, sf_dir)
    print(f"# classifier_width_probe_d8192: {classifier_probe}", file=sys.stderr)

    fd_probe = _fd_fold_probe(spark, sf_dir)
    print(f"# fd_fold_probe_p256: {fd_probe}", file=sys.stderr)

    upsert_probe = _ivfpq_upsert_probe(spark, sf_dir)
    print(f"# ivfpq_upsert_probe_50k: {upsert_probe}", file=sys.stderr)

    rerank_probe = _model_rerank_probe(spark, sf_dir)
    print(f"# model_rerank_probe_20k40k: {rerank_probe}", file=sys.stderr)

    baseline_name, baseline, base_canary = _baseline_queries(sf)
    # Host drift this round = how much the code-frozen canary pair moved vs
    # the previous round's recording; the regression threshold widens (or
    # tightens, floor 1.0 so a fast host never masks a real regression) by
    # the larger of the two. First canary round: drift = 1.
    drift = 1.0
    drift_detail = {}
    # shuffle_sec joined the drift model in r14 (VERDICT r13 item 2): the
    # r13-recorded shuffle canary (0.84s) read ~2x on the r14 box while the
    # jvm canary read only ~1.17x, and the flagged "regressions" were
    # exactly the shuffle/iterative shapes — the single-stage pair
    # under-models parallel shuffle + task-scheduling throughput, which is
    # what most of the catalog's heavy queries are bound by. All three
    # workloads are code-frozen; the cap below still bounds the widening.
    for k in ("jvm_sec", "arrow_sec", "shuffle_sec"):
        if base_canary.get(k) and canary.get(k):
            r = canary[k] / base_canary[k]
            drift_detail[k] = round(r, 3)
            drift = max(drift, r)
    # Sanity cap (ADVICE r6): an unbounded drift factor would let a single
    # pathological canary run suppress every regression flag. Past a 1.5x
    # swing the environment is too unstable to adjudicate — cap the widening
    # and say so loudly rather than silently absorbing real regressions.
    DRIFT_CAP = 1.5
    drift_capped = drift > DRIFT_CAP
    if drift_capped:
        print(
            f"# WARNING: canary drift {drift:.2f}x exceeds sanity cap {DRIFT_CAP}x — "
            "threshold widening capped; treat this round's regression flags as "
            "environment-suspect and re-run",
            file=sys.stderr,
        )
        drift = DRIFT_CAP
    regressions = {}
    for name, sec in timings.items():
        base = baseline.get(name)
        if base and sec > base * REGRESSION_RATIO * drift and sec - base * drift > REGRESSION_FLOOR_SEC:
            regressions[name] = {"baseline": base, "now": sec, "ratio": round(sec / base, 2),
                                 "ratio_drift_adjusted": round(sec / (base * drift), 2)}
            print(f"# REGRESSION {name}: {base}s -> {sec}s ({sec / base:.2f}x, "
                  f"{sec / (base * drift):.2f}x drift-adjusted)", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    # Full payload -> BENCH_DETAIL.json (repo-committed; next run's baseline).
    # stdout gets ONLY the driver-contract line — the driver captures a
    # ~2000-char stdout tail, and the old fat line outgrew it (r6/r7 both
    # recorded "parsed": null), so everything else moves to the detail file
    # and stderr.
    detail = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        # timings in units of the same-session JVM canary: comparable across
        # rounds even when the host itself speeds up or slows down
        "queries_normalized": {n: round(s / canary["jvm_sec"], 2) for n, s in timings.items()},
        # ... and in units of the shuffle canary (FIRST-CLASS since r15,
        # VERDICT r14 item 4): the shuffle canary read ~2x its r13
        # recording for the THIRD consecutive round (r13 0.84 -> r14
        # 1.32-1.99 -> r15 ~2.0s) while the single-stage jvm canary moved
        # only ~1.2x, and the queries that flip regression flags between
        # same-code runs are exactly the shuffle/iterative shapes. For
        # those shapes THIS is the comparable cross-round unit; for
        # scan-dominated queries use queries_normalized. BENCH_DETAIL was
        # re-baselined once at r15 under the elevated-shuffle environment
        # (per-query min of two runs), so future drift ratios are measured
        # against a recording made in the same regime.
        "queries_normalized_shuffle": {
            n: round(s / canary["shuffle_sec"], 2) for n, s in timings.items()
        },
        "canary": canary,
        # scratch-cold build+probe per index kind (r16, VERDICT r15 item 2):
        # what one serving-stack invocation costs when the fingerprint-keyed
        # index cache is empty — the component the warm headline entries
        # deliberately exclude
        "index_cold_builds": cold_timings,
        "canary_drift": drift_detail or None,
        "drift_factor": round(drift, 3),
        "drift_capped": drift_capped,
        "sf": sf,
        # probes carry sec_canary_units siblings (drift-normalized; VERDICT
        # r10 item 5) — compare THOSE across rounds, raw sec only within one
        "dedup_scale_probe_50k": _probe_canary_units(probe, canary["jvm_sec"]),
        "jaccard_prefix_probe_50k": _probe_canary_units(jaccard_probe, canary["jvm_sec"]),
        "ann_scale_probe_20k": _probe_canary_units(ann_probe, canary["jvm_sec"]),
        "interval_scale_probe_60k": _probe_canary_units(interval_probe, canary["jvm_sec"]),
        "pagerank_scale_probe_10x": _probe_canary_units(pagerank_probe, canary["jvm_sec"]),
        "lpa_scale_probe_10x": _probe_canary_units(lpa_probe, canary["jvm_sec"]),
        "kcore_scale_probe_10x": _probe_canary_units(kcore_probe, canary["jvm_sec"]),
        "kmeans_scale_probe_100k": _probe_canary_units(kmeans_probe, canary["jvm_sec"]),
        "kmeans_k_scale_probe_100k": _probe_canary_units(kmeans_k_probe, canary["jvm_sec"]),
        "classifier_width_probe_d8192": _probe_canary_units(classifier_probe, canary["jvm_sec"]),
        "fd_fold_probe_p256": _probe_canary_units(fd_probe, canary["jvm_sec"]),
        "ivfpq_upsert_probe_50k": _probe_canary_units(upsert_probe, canary["jvm_sec"]),
        "model_rerank_probe_20k40k": _probe_canary_units(rerank_probe, canary["jvm_sec"]),
        "baseline": baseline_name,
        "regressions": regressions,
    }
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, DETAIL_FILE), "w") as f:
        json.dump(detail, f, indent=1)
        f.write("\n")
    print(f"# full detail (probes, canary, regressions) -> {DETAIL_FILE}", file=sys.stderr)
    # compact per-query seconds (2 decimals) keep the line inside the
    # driver's capture window; full 3-decimal timings live in the detail file
    print(json.dumps({
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": {n: round(s, 2) for n, s in timings.items()},
        "sf": sf,
    }, separators=(",", ":")))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
