"""Behavioral checks for the similarity/ANN layer. Cell and bucket
assignment is engine-specific, so no SQL oracle sees it: the contracts are
recall against the exact brute-force top-k, the IVFPQ index lifecycle
(upsert, tombstone delete, compaction) and serving paths that must equal
their reference form (batch vs single probe, arms vs separate probes), and
the retrieval-eval arithmetic."""

from __future__ import annotations

import math
import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_integration_and_processing_spark.operators.similarity import (
    brute_force_topk,
    build_ivfpq_index,
    ivfpq_probe,
    ivfpq_probe_batch,
    ivfpq_upsert,
    tiny_local_df,
)
from data_integration_and_processing_spark.queries import catalog
from data_integration_and_processing_spark.queries.similarity_queries import (
    _TOPK_RECALL_FLOORS,
    sim_topk_ivf_raw,
    sim_topk_lsh_raw,
    sim_topk_pq_raw,
)

SPECS = catalog.all_specs()

SF_DIR_TINY = "/root/testdata/sf0.001"

RAW = {"ivf": sim_topk_ivf_raw, "lsh": sim_topk_lsh_raw, "pq": sim_topk_pq_raw}


@pytest.fixture(scope="module")
def bf_top10(spark, sf_dir):
    return [r.vec_id for r in SPECS["sim_topk_bruteforce"].spark(spark, sf_dir).collect()]


def _recall(approx_ids, exact_ids):
    return len(set(approx_ids) & set(exact_ids)) / len(exact_ids)


def test_ivf_recall(spark, sf_dir, bf_top10):
    ivf = [r.vec_id for r in RAW["ivf"](spark, sf_dir).collect()]
    assert len(ivf) == 10
    # nprobe=2 of 8 cells scans ~25% of the corpus; anything at/above that
    # fraction means the coarse quantizer concentrates true neighbors.
    # Floor shared with the registered query's recall_ok boolean.
    assert _recall(ivf, bf_top10) >= _TOPK_RECALL_FLOORS["ivf"]


def test_lsh_recall(spark, sf_dir, bf_top10):
    lsh = [r.vec_id for r in RAW["lsh"](spark, sf_dir).collect()]
    assert len(lsh) == 10
    # 8 tables x 4 planes; fixture neighbors are weak (cos ~0.3 => per-bit
    # collision ~0.6 => per-table ~0.13, union over 8 tables ~0.67).
    assert _recall(lsh, bf_top10) >= _TOPK_RECALL_FLOORS["lsh"]


def test_pq_recall(spark, sf_dir, bf_top10):
    pq = [r.vec_id for r in RAW["pq"](spark, sf_dir).collect()]
    assert len(pq) == 10
    # 8x4-bit codebooks + exact re-rank of an 80-candidate refine pool; the
    # ADC ordering concentrates true neighbors far better than chance (0.16)
    assert _recall(pq, bf_top10) >= _TOPK_RECALL_FLOORS["pq"]


def test_approx_results_are_subset_quality(spark, sf_dir, bf_top10):
    """Every approx result must be a real vector with cos_sim <= the exact
    best — i.e. approximation never invents better-than-exact scores."""
    bf = {r.vec_id: r.cos_sim for r in SPECS["sim_topk_bruteforce"].spark(spark, sf_dir).collect()}
    best = max(bf.values())
    for name, raw in RAW.items():
        for r in raw(spark, sf_dir).collect():
            assert r.cos_sim <= best + 1e-9, f"{name} produced impossible score {r.cos_sim}"


def test_audited_topk_entries_report_recall_ok(spark, sf_dir, bf_top10):
    """The registered entries return the exact top-10 plus a recall_ok
    verdict that must be True on the fixture (same floors the driver
    hash-checks via the constant-true oracle column)."""
    for name in ("sim_topk_ivf", "sim_topk_lsh", "sim_topk_pq"):
        rows = SPECS[name].spark(spark, sf_dir).collect()
        assert len(rows) == 10
        assert sorted(r.vec_id for r in rows) == sorted(bf_top10)
        assert all(r.recall_ok for r in rows), f"{name} recall below floor"


def test_neardup_lsh_path_matches_broadcast_path(spark, sf_dir):
    """The distributed sign-LSH candidate stage must reproduce the exact
    broadcast-matmul pair set on the fixture. Threshold
    0.4 is a hard regime for sign-LSH (per-bit collision ~0.63), so the
    test uses shallow/wide tables; params are seeded => deterministic."""
    from data_integration_and_processing_spark.operators.similarity import (
        embedding_neardup_pairs,
    )
    from data_integration_and_processing_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    kw = dict(threshold=0.4, n_planes=4, n_tables=48, seed=42)
    exact = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in embedding_neardup_pairs(e, force_path="broadcast", **kw).collect()
    }
    lsh = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in embedding_neardup_pairs(e, force_path="lsh", **kw).collect()
    }
    assert len(exact) > 0
    assert lsh == exact


def test_neardup_size_guard_routes_large_corpora_to_lsh(spark, sf_dir):
    """With broadcast_max_bytes below the corpus size estimate the guard
    must take the distributed path and still verify exactly."""
    from data_integration_and_processing_spark.operators.similarity import (
        embedding_neardup_pairs,
    )
    from data_integration_and_processing_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    guarded = embedding_neardup_pairs(
        e, threshold=0.4, broadcast_max_bytes=1024, n_planes=4, n_tables=48
    )
    forced = embedding_neardup_pairs(e, threshold=0.4, force_path="lsh", n_planes=4, n_tables=48)
    assert sorted(map(tuple, guarded.collect())) == sorted(map(tuple, forced.collect()))


def test_size_estimate_is_planning_time_and_sane(spark, sf_dir):
    """The routing guard must read Catalyst statistics, not run a job: the
    fixture's 500-vector corpus estimates in the KB-MB range (a broken
    accessor silently returning the huge fallback would flip every small
    corpus onto the low-recall LSH path — this caught a real bug)."""
    from data_integration_and_processing_spark.operators.similarity import _estimated_bytes
    from data_integration_and_processing_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    e = load_table(spark, sf_dir, "embeddings")
    iv = e.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"))
    est = _estimated_bytes(iv)
    assert 1_000 < est < 64 << 20, f"implausible size estimate: {est}"


def test_ann_join_ivf_recall_floor(spark, sf_dir):
    """IVF k-NN join recall@10 vs the exact join, nprobe=2 of 8 cells."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from data_integration_and_processing_spark.operators.similarity import ann_join_ivf, cosine

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") % 25 == 0).select(F.col("vec_id").alias("query_id"), "embedding")
    c = e.filter(F.col("vec_id") % 25 != 0)

    approx = ann_join_ivf(q, c, k=10, n_cells=8, nprobe=2)
    got = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}

    qq = q.select("query_id", F.col("embedding").alias("q_emb"))
    scored = c.join(F.broadcast(qq)).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cosine(F.col("embedding"), F.col("q_emb")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 10).collect()
    }
    recall = len(got & exact) / len(exact)
    # nprobe=2/8 on clustered synthetic embeddings: observed well above this
    # floor; the pin exists to catch routing regressions, not to flatter
    assert recall >= 0.5, recall

    # every query produced exactly k candidates (cells are non-empty at 8
    # cells over ~4800 vectors)
    n_q = q.count()
    assert approx.count() == 10 * n_q


def test_mmr_rerank_diversifies(spark, sf_dir):
    """MMR-selected sets are more diverse than plain top-k at the same k,
    lambda=1 degenerates to pure relevance order, and ties/output are
    deterministic."""
    import numpy as np
    from pyspark.sql import functions as F

    from data_integration_and_processing_spark.operators.similarity import cosine, mmr_rerank

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = e.filter(F.col("vec_id") == 7).select(F.col("embedding").alias("qv"))
    cand = (
        e.crossJoin(F.broadcast(qv))
        .select("vec_id", "embedding", F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(100)
    )

    def avg_pairwise(ids):
        rows = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in e.filter(
            F.col("vec_id").isin([int(i) for i in ids])).collect()}
        vs = [rows[i] / np.linalg.norm(rows[i]) for i in ids]
        n = len(vs)
        return sum(float(vs[i] @ vs[j]) for i in range(n) for j in range(i + 1, n)) / (n * (n - 1) / 2)

    topk = [r["vec_id"] for r in cand.limit(10).collect()]
    mmr = [r["vec_id"] for r in mmr_rerank(cand, lam=0.5, k=10).orderBy("mmr_rank").collect()]
    assert len(mmr) == 10 and len(set(mmr)) == 10
    assert avg_pairwise(mmr) < avg_pairwise(topk)

    pure = [r["vec_id"] for r in mmr_rerank(cand, lam=1.0, k=10).orderBy("mmr_rank").collect()]
    assert pure == topk

    again = [r["vec_id"] for r in mmr_rerank(cand, lam=0.5, k=10).orderBy("mmr_rank").collect()]
    assert again == mmr


def test_recall_audit_monotone_and_exhaustive_exact(spark, sf_dir):
    """sim_ann_recall_audit's nprobe sweep must be monotone non-decreasing
    in recall, and nprobe = n_cells (exhaustive probing) must recover the
    exact top-k bit-for-bit (recall 1.0) — the in-plan proof that IVF loses
    ONLY what cell pruning skips."""
    from data_integration_and_processing_spark.queries import catalog
    from data_integration_and_processing_spark.queries.similarity_queries import (
        ann_recall_curve,
    )

    rows = ann_recall_curve(spark, sf_dir).collect()
    by_nprobe = {r["nprobe"]: r for r in rows}
    assert list(by_nprobe) == [2, 4, 8]
    means = [by_nprobe[n]["mean_recall"] for n in (2, 4, 8)]
    assert means == sorted(means)
    assert by_nprobe[8]["mean_recall"] == 1.0
    assert by_nprobe[8]["min_recall"] == 1.0

    # the registered (driver-checked) projection: every floor must hold
    audit = catalog.all_specs()["sim_ann_recall_audit"].spark(spark, sf_dir).collect()
    assert all(r["mean_ok"] and r["min_ok"] for r in audit), audit


def test_mips_via_ivf_serves_inner_product_with_recall_floor(spark, sf_dir):
    """MIPS served THROUGH the cosine IVF index. The
    registered audit's exact half must equal a numpy brute-force MIPS
    top-10 (selected by unrounded dot, id tiebreak), recall_ok must hold,
    and the raw IVF-served set must actually meet the floor it gates."""
    import numpy as np

    from data_integration_and_processing_spark.queries.similarity_queries import (
        _MIPS_IVF_RECALL_FLOOR,
        sim_mips_via_ivf,
        sim_mips_via_ivf_raw,
    )

    out = sim_mips_via_ivf(spark, sf_dir).collect()
    assert all(r["recall_ok"] for r in out)

    pdf = spark.read.parquet(f"{sf_dir}/embeddings.parquet").toPandas()
    x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    ids = pdf["vec_id"].to_numpy()
    qmask = ids % 100 == 0
    exact_expected = {}
    for qi in ids[qmask]:
        qv = x[ids == qi][0]
        dots = x[~qmask] @ qv
        cand_ids = ids[~qmask]
        order = np.lexsort((cand_ids, -dots))[:10]
        exact_expected[int(qi)] = [int(cand_ids[j]) for j in order]
    got = {}
    for r in out:
        got.setdefault(int(r["query_id"]), []).append(int(r["neighbor_id"]))
    assert got == exact_expected

    approx = {
        (int(r["query_id"]), int(r["neighbor_id"]))
        for r in sim_mips_via_ivf_raw(spark, sf_dir).collect()
    }
    exact_pairs = {(q, n) for q, ns in exact_expected.items() for n in ns}
    recall = len(exact_pairs & approx) / len(exact_pairs)
    assert recall >= _MIPS_IVF_RECALL_FLOOR, recall


def test_ivfpq_probe_is_partition_pruned_and_meets_floor(spark, sf_dir, tmp_path):
    """The combined IVF+PQ index: probes must partition-prune to the nprobe
    cells (PartitionFilters on _cell), rank by residual-code ADC, and the
    refined top-10 must meet the registered recall floor vs brute force."""
    from pyspark.sql import functions as F

    from data_integration_and_processing_spark.operators.similarity import (
        brute_force_topk,
        build_ivfpq_index,
        ivfpq_probe,
    )
    from data_integration_and_processing_spark.queries.similarity_queries import (
        _TOPK_RECALL_FLOORS,
        _query_vector,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(F.col("vec_id") != 0)
    q = _query_vector(spark, sf_dir, 0)
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(e, path, n_cells=8, m=8, nbits=4)
    probed = ivfpq_probe(spark, path, q, k=10, nprobe=4, refine=16)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_cell" in plan
    approx = {r["vec_id"] for r in probed.collect()}
    exact = {r["vec_id"] for r in brute_force_topk(e, q, k=10).collect()}
    assert len(exact & approx) >= _TOPK_RECALL_FLOORS["ivfpq"] * 10
    # nprobe = n_cells degenerates to exhaustive ADC + refine: with refine
    # covering the probed rows' top ranks this must contain >= the pruned run
    full = {
        r["vec_id"] for r in ivfpq_probe(spark, path, q, k=10, nprobe=8, refine=16).collect()
    }
    assert len(exact & full) >= len(exact & approx)


def test_ivf_flat_probe_is_exact_over_the_probed_cells(spark, sf_dir, tmp_path):
    """``refine=None`` skips the ADC cut (IVF-flat): every row of the probed
    cells is ranked by exact cosine. Probing every cell returns exactly the
    brute-force rows; probing fewer returns the brute-force top-k of the
    probed ``_cell`` partitions, the cells nearest the unit query."""
    from data_integration_and_processing_spark.queries.similarity_queries import _query_vector

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(F.col("vec_id") != 0)
    q = _query_vector(spark, sf_dir, 0)
    path = str(tmp_path / "ivfflat")
    build_ivfpq_index(e, path, n_cells=8, m=8, nbits=4)

    def rows(df):
        return [(r["vec_id"], r["cos_sim"]) for r in df.collect()]

    full = rows(ivfpq_probe(spark, path, q, k=10, nprobe=8, refine=None))
    assert full == rows(brute_force_topk(e, q, k=10))

    centers = {
        r["cell"]: np.asarray(r["center"])
        for r in spark.read.parquet(f"{path}/centroids").collect()
    }
    uq = np.asarray(q) / np.linalg.norm(q)
    by_dist = sorted(centers, key=lambda c: (float(np.linalg.norm(uq - centers[c])), c))
    for nprobe in (2, 4):
        cells = by_dist[:nprobe]
        probed = spark.read.parquet(f"{path}/data").filter(F.col("_cell").isin(cells))
        expect = brute_force_topk(probed, q, k=10, vec_col="v", id_col="id")
        got = rows(ivfpq_probe(spark, path, q, k=10, nprobe=nprobe, refine=None))
        assert got == [(r["id"], r["cos_sim"]) for r in expect.collect()], nprobe


def test_hamming_topk_bounds_and_self_distance(spark, sf_dir):
    rows = SPECS["sim_binary_hamming_topk"].spark(spark, sf_dir).collect()
    assert rows and all(0 <= r["hamming"] <= 64 for r in rows)
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r)
    for q, rs in per_q.items():
        assert [r["rank"] for r in sorted(rs, key=lambda r: r["rank"])] == list(
            range(1, len(rs) + 1)
        )
        hams = [r["hamming"] for r in sorted(rs, key=lambda r: r["rank"])]
        assert hams == sorted(hams)


def test_hamming_correlates_with_cosine(spark, sf_dir):
    """Sign codes must be informative: the Hamming top-10 of query 0 should
    overlap the exact cosine top-10 far better than chance (50 codes vs a
    ~500-vector corpus)."""
    from pyspark.sql import functions as F

    ham = {
        r["neighbor_id"]
        for r in SPECS["sim_binary_hamming_topk"].spark(spark, sf_dir).collect()
        if r["query_id"] == 0
    }
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    dot = F.aggregate(
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            F.col("qv").cast("array<double>"),
            lambda a, b: a * b,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    topcos = (
        e.filter(F.col("vec_id") >= 5)
        .crossJoin(F.broadcast(q))
        .select("vec_id", dot.alias("dot"))
        .orderBy(F.desc("dot"), F.asc("vec_id"))
        .limit(10)
        .collect()
    )
    overlap = len(ham & {r["vec_id"] for r in topcos})
    assert overlap >= 3, f"hamming/cosine top-10 overlap only {overlap}"


def test_mips_augmentation_equivalence_any_k(spark, sf_dir):
    """The norm-augmentation reduction must agree with raw inner-product
    ranking at any k and for any query vector (cosine of the augmented
    vectors is a monotone transform of the dot)."""
    from pyspark.sql import functions as F

    from data_integration_and_processing_spark.operators.similarity import mips_topk

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") == 7).first()["embedding"]
    raw, aug = mips_topk(e.filter(F.col("vec_id") != 7), list(q), k=25)
    raw_ids = [r["vec_id"] for r in raw.collect()]
    aug_ids = [r["vec_id"] for r in aug.collect()]
    assert set(raw_ids) == set(aug_ids)
    # full rank order also agrees (monotone transform, shared tiebreak)
    assert raw_ids == aug_ids


@pytest.fixture(scope="module")
def upserted_index(spark, sf_dir):
    """Base index on 90% of the corpus + the %10==3 slice upserted —
    built fresh in a test-owned scratch dir (never the fingerprint cache,
    so assertions see a known-clean build)."""
    path = "/tmp/diaps_test_scratch/ivfpq_upsert_unit"
    shutil.rmtree(path, ignore_errors=True)
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(F.col("vec_id") != 0)
    base = e.filter(F.col("vec_id") % 10 != 3)
    batch = e.filter(F.col("vec_id") % 10 == 3)
    build_ivfpq_index(base, path, n_cells=8, m=8, nbits=4)
    base_files = {
        f: os.path.getsize(os.path.join(root, f))
        for root, _, fs in os.walk(f"{path}/data")
        for f in fs
        if f.endswith(".parquet")
    }
    ivfpq_upsert(batch, path)
    return {"path": path, "e": e, "base": base, "batch": batch, "base_files": base_files}


def test_ivfpq_probe_batch_equals_single_probes(spark, upserted_index):
    """The distributed batch plan must return EXACTLY the per-query probe
    results (same routing, same ADC, same tiebreaks) — the whole point of
    the rewrite is plan cost, not semantics."""
    e = upserted_index["e"]
    path = upserted_index["path"]
    qs = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in e.filter(F.col("vec_id").isin([1, 101, 201])).collect()
    ]
    got = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["cos_sim"])
        for r in ivfpq_probe_batch(spark, path, qs, k=10, nprobe=4, refine=16).collect()
    }
    for qid, vec in qs:
        single = ivfpq_probe(spark, path, vec, k=10, nprobe=4, refine=16).collect()
        for rank, row in enumerate(single, start=1):
            assert got[(qid, rank)] == (row["vec_id"], row["cos_sim"])


def test_ivfpq_upsert_accounting(spark, upserted_index):
    """Every base row + every appended row is servable, exactly once."""
    idx_n = spark.read.parquet(f"{upserted_index['path']}/data").count()
    assert idx_n == upserted_index["e"].count()
    # per-cell totals must also reconcile (the append landed in real cells)
    cells = (
        spark.read.parquet(f"{upserted_index['path']}/data")
        .groupBy("_cell")
        .count()
        .collect()
    )
    assert sum(r["count"] for r in cells) == idx_n
    assert all(0 <= r["_cell"] < 8 for r in cells)


def test_ivfpq_upsert_never_rewrites_base_files(upserted_index):
    """Append-only contract: the base build's data files survive the upsert
    byte-for-byte (same names, same sizes) — at 100 TB this is the entire
    point of incremental maintenance."""
    after = {
        f: os.path.getsize(os.path.join(root, f))
        for root, _, fs in os.walk(f"{upserted_index['path']}/data")
        for f in fs
        if f.endswith(".parquet")
    }
    for name, size in upserted_index["base_files"].items():
        assert after.get(name) == size
    assert len(after) > len(upserted_index["base_files"])


def test_ivfpq_upserted_vectors_find_themselves(spark, upserted_index):
    """Self-retrieval through the post-upsert index: an appended vector's
    cell assignment IS its nearest center, so nprobe=1 routes to it and the
    exact refine ranks it first."""
    rows = upserted_index["batch"].orderBy("vec_id").limit(3).collect()
    for r in rows:
        top = ivfpq_probe(
            spark,
            upserted_index["path"],
            [float(x) for x in r["embedding"]],
            k=1,
            nprobe=1,
            refine=16,
        ).collect()
        assert top[0]["vec_id"] == r["vec_id"]
        assert top[0]["cos_sim"] == pytest.approx(1.0, abs=1e-6)


def test_ivfpq_upsert_rejects_dim_mismatch(spark, upserted_index):
    bad = spark.createDataFrame(
        [(999_999, [0.0] * 32)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="dim"):
        ivfpq_upsert(bad, upserted_index["path"])


def test_dcg_weights_are_9dp_log2_discounts():
    from data_integration_and_processing_spark.queries.similarity_queries import _DCG_W

    assert len(_DCG_W) == 10
    for i, w in enumerate(_DCG_W, start=1):
        assert w == pytest.approx(1.0 / math.log2(i + 1), abs=5e-10)
        assert w == float(f"{w:.9f}")  # frozen at the literal's precision


def _eval_frames(spark, exact_rows, ann_rows):
    exact = spark.createDataFrame(
        exact_rows, "query_id long, neighbor_id long, g double, rank int"
    )
    ann = spark.createDataFrame(ann_rows, "query_id long, neighbor_id long, rank int")
    return exact, ann


def test_ndcg_mrr_idcg_micro_is_the_hand_sum(spark):
    """idcg_micro must equal the hand-computed integer sum of per-rank
    terms round(g * w[rank] * 1e6) — the order-independent BIGINT contract
    the oracle hash rides on."""
    from data_integration_and_processing_spark.queries.similarity_queries import (
        _DCG_W,
        _ndcg_mrr_path,
    )

    exact, ann = _eval_frames(
        spark,
        [(1, 11, 0.9, 1), (1, 12, 0.8, 2), (1, 13, 0.7, 3)],
        [(1, 11, 1), (1, 12, 2), (1, 13, 3)],  # perfect retrieval
    )
    rows = _ndcg_mrr_path(exact, ann, "ivfpq").collect()
    assert len(rows) == 1
    want = sum(round(g * _DCG_W[r - 1] * 1e6) for g, r in ((0.9, 1), (0.8, 2), (0.7, 3)))
    assert rows[0]["idcg_micro"] == want
    assert rows[0]["ndcg_ok"] and rows[0]["mrr_ok"]  # nDCG = MRR = 1.0


def test_ndcg_mrr_verdicts_fail_on_disjoint_retrieval(spark):
    """An ANN list sharing nothing with the exact top-10 must report
    mean nDCG = MRR = 0 and flip both floor booleans false."""
    from data_integration_and_processing_spark.queries.similarity_queries import (
        _ndcg_mrr_path,
    )

    exact, ann = _eval_frames(
        spark,
        [(1, 11, 0.9, 1), (1, 12, 0.8, 2)],
        [(1, 98, 1), (1, 99, 2)],
    )
    rows = _ndcg_mrr_path(exact, ann, "ivfpq").collect()
    assert not rows[0]["ndcg_ok"] and not rows[0]["mrr_ok"]


def test_ndcg_mrr_partial_hit_scores_between(spark):
    """One hit at ANN rank 2 out of an exact pair: DCG = g(11)*w2, nDCG
    strictly between 0 and 1; MRR = 1/2."""
    from data_integration_and_processing_spark.queries.similarity_queries import (
        _DCG_W,
        _EVAL_FLOORS,
        _ndcg_mrr_path,
    )

    exact, ann = _eval_frames(
        spark,
        [(1, 11, 0.9, 1), (1, 12, 0.8, 2)],
        [(1, 98, 1), (1, 11, 2)],
    )
    ndcg = (0.9 * _DCG_W[1]) / (0.9 * _DCG_W[0] + 0.8 * _DCG_W[1])
    rows = _ndcg_mrr_path(exact, ann, "ivfpq").collect()
    nf, mf = _EVAL_FLOORS["ivfpq"]
    assert rows[0]["ndcg_ok"] == (ndcg >= nf)
    assert rows[0]["mrr_ok"] == (0.5 >= mf)


def test_registered_eval_floors_hold_on_fixture(spark, sf_dir):
    """The registered entry's measured mean nDCG/MRR floor booleans must be
    TRUE on the fixture at the test tier (the driver's hash covers this too
    — this pins it closer to the floor constants)."""
    from data_integration_and_processing_spark.queries.similarity_queries import (
        sim_retrieval_ndcg_mrr,
    )

    rows = sim_retrieval_ndcg_mrr(spark, sf_dir).collect()
    assert {r["path"] for r in rows} == {"ivfpq", "mips_ivf"}
    assert all(r["ndcg_ok"] and r["mrr_ok"] for r in rows)
    assert all(r["idcg_micro"] > 0 for r in rows)


def test_upserted_index_path_is_idempotent_and_crash_safe(spark, sf_dir, tmp_path, monkeypatch):
    """The registered audit's scratch builder must (a) no-op when the
    `upserted` marker exists and (b) recover a clean index — no doubled
    batch rows — when a crash landed the append but not the marker."""
    import data_integration_and_processing_spark.queries.similarity_queries as sq

    scratch = str(tmp_path / "upsert_scratch")
    monkeypatch.setattr(sq, "_fixture_index_path", lambda kind, d: scratch)
    path = sq._upserted_index_path(spark, sf_dir)
    n_corpus = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") != 0)
        .count()
    )
    assert spark.read.parquet(f"{path}/data").count() == n_corpus
    # (a) marker present: second call must not re-append
    assert sq._upserted_index_path(spark, sf_dir) == path
    assert spark.read.parquet(f"{path}/data").count() == n_corpus
    # (b) crash between append and marker: marker gone, appended rows still
    # on disk — recovery must REBUILD (overwrite wipes the data dir) and
    # re-append exactly once, never double
    shutil.rmtree(f"{path}/upserted")
    sq._upserted_index_path(spark, sf_dir)
    assert spark.read.parquet(f"{path}/data").count() == n_corpus


def test_fixture_index_path_reaps_stale_fingerprints(sf_dir):
    """A regenerated fixture mints a new fingerprint directory; siblings of
    the same (kind, full-path lineage) with a dead fingerprint must be
    deleted so the scratch dir stays bounded across regenerations — but
    only past the grace age (a concurrent process may still be scanning an
    old-fingerprint index), and only within the same full-path
    lineage (two sf_dirs sharing a basename must not reap each other)."""
    import hashlib
    import time

    from data_integration_and_processing_spark.queries.similarity_queries import (
        _fixture_index_path,
    )

    path = _fixture_index_path("reaptest", sf_dir)
    full = os.path.abspath(sf_dir.rstrip("/"))
    base = f"{os.path.basename(full)}-{hashlib.sha256(full.encode()).hexdigest()[:8]}"
    assert f"reaptest_index_{base}_" in path  # full-path digest in the key
    old = f"/tmp/diaps_scratch/reaptest_index_{base}_deadbeef"
    fresh = f"/tmp/diaps_scratch/reaptest_index_{base}_cafebabe"
    other_kind = f"/tmp/diaps_scratch/reapother_index_{base}_deadbeef"
    other_lineage = f"/tmp/diaps_scratch/reaptest_index_{os.path.basename(full)}-00000000_deadbeef"
    for d in (old, fresh, other_kind, other_lineage):
        os.makedirs(d, exist_ok=True)
    past = time.time() - 7200  # beyond the 1h grace
    os.utime(old, (past, past))
    os.utime(other_lineage, (past, past))
    try:
        again = _fixture_index_path("reaptest", sf_dir)
        assert again == path
        assert not os.path.exists(old)  # dead sibling past grace: reaped
        assert os.path.exists(fresh)  # within grace: survives this pass
        assert os.path.exists(other_kind)  # other kinds untouched
        assert os.path.exists(other_lineage)  # other full-path lineage untouched
    finally:
        for d in (fresh, other_kind, other_lineage):
            shutil.rmtree(d, ignore_errors=True)


def test_frontier_recalls_bounded_and_refine_monotone(spark, sf_dir):
    """Recall in [0,1]; recall is non-decreasing in refine at fixed nprobe:
    a larger refine rescans a SUPERSET of ADC candidates with the exact
    score, so the exact top-10 can only gain true neighbors. (No such
    guarantee holds along nprobe — more cells can displace true neighbors
    out of the k*refine ADC cut, which the measured sf0.001 (8,4) < (4,4)
    inversion demonstrates — hence the audit pins floors, not nprobe
    monotonicity.)"""
    from data_integration_and_processing_spark.queries.similarity_queries import (
        sim_ivfpq_tuning_frontier_raw,
    )

    rows = {
        (r["nprobe"], r["refine"]): r["mean_recall"]
        for r in sim_ivfpq_tuning_frontier_raw(spark, sf_dir).collect()
    }
    assert len(rows) == 6
    assert all(0.0 <= v <= 1.0 for v in rows.values()), rows
    assert rows[(4, 1)] <= rows[(4, 4)] + 1e-12, rows
    assert rows[(4, 4)] <= rows[(4, 16)] + 1e-12, rows


def test_frontier_audit_booleans_all_true(spark, sf_dir):
    from data_integration_and_processing_spark.queries.similarity_queries import (
        sim_ivfpq_tuning_frontier,
    )

    rows = sim_ivfpq_tuning_frontier(spark, sf_dir).collect()
    assert len(rows) == 6
    assert all(r["mean_ok"] for r in rows), rows


def test_rerank_never_worse_per_query_and_audit_true(spark, sf_dir):
    """The mathematical invariant: the rerank arm's candidate set is a
    superset of stage1's (same ADC ordering, deeper cut) and both order by
    the exact score, so rerank DCG >= stage1 DCG for EVERY query."""
    from data_integration_and_processing_spark.queries.similarity_queries import (
        _DCG_W,
        _eval_scored,
        _exact_ranked,
        sim_rerank_eval,
        sim_rerank_eval_raw,
    )
    from data_integration_and_processing_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings").localCheckpoint(eager=True)
    exact = _exact_ranked(
        _eval_scored(spark, sf_dir, e=e).withColumnRenamed("cos_exact", "s"), "s"
    )
    served = sim_rerank_eval_raw(spark, sf_dir, e=e)
    disc = F.element_at(F.array(*[F.lit(w) for w in _DCG_W]), F.col("rank"))
    per_q = (
        served.join(
            exact.select("query_id", "neighbor_id", F.col("g").alias("_eg")),
            ["query_id", "neighbor_id"],
            "left",
        )
        .groupBy("arm", "query_id")
        .agg(F.sum(F.coalesce(F.col("_eg"), F.lit(0.0)) * disc).alias("dcg"))
    )
    paired = {
        (r["arm"], r["query_id"]): r["dcg"] for r in per_q.collect()
    }
    qids = {q for (_, q) in paired}
    assert qids
    for q in qids:
        assert paired[("rerank", q)] >= paired[("stage1", q)] - 1e-12, (
            q,
            paired[("stage1", q)],
            paired[("rerank", q)],
        )

    out = sim_rerank_eval(spark, sf_dir).collect()
    assert {r["arm"] for r in out} == {"stage1", "rerank"}
    assert all(r["ndcg_ok"] and r["no_worse_ok"] for r in out), out
    # idcg is per-query ground truth, identical across arms
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], set()).add(r["idcg_micro"])
    assert all(len(v) == 1 for v in by_q.values())


def test_ivfpq_delete_tombstone_semantics(spark, sf_dir, tmp_path):
    """FAISS remove_ids semantics on the tombstone path: deleted ids are
    never served (single probe AND batch probe — the bit-for-bit parity
    contract must hold WITH tombstones), deletes compose with upserts,
    repeated deletes are idempotent at read time, and deleting an unknown
    id is a no-op."""
    import pyspark.sql.functions as F

    from data_integration_and_processing_spark.operators.similarity import (
        build_ivfpq_index,
        ivfpq_delete,
        ivfpq_probe,
        ivfpq_probe_batch,
        ivfpq_upsert,
        load_ivfpq_tombstones,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(F.col("vec_id") != 0)
    path = str(tmp_path / "delidx")
    build_ivfpq_index(e.filter(F.col("vec_id") % 10 != 3), path, n_cells=4, m=8, nbits=4)
    ivfpq_upsert(e.filter(F.col("vec_id") % 10 == 3), path)

    q_row = e.filter(F.col("vec_id") == 1).select("embedding").first()
    q = [float(x) for x in q_row["embedding"]]
    before = {r["vec_id"] for r in ivfpq_probe(spark, path, q, k=10, nprobe=4, refine=16).collect()}
    assert before, "probe must return candidates before any delete"

    # delete everything the probe just served, including upserted (%10==3)
    # ids if any — composition with upsert
    doomed = sorted(before)
    ivfpq_delete(spark, path, spark.createDataFrame([(i,) for i in doomed], "vec_id long"))
    after = {r["vec_id"] for r in ivfpq_probe(spark, path, q, k=10, nprobe=4, refine=16).collect()}
    assert after.isdisjoint(before), (before, after)
    assert after, "survivors must backfill the k slots"

    # batch path applies the same tombstone filter (parity contract)
    batch = ivfpq_probe_batch(spark, path, [(1, q)], k=10, nprobe=4, refine=16)
    batch_ids = {r["vec_id"] for r in batch.collect()}
    assert batch_ids == after, (batch_ids, after)

    # idempotent: re-deleting the same ids and deleting an unknown id
    # changes nothing served; the distinct tombstone set stays the same
    ivfpq_delete(
        spark, path, spark.createDataFrame([(i,) for i in doomed] + [(10**9,)], "vec_id long")
    )
    again = {r["vec_id"] for r in ivfpq_probe(spark, path, q, k=10, nprobe=4, refine=16).collect()}
    assert again == after
    tomb = load_ivfpq_tombstones(spark, path)
    assert tomb.count() == len(doomed) + 1  # distinct ids (unknown id included)


def test_ivfpq_delete_audit_booleans_true(spark, sf_dir):
    from data_integration_and_processing_spark.queries.similarity_queries import (
        sim_ivfpq_delete_audit,
    )

    rows = sim_ivfpq_delete_audit(spark, sf_dir).collect()
    assert len(rows) == 10
    assert all(
        r["tombstone_count_ok"] and r["no_deleted_served_ok"] and r["recall_ok"]
        for r in rows
    ), rows
    # the exact ground truth itself must contain no deleted id
    assert all(r["vec_id"] % 10 != 7 for r in rows)


def _tiny_corpus(spark, n=64, dim=8):
    """Deterministic synthetic vectors (no RNG: value = trig of id) so the
    in-place test owns its fixture instead of mutating the shared one."""
    rows = [
        (i, [float(math.sin(0.7 * i + 0.3 * j) + 0.01 * j) for j in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_upsert_encodes_like_the_build(spark, tmp_path):
    """Build and upsert share one per-row encoder: a vector upserted under a
    new id with the same values as an indexed vector lands in the identical
    ``_cell`` with identical ``codes``."""
    corpus = _tiny_corpus(spark)
    path = str(tmp_path / "idx")
    build_ivfpq_index(corpus, path, n_cells=4, m=4, nbits=2)
    ivfpq_upsert(corpus.select((F.col("vec_id") + 1000).alias("vec_id"), "embedding"), path)
    data = spark.read.parquet(f"{path}/data").select("id", "_cell", "codes")
    built = {r["id"]: (r["_cell"], r["codes"]) for r in data.filter("id < 1000").collect()}
    upserted = {r["id"] - 1000: (r["_cell"], r["codes"]) for r in data.filter("id >= 1000").collect()}
    assert len(built) == 64
    assert upserted == built


@pytest.mark.parametrize(
    "rows,m,match",
    [
        ([], 4, "empty corpus"),
        ([(0, [1.0] * 8), (1, [1.0] * 7)], 4, "ragged or null"),
        ([(0, [1.0] * 8), (1, None)], 4, "ragged or null"),
        ([(0, [1.0] * 8), (1, [1.0] * 7 + [None])], 4, "ragged or null"),
        ([(0, [1.0] * 8), (1, [2.0] * 8)], 3, "not divisible"),
    ],
    ids=["empty", "ragged", "null_vector", "null_element", "dim_not_divisible"],
)
def test_build_rejects_bad_corpus(spark, tmp_path, rows, m, match):
    """Bad input fails the build on the driver with ValueError before any
    write, not deep inside numpy or a half-written index."""
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    path = tmp_path / "idx"
    with pytest.raises(ValueError, match=match):
        build_ivfpq_index(corpus, str(path), m=m)
    assert not path.exists()


def test_encode_map_rejects_ragged_vectors(spark, tmp_path):
    """A bad vector that escapes the driver-side checks (the upsert probes
    only the first row's width) fails inside the encode map instead of
    being written misaligned."""
    path = str(tmp_path / "idx")
    build_ivfpq_index(_tiny_corpus(spark), path, n_cells=2, m=4, nbits=2)
    batch = tiny_local_df(
        spark, [(100, [1.0] * 8), (101, [1.0] * 6)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match="ragged or null"):
        ivfpq_upsert(batch, path)


def test_pq_codebooks_train_on_the_id_hash_ordered_sample(spark, tmp_path):
    """The one shared sample is re-sorted by (xxhash64(id), id) before
    codebook training, so the codebooks equal those trained on a separate
    sample in that order — the kmeans++ init consumes rows in order. A
    1-cell index (flat PQ) trains them on that sample minus its one
    center."""
    from data_integration_and_processing_spark.operators.similarity import (
        _train_pq_codebooks,
    )

    corpus = _tiny_corpus(spark)
    path = str(tmp_path / "pq")
    build_ivfpq_index(corpus, path, n_cells=1, m=4, nbits=2)
    ref = np.array(
        [
            r["embedding"]
            for r in corpus.orderBy(F.xxhash64("vec_id"), "vec_id").collect()
        ],
        dtype=np.float64,
    )
    ref /= np.linalg.norm(ref, axis=1)[:, None]
    (center,) = [r["center"] for r in spark.read.parquet(f"{path}/centroids").collect()]
    ref -= np.asarray(center)
    books = {
        (r["subspace"], r["code"]): r["center"]
        for r in spark.read.parquet(f"{path}/codebooks").collect()
    }
    expect = _train_pq_codebooks(ref, 4, 2, 42)
    assert len(books) == expect.shape[0] * expect.shape[1]
    for (j, c), center in books.items():
        assert center == list(expect[j, c])


def test_ivfpq_build_runs_at_most_three_jobs(spark, sf_dir, tmp_path):
    """The build is one Arrow sample fetch plus one encode-and-write pass
    (the write may add the fan-out exchange's job): the model plane is
    written driver-side and ``dim`` comes from the sample."""
    sc = spark.sparkContext
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    group = f"ivfpq_build_jobs_{os.getpid()}"
    sc.setJobGroup(group, group)
    try:
        build_ivfpq_index(e, str(tmp_path / "idx"), n_cells=16, m=8, nbits=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 1 <= len(jobs) <= 3, jobs


def test_rebuild_drops_the_previous_index_tombstones(spark, tmp_path):
    """Tombstones name ids deleted from the OLD corpus: a rebuild at the
    same path must not keep hiding them from the new one."""
    from data_integration_and_processing_spark.operators.similarity import (
        ivfpq_delete,
        load_ivfpq_tombstones,
    )

    path = str(tmp_path / "idx")
    corpus = _tiny_corpus(spark)
    build_ivfpq_index(corpus, path, n_cells=2, m=4, nbits=2)
    ivfpq_delete(spark, path, corpus.filter(F.col("vec_id") == 5).select("vec_id"))
    build_ivfpq_index(corpus, path, n_cells=2, m=4, nbits=2)
    assert load_ivfpq_tombstones(spark, path) is None
    q = [float(x) for x in corpus.filter(F.col("vec_id") == 5).first()["embedding"]]
    served = {r["vec_id"] for r in ivfpq_probe(spark, path, q, k=64, nprobe=2, refine=None).collect()}
    assert served == set(range(64))


def test_compact_in_place_retires_tombstones(spark, tmp_path):
    from data_integration_and_processing_spark.operators.similarity import (
        build_ivfpq_index,
        ivfpq_compact,
        ivfpq_delete,
        ivfpq_probe,
        load_ivfpq_tombstones,
    )

    path = str(tmp_path / "idx")
    corpus = _tiny_corpus(spark)
    build_ivfpq_index(corpus, path, n_cells=2, m=4, nbits=2)
    doomed = corpus.filter(F.col("vec_id") % 4 == 1).select("vec_id")
    n_doomed = doomed.count()
    ivfpq_delete(spark, path, doomed)
    assert load_ivfpq_tombstones(spark, path).count() == n_doomed

    out = ivfpq_compact(spark, path)
    assert out == path  # in-place mode returns the original path
    # tombstones retired, survivors (and only survivors) servable
    assert load_ivfpq_tombstones(spark, path) is None
    data = spark.read.parquet(f"{path}/data")
    assert data.count() == 64 - n_doomed
    assert data.filter(F.col("id") % 4 == 1).count() == 0
    # the compacted index still serves: probe for a survivor finds itself
    probe_row = corpus.filter(F.col("vec_id") == 2).first()
    top = ivfpq_probe(
        spark, path, [float(x) for x in probe_row["embedding"]], k=1, nprobe=2, refine=8
    ).collect()
    assert top and top[0]["vec_id"] == 2


def test_compact_equals_from_scratch_rebuild(spark, tmp_path):
    """Bit-equality of the whole served surface on the synthetic corpus:
    same centroids, same codebooks, same per-id codes as building from
    scratch over the survivor rows."""
    from data_integration_and_processing_spark.operators.similarity import (
        build_ivfpq_index,
        ivfpq_compact,
        ivfpq_delete,
    )

    corpus = _tiny_corpus(spark)
    survivors = corpus.filter(F.col("vec_id") % 4 != 1)
    a = str(tmp_path / "tombstoned")
    b = str(tmp_path / "scratch")
    build_ivfpq_index(corpus, a, n_cells=2, m=4, nbits=2)
    ivfpq_delete(spark, a, corpus.filter(F.col("vec_id") % 4 == 1).select("vec_id"))
    c = ivfpq_compact(spark, a, out_path=str(tmp_path / "compacted"))
    build_ivfpq_index(survivors, b, n_cells=2, m=4, nbits=2)

    for plane, key in (("centroids", ["cell"]), ("codebooks", ["subspace", "code"])):
        lhs = spark.read.parquet(f"{c}/{plane}").orderBy(*key).collect()
        rhs = spark.read.parquet(f"{b}/{plane}").orderBy(*key).collect()
        assert lhs == rhs, plane
    lhs = spark.read.parquet(f"{c}/data").select("id", "codes", "_cell").orderBy("id")
    rhs = spark.read.parquet(f"{b}/data").select("id", "codes", "_cell").orderBy("id")
    assert lhs.collect() == rhs.collect()


def test_compact_audit_booleans_all_true(spark, sf_dir):
    from data_integration_and_processing_spark.queries.similarity_queries import (
        sim_ivfpq_compact_audit,
    )

    rows = sim_ivfpq_compact_audit(spark, sf_dir).collect()
    assert len(rows) == 10
    for col in ("compact_rows_ok", "rebuild_probe_equal_ok", "recall_ok"):
        assert all(r[col] for r in rows), (col, rows)


def test_model_rerank_slot_parity_and_recall(spark, sf_dir):
    """The pluggable stage-2 slot: audit booleans hold, served ranks are
    dense 1..10 per query, and the pandas scorer's outputs agree with the
    JVM weighted-dot fold (<= 2e-6 after rounding — numpy pairwise vs
    sequential accumulation)."""
    from data_integration_and_processing_spark.queries.similarity_queries import (
        sim_model_rerank_eval,
        sim_model_rerank_raw,
    )

    rows = sim_model_rerank_eval(spark, sf_dir).collect()
    assert rows and len(rows) % 10 == 0
    assert all(r["recall_ok"] for r in rows)
    assert all(r["slot_parity_ok"] for r in rows)
    served = sim_model_rerank_raw(spark, sf_dir).collect()
    per_q = {}
    for r in served:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    for q, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, 11)), (q, ranks)


def test_model_rerank_swappable_scorer(spark, tmp_path):
    """Swapping the model = passing a different callable: a constant scorer
    must rank purely by id tiebreak, proving stage-2 is genuinely pluggable
    (no hidden dependence on the default bilinear head)."""
    from data_integration_and_processing_spark.operators.similarity import (
        build_ivfpq_index,
        model_rerank_batch,
    )

    corpus = _tiny_corpus(spark)
    path = str(tmp_path / "idx")
    build_ivfpq_index(corpus, path, n_cells=2, m=4, nbits=2)
    q = corpus.filter(F.col("vec_id") == 0).first()
    qs = [(0, [float(x) for x in q["embedding"]])]

    def constant(qm, cm):
        import numpy as np

        return np.zeros(len(qm))

    top = model_rerank_batch(
        spark, path, qs, constant, k=5, nprobe=2, n_candidates=16
    ).collect()
    ids = [r["vec_id"] for r in sorted(top, key=lambda r: r["rank"])]
    assert ids == sorted(ids), ids  # constant scores -> pure id tiebreak
    assert all(r["model_score"] == 0.0 for r in top)


def test_serving_cost_raw_work_units(spark):
    from data_integration_and_processing_spark.queries.similarity_queries import (
        sim_ivfpq_serving_cost_raw,
    )

    rows = {
        (r["nprobe"], r["refine"]): r
        for r in sim_ivfpq_serving_cost_raw(spark, SF_DIR_TINY).collect()
    }
    assert len(rows) == 6
    nq = next(iter(rows.values()))["n_queries"]
    assert nq > 0
    # ADC work strictly grows with nprobe at fixed refine
    assert rows[(1, 4)]["adc_rows"] < rows[(2, 4)]["adc_rows"] < rows[(4, 4)]["adc_rows"]
    # refine knob bounds stage-2 rows: never more than k*refine per query
    for (np_, rf), r in rows.items():
        assert r["refine_rows"] <= nq * 10 * rf
    # at nprobe == n_cells every cell is scanned -> model exactly 1
    assert rows[(8, 4)]["model_ratio_micro"] == 1_000_000
    # refine does not change ADC work (stage-1 is refine-independent)
    assert rows[(4, 4)]["adc_rows"] == rows[(4, 16)]["adc_rows"]


def test_serving_cost_verdicts_all_true(spark):
    from data_integration_and_processing_spark.queries.similarity_queries import (
        sim_ivfpq_serving_cost,
    )

    out = sim_ivfpq_serving_cost(spark, SF_DIR_TINY).collect()
    assert len(out) == 6
    for r in out:
        assert r["adc_model_ok"] and r["adc_monotone_ok"]
        assert r["refine_capped_ok"] and r["full_scan_exact_ok"]


def test_hash_embed_contract(spark):
    from data_integration_and_processing_spark.queries.similarity_queries import (
        _RAG_DIM,
        _hash_embed,
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "the quick brown fox"), (3, "pack my box"),
         (4, None), (5, "")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["embedding"] for r in _hash_embed(docs).collect()}
    assert set(out) == {1, 2, 3, 4, 5}
    # deterministic: identical text -> identical vector
    assert out[1] == out[2]
    assert out[1] != out[3]
    # unit norm for non-empty text, all dims present
    for did, v in out.items():
        assert len(v) == _RAG_DIM
        n = math.sqrt(sum(x * x for x in v))
        if did in (1, 2, 3):
            assert n == pytest.approx(1.0, abs=1e-5)
        else:  # null/empty text -> zero vector, not NaN
            assert n == 0.0


def test_rag_pipeline_serves_k_and_recall(spark):
    from data_integration_and_processing_spark.queries.similarity_queries import (
        pipeline_rag_ingest,
    )

    out = pipeline_rag_ingest(spark, SF_DIR_TINY).collect()
    assert out  # at least one query source
    for r in out:
        assert r["n_served"] == 10 * r["n_queries"]
        assert r["recall_ok"]


def test_stream_ingest_ledger(spark):
    from data_integration_and_processing_spark.queries.similarity_queries import (
        _STREAM_INGEST_BATCHES,
        _STREAM_INGEST_RECALL_FLOOR,
        stream_ivfpq_ingest_raw,
    )
    from data_integration_and_processing_spark.sources.tables import load_table

    e = load_table(spark, SF_DIR_TINY, "embeddings")
    base_n = e.filter(
        (F.col("vec_id") % 100 != 0) & (F.col("vec_id") % 8 < 5)
    ).count()
    slice_n = {
        i: e.filter(
            (F.col("vec_id") % 100 != 0) & (F.col("vec_id") % 8 == 5 + i)
        ).count()
        for i in range(_STREAM_INGEST_BATCHES)
    }

    ledger = sorted(
        stream_ivfpq_ingest_raw(spark, SF_DIR_TINY).collect(),
        key=lambda r: r["batch_seq"],
    )
    assert [r["batch_seq"] for r in ledger] == list(range(_STREAM_INGEST_BATCHES))
    running = base_n
    for r in ledger:
        # each micro-batch is exactly its vec_id % 8 slice, in order
        assert r["n_ingested"] == slice_n[r["batch_seq"]]
        running += r["n_ingested"]
        assert r["total_indexed"] == running
        assert r["recall"] >= _STREAM_INGEST_RECALL_FLOOR


def _old_train_centroids(sample, k, seed, n_iter=25, restarts=3):
    """The (n, k, dim) broadcast-temporary trainer, kept as the
    reference implementation for the bit-identity pin."""
    n = len(sample)

    def one(run_seed):
        rs = np.random.RandomState(run_seed)
        centers = [sample[rs.randint(n)]]
        d2 = ((sample - centers[0]) ** 2).sum(axis=1)
        for _ in range(min(k, n) - 1):
            total = float(d2.sum())
            centers.append(
                sample[rs.randint(n)] if total <= 0 else sample[rs.choice(n, p=d2 / total)]
            )
            d2 = np.minimum(d2, ((sample - centers[-1]) ** 2).sum(axis=1))
        cb = np.array(centers, dtype=np.float64)
        for _ in range(n_iter):
            d2m = ((sample[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2m, axis=1)
            for c in range(len(cb)):
                members = sample[assign == c]
                if len(members):
                    cb[c] = members.mean(axis=0)
        inertia = float(
            (
                (
                    sample
                    - cb[
                        np.argmin(
                            ((sample[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2), axis=1
                        )
                    ]
                )
                ** 2
            ).sum()
        )
        if len(cb) < k:
            cb = np.vstack([cb, np.repeat(cb[-1:], k - len(cb), axis=0)])
        return inertia, cb

    return min((one(seed + 1000 * r) for r in range(restarts)), key=lambda t: t[0])[1]


def test_lloyd_per_center_loop_bit_identical():
    from data_integration_and_processing_spark.operators.similarity import (
        _train_centroids,
    )

    for trial, (n, d) in enumerate([(1980, 64), (257, 65), (37, 8), (5, 8)]):
        rs = np.random.RandomState(trial)
        s = rs.randn(n, d) * (10.0 ** rs.randint(-3, 3))
        a = _old_train_centroids(s, 8, seed=42)
        b = _train_centroids(s, 8, seed=42)
        assert (a.view(np.uint64) == b.view(np.uint64)).all(), (n, d)


def test_probe_batch_arms_match_separate_probes(spark):
    from data_integration_and_processing_spark.operators.similarity import (
        ivfpq_probe_batch,
        ivfpq_probe_batch_arms,
    )
    from data_integration_and_processing_spark.queries.similarity_queries import (
        _eval_index_path,
    )
    from data_integration_and_processing_spark.sources.tables import load_table

    e = load_table(spark, SF_DIR_TINY, "embeddings")
    path = _eval_index_path(spark, SF_DIR_TINY)
    qs = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in e.filter(F.col("vec_id") % 100 == 0)
        .select("vec_id", "embedding")
        .collect()
    ]
    arms = ivfpq_probe_batch_arms(spark, path, qs, k=10, nprobe=4, refines=(1, 5))
    for refine in (1, 5):
        want = sorted(
            ivfpq_probe_batch(spark, path, qs, k=10, nprobe=4, refine=refine)
            .select("query_id", "vec_id", "cos_sim", "rank")
            .collect()
        )
        got = sorted(arms[refine].select("query_id", "vec_id", "cos_sim", "rank").collect())
        assert got == want, f"refine={refine}"


def test_exact_ranked_both_matches_per_metric(spark):
    from data_integration_and_processing_spark.queries.similarity_queries import (
        _eval_scored,
        _exact_ranked,
        _exact_ranked_both,
    )

    scored = _eval_scored(spark, SF_DIR_TINY).localCheckpoint(eager=True)
    both = _exact_ranked_both(scored)
    for metric, col in (("cos", "cos_exact"), ("dot", "dot_exact")):
        want = sorted(
            _exact_ranked(scored.withColumnRenamed(col, "s"), "s")
            .select("query_id", "neighbor_id", "g", "rank")
            .collect()
        )
        got = sorted(
            both.filter(F.col("_m") == metric)
            .select("query_id", "neighbor_id", "g", "rank")
            .collect()
        )
        assert got == want, metric
