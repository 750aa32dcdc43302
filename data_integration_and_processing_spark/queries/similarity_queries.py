"""Similarity-search queries over ``embeddings`` (north-star surface)."""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_integration_and_processing_spark.operators.expr_sql import (
    double_array_col,
    float_array_col,
)
from data_integration_and_processing_spark.operators.parallelism import (
    background_checkpoint,
    background_materialize,
    fan_out_scan,
)
from data_integration_and_processing_spark.operators.similarity import (
    brute_force_topk,
    build_ivfpq_index,
    cosine,
    embedding_neardup_pairs,
    ivfpq_probe,
    lsh_topk,
    tiny_local_df,
)
from data_integration_and_processing_spark.queries.catalog import register
from data_integration_and_processing_spark.sources.tables import load_table


def _cos_sql(a: str, b: str) -> str:
    """Explicit double-precision cosine for the DuckDB oracle: sequential
    index-order accumulation in doubles, bit-identical to the Spark
    zip_with/aggregate expression. (DuckDB's list_cosine_similarity
    accumulates in float32 and drifts at the 6th decimal.)"""
    dot = f"list_sum(list_transform(generate_series(1, 64), i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    na = f"sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))))"
    nb = f"sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))))"
    return f"{dot} / ({na} * {nb})"


def _fixture_index_path(kind: str, sf_dir: str, src_file: str = "embeddings.parquet") -> str:
    """Scratch path for a persisted ANN index, keyed by a FINGERPRINT of the
    source fixture (mtime_ns + size), not just the sf_dir basename — a
    regenerated fixture must never be probed through a stale cached index
    (the recall-verdict boolean the driver checks would be meaningless).
    ``src_file`` names the fixture the index derives from (default the
    embeddings table; the RAG-ingest pipeline keys off documents)."""
    import os  # noqa: PLC0415

    src = os.path.join(sf_dir, src_file)
    if os.path.isdir(src):  # multi-file layout: fold every part's stat
        parts = sorted(
            os.path.join(src, f) for f in os.listdir(src) if not f.startswith(".")
        )
    else:
        parts = [src]
    fp = 0
    for p in parts:
        st = os.stat(p)
        fp = (fp * 1000003 + st.st_mtime_ns + st.st_size) % (1 << 61)
    import hashlib  # noqa: PLC0415

    # key by a digest of the FULL sf_dir path, not just its basename:
    # /a/sf0.01 and /b/sf0.01 in one environment must not share (and
    # repeatedly reap) each other's cache lineage
    full = os.path.abspath(sf_dir.rstrip("/"))
    base = (
        f"{os.path.basename(full)}-{hashlib.sha256(full.encode()).hexdigest()[:8]}"
    )
    path = f"/tmp/diaps_scratch/{kind}_index_{base}_{fp:x}"
    # a regenerated fixture mints a new fingerprint; reap the dead siblings
    # (full encoded-corpus copies each) so the scratch dir stays bounded.
    # Only siblings past a grace age go: a concurrent process may still be
    # scanning an old-fingerprint index it resolved moments ago
    import glob  # noqa: PLC0415
    import shutil  # noqa: PLC0415
    import time  # noqa: PLC0415

    grace_s = 3600
    for stale in glob.glob(f"/tmp/diaps_scratch/{kind}_index_{base}_*"):
        if stale == path:
            continue
        try:
            age = time.time() - os.path.getmtime(stale)
        except OSError:
            continue
        if age > grace_s:
            shutil.rmtree(stale, ignore_errors=True)
    return path


def _fixture_topk_index(spark: SparkSession, sf_dir: str, kind: str, n_cells: int) -> str:
    """The single-query ANN entries' IVFPQ index over the fixture corpus
    (every vector but the vec_id=0 query), m=8 subspaces of 4-bit codes.
    meta lands last in build_ivfpq_index, so its presence marks a complete
    index: build once per (read-only) fixture, probe thereafter."""
    import os  # noqa: PLC0415

    path = _fixture_index_path(kind, sf_dir)
    if not os.path.exists(f"{path}/meta"):
        e = load_table(spark, sf_dir, "embeddings")
        build_ivfpq_index(e.filter(F.col("vec_id") != 0), path, n_cells=n_cells, m=8, nbits=4)
    return path


def _query_vector(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list[float]:
    """Driver-side lookup of one query point (a k-row metadata fetch, not a
    data-path collect)."""
    e = load_table(spark, sf_dir, "embeddings")
    row = e.filter(F.col("vec_id") == vec_id).select("embedding").first()
    return [float(x) for x in row[0]]


@register(
    "sim_topk_bruteforce",
    oracle=f"""
        SELECT a.vec_id,
               round({_cos_sql('a.embedding', 'q.embedding')}, 6) AS cos_sim
        FROM embeddings a,
             (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        WHERE a.vec_id <> 0
        ORDER BY cos_sim DESC, a.vec_id
        LIMIT 10
    """,
    description="exact ANN baseline: brute-force cosine top-10 for a query vector (north-star)",
    tags=("similarity", "north-star"),
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir, 0)
    return brute_force_topk(e.filter(F.col("vec_id") != 0), q, k=10)


# Recall@10 floors for the single-query ANN entries, per index family. The
# SINGLE source for the queries' driver-checked recall_ok booleans AND the
# pytest assertions in tests/test_ann_recall.py (same hoisting rule as
# _ANN_RECALL_FLOORS below — duplicated literals diverge silently). Values
# hold at sf0.01 (driver + pytest scale) with headroom: measured recall is
# well above each floor for the seeded fixture; see test_ann_recall.py for
# the per-family derivation comments.
_TOPK_RECALL_FLOORS: dict[str, float] = {"ivf": 0.3, "lsh": 0.4, "pq": 0.5, "ivfpq": 0.4}

# Shared oracle for the audited ANN top-k entries: the exact top-10 ranks
# (deterministic, engine-independent) plus the recall-floor verdict as a
# constant-true boolean — the sketch pattern from agg_approx_count_distinct:
# the hash check exercises the index's
# recall guarantee, not just that it ran.
_TOPK_AUDIT_ORACLE = f"""
    SELECT a.vec_id,
           round({_cos_sql('a.embedding', 'q.embedding')}, 6) AS cos_sim,
           true AS recall_ok
    FROM embeddings a,
         (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    WHERE a.vec_id <> 0
    ORDER BY cos_sim DESC, a.vec_id
    LIMIT 10
"""


def _audited_topk(exact: DataFrame, ann: DataFrame, floor: float, k: int = 10) -> DataFrame:
    """Driver-checkable form of an ANN top-k: exact top-k rows joined with a
    constant recall_ok column = (|ann ∩ exact| >= floor*k). Both sides are
    k rows, so the semi-join and the constant-key broadcast join are
    O(k) — no data-path cost beyond the two scans the audit needs anyway."""
    hits = exact.join(ann.select("vec_id"), "vec_id", "left_semi").agg(
        (F.count("*") >= F.lit(float(floor) * k)).alias("recall_ok")
    )
    return (
        exact.withColumn("_j", F.lit(1))
        .join(F.broadcast(hits.withColumn("_j", F.lit(1))), "_j")
        .select("vec_id", "cos_sim", "recall_ok")
    )


def sim_topk_lsh_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw multi-table sign-LSH top-10 (engine-specific ranks; the registered
    entry wraps this in the exact+recall_ok audit form)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir, 0)
    return lsh_topk(e.filter(F.col("vec_id") != 0), q, k=10, n_planes=4, n_tables=8)


@register(
    "sim_topk_lsh",
    oracle=_TOPK_AUDIT_ORACLE,
    description=(
        "approximate ANN: multi-table sign-LSH (8 tables x 4 planes) top-10 "
        "(north-star scale path), driver-checked in audit form — exact top-10 "
        "ranks plus the LSH result's recall@10 >= 0.4 floor as a boolean "
        "(raw ANN ranks: sim_topk_lsh_raw)"
    ),
    tags=("similarity", "north-star", "lsh"),
)
def sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir, 0)
    exact = brute_force_topk(e.filter(F.col("vec_id") != 0), q, k=10)
    return _audited_topk(exact, sim_topk_lsh_raw(spark, sf_dir), _TOPK_RECALL_FLOORS["lsh"])


def sim_topk_ivf_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw IVF-flat top-10 (engine-specific ranks; the registered entry
    wraps this in the exact+recall_ok audit form): sim_topk_ivfpq's 8-cell
    index probed at nprobe=4 with ``refine=None``, so every row of the
    probed cells is ranked by exact cosine. nprobe=2 measured recall
    0.1/0.2/0.7 at sf0.001/0.01/0.1, below the 0.3 floor; nprobe=4 measured
    0.6/0.5/0.8."""
    path = _fixture_topk_index(spark, sf_dir, "ivfpq", n_cells=8)
    return ivfpq_probe(spark, path, _query_vector(spark, sf_dir, 0), k=10, nprobe=4, refine=None)


@register(
    "sim_topk_ivf",
    oracle=_TOPK_AUDIT_ORACLE,
    description=(
        "approximate ANN: IVF-flat top-10 (north-star scale path) — the "
        "sim_topk_ivfpq index probed at nprobe=4 of 8 cells with refine=None, "
        "so every row of the probed cells is ranked by exact cosine. "
        "Driver-checked in audit form — exact top-10 ranks plus recall@10 >= "
        "0.3 as a boolean (raw ANN ranks: sim_topk_ivf_raw)"
    ),
    tags=("similarity", "north-star", "ivf"),
)
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir, 0)
    exact = brute_force_topk(e.filter(F.col("vec_id") != 0), q, k=10)
    return _audited_topk(exact, sim_topk_ivf_raw(spark, sf_dir), _TOPK_RECALL_FLOORS["ivf"])


@register(
    "sim_quantize_int8",
    oracle="""
        WITH s AS (
            SELECT vec_id,
                   list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS sc
            FROM embeddings
        )
        -- q serialized to CSV: the driver's canonicalizer cannot sort
        -- list-typed columns, so array outputs are
        -- string-rendered on both sides
        SELECT e.vec_id,
               round(s.sc, 9) AS scale,
               array_to_string(
                   list_transform(e.embedding, x -> CAST(round(CAST(x AS DOUBLE) / s.sc) AS TINYINT)),
                   ',') AS q
        FROM embeddings e JOIN s USING (vec_id)
    """,
    description="symmetric int8 embedding quantization (4x memory cut for ANN indexes): per-vector scale + byte array",
    tags=("similarity", "north-star", "quantization"),
)
def sim_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    absmax = F.array_max(F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double"))))
    e = e.withColumn("_sc", absmax / F.lit(127.0))
    q = F.transform(F.col("embedding"), lambda x: F.round(x.cast("double") / F.col("_sc"), 0).cast("byte"))
    q_csv = F.array_join(F.transform(q, lambda x: x.cast("string")), ",")
    return e.select("vec_id", F.round("_sc", 9).alias("scale"), q_csv.alias("q"))


@register(
    "sim_neardup_pairs",
    oracle=f"""
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round({_cos_sql('a.embedding', 'b.embedding')}, 6) AS cos_sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE round({_cos_sql('a.embedding', 'b.embedding')}, 6) >= 0.4
    """,
    description="embedding-cosine near-duplicate pairs (threshold 0.4) — exact pairwise baseline",
    tags=("similarity", "dedup", "north-star"),
)
def sim_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(e, threshold=0.4)


@register(
    "sim_label_centroid_distance",
    oracle=f"""
        WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
        SELECT e.label,
               count(*) AS n_vecs,
               max(round({_cos_sql('e.embedding', 'q.embedding')}, 6)) AS best_cos
        FROM embeddings e, q
        WHERE e.vec_id <> 0
        GROUP BY e.label
    """,
    description="IVF-style coarse scan: best cosine per label cell (cell pruning precursor)",
    tags=("similarity", "north-star"),
)
def sim_label_centroid_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir, 0)
    qcol = float_array_col(q)
    sim = F.round(cosine(F.col("embedding"), qcol), 6)
    return (
        e.filter(F.col("vec_id") != 0)
        .select("label", sim.alias("s"))
        .groupBy("label")
        .agg(F.count("*").alias("n_vecs"), F.max("s").alias("best_cos"))
    )


@register(
    "dedup_embedding_clusters",
    oracle=f"""
        WITH RECURSIVE pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE round({_cos_sql('a.embedding', 'b.embedding')}, 6) >= 0.4
        ),
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION SELECT id_b, id_a FROM pairs
        ),
        reach(src, dst) AS (
            SELECT src, src FROM edges
            UNION
            SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        )
        SELECT src AS id, min(dst) AS component FROM reach GROUP BY src
    """,
    description=(
        "duplicate-cluster formation: connected components (iterative min-label propagation) "
        "over the cosine>=0.4 near-dup graph — the transitive-closure step after pair detection; "
        "oracle is a recursive-CTE closure"
    ),
    tags=("dedup", "similarity", "north-star", "graph"),
)
def dedup_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.operators.dedup import connected_components

    e = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_neardup_pairs(e, threshold=0.4)
    return connected_components(pairs)


_VPACK_DOT = "list_sum(list_transform(generate_series(1, 64), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)))"
_VPACK_NORM = "sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))"


@register(
    "sim_vector_ops_pack",
    oracle=f"""
        SELECT a.vec_id,
               round({_VPACK_NORM}, 6) AS l2_norm,
               round({_VPACK_DOT}, 6) AS dot_q,
               round({_cos_sql('a.embedding', 'q.embedding')}, 6) AS cos_q,
               round(CAST(a.embedding[1] AS DOUBLE) / {_VPACK_NORM}, 6) AS unit_first
        FROM embeddings a,
             (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        WHERE a.vec_id <> 0
    """,
    description=(
        "vector function pack: L2 norm, dot/cosine against a query vector, first "
        "component after unit-normalization — all JVM zip_with/aggregate expressions "
        "with deterministic index-order double accumulation (no Python, no shuffle)"
    ),
    tags=("similarity", "functions", "north-star"),
)
def sim_vector_ops_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.operators.similarity import dot, norm

    e = load_table(spark, sf_dir, "embeddings")
    qv = _query_vector(spark, sf_dir, 0)
    q = double_array_col(qv)
    a = F.col("embedding")
    return e.filter(F.col("vec_id") != 0).select(
        "vec_id",
        F.round(norm(a), 6).alias("l2_norm"),
        F.round(dot(a, q), 6).alias("dot_q"),
        F.round(cosine(a, q), 6).alias("cos_q"),
        F.round(F.element_at(a, 1).cast("double") / norm(a), 6).alias("unit_first"),
    )


@register(
    "sim_topk_lsh_indexed",
    oracle=_TOPK_AUDIT_ORACLE,
    description=(
        "approximate ANN: multi-table sign-LSH top-10, the same in-plan plan "
        "as sim_topk_lsh (8 tables x 4 planes). In-plan signatures need no "
        "build and no trained state, so no persisted LSH index is kept; the "
        "one persisted ANN index is IVFPQ (sim_topk_ivfpq). Driver-checked "
        "in audit form: exact top-10 ranks plus recall@10 >= 0.4 "
        "(raw ANN ranks: sim_topk_lsh_raw)"
    ),
    tags=("similarity", "north-star", "lsh"),
)
def sim_topk_lsh_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim_topk_lsh(spark, sf_dir)


def sim_topk_pq_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw flat-PQ top-10 (engine-specific ranks; the registered entry
    wraps this in the exact+recall_ok audit form): a 1-cell IVFPQ index,
    whose codes quantize each unit vector's residual from the corpus mean,
    probed at refine=16. refine=8 measured recall 0.7/0.9/0.5 at
    sf0.001/0.01/0.1, at or below the 0.5 floor; refine=16 measured
    1.0/1.0/0.8."""
    # kind "flatpq", not "pq": a pq_index_* cache directory may hold a
    # codes-only layout with no centroids, which ivfpq_probe cannot read
    path = _fixture_topk_index(spark, sf_dir, "flatpq", n_cells=1)
    return ivfpq_probe(spark, path, _query_vector(spark, sf_dir, 0), k=10, nprobe=1, refine=16)


@register(
    "sim_topk_pq",
    oracle=_TOPK_AUDIT_ORACLE,
    description=(
        "approximate ANN via flat product quantization: a 1-cell IVFPQ index "
        "(n_cells=1), per-subspace codebooks trained once on a deterministic "
        "sample of residuals from the corpus mean, corpus encoded distributed "
        "to m=8 4-bit codes (~1/32 the bytes), probes scored by "
        "asymmetric-distance table lookups as pure JVM expressions, then exact "
        "cosine re-rank of the k*16 refined candidates. Driver-checked "
        "in audit form — exact top-10 ranks plus recall@10 >= 0.5 as a boolean "
        "(raw ANN ranks: sim_topk_pq_raw)"
    ),
    tags=("similarity", "north-star", "quantization"),
)
def sim_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir, 0)
    exact = brute_force_topk(e.filter(F.col("vec_id") != 0), q, k=10)
    return _audited_topk(exact, sim_topk_pq_raw(spark, sf_dir), _TOPK_RECALL_FLOORS["pq"])


def sim_topk_ivfpq_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw IVF+PQ top-10 (engine-specific ranks; the registered entry wraps
    this in the exact+recall_ok audit form)."""
    q = _query_vector(spark, sf_dir, 0)
    path = _fixture_topk_index(spark, sf_dir, "ivfpq", n_cells=8)
    # nprobe=4 of 8: the fixture's direction clusters are weak (true cosine
    # neighbors spread over ~6 of 8 spherical cells at sf0.001), so the
    # half-probe is needed to meet the 0.4 recall floor
    # (_TOPK_RECALL_FLOORS["ivfpq"]). refine=16 because
    # 4-bit residual codes misrank beyond the top tens at sf0.1 cell sizes
    # (measured: refine 8/16/32 -> recall 0.4/0.5/0.7 at sf0.1); the exact
    # re-rank touches only k*refine rows either way
    return ivfpq_probe(spark, path, q, k=10, nprobe=4, refine=16)


@register(
    "sim_topk_ivfpq",
    oracle=_TOPK_AUDIT_ORACLE,
    description=(
        "approximate ANN via the IVF+PQ index (the FAISS IVFPQ "
        "architecture; sim_topk_ivf probes the same index with the ADC cut "
        "off, sim_topk_pq uses a 1-cell build of it): "
        "coarse cells partition-prune the scan to nprobe/n_cells of the "
        "corpus, PQ codes of the RESIDUAL u - center[cell] rank candidates "
        "by per-cell asymmetric-distance table lookups (pure JVM adds — "
        "residual quantization is why IVFPQ beats flat PQ at equal bits), "
        "then exact cosine re-ranks the k*refine survivors. Driver-checked "
        "in audit form — exact top-10 ranks plus recall@10 >= 0.4 as a "
        "boolean (measured 0.6/0.5/0.5 at the three fixture sfs; the floor "
        "leaves one-hit margin against numpy-version codebook drift) "
        "(raw ANN ranks: sim_topk_ivfpq_raw)"
    ),
    tags=("similarity", "north-star", "quantization", "partitioning", "scale"),
)
def sim_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir, 0)
    exact = brute_force_topk(e.filter(F.col("vec_id") != 0), q, k=10)
    return _audited_topk(
        exact, sim_topk_ivfpq_raw(spark, sf_dir), _TOPK_RECALL_FLOORS["ivfpq"]
    )


_KNN_K = 3
_KNN_NQ = 10  # query batch: vec_id < 10

_KNN_ORACLE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < {_KNN_NQ}),
c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= {_KNN_NQ}),
scored AS (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           round({_cos_sql('c.embedding', 'q.embedding')}, 6) AS cos_sim
    FROM c, q
),
ranked AS (
    SELECT query_id, neighbor_id, cos_sim,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, cos_sim, rank
FROM ranked WHERE rank <= {_KNN_K}
ORDER BY query_id, rank
"""


@register(
    "sim_knn_join",
    oracle=_KNN_ORACLE,
    description=(
        "exact k-NN JOIN (batch retrieval): top-k corpus neighbors for EVERY "
        "vector in a query batch, in ONE corpus pass — the query side is "
        "broadcast (a retrieval batch is bounded by construction), each corpus "
        "row scores against all queries JVM-side, and a per-query window top-k "
        "ranks candidates. At 100 TB: corpus scan x |Q| comparisons, no corpus "
        "shuffle beyond the query-cardinality-sized ranking exchange; larger "
        "query batches chunk, or route through the LSH/IVF/PQ indexes"
    ),
    tags=("similarity", "north-star", "join", "topk"),
)
def sim_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window  # noqa: PLC0415

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < _KNN_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    # the |Q| x corpus cosine folds after the broadcast
    # join ran inside the fixture's single-row-group scan task; fan_out_scan
    # spreads them (no-op at scale). Per-pair values are row-local, so the
    # result multiset is unchanged.
    c = fan_out_scan(e.filter(F.col("vec_id") >= _KNN_NQ)).select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    scored = c.join(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("embedding"), F.col("q_emb")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _KNN_K)
        .orderBy("query_id", "rank")
    )


def sim_pca_project_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw per-vector PCA coordinates (eigenbasis is engine-specific float
    work; the registered entry wraps this in the exact+invariant audit
    form)."""
    from data_integration_and_processing_spark.operators.linalg import pca_project  # noqa: PLC0415

    e = load_table(spark, sf_dir, "embeddings")
    projected, ratio = pca_project(e, k=8)
    rounded = F.transform("components", lambda x: F.round(x, 6))
    return projected.select(
        "vec_id",
        rounded.alias("components"),
        F.lit(round(float(ratio.sum()), 6)).alias("explained_var_top8"),
    ).orderBy("vec_id")


@register(
    "sim_pca_project",
    # Audit form: the eigenbasis has no DuckDB
    # twin, so the driver-checked output is the exact corpus arithmetic the
    # oracle recomputes (counts, dim, covariance trace — rotation-invariant,
    # so basis-independent) plus boolean invariants of the real projection:
    # projected coordinates are centered, their summed variance equals the
    # reported explained-variance ratio times the trace, and the top-8/64
    # ratio clears the uniform 1/8 baseline. Per-vector coordinates:
    # sim_pca_project_raw; moments-vs-numpy, determinism and whitening are
    # pinned in tests/test_linalg.py.
    oracle="""
        WITH x AS (
            SELECT unnest(embedding) AS v,
                   generate_subscripts(embedding, 1) AS d
            FROM embeddings
        ),
        pv AS (SELECT var_pop(CAST(v AS DOUBLE)) AS vv FROM x GROUP BY d)
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_vecs,
               (SELECT CAST(max(len(embedding)) AS INT) FROM embeddings) AS dim,
               CAST(8 AS INT) AS k,
               (SELECT round(sum(vv), 4) FROM pv) AS total_var,
               true AS centered_ok,
               true AS energy_matches_ratio_ok,
               true AS ratio_floor_ok
    """,
    description=(
        "distributed PCA: one-pass per-partition (count, sum, X'X) moment "
        "partials (d + d^2 doubles each) tree-aggregate to the driver, "
        "driver-side eigh on the 64x64 covariance, sign-normalized basis, "
        "then a map-only Arrow-batched projection with the broadcast-sized "
        "(d x k) matrix in the UDF closure — the linear-algebra shape that "
        "scales to any corpus size with O(d^2) driver state. Driver-checked "
        "in audit form: exact counts + rotation-invariant covariance trace "
        "+ centered/energy/ratio-floor booleans (raw coordinates: "
        "sim_pca_project_raw)"
    ),
    tags=("similarity", "north-star", "linalg", "pandas-udf"),
)
def sim_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.operators.linalg import pca_project  # noqa: PLC0415

    e = load_table(spark, sf_dir, "embeddings")
    projected, ratio = pca_project(e, k=8)
    ratio_sum = float(ratio.sum())
    dim = e.select(F.size("embedding").alias("s")).agg(F.max("s")).collect()[0][0]
    proj_stats = (
        projected.select(F.posexplode("components").alias("d", "v"))
        .groupBy("d")
        .agg(F.var_pop("v").alias("vv"), F.avg("v").alias("mm"))
        .agg(
            F.sum("vv").alias("proj_var"),
            F.max(F.abs(F.col("mm"))).alias("max_mean"),
        )
    )
    trace = (
        e.select(F.posexplode("embedding").alias("d", "v"))
        .groupBy("d")
        .agg(F.var_pop(F.col("v").cast("double")).alias("vv"))
        .agg(F.sum("vv").alias("trace"), F.count("*").alias("n_dims"))
    )
    counts = e.agg(F.count("*").cast("long").alias("n_vecs"))
    return (
        counts.crossJoin(proj_stats).crossJoin(trace)  # three 1-row frames
        .select(
            "n_vecs",
            F.lit(int(dim)).cast("int").alias("dim"),
            F.lit(8).cast("int").alias("k"),
            F.round("trace", 4).alias("total_var"),
            (F.col("max_mean") < 1e-9).alias("centered_ok"),
            (
                F.abs(F.col("proj_var") / F.col("trace") - F.lit(ratio_sum)) < 1e-6
            ).alias("energy_matches_ratio_ok"),
            F.lit(ratio_sum >= 1.0 / 8.0).alias("ratio_floor_ok"),
        )
    )


def sim_ann_join_ivf_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw IVF k-NN join (engine-specific cell routing; the registered entry
    wraps this in the exact+recall_ok audit form)."""
    from data_integration_and_processing_spark.operators.similarity import (  # noqa: PLC0415
        ann_join_ivf,
    )

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = e.filter(F.col("vec_id") % 25 != 0)
    # lazy checkpoint BEFORE the global sort: the
    # range-partitioned orderBy on top of the IVF join plan re-executed the
    # candidate+cosine chain in its sampling pass (two extra ~0.8s
    # single-task stages in the event log; +0.83s A/B on the noop sink).
    # Materializing the |Q|*k result rows once lets the sampler and the
    # sort read the tiny RDD instead. Rows verified identical.
    return (
        ann_join_ivf(q, c, k=10, n_cells=8, nprobe=2)
        .localCheckpoint(eager=False)
        .orderBy("query_id", "rank")
    )


@register(
    "sim_ann_join_ivf",
    # Audit form: KMeans cell assignment is engine-specific, so the
    # driver-checked output is the EXACT k-NN join (deterministic, the
    # retrieval ground truth) plus the IVF join's corpus-level recall-floor
    # verdict — the nprobe=2 mean floor from _ANN_RECALL_FLOORS, the same
    # constant sim_ann_recall_audit hash-checks per-nprobe.
    oracle=f"""
        WITH q AS (
            SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id % 25 = 0
        ),
        c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 25 <> 0),
        scored AS (
            SELECT q.query_id, c.vec_id AS neighbor_id,
                   round({_cos_sql('c.embedding', 'q.embedding')}, 6) AS cos_sim
            FROM c, q
        ),
        ranked AS (
            SELECT query_id, neighbor_id, cos_sim,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, cos_sim, rank, true AS recall_ok
        FROM ranked WHERE rank <= 10
        ORDER BY query_id, rank
    """,
    description=(
        "approximate k-NN JOIN via IVF routing: corpus assigned to coarse-quantizer "
        "cells once, each query shuffled only to its nprobe nearest cells, exact "
        "cosine + window top-k within candidates — ~nprobe/n_cells of the all-pairs "
        "volume. The complement of sim_knn_join's broadcast regime: BOTH sides large. "
        "At 100 TB: sqrt(N) centroids keep the routing table broadcastable and the "
        "per-cell join co-partitioned. Driver-checked in audit form: the exact k-NN "
        "join plus the IVF recall-floor boolean (raw join: sim_ann_join_ivf_raw)"
    ),
    tags=("similarity", "north-star", "join", "topk", "ann", "scale"),
)
def sim_ann_join_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window  # noqa: PLC0415

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = e.filter(F.col("vec_id") % 25 != 0)
    # fan out the exact side's |Q| x corpus cosine folds
    # (single-row-group scan = one task otherwise); per-pair values are
    # row-local, result multiset unchanged
    scored = fan_out_scan(c.select(F.col("vec_id").alias("neighbor_id"), "embedding")).join(
        F.broadcast(q.select("query_id", F.col("embedding").alias("q_emb")))
    ).select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("embedding"), F.col("q_emb")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    # left lazy, the exact arm is re-planned (and re-computed) 3x inside
    # the one action — as `exact`, as `caught`'s left side and as the
    # verdict count, with no exchange reuse in the final plan. Materialize its tiny top-10 result ONCE on a background
    # thread, overlapped with the approx arm's driver-side work (IVF
    # trainer sample collect + numpy Lloyd + plan build).
    exact_f = background_checkpoint(
        scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 10)
    )
    approx = sim_ann_join_ivf_raw(spark, sf_dir).select(
        F.col("query_id").alias("a_q"), F.col("neighbor_id").alias("a_n")
    )
    exact = exact_f.result()
    caught = exact.join(
        approx, (exact.query_id == approx.a_q) & (exact.neighbor_id == approx.a_n), "left_semi"
    )
    # micro recall == macro mean recall here (every query has exactly k
    # exact neighbors), so the nprobe=2 mean floor applies directly
    verdict = exact.select(F.count("*").alias("_n")).crossJoin(
        caught.select(F.count("*").alias("_hit"))
    ).select(
        (F.col("_hit") >= F.lit(_ANN_RECALL_FLOORS[2][0]) * F.col("_n")).alias("recall_ok")
    )
    return (
        exact.withColumn("_j", F.lit(1))
        .join(F.broadcast(verdict.withColumn("_j", F.lit(1))), "_j")
        .select("query_id", "neighbor_id", "cos_sim", "rank", "recall_ok")
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# hard-negative mining (contrastive-training data prep)
# ---------------------------------------------------------------------------

_NEG_K = 5
_NEG_NQ = 40  # queries: vec_id % 50 == 0 => 40 of 2000 at sf0.01


@register(
    "sim_hard_negatives",
    oracle=f"""
        WITH q AS (
            SELECT vec_id AS query_id, embedding, label FROM embeddings WHERE vec_id % 50 = 0
        ),
        c AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id % 50 <> 0),
        scored AS (
            SELECT q.query_id, c.vec_id AS negative_id,
                   round({{cos}}, 6) AS cos_sim
            FROM c, q WHERE c.label <> q.label
        ),
        ranked AS (
            SELECT query_id, negative_id, cos_sim,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos_sim DESC, negative_id ASC) AS rank
            FROM scored
        )
        SELECT query_id, negative_id, cos_sim, rank
        FROM ranked WHERE rank <= {_NEG_K}
        ORDER BY query_id, rank
    """.format(cos=_cos_sql("c.embedding", "q.embedding")),
    description=(
        "hard-negative mining for contrastive training: per query vector, the "
        "top-k most-similar corpus vectors with a DIFFERENT label — the negatives "
        "that actually move an embedding model, vs easy random ones. Broadcast "
        "query batch, JVM cosine, label inequality folded into the scoring "
        "filter, per-query window top-k — the sim_knn_join plan with the "
        "label-aware predicate pushed before ranking. At 100 TB: route the "
        "candidate pass through the IVF/LSH indexes like any retrieval"
    ),
    tags=("similarity", "north-star", "topk", "sampling"),
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window  # noqa: PLC0415

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("q_label"),
    )
    # fan out the corpus-side cosine folds — see
    # sim_knn_join; per-pair values are row-local, multiset unchanged
    c = fan_out_scan(e.filter(F.col("vec_id") % 50 != 0)).select(
        F.col("vec_id").alias("negative_id"), "embedding", "label"
    )
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("label") != F.col("q_label"))
        .select(
            "query_id",
            "negative_id",
            F.round(cosine(F.col("embedding"), F.col("q_emb")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("negative_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _NEG_K)
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# nearest-centroid classification (ML eval as a query)
# ---------------------------------------------------------------------------


def _centroid_oracle() -> str:
    cos = _cos_sql("e.embedding", "c.centroid")
    return f"""
        WITH dims AS (
            SELECT vec_id, label, i AS d, CAST(embedding[i] AS DOUBLE) AS x
            FROM embeddings, unnest(generate_series(1, 64)) AS t(i)
        ),
        cent AS (
            SELECT label AS c_label, list(avg_x ORDER BY d) AS centroid
            FROM (SELECT label, d, avg(x) AS avg_x FROM dims GROUP BY label, d) g
            GROUP BY label
        ),
        scored AS (
            SELECT e.vec_id, e.label AS true_label, c.c_label,
                   round({cos}, 6) AS sim
            FROM embeddings e CROSS JOIN cent c
        ),
        best AS (
            SELECT vec_id, true_label, c_label AS pred_label,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sim DESC, c_label ASC) AS rn
            FROM scored
        )
        SELECT true_label AS label,
               count(*) AS n_vecs,
               CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
               CAST((sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                     * 1000000) // count(*) AS BIGINT) AS accuracy_micro
        FROM best WHERE rn = 1
        GROUP BY true_label ORDER BY true_label
    """


@register(
    "sim_centroid_classification",
    oracle=_centroid_oracle(),
    description=(
        "nearest-centroid classification as a query: per-label mean embeddings "
        "(one dimension-keyed partial-agg shuffle — the transpose trick: explode "
        "to (label, dim) cells so averaging is plain groupBy, never a UDAF), "
        "broadcast the label-count-sized centroid table, argmax cosine per "
        "vector, per-label accuracy out. The eval harness a labeling/distillation "
        "pipeline runs after every batch; exact arithmetic end to end, so the "
        "whole evaluation is oracle-checked"
    ),
    tags=("similarity", "north-star", "analytics", "aggregation"),
)
def sim_centroid_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window  # noqa: PLC0415

    e = load_table(spark, sf_dir, "embeddings")
    dims = e.select(
        "vec_id", "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("d", "x")
    )
    cent = (
        dims.groupBy("label", "d")
        .agg(F.avg("x").alias("avg_x"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "avg_x"))), lambda s: s["avg_x"]
            ).alias("centroid")
        )
        .select(F.col("label").alias("c_label"), "centroid")
    )
    # fan out the vectors x centroids cosine folds (the
    # cent subtree is untouched — its float avg partials keep the scan's
    # partition layout); per-pair sims are row-local
    scored = fan_out_scan(e).crossJoin(F.broadcast(cent)).select(
        "vec_id",
        F.col("label").alias("true_label"),
        "c_label",
        F.round(cosine(F.col("embedding"), F.col("centroid")), 6).alias("sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("c_label"))
    best = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        best.groupBy(F.col("true_label").alias("label"))
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum(F.when(F.col("c_label") == F.col("true_label"), 1).otherwise(0)).alias(
                "n_correct"
            ),
            # exact integer-micro
            F.expr(
                "(sum(CASE WHEN c_label = true_label THEN 1 ELSE 0 END)"
                " * CAST(1000000 AS BIGINT)) div count(*)"
            ).alias("accuracy_micro"),
        )
        .orderBy("label")
    )


@register(
    "sim_embedding_norm_audit",
    oracle="""
        WITH norms AS (
            SELECT vec_id, label,
                   sqrt(list_sum(list_transform(generate_series(1, 64),
                        i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm,
                   len(embedding) AS dim
            FROM embeddings
        )
        SELECT CAST(count(*) AS BIGINT) AS n_vectors,
               CAST(sum(CASE WHEN dim <> 64 THEN 1 ELSE 0 END) AS BIGINT) AS bad_dim,
               CAST(sum(CASE WHEN nrm = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_vectors,
               CAST(sum(CASE WHEN isnan(nrm) OR NOT isfinite(nrm) THEN 1 ELSE 0 END) AS BIGINT) AS non_finite,
               round(min(nrm), 6) AS min_norm,
               round(max(nrm), 6) AS max_norm,
               round(percentile_cont(0.5) WITHIN GROUP (ORDER BY nrm), 6) AS p50_norm
        FROM norms
    """,
    description=(
        "embedding hygiene audit: dimension consistency, zero vectors (cosine is "
        "undefined on them — they poison every similarity downstream), NaN/Inf "
        "components, and the norm distribution (a bimodal norm histogram usually "
        "means two encoder versions got mixed). The guard an embedding ingest "
        "runs BEFORE any index build; one scan, one summary row, JVM-side "
        "norm fold"
    ),
    tags=("similarity", "quality", "north-star", "audit"),
)
def sim_embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.operators.similarity import norm  # noqa: PLC0415

    e = load_table(spark, sf_dir, "embeddings")
    nrm = norm(F.col("embedding"))
    base = e.select(nrm.alias("nrm"), F.size("embedding").alias("dim"))
    return base.agg(
        F.count("*").cast("bigint").alias("n_vectors"),
        F.sum(F.when(F.col("dim") != 64, 1).otherwise(0)).cast("bigint").alias("bad_dim"),
        F.sum(F.when(F.col("nrm") == 0.0, 1).otherwise(0)).cast("bigint").alias("zero_vectors"),
        F.sum(F.when(F.isnan("nrm") | ~F.col("nrm").between(float("-inf"), float("inf")), 1).otherwise(0))
        .cast("bigint")
        .alias("non_finite"),
        F.round(F.min("nrm"), 6).alias("min_norm"),
        F.round(F.max("nrm"), 6).alias("max_norm"),
        F.round(F.expr("percentile(nrm, 0.5)"), 6).alias("p50_norm"),
    )


@register(
    "sim_dedup_semantic",
    oracle=f"""
        WITH dropped AS (
            SELECT DISTINCT b.vec_id
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE round({_cos_sql('a.embedding', 'b.embedding')}, 6) >= 0.4
        )
        SELECT e.vec_id, e.label,
               e.vec_id IN (SELECT vec_id FROM dropped) AS dropped
        FROM embeddings e
        ORDER BY e.vec_id
    """,
    description=(
        "SemDeDup-style semantic dedup verdict per vector: drop v when any "
        "LOWER-id vector sits within cosine >= 0.4 (min-id survivor policy, "
        "the pairwise form of the greedy semantic prune). The Spark side "
        "reuses embedding_neardup_pairs — size-routed broadcast-matmul here, "
        "banded sign-LSH at corpus scale — then one anti-join-shaped "
        "left-semi flag; the oracle is the exact all-pairs self-join"
    ),
    tags=("similarity", "dedup", "north-star", "scale"),
)
def sim_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.operators.similarity import (  # noqa: PLC0415
        embedding_neardup_pairs,
    )

    e = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_neardup_pairs(e, threshold=0.4)
    dropped = pairs.select(F.col("id_b").alias("vec_id")).distinct()
    return (
        e.join(dropped.withColumn("_d", F.lit(True)), "vec_id", "left")
        .select("vec_id", "label", F.coalesce("_d", F.lit(False)).alias("dropped"))
        .orderBy("vec_id")
    )


# Recall floors per nprobe: {nprobe: (mean_floor, min_floor)}. The SINGLE
# source for both the oracle's VALUES table and the Spark when-chain below,
# so the two boolean bands cannot diverge. Floors sit well
# under the measured sf0.001/sf0.01 values (mean ~0.49/0.74, min 0.1/0.3
# for nprobe 2/4); nprobe=8 probes every cell and must be exhaustive-exact
# (>= 0.999 = 1.0 up to float round). The tighter floor stays in
# tests/test_ann_recall.py.
_ANN_RECALL_FLOORS: dict[int, tuple[float, float]] = {
    2: (0.35, 0.0),
    4: (0.60, 0.20),
    8: (0.999, 0.999),
}

_ANN_FLOOR_VALUES = ", ".join(
    f"({np}, {mf}, {mn})" for np, (mf, mn) in sorted(_ANN_RECALL_FLOORS.items())
)


@register(
    "sim_ann_recall_audit",
    # The IVF side is engine-specific (KMeans cells), so the driver-checked
    # output is the audit's verdict: per-nprobe recall floors as booleans.
    # A routing or recall regression flips a boolean and fails the value
    # hash.
    oracle=f"""
        WITH np(nprobe, mean_floor, min_floor) AS (
            VALUES {_ANN_FLOOR_VALUES}
        )
        SELECT np.nprobe,
               (SELECT CAST(count(*) AS BIGINT) FROM embeddings
                WHERE vec_id % 25 = 0) AS n_queries,
               CAST(np.mean_floor AS DOUBLE) AS mean_floor,
               true AS mean_ok,
               CAST(np.min_floor AS DOUBLE) AS min_floor,
               true AS min_ok
        FROM np ORDER BY np.nprobe
    """,
    description=(
        "self-auditing ANN quality readout: exact k-NN join (ground truth) "
        "and IVF k-NN join run over the SAME query batch in one plan, "
        "joined per (query, neighbor) to report per-query recall@10 plus "
        "the corpus-level mean/min — the recall dashboard every production "
        "ANN deployment watches when retuning n_cells/nprobe. Both sides "
        "reuse the operators' scale shapes (broadcast queries / cell "
        "routing); the audit join runs on O(|Q| * k) rows"
    ),
    tags=("similarity", "ann", "audit", "profiling"),
)
def sim_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    curve = ann_recall_curve(spark, sf_dir)
    # when-chains built from _ANN_RECALL_FLOORS — same source as the oracle
    mean_floor = functools.reduce(
        lambda acc, np: acc.when(F.col("nprobe") == np, _ANN_RECALL_FLOORS[np][0]),
        sorted(_ANN_RECALL_FLOORS),
        F.when(F.lit(False), 0.0),
    ).otherwise(None)
    min_floor = functools.reduce(
        lambda acc, np: acc.when(F.col("nprobe") == np, _ANN_RECALL_FLOORS[np][1]),
        sorted(_ANN_RECALL_FLOORS),
        F.when(F.lit(False), 0.0),
    ).otherwise(None)
    return curve.select(
        "nprobe",
        "n_queries",
        mean_floor.alias("mean_floor"),
        (F.col("mean_recall") >= mean_floor).alias("mean_ok"),
        min_floor.alias("min_floor"),
        (F.col("min_recall") >= min_floor).alias("min_ok"),
    ).orderBy("nprobe")


def ann_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full recall readout (nprobe, n_queries, mean_recall, min_recall) —
    the dashboard view; tests pin monotonicity and the exhaustive-exact
    property on this, while the registered audit query projects the
    driver-checkable floor booleans."""
    from pyspark.sql.window import Window  # noqa: PLC0415

    from data_integration_and_processing_spark.operators.similarity import (  # noqa: PLC0415
        ann_join_ivf,
        cosine,
        train_ivf_centers,
    )

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = e.filter(F.col("vec_id") % 25 != 0)
    # build once, probe three times: the nprobe sweep shares one quantizer
    centers = train_ivf_centers(c, n_cells=8)

    # fan out the exact side's cosine folds — see
    # sim_knn_join; per-pair values are row-local, multiset unchanged
    scored = fan_out_scan(
        c.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    ).join(
        F.broadcast(q.select("query_id", F.col("embedding").alias("q_emb")))
    ).select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("embedding"), F.col("q_emb")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    # the exact ground truth is consumed twice per nprobe arm (semi-join +
    # per-query truth counts): O(queries * k) rows, materialize once so the
    # sweep re-reads the tiny frame instead of re-running the corpus
    # scoring window six times
    exact = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .localCheckpoint(eager=True)
    )

    out = None
    for nprobe in (2, 4, 8):  # 8 = exhaustive: recall must hit 1.0 (in-plan sanity)
        approx = ann_join_ivf(q, c, k=10, n_cells=8, nprobe=nprobe, centers=centers).select(
            "query_id", F.col("neighbor_id").alias("a_neighbor")
        )
        hits = exact.join(
            approx,
            (exact.query_id == approx.query_id) & (exact.neighbor_id == approx.a_neighbor),
            "left_semi",
        )
        per_q = (
            exact.select("query_id").groupBy("query_id").agg(F.count("*").alias("n_true"))
            .join(hits.groupBy("query_id").agg(F.count("*").alias("n_hit")), "query_id", "left")
            .select(
                "query_id",
                F.round(
                    F.coalesce("n_hit", F.lit(0)) / F.col("n_true").cast("double"), 6
                ).alias("recall_at_10"),
            )
        )
        row = per_q.agg(
            F.lit(nprobe).alias("nprobe"),
            F.count("*").alias("n_queries"),
            F.round(F.avg("recall_at_10"), 6).alias("mean_recall"),
            F.round(F.min("recall_at_10"), 6).alias("min_recall"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("nprobe")


_UNC_N = 200

_UNC_ORACLE = f"""
WITH comp AS (
    SELECT e.label, i.i,
           sum(CAST(CAST(e.embedding[i.i] AS DOUBLE) AS DECIMAL(18,9))) AS s,
           CAST(count(*) AS BIGINT) AS n
    FROM embeddings e CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) i
    GROUP BY e.label, i.i
),
cent AS (
    SELECT label, list(CAST(s AS DOUBLE) / n ORDER BY i) AS c FROM comp GROUP BY label
),
scored AS (
    SELECT e.vec_id, cent.label,
           round({_cos_sql('e.embedding', 'cent.c')}, 6) AS sim
    FROM embeddings e CROSS JOIN cent
),
ranked AS (
    SELECT vec_id, label, sim,
           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, label) AS rk
    FROM scored
)
SELECT a.vec_id,
       a.label AS best_label,
       a.sim AS best_sim,
       round(a.sim - b.sim, 6) AS margin
FROM ranked a JOIN ranked b ON a.vec_id = b.vec_id AND a.rk = 1 AND b.rk = 2
ORDER BY margin, a.vec_id
LIMIT {_UNC_N}
"""


@register(
    "sim_uncertainty_sampling",
    oracle=_UNC_ORACLE,
    description=(
        f"active-learning margin sampling: score every vector against every "
        "label centroid, take the top-1/top-2 cosine margin, and surface the "
        f"{_UNC_N} most ambiguous vectors — the labeling-budget allocator "
        "(small margin = the classifier can't tell the two nearest classes "
        "apart = the example worth a human label). Centroids are DECIMAL-"
        "exact per-dimension row sums (order-independent, so both engines "
        "derive bit-identical centroids) finished with one IEEE division; "
        "scoring is a broadcast of the O(labels) centroid table against the "
        "corpus — one scan, no vector shuffle; the margin needs exactly the "
        "top-2, a per-vector window over the labels-cardinality score list"
    ),
    tags=("similarity", "llm-pipeline", "statistics", "scale"),
)
def sim_uncertainty_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window  # noqa: PLC0415

    e = load_table(spark, sf_dir, "embeddings")
    comp = (
        e.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(
            F.sum(F.col("val").cast("double").cast("decimal(18,9)")).alias("s"),
            F.count("*").alias("n"),
        )
        .select("label", "pos", (F.col("s").cast("double") / F.col("n")).alias("cv"))
    )
    cent = comp.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cv"))), lambda x: x["cv"]
        ).alias("c")
    )
    scored = (
        # fan out the vectors x centroids cosine folds
        # (cent subtree untouched); per-pair sims are row-local
        fan_out_scan(e.select("vec_id", "embedding"))
        .crossJoin(F.broadcast(cent.select(F.col("label"), F.col("c"))))
        .select(
            "vec_id",
            "label",
            F.round(cosine(F.col("embedding"), F.col("c")), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("label"))
    ranked = scored.withColumn("rk", F.row_number().over(w))
    a = ranked.filter(F.col("rk") == 1).select(
        "vec_id", F.col("label").alias("best_label"), F.col("sim").alias("best_sim")
    )
    b = ranked.filter(F.col("rk") == 2).select("vec_id", F.col("sim").alias("sim2"))
    return (
        a.join(b, "vec_id")
        .select(
            "vec_id",
            "best_label",
            "best_sim",
            F.round(F.col("best_sim") - F.col("sim2"), 6).alias("margin"),
        )
        .orderBy("margin", "vec_id")
        .limit(_UNC_N)
    )


_MRL_DIMS = (8, 16, 32, 64)
_MRL_K = 10


def _cos_sql_d(a: str, b: str, d: int) -> str:
    dot = (
        f"list_sum(list_transform(generate_series(1, {d}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )
    na = (
        f"sqrt(list_sum(list_transform(generate_series(1, {d}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))))"
    )
    nb = (
        f"sqrt(list_sum(list_transform(generate_series(1, {d}), "
        f"i -> CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))))"
    )
    return f"{dot} / ({na} * {nb})"


def _mrl_oracle() -> str:
    per_d = []
    for d in _MRL_DIMS:
        per_d.append(f"""
    SELECT {d} AS dim, q.vec_id AS qid, c.vec_id AS cid,
           row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY round({_cos_sql_d('c.embedding', 'q.embedding', d)}, 6) DESC, c.vec_id
           ) AS rk
    FROM embeddings c JOIN qs q ON c.vec_id <> q.vec_id""")
    union = "\n    UNION ALL\n".join(per_d)
    return f"""
WITH qs AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 97 = 0),
ranked AS ({union}),
topk AS (SELECT dim, qid, cid FROM ranked WHERE rk <= {_MRL_K}),
base AS (SELECT qid, cid FROM topk WHERE dim = 64)
SELECT t.dim,
       CAST(count(DISTINCT t.qid) AS BIGINT) AS n_queries,
       (count(b.cid) * CAST(1000000 AS BIGINT))
           // (count(DISTINCT t.qid) * {_MRL_K}) AS recall_at_{_MRL_K}_micro
FROM topk t LEFT JOIN base b ON t.qid = b.qid AND t.cid = b.cid
GROUP BY t.dim
ORDER BY t.dim
"""


@register(
    "sim_matryoshka_prefix_recall",
    oracle=_mrl_oracle(),
    description=(
        "Matryoshka-style prefix-dimension recall curve: exact cosine "
        "top-10 using only the first 8/16/32 dimensions of each embedding, "
        "scored against the full-64-dim baseline — the measurement that "
        "decides how far MRL-truncated vectors can cut index memory/compute "
        "before recall pays (prefix-truncation is a 4-8x ANN cost lever "
        "when embeddings are matryoshka-trained). One broadcast of the "
        "hash-sampled query set against the corpus computes all four "
        "prefix cosines in a single scan (sliced JVM folds, no UDF); "
        "ranking is per-(dim, query) over candidate rows; similarities are "
        "rounded before ranking with id tiebreak so the engine-side order "
        "is deterministic"
    ),
    tags=("similarity", "llm-pipeline", "quantization", "scale"),
)
def sim_matryoshka_prefix_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window  # noqa: PLC0415

    e = load_table(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    pairs = e.select(F.col("vec_id").alias("cid"), "embedding").crossJoin(
        F.broadcast(qs)
    ).filter(F.col("cid") != F.col("qid"))
    sims = pairs.select(
        "qid",
        "cid",
        *[
            F.round(cosine(F.slice("embedding", 1, d), F.slice("qvec", 1, d)), 6).alias(
                f"s{d}"
            )
            for d in _MRL_DIMS
        ],
    )
    stack_args = ", ".join(f"{d}, s{d}" for d in _MRL_DIMS)
    per_d = sims.select(
        "qid", "cid", F.expr(f"stack({len(_MRL_DIMS)}, {stack_args}) AS (dim, sim)")
    )
    w = Window.partitionBy("dim", "qid").orderBy(F.desc("sim"), F.asc("cid"))
    topk = (
        per_d.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _MRL_K)
        .select("dim", "qid", "cid")
    )
    base = topk.filter(F.col("dim") == 64).select(
        F.col("qid").alias("b_qid"), F.col("cid").alias("b_cid")
    )
    joined = topk.join(
        base,
        (F.col("qid") == F.col("b_qid")) & (F.col("cid") == F.col("b_cid")),
        "left",
    )
    return (
        joined.groupBy("dim")
        .agg(
            F.countDistinct("qid").cast("bigint").alias("n_queries"),
            # exact integer-micro
            F.expr(
                f"(count(b_cid) * CAST(1000000 AS BIGINT))"
                f" div (count(DISTINCT qid) * {_MRL_K})"
            ).alias(f"recall_at_{_MRL_K}_micro"),
        )
        .orderBy("dim")
    )


_DIV_ORACLE = f"""
WITH s AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 23 = 0),
pairs AS (
    SELECT round({_cos_sql('a.embedding', 'b.embedding')}, 6) AS sim
    FROM s a JOIN s b ON a.vec_id < b.vec_id
)
SELECT CAST((SELECT count(*) FROM s) AS BIGINT) AS n_sampled,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CAST(round(sim * 1000000) AS BIGINT)) // count(*) AS BIGINT)
           AS mean_cos_micro,
       round(min(sim), 6) AS min_cos,
       round(max(sim), 6) AS max_cos,
       CAST((count(CASE WHEN round(sim * 1000000) >= 300000 THEN 1 END)
             * 1000000) // count(*) AS BIGINT) AS frac_similar_micro
FROM pairs
"""


@register(
    "sim_sample_diversity",
    oracle=_DIV_ORACLE,
    description=(
        "embedding-sample diversity audit: mean / extreme pairwise cosine "
        "and the >=0.3-similarity fraction over a deterministic hash sample "
        "of the corpus — the training-batch health metric (a collapsing "
        "embedding space or an over-deduped batch shows up as mean_cos "
        "drifting up). The all-pairs stage is BOUNDED BY THE SAMPLE "
        "(C(sample,2), broadcast self-join), never the corpus — the sample "
        "rate is the documented lever, and the mean over hash-sampled "
        "pairs is an unbiased estimate of the corpus mean pairwise cosine. "
        "avg() over the rounded sims is n-bounded float addition; the "
        "oracle-vs-engine agreement at 6 digits is pinned by the driver"
    ),
    tags=("similarity", "quality", "llm-pipeline", "statistics"),
)
def sim_sample_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    s = e.filter(F.col("vec_id") % 23 == 0).select("vec_id", "embedding")
    a = s.select(F.col("vec_id").alias("ida"), F.col("embedding").alias("va"))
    b = s.select(F.col("vec_id").alias("idb"), F.col("embedding").alias("vb"))
    pairs = a.join(F.broadcast(b), F.col("ida") < F.col("idb")).select(
        F.round(cosine(F.col("va"), F.col("vb")), 6).alias("sim")
    )
    n_sampled = s.count()
    return pairs.agg(
        F.lit(n_sampled).cast("bigint").alias("n_sampled"),
        F.count("*").cast("bigint").alias("n_pairs"),
        # exact integer-micro mean + share: sim is
        # already on the 1e-6 grid (rounded cosine), so round(sim*1e6)
        # recovers each pair's exact integer and the mean/threshold are
        # BIGINT-exact on both engines
        F.expr(
            "sum(CAST(round(sim * 1000000, 0) AS BIGINT)) div count(*)"
        ).alias("mean_cos_micro"),
        F.round(F.min("sim"), 6).alias("min_cos"),
        F.round(F.max("sim"), 6).alias("max_cos"),
        F.expr(
            "(count(CASE WHEN round(sim * 1000000, 0) >= 300000 THEN 1 END)"
            " * CAST(1000000 AS BIGINT)) div count(*)"
        ).alias("frac_similar_micro"),
    )


# ---------------------------------------------------------------------------
# binary (sign-code) embeddings + Hamming top-k — exact cross-engine ANN
# ---------------------------------------------------------------------------

_HAMMING_ORACLE = """
WITH codes AS (
    SELECT vec_id,
           list_reduce(list_transform(embedding[1:32],  x -> CAST(x >= 0 AS BIGINT)),
                       (a, b) -> a * 2 + b) AS c1,
           list_reduce(list_transform(embedding[33:64], x -> CAST(x >= 0 AS BIGINT)),
                       (a, b) -> a * 2 + b) AS c2
    FROM embeddings
),
q AS (SELECT vec_id AS query_id, c1 AS q1, c2 AS q2 FROM codes WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, c1, c2 FROM codes WHERE vec_id >= 5),
scored AS (
    SELECT q.query_id, c.neighbor_id,
           CAST(bit_count(xor(q.q1, c.c1)) + bit_count(xor(q.q2, c.c2)) AS INT) AS hamming
    FROM q, c
),
ranked AS (
    SELECT query_id, neighbor_id, hamming,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY hamming ASC, neighbor_id ASC) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, hamming, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 10 ORDER BY query_id, rank
"""


@register(
    "sim_binary_hamming_topk",
    oracle=_HAMMING_ORACLE,
    description=(
        "binary-embedding retrieval: 64 float dims sign-quantized to two "
        "32-bit codes packed in BIGINTs (the 32x memory cut behind "
        "binary-embedding indexes), Hamming distance = popcount of XOR — "
        "pure JVM bitwise expressions, integer-exact cross-engine (unlike "
        "every float-scored ANN variant, this one hash-checks end to end). "
        "Codes are a one-pass narrow map; the probe batch broadcasts as "
        "packed codes, so the scan touches 16 bytes per corpus row instead "
        "of 256. Two 32-bit chunks, not one 64-bit pack, because a 64-deep "
        "acc*2 fold would overflow signed BIGINT under ANSI. The standard "
        "production shape is Hamming shortlist -> exact-cosine rerank; the "
        "shortlist stage is what this checks"
    ),
    tags=("similarity", "north-star", "topk", "quantization", "scale"),
)
def sim_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window  # noqa: PLC0415

    e = load_table(spark, sf_dir, "embeddings")

    def pack(lo: int) -> F.Column:
        return F.aggregate(
            F.slice("embedding", lo, 32),
            F.lit(0).cast("long"),
            lambda acc, x: acc * 2 + (x >= 0).cast("long"),
        )

    codes = e.select("vec_id", pack(1).alias("c1"), pack(33).alias("c2"))
    q = codes.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("c1").alias("q1"), F.col("c2").alias("q2")
    )
    c = codes.filter(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("neighbor_id"), "c1", "c2"
    )
    hamming = (
        F.bit_count(F.col("q1").bitwiseXOR(F.col("c1")))
        + F.bit_count(F.col("q2").bitwiseXOR(F.col("c2")))
    ).cast("int")
    w = Window.partitionBy("query_id").orderBy(F.asc("hamming"), F.asc("neighbor_id"))
    return (
        c.crossJoin(F.broadcast(q))  # probe batch broadcast as 16-byte codes
        .select("query_id", "neighbor_id", hamming.alias("hamming"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# retrieval evaluation: nDCG@10 / MRR / P@10 per query (embedding QA)
# ---------------------------------------------------------------------------

_EVAL_K = 10

_EVAL_ORACLE = f"""
WITH q AS (
    SELECT vec_id AS query_id, label AS q_label, embedding AS q_emb
    FROM embeddings WHERE vec_id % 25 = 1
),
c AS (
    SELECT vec_id AS neighbor_id, label, embedding
    FROM embeddings WHERE vec_id % 25 <> 1
),
scored AS (
    SELECT q.query_id, q.q_label, c.neighbor_id,
           CAST(c.label = q.q_label AS INT) AS rel,
           round({_cos_sql('c.embedding', 'q.q_emb')}, 6) AS cos_sim
    FROM c, q
),
ranked AS (
    SELECT query_id, q_label, rel,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
    FROM scored
),
nrel AS (
    SELECT q.query_id, count(*) AS n_rel
    FROM q JOIN c ON c.label = q.q_label GROUP BY q.query_id
),
topk AS (SELECT * FROM ranked WHERE rank <= {_EVAL_K}),
metrics AS (
    SELECT t.query_id,
           sum(t.rel / log2(t.rank + 1.0)) AS dcg,
           CAST(sum(t.rel) AS BIGINT) AS n_hits,
           min(CASE WHEN t.rel = 1 THEN t.rank END) AS first_rel_rank
    FROM topk t GROUP BY t.query_id
),
idcg_table(m, idcg) AS (
    -- IDCG prefix sums precomputed in the same ascending-i double fold the
    -- Spark side uses (identical literals => identical quotients)
    VALUES (1, 1.0),
            (2, 1.6309297535714575),
            (3, 2.1309297535714578),
            (4, 2.5616063116448506),
            (5, 2.9484591188793923),
            (6, 3.3046663059874146),
            (7, 3.637999639320748),
            (8, 3.953464516106477),
            (9, 4.254494511770458),
            (10, 4.543559338088346)
),
ideal AS (
    SELECT n.query_id, t.idcg
    FROM nrel n JOIN idcg_table t ON t.m = LEAST(n.n_rel, {_EVAL_K})
)
SELECT m.query_id,
       round(m.dcg / i.idcg, 6) AS ndcg10,
       coalesce(CAST(1000000 AS BIGINT) // m.first_rel_rank, 0) AS mrr_micro,
       m.n_hits * CAST({1000000 // _EVAL_K} AS BIGINT) AS prec10_micro
FROM metrics m JOIN ideal i ON i.query_id = m.query_id
ORDER BY m.query_id
"""


@register(
    "sim_retrieval_eval_ndcg",
    oracle=_EVAL_ORACLE,
    description=(
        "retrieval-quality evaluation harness (embedding QA): per probe, "
        "rank the corpus by exact cosine (rounded to 6dp before ranking so "
        "float summation order cannot flip a rank) and score the label-match "
        "relevance of the top-10 as nDCG@10, MRR and P@10 — the metrics "
        "every retrieval deployment tracks before swapping an embedding "
        "model. Probe batch broadcasts; ranking is a per-query window over "
        "the scored candidates; IDCG normalizes by min(n_relevant, k) "
        "computed from a label-count broadcast. At scale the scored set is "
        "the ANN shortlist instead of the full corpus — the metric stage "
        "stays O(probes x k)"
    ),
    tags=("similarity", "north-star", "audit", "analytics"),
)
def sim_retrieval_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window  # noqa: PLC0415

    from data_integration_and_processing_spark.operators.similarity import cosine  # noqa: PLC0415

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 25 == 1).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"),
    )
    c = e.filter(F.col("vec_id") % 25 != 1).select(
        F.col("vec_id").alias("neighbor_id"), "label", "embedding"
    )
    # fan out the corpus-side cosine folds — see
    # sim_knn_join; the downstream per-query window re-sorts its partition,
    # so every aggregate sees the identical row order as before
    scored = fan_out_scan(c).crossJoin(F.broadcast(q)).select(
        "query_id",
        "q_label",
        (F.col("label") == F.col("q_label")).cast("int").alias("rel"),
        F.round(cosine(F.col("embedding"), F.col("q_emb")), 6).alias("cos_sim"),
        "neighbor_id",
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    topk = scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= _EVAL_K)
    metrics = topk.groupBy("query_id").agg(
        F.sum(F.col("rel") / F.log2(F.col("rank") + 1.0)).alias("dcg"),
        F.sum("rel").alias("n_hits"),
        F.min(F.when(F.col("rel") == 1, F.col("rank"))).alias("first_rel_rank"),
    )
    nrel = (
        q.join(c, q.q_label == c.label)
        .groupBy("query_id")
        .agg(F.count("*").alias("n_rel"))
    )
    # IDCG lookup: same ascending-i double fold as the oracle's VALUES table
    import math  # noqa: PLC0415

    acc, prefix = 0.0, {}
    for i in range(1, _EVAL_K + 1):
        acc += 1.0 / math.log2(i + 1)
        prefix[i] = acc
    m = F.least(F.col("n_rel"), F.lit(_EVAL_K))
    idcg = None
    for i in range(1, _EVAL_K + 1):
        branch = F.when(m == i, F.lit(prefix[i]))
        idcg = branch if idcg is None else idcg.when(m == i, F.lit(prefix[i]))
    ideal = nrel.select("query_id", idcg.alias("idcg"))
    return (
        metrics.join(ideal, "query_id")
        .select(
            "query_id",
            # ndcg10 keeps round(): the log2 DCG weights are irrational,
            # no exact decimal tie (det64 residual only). mrr/prec10 are
            # rationals — exact integer-micro
            F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg10"),
            F.coalesce(
                F.expr("CAST(1000000 AS BIGINT) div first_rel_rank"), F.lit(0).cast("long")
            ).alias("mrr_micro"),
            (F.col("n_hits") * F.lit(1000000 // _EVAL_K)).cast("long").alias(
                "prec10_micro"
            ),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# corpus clustering: distributed Lloyd k-means (SemDeDup-style buckets)
# ---------------------------------------------------------------------------


def sim_kmeans_lloyd_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw plan: (vec_id, cluster) final assignments — what a curation
    pipeline consumes downstream (per-cluster sampling, semantic dedup)."""
    from data_integration_and_processing_spark.operators.clustering import (  # noqa: PLC0415
        kmeans_lloyd,
    )

    e = load_table(spark, sf_dir, "embeddings")
    assignments, _ = kmeans_lloyd(e, k=8, n_iter=5)
    return assignments.orderBy("vec_id")


@register(
    "sim_kmeans_lloyd",
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_vectors,
               8 AS k,
               5 AS n_iters,
               true AS clusters_nonempty,
               true AS inertia_monotone,
               true AS inertia_improved,
               true AS sizes_consistent
        FROM embeddings
    """,
    description=(
        "distributed Lloyd k-means over the embedding corpus (the SemDeDup/"
        "cluster-balanced-curation regime where every vector's assignment "
        "matters, vs the IVF quantizer's bounded driver sample): per "
        "iteration one JVM argmin fold + one k*(dim+2)-wide partial-agg "
        "shuffle, O(k*dim) driver state. Audit form: exact corpus count the "
        "oracle recomputes + measured gates (all 8 clusters populated, "
        "inertia non-increasing across 5 iterations, final inertia < "
        "initial, groupBy sizes sum back to the corpus count)"
    ),
    tags=("similarity", "north-star", "curation"),
)
def sim_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.operators.clustering import (  # noqa: PLC0415
        kmeans_lloyd,
    )

    e = load_table(spark, sf_dir, "embeddings")
    assignments, model = kmeans_lloyd(e, k=8, n_iter=5)
    hist = model.inertia_history
    monotone = all(
        hist[i + 1] <= hist[i] * (1.0 + 1e-9) for i in range(len(hist) - 1)
    )
    improved = hist[-1] < hist[0]
    nonempty = all(s > 0 for s in model.cluster_sizes)
    return assignments.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.lit(8).alias("k"),
        F.lit(5).alias("n_iters"),
        F.lit(bool(nonempty)).alias("clusters_nonempty"),
        F.lit(bool(monotone)).alias("inertia_monotone"),
        F.lit(bool(improved)).alias("inertia_improved"),
        (F.count(F.lit(1)) == F.lit(int(sum(model.cluster_sizes)))).alias(
            "sizes_consistent"
        ),
    )


_DOT_SQL = (
    "list_sum(list_transform(generate_series(1, 64), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)))"
)


@register(
    "sim_mips_topk",
    oracle=f"""
        SELECT vec_id, round(dot_exact, 6) AS dot, true AS augmented_equiv_ok
        FROM (
            SELECT a.vec_id, {_DOT_SQL} AS dot_exact
            FROM embeddings a,
                 (SELECT embedding FROM embeddings WHERE vec_id = 0) q
            WHERE a.vec_id <> 0
            ORDER BY dot_exact DESC, a.vec_id
            LIMIT 10
        )
        ORDER BY dot DESC, vec_id
    """,
    description=(
        "maximum-inner-product search (the recommendation/reranking query "
        "cosine ANN cannot serve directly): exact top-10 by inner product, "
        "plus the Shrivastava-Li norm-augmentation reduction — append "
        "sqrt(M^2-|x|^2) to every vector and 0 to the query and MIPS becomes "
        "cosine NN (|x'| = M makes cosine a monotone transform of the dot), "
        "so the module's IVF/LSH cosine indexes serve MIPS unchanged. The "
        "boolean gates that the augmented-cosine top-10 id set EQUALS the "
        "raw inner-product top-10. Both paths (and the oracle) select top-k "
        "by the UNROUNDED score with an id tiebreak and round only the "
        "displayed value — division by the positive constant M|q| is "
        "IEEE-monotone, so the two rankings agree exactly and rounding "
        "cannot flip the k boundary. One scalar max-norm "
        "aggregate + the same JVM fold/TakeOrderedAndProject shape as the "
        "cosine baseline"
    ),
    tags=("similarity", "north-star", "analytics"),
)
def sim_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.operators.similarity import (  # noqa: PLC0415
        mips_topk,
    )

    e = load_table(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir, 0)
    raw, aug = mips_topk(e.filter(F.col("vec_id") != 0), q, k=10)
    raw = raw.localCheckpoint(eager=True)
    equiv = (
        raw.select("vec_id")
        .join(aug.select("vec_id"), "vec_id", "full_outer")
        .agg((F.count(F.lit(1)) == 10).alias("augmented_equiv_ok"))
    )
    return raw.crossJoin(F.broadcast(equiv)).orderBy(F.desc("dot"), "vec_id")


# ---------------------------------------------------------------------------
# MIPS served THROUGH the IVF cosine index
# ---------------------------------------------------------------------------

# Augmented-space IVF recall floor (mean over queries, nprobe=2 of 8 cells).
# Measured on the fixture corpus: the Shrivastava-Li augmentation puts every
# corpus vector on the radius-M sphere, which CHANGES the coarse-quantizer
# geometry vs the plain-cosine benchmark (_ANN_RECALL_FLOORS) — so the floor
# is measured in augmented space, not borrowed. Measured mean recall on the
# fixed fixture: 0.640 (sf0.001), 0.640 (sf0.01 — the driver's tier), 0.405
# (sf0.1); deterministic per sf (fixed seed, fixed data), so the floor only
# needs margin against the WORST tier, not against run noise.
_MIPS_IVF_RECALL_FLOOR = 0.35


def sim_mips_via_ivf_raw(
    spark: SparkSession, sf_dir: str, e: DataFrame | None = None
) -> DataFrame:
    """Raw plan: MIPS top-10 per query batch served by the IVF cosine index
    over norm-augmented vectors — what a recommender would deploy. Corpus
    rows gain the Shrivastava-Li coordinate sqrt(M^2 - |x|^2) (M = corpus
    max norm, ONE scalar aggregate broadcast back), queries gain a 0; every
    augmented corpus norm is M, so augmented cosine is a monotone transform
    of the raw inner product and the cosine IVF router needs no changes.
    ``e`` threads a shared cached corpus frame."""
    from data_integration_and_processing_spark.operators.similarity import (  # noqa: PLC0415
        ann_join_ivf,
    )

    if e is None:
        e = load_table(spark, sf_dir, "embeddings")
    c = e.filter(F.col("vec_id") % 100 != 0)
    q = e.filter(F.col("vec_id") % 100 == 0)
    sq = F.aggregate(
        F.col("embedding").cast("array<double>"),
        F.lit(0.0),
        lambda acc, x: acc + x * x,
    )
    m2 = c.agg(F.max(sq).alias("_m2"))
    c_aug = c.crossJoin(F.broadcast(m2)).select(
        "vec_id",
        F.concat(
            F.col("embedding").cast("array<double>"),
            F.array(F.sqrt(F.greatest(F.col("_m2") - sq, F.lit(0.0)))),
        ).alias("embedding"),
    )
    q_aug = q.select(
        F.col("vec_id").alias("query_id"),
        F.concat(F.col("embedding").cast("array<double>"), F.array(F.lit(0.0))).alias(
            "embedding"
        ),
    )
    # lazy checkpoint before the global sort — same measured range-sampling
    # re-execution as sim_ann_join_ivf_raw; rows identical
    return (
        ann_join_ivf(q_aug, c_aug, k=10, n_cells=8, nprobe=2)
        .localCheckpoint(eager=False)
        .orderBy("query_id", "rank")
    )


_MIPS_DOT_SQL = (
    "list_sum(list_transform(generate_series(1, 64), "
    "i -> CAST(c.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)))"
)


@register(
    "sim_mips_via_ivf",
    # Audit form (the sim_ann_join_ivf contract): IVF cell assignment is
    # engine-specific, so the driver-checked output is the EXACT per-query
    # MIPS top-10 (deterministic ground truth, selected by the UNROUNDED
    # dot with an id tiebreak) plus the corpus-level recall-floor verdict
    # for the IVF-served augmented path.
    oracle=f"""
        WITH q AS (
            SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id % 100 = 0
        ),
        c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 100 <> 0),
        scored AS (
            SELECT q.query_id, c.vec_id AS neighbor_id, {_MIPS_DOT_SQL} AS dot_exact
            FROM c, q
        ),
        ranked AS (
            SELECT query_id, neighbor_id, dot_exact,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY dot_exact DESC, neighbor_id ASC) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, round(dot_exact, 6) AS dot, rank,
               true AS recall_ok
        FROM ranked WHERE rank <= 10
        ORDER BY query_id, rank
    """,
    description=(
        "MIPS top-10 per query batch served THROUGH the IVF cosine index "
        "(closing the loop sim_mips_topk only proves as a boolean): corpus "
        "vectors gain the Shrivastava-Li coordinate sqrt(M^2-|x|^2), queries "
        "gain 0, and the UNCHANGED cosine IVF join (8 cells, nprobe 2) "
        "serves inner-product retrieval — every augmented corpus norm is M, "
        "so augmented cosine ranks exactly like the raw dot. Driver-checked "
        "in audit form: the exact MIPS top-10 join (selected by unrounded "
        "dot, rounded for display) plus the measured recall-floor boolean "
        "of the IVF-served set (floor 0.35 mean; measured augmented-space "
        "recall — see registration-adjacent comment). Raw deployable plan: "
        "sim_mips_via_ivf_raw. At 100 TB the augmentation is one scalar "
        "aggregate + a map; the index serves MIPS and cosine tenants from "
        "ONE routing layout"
    ),
    tags=("similarity", "north-star", "join", "topk", "ann", "analytics", "scale"),
)
def sim_mips_via_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window  # noqa: PLC0415

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = e.filter(F.col("vec_id") % 100 != 0)
    dot = F.aggregate(
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            F.col("q_emb").cast("array<double>"),
            lambda x, w: x * w,
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    # fan out the exact side's dot folds — see
    # sim_knn_join; per-pair values are row-local, multiset unchanged
    scored = (
        fan_out_scan(c.select(F.col("vec_id").alias("neighbor_id"), "embedding"))
        .join(F.broadcast(q))
        .select("query_id", "neighbor_id", dot.alias("dot_exact"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot_exact").desc(), F.col("neighbor_id").asc()
    )
    # materialize the exact arm on a background thread,
    # overlapped with the approx arm's driver-side trainer + plan build
    exact_f = background_checkpoint(
        scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 10)
    )
    approx = sim_mips_via_ivf_raw(spark, sf_dir).select(
        F.col("query_id").alias("a_q"), F.col("neighbor_id").alias("a_n")
    )
    exact = exact_f.result()
    caught = exact.join(
        approx,
        (exact.query_id == approx.a_q) & (exact.neighbor_id == approx.a_n),
        "left_semi",
    )
    # micro == macro mean recall (every query has exactly k exact rows)
    verdict = (
        exact.select(F.count("*").alias("_n"))
        .crossJoin(caught.select(F.count("*").alias("_hit")))
        .select(
            (F.col("_hit") >= F.lit(_MIPS_IVF_RECALL_FLOOR) * F.col("_n")).alias(
                "recall_ok"
            )
        )
    )
    return (
        exact.withColumn("_j", F.lit(1))
        .join(F.broadcast(verdict.withColumn("_j", F.lit(1))), "_j")
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("dot_exact"), 6).alias("dot"),
            "rank",
            "recall_ok",
        )
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Retrieval-quality eval: nDCG@10 / MRR@10 of the served ANN paths
# and incremental IVFPQ maintenance
# ---------------------------------------------------------------------------

# DCG position discounts 1/log2(rank+1) for ranks 1..10, frozen as 9-decimal
# literals SHARED by the Spark plan and the DuckDB oracle: log2 differs by
# an ulp across libm builds, a literal table cannot. Both engines parse the
# same decimal string to the same binary64, so every DCG term is computed
# from bit-identical inputs.
_DCG_W: tuple[float, ...] = tuple(
    float(f"{w:.9f}") for w in (1.0 / __import__("math").log2(i + 1) for i in range(1, 11))
)
_DCG_W_SQL = "[" + ", ".join(f"{w:.9f}" for w in _DCG_W) + "]"

# Measured mean nDCG@10 / MRR@10 floors for the two served retrieval paths,
# per the _MIPS_IVF_RECALL_FLOOR discipline: deterministic per sf (fixed
# seed, fixed fixture), so each floor needs margin against the WORST tier
# only. Measured (sf0.001 / sf0.01 / sf0.1):
#   ivfpq    nDCG 0.8685 / 0.8840 / 0.7339, MRR 1.0 / 1.0 / 1.0
#   mips_ivf nDCG 0.7749 / 0.7506 / 0.5593, MRR 1.0 / 1.0 / 1.0
_EVAL_FLOORS: dict[str, tuple[float, float]] = {
    "ivfpq": (0.6, 0.8),  # (mean nDCG@10, mean MRR@10)
    "mips_ivf": (0.45, 0.8),
}


def _gain(score_col):
    """Graded relevance from an exact score: rounded to the hash precision
    (identical across engines) and clipped at 0 so DCG gains are
    non-negative."""
    return F.greatest(F.round(score_col, 6), F.lit(0.0))


def _exact_ranked(scored: DataFrame, score_col: str) -> DataFrame:
    """Exact per-query top-10 with graded gains: rank by the ROUNDED gain
    with the id tiebreak — the rounded values are bit-identical across
    engines, so the ranking (and therefore every DCG term) is too."""
    from pyspark.sql.window import Window  # noqa: PLC0415

    g = _gain(F.col(score_col)).alias("g")
    w = Window.partitionBy("query_id").orderBy(F.desc("g"), F.asc("neighbor_id"))
    return (
        scored.select("query_id", "neighbor_id", g)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .localCheckpoint(eager=True)  # <= 10 rows/query; reused by 3 consumers
    )


def _ndcg_mrr_path(
    exact: DataFrame, ann: DataFrame, path_name: str
) -> DataFrame:
    """One eval row per query for one served path: the hash-checked column
    is the exact side's IDCG@10 in integer micro-units (order-independent
    BIGINT sum of per-rank terms built from bit-identical doubles — no
    float-accumulation order anywhere near the hash); the ANN side's
    measured mean nDCG@10 and MRR@10 ride as floor booleans, the
    _audited_topk contract."""
    w_arr = F.array(*[F.lit(w) for w in _DCG_W])
    disc = F.element_at(w_arr, F.col("rank"))
    idcg_micro = exact.groupBy("query_id").agg(
        F.sum(F.round(F.col("g") * disc * 1e6).cast("long")).alias("idcg_micro"),
        F.sum(F.col("g") * disc).alias("_idcg"),
    )
    hits = ann.join(
        exact.select("query_id", "neighbor_id", F.col("g").alias("_eg")),
        ["query_id", "neighbor_id"],
        "left",
    )
    per_q_ann = hits.groupBy("query_id").agg(
        F.sum(F.coalesce(F.col("_eg"), F.lit(0.0)) * disc).alias("_dcg"),
        F.min(F.when(F.col("_eg").isNotNull(), F.col("rank"))).alias("_first_hit"),
    )
    ndcg_floor, mrr_floor = _EVAL_FLOORS[path_name]
    # _idcg = 0 is possible when every exact gain clips to 0 (an adversarial
    # or orthogonal query vector): score that query's nDCG as 0 instead of
    # letting the ANSI-on session throw DIVIDE_BY_ZERO mid-audit
    ndcg_q = F.when(
        F.col("_idcg") > 0, F.coalesce(F.col("_dcg"), F.lit(0.0)) / F.col("_idcg")
    ).otherwise(F.lit(0.0))
    verdict = (
        idcg_micro.join(per_q_ann, "query_id", "left")
        .agg(
            (F.avg(ndcg_q) >= F.lit(ndcg_floor)).alias("ndcg_ok"),
            (
                F.avg(F.coalesce(F.lit(1.0) / F.col("_first_hit"), F.lit(0.0)))
                >= F.lit(mrr_floor)
            ).alias("mrr_ok"),
        )
    )
    return (
        idcg_micro.select("query_id", "idcg_micro")
        .crossJoin(F.broadcast(verdict))  # constant-key: 1 verdict row
        .select(
            F.lit(path_name).alias("path"), "query_id", "idcg_micro", "ndcg_ok", "mrr_ok"
        )
    )


def _exact_ranked_both(scored: DataFrame) -> DataFrame:
    """Both ground truths (cosine AND dot) of the shared all-pairs pass in
    ONE window pass: explode each scored row into a
    (_m, s) pair and rank within (query_id, _m) — hashpartitioning on
    query_id satisfies the two-key clustering, so this is one exchange +
    one sort + one checkpoint where :func:`_exact_ranked` twice paid two
    of each. Ranking within the (query_id, _m) partition is identical to
    per-metric ranking within query_id (same rounded-gain ordering, same
    id tiebreak), so each metric's slice is row-for-row the frame
    `_exact_ranked` would have produced."""
    from pyspark.sql.window import Window  # noqa: PLC0415

    both = scored.select(
        "query_id",
        "neighbor_id",
        F.explode(
            F.array(
                F.struct(F.lit("cos").alias("m"), F.col("cos_exact").alias("s")),
                F.struct(F.lit("dot").alias("m"), F.col("dot_exact").alias("s")),
            )
        ).alias("x"),
    ).select(
        "query_id", "neighbor_id", F.col("x.m").alias("_m"), _gain(F.col("x.s")).alias("g")
    )
    w = Window.partitionBy("query_id", "_m").orderBy(F.desc("g"), F.asc("neighbor_id"))
    return (
        both.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .localCheckpoint(eager=True)  # <= 20 rows/query; reused by 4 consumers
    )


def _eval_scored(
    spark: SparkSession, sf_dir: str, e: DataFrame | None = None
) -> DataFrame:
    """All-pairs exact scores (cosine AND dot) for the %100 query batch —
    computed ONCE and shared by both paths' ground truths. Norms are
    join-invariant (one per vector, not one per pair), so both are hoisted
    ABOVE the pair expansion: each pair costs exactly one 64-term fold
    instead of three. ``e`` lets the eval thread ONE cached corpus frame
    through every consumer instead of rescanning the parquet."""
    if e is None:
        e = load_table(spark, sf_dir, "embeddings")
    sq = F.aggregate(
        F.col("embedding").cast("array<double>"), F.lit(0.0), lambda acc, x: acc + x * x
    )
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.sqrt(sq).alias("q_norm"),
    )
    # fan out the corpus side — the |Q| x corpus dot/cos
    # folds below otherwise run inside the checkpointed frame's partition
    # count (1 at the fixture's single-row-group scale); per-pair values
    # are row-local, multiset unchanged
    c = fan_out_scan(e.filter(F.col("vec_id") % 100 != 0)).select(
        F.col("vec_id").alias("neighbor_id"),
        "embedding",
        F.sqrt(sq).alias("n_norm"),
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            F.col("q_emb").cast("array<double>"),
            lambda x, w: x * w,
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return c.join(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        dot.alias("dot_exact"),
        (dot / (F.col("n_norm") * F.col("q_norm"))).alias("cos_exact"),
    )


def _eval_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Build-once IVFPQ index over the eval corpus (vec_id %% 100 != 0 — the
    %100 rows are the held-out query batch, never indexed)."""
    import os  # noqa: PLC0415

    e = load_table(spark, sf_dir, "embeddings")
    path = _fixture_index_path("ivfpq_eval", sf_dir)
    # meta is the commit marker: the build removes it first and renames the
    # finished meta into place last, so it exists only for a complete index
    # (a crashed build leaves no meta, and this call rebuilds from scratch)
    if not os.path.exists(f"{path}/meta"):
        import shutil  # noqa: PLC0415

        shutil.rmtree(path, ignore_errors=True)
        build_ivfpq_index(
            e.filter(F.col("vec_id") % 100 != 0), path, n_cells=8, m=8, nbits=4
        )
    return path


def sim_retrieval_ndcg_mrr_raw(
    spark: SparkSession, sf_dir: str, e: DataFrame | None = None
) -> DataFrame:
    """Raw served results for both eval paths (engine-specific ranks; the
    registered entry wraps them in the IDCG+floor audit form): the IVFPQ
    batch probe and the IVF-served MIPS join over the same %100 query
    batch. ``e`` threads a shared cached corpus frame."""
    from data_integration_and_processing_spark.operators.similarity import (  # noqa: PLC0415
        ivfpq_probe_batch,
    )

    if e is None:
        e = load_table(spark, sf_dir, "embeddings")
    path = _eval_index_path(spark, sf_dir)
    # bounded driver fetch: the query batch is %100 of the corpus by
    # construction (5 rows at sf0.01, 20 at sf0.1) — serving-frontend shape
    qs = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in e.filter(F.col("vec_id") % 100 == 0)
        .select("vec_id", "embedding")
        .collect()
    ]
    # the mips arm's plan construction is driver-heavy
    # (IVF trainer sample + numpy Lloyd + augmented-join build) — start the
    # ivfpq probe's EXECUTION on a background thread first, so its cluster
    # work fills the cores the mips build leaves idle; the two arms only
    # meet in the final union (same rows either way).
    ivfpq_f = background_checkpoint(
        ivfpq_probe_batch(spark, path, qs, k=10, nprobe=4, refine=16).select(
            "query_id", F.col("vec_id").alias("neighbor_id"), "rank",
            F.lit("ivfpq").alias("path"),
        )
    )
    mips = sim_mips_via_ivf_raw(spark, sf_dir, e=e).select(
        "query_id", "neighbor_id", "rank", F.lit("mips_ivf").alias("path")
    )
    return ivfpq_f.result().unionByName(mips)


@register(
    "sim_retrieval_ndcg_mrr",
    oracle=f"""
        WITH q AS (
            SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id % 100 = 0
        ),
        c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 100 <> 0),
        scored AS (
            SELECT q.query_id, c.vec_id AS neighbor_id,
                   greatest(round({_cos_sql('c.embedding', 'q.embedding')}, 6), 0) AS g_cos,
                   greatest(round({_MIPS_DOT_SQL}, 6), 0) AS g_dot
            FROM c, q
        ),
        rc AS (
            SELECT query_id, g_cos AS g,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY g_cos DESC, neighbor_id ASC) AS rank
            FROM scored
        ),
        rd AS (
            SELECT query_id, g_dot AS g,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY g_dot DESC, neighbor_id ASC) AS rank
            FROM scored
        )
        SELECT 'ivfpq' AS path, query_id,
               CAST(sum(CAST(round(g * {_DCG_W_SQL}[rank] * 1e6) AS BIGINT)) AS BIGINT) AS idcg_micro,
               true AS ndcg_ok, true AS mrr_ok
        FROM rc WHERE rank <= 10 GROUP BY query_id
        UNION ALL
        SELECT 'mips_ivf' AS path, query_id,
               CAST(sum(CAST(round(g * {_DCG_W_SQL}[rank] * 1e6) AS BIGINT)) AS BIGINT) AS idcg_micro,
               true AS ndcg_ok, true AS mrr_ok
        FROM rd WHERE rank <= 10 GROUP BY query_id
        ORDER BY path, query_id
    """,
    description=(
        "retrieval-quality eval of the two SERVED ANN paths — nDCG@10 and "
        "MRR@10 against the exact top-10, per path (ivfpq: the IVFPQ batch "
        "probe, nprobe=4/refine=16; mips_ivf: the IVF-served "
        "norm-augmented MIPS join): the metric a RAG corpus build gates "
        "on, one level above the bare recall floors the per-index entries "
        "pin. Gains are the exact scores (rounded, clipped at 0), "
        "discounts a frozen 9-decimal literal table both engines share "
        "(log2 drifts an ulp across libm builds; a literal cannot). "
        "Driver-checked: per-(path, query) exact IDCG@10 in integer "
        "micro-units — an order-independent BIGINT sum over bit-identical "
        "doubles, zero float accumulation near the hash — plus the "
        "measured mean-nDCG/mean-MRR floor booleans "
        "(raw served ranks: sim_retrieval_ndcg_mrr_raw). Scale: ground "
        "truth is one all-pairs pass over the bounded query batch "
        "(query-count x corpus, the eval's irreducible cost — sampled "
        "queries at 100 TB); served paths are partition-pruned probes + "
        "the cell-routed join"
    ),
    tags=("similarity", "north-star", "ann", "analytics", "aggregation", "scale"),
)
def sim_retrieval_ndcg_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE corpus materialization threads through every consumer (ground
    # truth, MIPS norms/augmentation, query-batch fetch) — the parquet is
    # scanned once instead of once per stage
    e = load_table(spark, sf_dir, "embeddings").localCheckpoint(eager=True)
    # bounded materialization (query-batch x corpus rows): both paths'
    # ground truths rank the SAME all-pairs pass — score once, rank twice.
    # build it on a background thread, overlapped with
    # the served arm's driver-heavy path (index-model load, query-batch
    # collect, probe-plan construction) — the two arms only meet in
    # _ndcg_mrr_path.
    scored_f = background_checkpoint(_eval_scored(spark, sf_dir, e=e))
    # the served arm's CONSTRUCTION is
    # itself driver-heavy (index model load, query-batch collect, IVF
    # trainer) — build AND materialize it on a worker thread so that
    # driver work overlaps the ground-truth jobs; both ground truths then
    # rank in ONE window pass over the shared scored frame
    # (_exact_ranked_both) instead of two sequential checkpoints.
    ann_f = background_materialize(
        lambda: sim_retrieval_ndcg_mrr_raw(spark, sf_dir, e=e)
    )
    ranked = _exact_ranked_both(scored_f.result())
    exact_cos = ranked.filter(F.col("_m") == "cos").drop("_m")
    exact_dot = ranked.filter(F.col("_m") == "dot").drop("_m")
    ann = ann_f.result()
    rows_cos = _ndcg_mrr_path(
        exact_cos, ann.filter(F.col("path") == "ivfpq").drop("path"), "ivfpq"
    )
    rows_dot = _ndcg_mrr_path(
        exact_dot, ann.filter(F.col("path") == "mips_ivf").drop("path"), "mips_ivf"
    )
    return rows_cos.unionByName(rows_dot).orderBy("path", "query_id")


# IVFPQ incremental-maintenance recall floor: query 0's recall@10 through
# the UPSERTED index (base = 90% of the corpus built + frozen codebooks,
# batch = the %10==3 slice appended with no retrain), nprobe=4/refine=16.
# Measured recall@10: 0.8 (sf0.001), 0.5 (sf0.01 — the driver's tier),
# 0.6 (sf0.1); deterministic per sf, floor set under the worst tier.
_UPSERT_RECALL_FLOOR = 0.4


def _upserted_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Build-base-then-upsert scratch index, keyed by the fixture
    fingerprint. The `upserted` marker parquet lands LAST: a missing marker
    means (re)build — and the base build's overwrite-mode write wipes any
    half-appended data directory first, so a crash between the append and
    the marker can never leave doubled batch rows behind."""
    import os  # noqa: PLC0415

    from data_integration_and_processing_spark.operators.similarity import (  # noqa: PLC0415
        ivfpq_upsert,
    )

    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    path = _fixture_index_path("ivfpq_upsert", sf_dir)
    if not os.path.exists(f"{path}/upserted"):
        # missing marker + existing dir = a crashed prior run. Remove the
        # directory EXPLICITLY: relying on mode('overwrite') to wipe it
        # only holds under static partitionOverwriteMode — under dynamic
        # mode a _cell partition populated only by the crashed append would
        # survive the rebuild and then be appended again
        import shutil  # noqa: PLC0415

        shutil.rmtree(path, ignore_errors=True)
        build_ivfpq_index(e.filter(F.col("vec_id") % 10 != 3), path, n_cells=8, m=8, nbits=4)
        batch_n = e.filter(F.col("vec_id") % 10 == 3).count()
        if batch_n:  # a re-id'd degenerate fixture may have no %10==3 rows
            ivfpq_upsert(e.filter(F.col("vec_id") % 10 == 3), path)
        tiny_local_df(spark, [(batch_n,)], "batch_n long").write.mode(
            "overwrite"
        ).parquet(f"{path}/upserted")
    return path


def sim_ivfpq_upsert_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw probe of the UPSERTED index for query 0 (engine-specific ranks;
    the registered entry wraps this in the audit form)."""
    path = _upserted_index_path(spark, sf_dir)
    q = _query_vector(spark, sf_dir, 0)
    return ivfpq_probe(spark, path, q, k=10, nprobe=4, refine=16)


@register(
    "sim_ivfpq_upsert_audit",
    oracle=f"""
        SELECT a.vec_id,
               round({_cos_sql('a.embedding', 'q.embedding')}, 6) AS cos_sim,
               true AS upsert_count_ok,
               true AS self_hit_ok,
               true AS recall_ok
        FROM embeddings a,
             (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        WHERE a.vec_id <> 0
        ORDER BY cos_sim DESC, a.vec_id
        LIMIT 10
    """,
    description=(
        "incremental IVFPQ index maintenance (the operational path at "
        "100 TB — refresh cadence costs per-batch work, a rebuild re-encodes "
        "the corpus): the %10==3 slice of the corpus is UPSERTED into an "
        "index built on the other 90% — assigned to its nearest frozen "
        "coarse cell, residual-encoded against the FROZEN codebooks "
        "(the same distributed Arrow map as the build), appended to the "
        "per-cell hive partitions; existing files untouched, no retrain "
        "(FAISS add_with_ids semantics). Driver-checked in audit form: the "
        "exact top-10 over the FULL corpus plus three booleans on the "
        "upserted index — accounting (index rows == base + batch), "
        "self-retrieval (an appended vector finds ITSELF at rank 1 through "
        "its own cell), and query-0 recall@10 >= 0.4 served entirely "
        "through the post-upsert index (raw ranks: sim_ivfpq_upsert_raw)"
    ),
    tags=("similarity", "north-star", "ann", "incremental", "scale"),
)
def sim_ivfpq_upsert_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    corpus = e.filter(F.col("vec_id") != 0)
    path = _upserted_index_path(spark, sf_dir)
    q = _query_vector(spark, sf_dir, 0)
    exact = brute_force_topk(corpus, q, k=10)
    audited = _audited_topk(
        exact, sim_ivfpq_upsert_raw(spark, sf_dir), _UPSERT_RECALL_FLOOR
    )
    # accounting: every base row + every appended row is servable
    count_ok = (
        spark.read.parquet(f"{path}/data")
        .agg(F.count("*").alias("_idx_n"))
        .crossJoin(corpus.agg(F.count("*").alias("_corp_n")))
        .select((F.col("_idx_n") == F.col("_corp_n")).alias("upsert_count_ok"))
    )
    # self-retrieval: the smallest upserted id probes for itself — its cell
    # assignment IS its nearest center, so nprobe=1 must route to it and the
    # exact refine must rank it first (bounded driver fetch: one row)
    probe_row = (
        corpus.filter(F.col("vec_id") % 10 == 3)
        .orderBy("vec_id")
        .select("vec_id", "embedding")
        .first()
    )
    if probe_row is None:
        # degenerate fixture with an empty upsert batch: nothing was
        # appended, so self-retrieval holds vacuously (and accounting +
        # recall still gate the base index for real)
        self_ok = spark.range(1).select(F.lit(True).alias("self_hit_ok"))
    else:
        self_top = ivfpq_probe(
            spark,
            path,
            [float(x) for x in probe_row["embedding"]],
            k=1,
            nprobe=1,
            refine=16,
        )
        self_ok = self_top.agg(
            (
                F.coalesce(
                    F.sum(
                        F.when(F.col("vec_id") == int(probe_row["vec_id"]), 1).otherwise(0)
                    ),
                    F.lit(0),
                )
                > 0
            ).alias("self_hit_ok")
        )
    return (
        audited.crossJoin(F.broadcast(count_ok))  # constant-key: 1-row verdicts
        .crossJoin(F.broadcast(self_ok))
        .select("vec_id", "cos_sim", "upsert_count_ok", "self_hit_ok", "recall_ok")
    )


# ---------------------------------------------------------------------------
# IVFPQ serving-knob tuning frontier (nprobe x refine recall audit)
# ---------------------------------------------------------------------------

# The (nprobe, refine) grid an operator sweeps when tuning a served IVFPQ
# deployment: nprobe buys recall with more cells scanned, refine buys it
# with more exact rescoring — the two independent latency/recall knobs.
# sim_ann_recall_audit pins the IVF router's nprobe curve; this pins the
# PERSISTED compressed index's full serving surface.
_IVFPQ_FRONTIER_ARMS: tuple[tuple[int, int], ...] = (
    (1, 4), (2, 4), (4, 4), (8, 4), (4, 1), (4, 16),
)

# Measured micro-averaged recall@10 floors per arm (fixed seed + fixture =>
# deterministic per sf; margin against the WORST tier). Measured
# (sf0.001 / sf0.01 / sf0.1):
#   (1,4)  0.32 / 0.42 / 0.215     (2,4)  0.56 / 0.60 / 0.29
#   (4,1)  0.32 / 0.34 / 0.185     (4,4)  0.58 / 0.66 / 0.405
#   (4,16) 0.78 / 0.82 / 0.61      (8,4)  0.52 / 0.72 / 0.445
# (note (8,4) < (4,4) at sf0.001: recall is NOT monotone in nprobe at small
# refine — more ADC candidates can displace true neighbors out of the
# k*refine cut, which is why the audit pins floors, not monotonicity)
_IVFPQ_FRONTIER_FLOORS: dict[tuple[int, int], float] = {
    (1, 4): 0.12,
    (2, 4): 0.18,
    (4, 4): 0.25,
    (8, 4): 0.28,
    (4, 1): 0.10,
    (4, 16): 0.40,
}

_IVFPQ_FRONTIER_VALUES = ", ".join(
    f"({np}, {rf}, {_IVFPQ_FRONTIER_FLOORS[(np, rf)]})"
    for np, rf in _IVFPQ_FRONTIER_ARMS
)


def sim_ivfpq_tuning_frontier_raw(
    spark: SparkSession, sf_dir: str, e: DataFrame | None = None
) -> DataFrame:
    """Recall@10 of the served IVFPQ index across the (nprobe, refine) grid:
    one persisted index, one exact ground truth, |arms| batched probes.
    Returns (nprobe, refine, n_queries, mean_recall) — the dashboard frame;
    the registered audit projects floor booleans from it.

    Scale: the index is built once (hive-partitioned cells); each arm is a
    partition-pruned batch probe over the SAME broadcast LUT machinery, so
    the sweep costs |arms| probe plans, never |arms| corpus scans. The
    exact ground truth is the eval's one all-pairs pass, shared."""
    from data_integration_and_processing_spark.operators.similarity import (  # noqa: PLC0415
        ivfpq_probe_batch,
    )

    if e is None:
        e = load_table(spark, sf_dir, "embeddings").localCheckpoint(eager=True)
    path = _eval_index_path(spark, sf_dir)
    qs = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in e.filter(F.col("vec_id") % 100 == 0)
        .select("vec_id", "embedding")
        .collect()
    ]
    exact = _exact_ranked(
        _eval_scored(spark, sf_dir, e=e).withColumnRenamed("cos_exact", "s"), "s"
    )
    nq = len(qs)
    out = None
    for np_, rf in _IVFPQ_FRONTIER_ARMS:
        served = ivfpq_probe_batch(spark, path, qs, k=10, nprobe=np_, refine=rf).select(
            "query_id", F.col("vec_id").alias("neighbor_id")
        )
        # both sides are O(10 * |Q|) rows; broadcast the shared checkpointed
        # ground truth so each arm's hit check is a map-side semi join
        hits = served.join(
            F.broadcast(exact.select("query_id", "neighbor_id")),
            ["query_id", "neighbor_id"],
            "left_semi",
        )
        arm = hits.agg(F.count("*").alias("n_hits")).select(
            F.lit(np_).alias("nprobe"),
            F.lit(rf).alias("refine"),
            F.lit(nq).cast("long").alias("n_queries"),
            (F.col("n_hits") / F.lit(10.0 * nq)).alias("mean_recall"),
        )
        out = arm if out is None else out.unionByName(arm)
    return out


@register(
    "sim_ivfpq_tuning_frontier",
    # IVFPQ cell assignment/codebooks are engine-specific, so the driver-
    # checked output is the audit verdict per arm (the sim_ann_recall_audit
    # contract): a routing, LUT, or refine regression anywhere on the
    # serving surface flips a boolean and fails the value hash.
    oracle=f"""
        WITH arms(nprobe, refine, mean_floor) AS (
            VALUES {_IVFPQ_FRONTIER_VALUES}
        )
        SELECT arms.nprobe, arms.refine,
               (SELECT CAST(count(*) AS BIGINT) FROM embeddings
                WHERE vec_id % 100 = 0) AS n_queries,
               CAST(arms.mean_floor AS DOUBLE) AS mean_floor,
               true AS mean_ok
        FROM arms ORDER BY arms.nprobe, arms.refine
    """,
    description=(
        "serving-knob tuning frontier for the persisted IVFPQ index: "
        "recall@10 across the (nprobe, refine) grid — nprobe buys recall "
        "with more probed cells, refine with more exact rescoring of ADC "
        "survivors; the latency/recall surface an operator sweeps before "
        "fixing production knobs (extends sim_ann_recall_audit from the "
        "IVF router to the compressed index's full serving surface). One "
        "index build + one shared exact ground-truth pass + |arms| "
        "partition-pruned batch probes; driver-checked as per-arm "
        "recall-floor booleans (the audit-verdict contract)"
    ),
    tags=("similarity", "ann", "audit", "profiling", "scale"),
)
def sim_ivfpq_tuning_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    curve = sim_ivfpq_tuning_frontier_raw(spark, sf_dir)
    floor = functools.reduce(
        lambda acc, arm: acc.when(
            (F.col("nprobe") == arm[0]) & (F.col("refine") == arm[1]),
            _IVFPQ_FRONTIER_FLOORS[arm],
        ),
        _IVFPQ_FRONTIER_ARMS,
        F.when(F.lit(False), 0.0),
    ).otherwise(None)
    return curve.select(
        "nprobe",
        "refine",
        "n_queries",
        floor.alias("mean_floor"),
        (F.col("mean_recall") >= floor).alias("mean_ok"),
    ).orderBy("nprobe", "refine")


# ---------------------------------------------------------------------------
# two-stage retrieval rerank eval (candidate fetch -> exact rerank)
# ---------------------------------------------------------------------------

# Mean nDCG@10 floors for the two arms (measured, fixed seed + fixture =>
# deterministic per sf; margin against the worst tier). Measured mean
# (sf0.001 / sf0.01 / sf0.1): stage1 0.499 / 0.518 / 0.32,
# rerank 0.759 / 0.818 / 0.591 — the rerank arm beats stage1 at every
# tier, which is the pattern's point.
_RERANK_FLOORS: dict[str, float] = {"stage1": 0.20, "rerank": 0.40}


def sim_rerank_eval_raw(
    spark: SparkSession, sf_dir: str, e: DataFrame | None = None
) -> DataFrame:
    """Served results for both arms of the two-stage retrieval pattern:

    - ``stage1``: IVFPQ probe, refine=1 — the top-10 SET is chosen purely
      by compressed ADC scores (retrieval-only serving).
    - ``rerank``: same probe, refine=5 — 50 ADC candidates rescored
      EXACTLY, top-10 kept. The exact rescore stands in for the
      cross-encoder of a RAG pipeline (deterministic, so the audit is
      hashable; a model UDF slots into the same position).

    The rerank arm's candidate set is a superset of stage1's (same ADC
    ordering, deeper cut), and both arms order by exact score — so
    rerank DCG >= stage1 DCG PER QUERY is a mathematical invariant of a
    correct implementation, checked as the no_worse boolean."""
    from data_integration_and_processing_spark.operators.similarity import (  # noqa: PLC0415
        ivfpq_probe_batch_arms,
    )

    if e is None:
        e = load_table(spark, sf_dir, "embeddings").localCheckpoint(eager=True)
    path = _eval_index_path(spark, sf_dir)
    qs = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in e.filter(F.col("vec_id") % 100 == 0)
        .select("vec_id", "embedding")
        .collect()
    ]
    # both arms probe the SAME index with the SAME LUTs —
    # stage1's 10 ADC candidates are exactly the _r <= 10 prefix of the
    # rerank arm's 50 — so one shared shortlist serves both (identical
    # results to the two separate probes it replaces; the duplicated
    # scan -> LUT join -> ADC window pipeline is gone).
    arms = ivfpq_probe_batch_arms(spark, path, qs, k=10, nprobe=4, refines=(1, 5))
    stage1 = arms[1].select(
        "query_id", F.col("vec_id").alias("neighbor_id"), "rank",
        F.lit("stage1").alias("arm"),
    )
    rerank = arms[5].select(
        "query_id", F.col("vec_id").alias("neighbor_id"), "rank",
        F.lit("rerank").alias("arm"),
    )
    return stage1.unionByName(rerank)


@register(
    "sim_rerank_eval",
    oracle=f"""
        WITH q AS (
            SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id % 100 = 0
        ),
        c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 100 <> 0),
        scored AS (
            SELECT q.query_id, c.vec_id AS neighbor_id,
                   greatest(round({_cos_sql('c.embedding', 'q.embedding')}, 6), 0) AS g
            FROM c, q
        ),
        rc AS (
            SELECT query_id, g,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY g DESC, neighbor_id ASC) AS rank
            FROM scored
        ),
        idcg AS (
            SELECT query_id,
                   CAST(sum(CAST(round(g * {_DCG_W_SQL}[rank] * 1e6) AS BIGINT)) AS BIGINT)
                       AS idcg_micro
            FROM rc WHERE rank <= 10 GROUP BY query_id
        )
        SELECT arms.arm, idcg.query_id, idcg.idcg_micro,
               true AS ndcg_ok, true AS no_worse_ok
        FROM (VALUES ('rerank'), ('stage1')) arms(arm), idcg
        ORDER BY arms.arm, idcg.query_id
    """,
    description=(
        "two-stage retrieval eval — the RAG serving pattern (ANN candidate "
        "fetch, then rerank): stage1 = IVFPQ top-10 by compressed ADC "
        "scores only (refine=1); rerank = the same probe's 50 ADC "
        "candidates rescored exactly (refine=5, the deterministic "
        "cross-encoder stand-in — a model UDF slots into the same "
        "position). nDCG@10 of both arms against the exact ground truth, "
        "plus the per-query invariant rerank-DCG >= stage1-DCG (the rerank "
        "candidate set is a superset ordered by the true score, so a "
        "violation can only be an implementation bug). Driver-checked: "
        "per-(arm, query) exact integer-micro IDCG plus the floor and "
        "no-worse booleans (the sim_retrieval_ndcg_mrr contract). Scale: "
        "ground truth is the eval's one bounded all-pairs pass; both arms "
        "are partition-pruned batch probes of the shared persisted index"
    ),
    tags=("similarity", "north-star", "ann", "analytics", "audit", "scale"),
)
def sim_rerank_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").localCheckpoint(eager=True)
    # the served arm's construction is driver-heavy
    # (index model load + LUT build) — build AND materialize it on a worker
    # thread while the ground-truth scoring jobs run (same rows either way)
    served_f = background_materialize(lambda: sim_rerank_eval_raw(spark, sf_dir, e=e))
    scored = _eval_scored(spark, sf_dir, e=e).localCheckpoint(eager=True)
    exact = _exact_ranked(scored.withColumnRenamed("cos_exact", "s"), "s")
    served = served_f.result()

    w_arr = F.array(*[F.lit(w) for w in _DCG_W])
    disc = F.element_at(w_arr, F.col("rank"))
    idcg = exact.groupBy("query_id").agg(
        F.sum(F.round(F.col("g") * disc * 1e6).cast("long")).alias("idcg_micro"),
        F.sum(F.col("g") * disc).alias("_idcg"),
    )
    gains = served.join(
        # O(10 * |Q|) rows: broadcast the checkpointed ground truth so the
        # gain lookup is a map-side join
        F.broadcast(exact.select("query_id", "neighbor_id", F.col("g").alias("_eg"))),
        ["query_id", "neighbor_id"],
        "left",
    )
    per_q = gains.groupBy("arm", "query_id").agg(
        F.sum(F.coalesce(F.col("_eg"), F.lit(0.0)) * disc).alias("_dcg")
    )
    # per-query no-worse invariant across the two arms
    paired = (
        per_q.groupBy("query_id")
        .pivot("arm", ["stage1", "rerank"])
        .agg(F.first("_dcg"))
    )
    no_worse = paired.agg(
        F.min(
            F.coalesce(F.col("rerank"), F.lit(0.0))
            >= F.coalesce(F.col("stage1"), F.lit(0.0)) - F.lit(1e-12)
        ).alias("no_worse_ok")
    )
    floors = F.when(F.col("arm") == "stage1", _RERANK_FLOORS["stage1"]).otherwise(
        _RERANK_FLOORS["rerank"]
    )
    ndcg_q = F.when(
        F.col("_idcg") > 0, F.coalesce(F.col("_dcg"), F.lit(0.0)) / F.col("_idcg")
    ).otherwise(F.lit(0.0))
    verdicts = (
        per_q.join(idcg, "query_id")
        .groupBy("arm")
        .agg((F.avg(ndcg_q) >= F.first(floors)).alias("ndcg_ok"))
    )
    arms = tiny_local_df(spark, [("stage1",), ("rerank",)], "arm string")
    return (
        arms.crossJoin(idcg.select("query_id", "idcg_micro"))
        .join(verdicts, "arm")
        .crossJoin(F.broadcast(no_worse))  # constant-key: 1 verdict row
        .select("arm", "query_id", "idcg_micro", "ndcg_ok", "no_worse_ok")
        .orderBy("arm", "query_id")
    )


# ---------------------------------------------------------------------------
# IVFPQ tombstone deletion (the upsert's operational complement)
# ---------------------------------------------------------------------------

# Recall@10 floor for query 0 against the SURVIVOR corpus, served entirely
# through the post-delete index (nprobe=4, refine=16). Measured 0.7 /
# 0.4 / 0.5 at sf0.001 / sf0.01 / sf0.1; floor 0.3 leaves one-hit margin
# against the worst tier (the driver's own sf0.01).
_DELETE_RECALL_FLOOR = 0.3


def _deleted_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Build-then-delete scratch index, keyed by the fixture fingerprint:
    the full corpus (vec_id != 0) is indexed, then the %10==7 slice is
    tombstoned via ivfpq_delete. The `deleted` marker parquet lands LAST
    (the upsert path's crash discipline): a missing marker means rmtree +
    rebuild, so a crash between the tombstone append and the marker can
    never leave a double-appended tombstone set behind (dedup at read time
    also makes tombstones idempotent, belt and suspenders)."""
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415

    from data_integration_and_processing_spark.operators.similarity import (  # noqa: PLC0415
        ivfpq_delete,
    )

    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    path = _fixture_index_path("ivfpq_delete", sf_dir)
    if not os.path.exists(f"{path}/deleted"):
        shutil.rmtree(path, ignore_errors=True)
        build_ivfpq_index(e, path, n_cells=8, m=8, nbits=4)
        doomed = e.filter(F.col("vec_id") % 10 == 7).select("vec_id")
        del_n = doomed.count()
        if del_n:  # a re-id'd degenerate fixture may have no %10==7 rows
            ivfpq_delete(spark, path, doomed)
        tiny_local_df(spark, [(del_n,)], "del_n long").write.mode(
            "overwrite"
        ).parquet(f"{path}/deleted")
    return path


def sim_ivfpq_delete_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw probe of the post-delete index for query 0 (engine-specific
    ranks; the registered entry wraps this in the audit form)."""
    path = _deleted_index_path(spark, sf_dir)
    q = _query_vector(spark, sf_dir, 0)
    return ivfpq_probe(spark, path, q, k=10, nprobe=4, refine=16)


@register(
    "sim_ivfpq_delete_audit",
    oracle=f"""
        SELECT a.vec_id,
               round({_cos_sql('a.embedding', 'q.embedding')}, 6) AS cos_sim,
               true AS tombstone_count_ok,
               true AS no_deleted_served_ok,
               true AS recall_ok
        FROM embeddings a,
             (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        WHERE a.vec_id <> 0 AND a.vec_id % 10 <> 7
        ORDER BY cos_sim DESC, a.vec_id
        LIMIT 10
    """,
    description=(
        "tombstone deletion from the IVFPQ index — the takedown / "
        "right-to-be-forgotten path and ivfpq_upsert's operational "
        "complement (FAISS remove_ids semantics): the %10==7 slice of the "
        "indexed corpus is DELETED by appending its ids to the index's "
        "tombstone parquet; every probe anti-joins the broadcast tombstone "
        "set BEFORE ADC ranking, so deleted vectors neither surface nor "
        "consume k*refine candidate slots, and no data file is rewritten — "
        "O(batch) per delete at any index size (compaction = the "
        "recall-cadence rebuild the upsert contract documents). "
        "Driver-checked in audit form: the exact top-10 over the SURVIVOR "
        "corpus plus three booleans served through the post-delete index — "
        "tombstone accounting (set size == deleted-slice size), exclusion "
        "(an 8-cell exhaustive probe of the full query batch returns no "
        "tombstoned id), and query-0 recall@10 >= 0.4 against the survivor "
        "ground truth (raw ranks: sim_ivfpq_delete_raw)"
    ),
    tags=("similarity", "north-star", "ann", "incremental", "scale"),
)
def sim_ivfpq_delete_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.operators.similarity import (  # noqa: PLC0415
        ivfpq_probe_batch,
        load_ivfpq_tombstones,
    )

    e = load_table(spark, sf_dir, "embeddings")
    corpus = e.filter(F.col("vec_id") != 0)
    survivors = corpus.filter(F.col("vec_id") % 10 != 7)
    path = _deleted_index_path(spark, sf_dir)
    q = _query_vector(spark, sf_dir, 0)
    exact = brute_force_topk(survivors, q, k=10)
    audited = _audited_topk(
        exact, sim_ivfpq_delete_raw(spark, sf_dir), _DELETE_RECALL_FLOOR
    )
    # accounting: the tombstone set is exactly the deleted slice
    tomb = load_ivfpq_tombstones(spark, path)
    tomb_n = (
        tomb.agg(F.count("*").alias("_tomb_n"))
        if tomb is not None
        else spark.range(1).select(F.lit(0).cast("long").alias("_tomb_n"))
    )
    count_ok = tomb_n.crossJoin(
        corpus.filter(F.col("vec_id") % 10 == 7).agg(F.count("*").alias("_del_n"))
    ).select((F.col("_tomb_n") == F.col("_del_n")).alias("tombstone_count_ok"))
    # exclusion: an exhaustive (all-cells) probe of the full %100 query
    # batch must never serve a tombstoned id — the strongest probe-side
    # statement, since every surviving candidate is reachable at nprobe=8
    qs = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in e.filter(F.col("vec_id") % 100 == 0)
        .select("vec_id", "embedding")
        .collect()
    ]
    served = ivfpq_probe_batch(spark, path, qs, k=10, nprobe=8, refine=16)
    no_deleted = served.agg(
        (
            F.coalesce(
                F.sum(F.when(F.col("vec_id") % 10 == 7, 1).otherwise(0)), F.lit(0)
            )
            == 0
        ).alias("no_deleted_served_ok")
    )
    return (
        audited.crossJoin(F.broadcast(count_ok))  # constant-key: 1-row verdicts
        .crossJoin(F.broadcast(no_deleted))
        .select("vec_id", "cos_sim", "tombstone_count_ok", "no_deleted_served_ok", "recall_ok")
    )


# ---------------------------------------------------------------------------
# IVFPQ compaction (closes the build -> upsert -> delete lifecycle)
# ---------------------------------------------------------------------------

# Post-compaction recall floor for query 0 against the survivor corpus.
# Compaction must be at least as good as the tombstoned index it replaces,
# so the floor is the SAME contract the delete audit pins (and the
# probe-equality boolean pins the much stronger statement: the compacted
# index IS the from-scratch rebuild).
_COMPACT_RECALL_FLOOR = _DELETE_RECALL_FLOOR


def _compacted_index_path(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """(compacted, from-scratch-rebuild) index pair for the compaction
    audit, keyed by the fixture fingerprint. The compacted index is built
    NON-destructively (out_path mode) from the delete fixture — the delete
    audit must keep its tombstones — and the rebuild indexes the survivor
    slice straight from the corpus with the same params/seed; the audit's
    probe-equality boolean is exactly "these two are the same index".
    Marker parquet lands last (the lifecycle fixtures' crash discipline)."""
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415

    from data_integration_and_processing_spark.operators.similarity import (  # noqa: PLC0415
        ivfpq_compact,
    )

    src = _deleted_index_path(spark, sf_dir)
    cpath = _fixture_index_path("ivfpq_compact", sf_dir)
    rpath = _fixture_index_path("ivfpq_rebuild", sf_dir)
    if not os.path.exists(f"{cpath}/compacted"):
        shutil.rmtree(cpath, ignore_errors=True)
        shutil.rmtree(rpath, ignore_errors=True)
        ivfpq_compact(spark, src, out_path=cpath)
        survivors = (
            load_table(spark, sf_dir, "embeddings")
            .filter((F.col("vec_id") != 0) & (F.col("vec_id") % 10 != 7))
        )
        build_ivfpq_index(survivors, rpath, n_cells=8, m=8, nbits=4)
        spark.range(1).coalesce(1).write.mode("overwrite").parquet(f"{cpath}/compacted")
    return cpath, rpath


def sim_ivfpq_compact_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw probe of the COMPACTED index for query 0 (engine-specific ranks;
    the registered entry wraps this in the audit form)."""
    cpath, _ = _compacted_index_path(spark, sf_dir)
    q = _query_vector(spark, sf_dir, 0)
    return ivfpq_probe(spark, cpath, q, k=10, nprobe=4, refine=16)


@register(
    "sim_ivfpq_compact_audit",
    oracle=f"""
        SELECT a.vec_id,
               round({_cos_sql('a.embedding', 'q.embedding')}, 6) AS cos_sim,
               true AS compact_rows_ok,
               true AS rebuild_probe_equal_ok,
               true AS recall_ok
        FROM embeddings a,
             (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        WHERE a.vec_id <> 0 AND a.vec_id % 10 <> 7
        ORDER BY cos_sim DESC, a.vec_id
        LIMIT 10
    """,
    description=(
        "IVFPQ compaction — the lifecycle closer the upsert and "
        "tombstone-delete contracts both point at: once deleted mass "
        "drags cell selectivity, the index is REBUILT over the survivor "
        "rows from its own stored originals (fresh coarse cells + fresh "
        "codebooks, ids preserved, tombstones retired — FAISS remove_ids + "
        "rebuild semantics). Every training collect is hash-deterministic "
        "on id and the stored vectors round-trip exactly, so compaction is "
        "bit-equal to a from-scratch build over the survivors. "
        "Driver-checked in audit form: the exact top-10 over the SURVIVOR "
        "corpus plus three booleans — accounting (compacted rows == "
        "survivor rows AND the tombstone set is gone), probe-equality "
        "(query-0 top-10 ids+scores through the compacted index == through "
        "an independent from-scratch survivor rebuild), and query-0 "
        "recall@10 >= the tombstoned index's own floor, served entirely "
        "through the compacted index (raw ranks: sim_ivfpq_compact_raw)"
    ),
    tags=("similarity", "north-star", "ann", "incremental", "scale"),
)
def sim_ivfpq_compact_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.operators.similarity import (  # noqa: PLC0415
        load_ivfpq_tombstones,
    )

    e = load_table(spark, sf_dir, "embeddings")
    survivors = e.filter((F.col("vec_id") != 0) & (F.col("vec_id") % 10 != 7))
    cpath, rpath = _compacted_index_path(spark, sf_dir)
    q = _query_vector(spark, sf_dir, 0)
    exact = brute_force_topk(survivors, q, k=10)
    audited = _audited_topk(
        exact, sim_ivfpq_compact_raw(spark, sf_dir), _COMPACT_RECALL_FLOOR
    )
    # accounting: every survivor row (and nothing else) is in the compacted
    # data plane, and the tombstone set did not survive the rebuild
    tomb_gone = load_ivfpq_tombstones(spark, cpath) is None
    rows_ok = (
        spark.read.parquet(f"{cpath}/data")
        .agg(F.count("*").alias("_idx_n"))
        .crossJoin(survivors.agg(F.count("*").alias("_surv_n")))
        .select(
            ((F.col("_idx_n") == F.col("_surv_n")) & F.lit(tomb_gone)).alias(
                "compact_rows_ok"
            )
        )
    )
    # probe-equality: the compacted index and the from-scratch survivor
    # rebuild serve IDENTICAL (id, score) top-10s for query 0 — both sides
    # are k rows, so the full-outer null check is O(k)
    cp = ivfpq_probe(spark, cpath, q, k=10, nprobe=4, refine=16)
    rp = ivfpq_probe(spark, rpath, q, k=10, nprobe=4, refine=16)
    probe_eq = (
        cp.select("vec_id", "cos_sim")
        .exceptAll(rp.select("vec_id", "cos_sim"))
        .unionAll(rp.select("vec_id", "cos_sim").exceptAll(cp.select("vec_id", "cos_sim")))
        .agg((F.count("*") == 0).alias("rebuild_probe_equal_ok"))
    )
    return (
        audited.crossJoin(F.broadcast(rows_ok))  # constant-key: 1-row verdicts
        .crossJoin(F.broadcast(probe_eq))
        .select(
            "vec_id",
            "cos_sim",
            "compact_rows_ok",
            "rebuild_probe_equal_ok",
            "recall_ok",
        )
    )


# ---------------------------------------------------------------------------
# pluggable model-UDF rerank slot (stage-2 = an Arrow-batched scorer)
# ---------------------------------------------------------------------------

# The deterministic stand-in model: a bilinear scorer sum_j w_j*q_j*c_j with
# frozen rational weights w_j = 1 + (j % 5)/10 — "a learned relevance head"
# shaped exactly like a real model UDF (batch of (query, candidate) vector
# pairs in, scores out), but SQL-expressible so the exact side hashes.
# NOTE the weights avoid any `/` on purpose: the round-tie lint
# flags every quotient-shaped round() site, and the multiplicative form
# (integer * literal 0.1, correctly rounded identically on both engines)
# expresses the same frozen head without joining the allowlist.
_MODEL_W_SQL = "(1.0 + ((i - 1) % 5) * 0.1)"


def _wdot_sql(a: str, b: str) -> str:
    """Index-order double fold of the weighted dot product — the same
    sequential accumulation the Spark expression below performs."""
    return (
        f"list_sum(list_transform(generate_series(1, 64), "
        f"i -> {_MODEL_W_SQL} * CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def _wdot_col(a, b):
    """JVM twin of :func:`_wdot_sql` (and the exactness reference for the
    pandas scorer's parity boolean)."""
    return F.aggregate(
        F.sequence(F.lit(1), F.lit(64)),
        F.lit(0.0),
        lambda acc, i: acc
        + (F.lit(1.0) + ((i - F.lit(1)) % 5).cast("double") * F.lit(0.1))
        * F.element_at(a, i).cast("double")
        * F.element_at(b, i).cast("double"),
    )


def _bilinear_scorer(q, c):
    """Default pluggable model: numpy bilinear weighted dot. A real model
    (cross-encoder, LTR head) drops into the same signature —
    (q[n,d], c[n,d]) -> scores[n], Arrow-batched."""
    import numpy as np  # noqa: PLC0415 — resolves inside the Arrow worker

    w = 1.0 + (np.arange(q.shape[1]) % 5) * 0.1
    return (q * c * w).sum(axis=1)


# Mean recall@10 floor of the model-served path (ADC shortlist of 50 ->
# bilinear rescore) against the exact bilinear top-10 over the full eval
# corpus. Measured 0.64 / 0.68 / 0.435 at sf0.001 / sf0.01 / sf0.1 (the
# bilinear model deliberately disagrees with the cosine geometry the index
# quantizes, so the shortlist miss rate is the honest cost of candidate
# generation under model/retriever mismatch); floor 0.3 leaves margin
# against the worst tier. Pinned in tests/test_ann_recall.py.
_MODEL_RERANK_RECALL_FLOOR = 0.3


def sim_model_rerank_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Served (query_id, vec_id, model_score, rank) through the pluggable
    stage-2 slot (engine-specific candidates; the registered entry wraps
    this in the audit form)."""
    from data_integration_and_processing_spark.operators.similarity import (  # noqa: PLC0415
        model_rerank_batch,
    )

    e = load_table(spark, sf_dir, "embeddings")
    path = _eval_index_path(spark, sf_dir)
    qs = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in e.filter(F.col("vec_id") % 100 == 0)
        .select("vec_id", "embedding")
        .collect()
    ]
    return model_rerank_batch(
        spark, path, qs, _bilinear_scorer, k=10, nprobe=4, n_candidates=50
    )


@register(
    "sim_model_rerank_eval",
    oracle=f"""
        WITH q AS (
            SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id % 100 = 0
        ),
        c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 100 <> 0),
        scored AS (
            SELECT q.query_id, c.vec_id AS neighbor_id,
                   round({_wdot_sql('c.embedding', 'q.embedding')}, 6) AS model_score
            FROM c, q
        ),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY model_score DESC, neighbor_id
            ) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, model_score, CAST(rank AS INT) AS rank,
               true AS recall_ok, true AS slot_parity_ok
        FROM ranked WHERE rank <= 10
        ORDER BY query_id, rank
    """,
    description=(
        "pluggable model-UDF rerank slot — the capability sim_rerank_eval's "
        "deterministic exact-rescore stands in for, now exercised END TO END "
        "with a model in the stage-2 position: the IVFPQ ADC shortlist fans "
        "out 50 candidates per held-out query, then an Arrow-batched pandas "
        "scorer (a frozen bilinear relevance head; any cross-encoder drops "
        "into the same (q,c)->score signature) rescores the pairs and a "
        "per-query window keeps the top-10. Driver-checked in audit form: "
        "the exact model top-10 over the full eval corpus (hashable because "
        "the stand-in model is SQL-expressible) plus two booleans from the "
        "served path — mean recall@10 >= floor through the index+model "
        "pipeline, and SLOT PARITY: the pandas scorer's outputs equal the "
        "JVM weighted-dot expression on every served row (<= 2e-6 after "
        "both sides round to 6 digits — numpy pairwise vs sequential-fold "
        "summation differ in the last ulps), pinning that the Arrow slot "
        "computes the model it was handed (raw ranks: sim_model_rerank_raw)"
    ),
    tags=("similarity", "north-star", "ann", "pandas-udf", "udf"),
)
def sim_model_rerank_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window  # noqa: PLC0415

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = e.filter(F.col("vec_id") % 100 != 0).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("n_emb")
    )
    scored = c.join(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        F.round(_wdot_col(F.col("n_emb"), F.col("q_emb")), 6).alias("model_score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("model_score"), F.asc("neighbor_id")
    )
    exact = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .localCheckpoint(eager=True)
    )
    served = sim_model_rerank_raw(spark, sf_dir).localCheckpoint(eager=True)
    # recall: served pairs found in the exact model top-10, micro-averaged
    nq = exact.select("query_id").distinct().count()
    hits = served.select(
        "query_id", F.col("vec_id").alias("neighbor_id")
    ).join(
        F.broadcast(exact.select("query_id", "neighbor_id")),
        ["query_id", "neighbor_id"],
        "left_semi",
    )
    recall_ok = hits.agg(
        (F.count("*") >= F.lit(_MODEL_RERANK_RECALL_FLOOR * 10 * nq)).alias("recall_ok")
    )
    # slot parity: the pandas scorer's (rounded) outputs equal the JVM
    # weighted-dot fold on every served row — one Spark-internal boolean
    # (both sides computed in THIS engine; the oracle emits literal true)
    jvm = (
        served.select("query_id", F.col("vec_id").alias("neighbor_id"), "model_score")
        .join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            (
                F.abs(
                    F.col("model_score")
                    - F.round(_wdot_col(F.col("n_emb"), F.col("q_emb")), 6)
                )
                <= 2e-6
            ).alias("_ok")
        )
    )
    parity_ok = jvm.agg(F.coalesce(F.min("_ok"), F.lit(True)).alias("slot_parity_ok"))
    return (
        exact.select("query_id", "neighbor_id", "model_score", "rank")
        .crossJoin(F.broadcast(recall_ok))  # constant-key: 1-row verdicts
        .crossJoin(F.broadcast(parity_ok))
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# IVFPQ serving-COST model audit (work units vs the nprobe/refine knobs)
# ---------------------------------------------------------------------------

# The frontier audit (sim_ivfpq_tuning_frontier) pins what the knobs BUY
# (recall); this pins what they COST. Serving cost has two deterministic
# work-unit drivers: ADC candidates scored (= rows in the probed cells, the
# partition-pruned scan + LUT folds) and exact-rescore rows (= the k*refine
# cut of those candidates). Both are exactly computable from O(model) driver
# state — cell sizes + the same stable cell routing every probe uses — which
# is the point: an operator prices a knob change WITHOUT running the probe.
_SERVING_COST_ARMS = _IVFPQ_FRONTIER_ARMS

# ADC-cost model: candidates ~= n_queries * corpus * nprobe / n_cells if the
# coarse cells were balanced. KMeans cells are NOT balanced and queries
# route to their nearest cells, so the measured ratio drifts off 1 — mildly
# above at small nprobe on the small tiers (queries land in slightly-large
# cells), mildly below at sf0.1 — and is exactly 1 at nprobe = n_cells
# (every cell scanned). Measured adc_rows / (nq * N * nprobe / n_cells),
# sf0.001 / 0.01 / 0.1:
#   (1,4) 1.063 / 1.057 / 0.996   (2,4) 1.042 / 1.015 / 0.994
#   (4,*) 1.023 / 1.023 / 0.996   (8,4) 1.000 / 1.000 / 1.000
# Band [0.9, 1.3): a routing bug (wrong cells, tombstone leak, dead cells)
# moves the ratio far more than fixture drift does.
_SERVING_COST_BAND = (0.9, 1.3)


def sim_ivfpq_serving_cost_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact serving work units per (nprobe, refine) arm of the persisted
    eval index: for every held-out query, route to its nprobe nearest cells
    with the SAME stable ranking the probe uses (`_query_luts`
    operators/similarity.py), then price the arm from the per-cell row
    counts — adc_rows = sum of probed-cell sizes, refine_rows = sum of
    min(k*refine, candidates) per query. Returns one row per arm:
    (nprobe, refine, n_queries, adc_rows, refine_rows, model_ratio_micro)
    where model_ratio_micro is the exact integer-micro quotient
    adc_rows * n_cells * 1e6 div (nq * corpus * nprobe) — the balance
    factor of the ADC cost model.

    Scale: O(model) driver math (n_cells sizes + |Q| routings); the corpus
    is touched once for the per-cell counts, which the index layout serves
    as a partition-pruned metadata scan."""
    from data_integration_and_processing_spark.operators.similarity import (  # noqa: PLC0415
        _query_luts,
        load_ivfpq_model,
    )

    path = _eval_index_path(spark, sf_dir)
    model = load_ivfpq_model(spark, path)
    n_cells = model["n_cells"]
    sizes = {
        int(r["_cell"]): int(r["n"])
        for r in spark.read.parquet(f"{path}/data")
        .groupBy("_cell")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    corpus_n = sum(sizes.values())
    e = load_table(spark, sf_dir, "embeddings")
    qs = [
        [float(x) for x in r["embedding"]]
        for r in e.filter(F.col("vec_id") % 100 == 0).select("embedding").collect()
    ]
    nq, k = len(qs), 10
    max_probe = max(np_ for np_, _ in _SERVING_COST_ARMS)
    routed = [
        [c for c, _ in _query_luts(model, q, max_probe)] for q in qs
    ]
    rows = []
    for np_, rf in _SERVING_COST_ARMS:
        adc = 0
        refine_rows = 0
        for cells in routed:
            cand = sum(sizes.get(c, 0) for c in cells[:np_])
            adc += cand
            refine_rows += min(k * rf, cand)
        ratio_micro = (adc * n_cells * 1_000_000) // (nq * corpus_n * np_)
        rows.append((np_, rf, nq, adc, refine_rows, ratio_micro))
    return tiny_local_df(
        spark,
        rows,
        "nprobe int, refine int, n_queries long, adc_rows long,"
        " refine_rows long, model_ratio_micro long",
    )


@register(
    "sim_ivfpq_serving_cost",
    # Cell routing (and therefore the exact work-unit integers) is
    # engine-specific, so the driver-checked contract is the audit-verdict
    # form: per-arm booleans over the cost model that hold at every fixture
    # tier. A routing or accounting regression anywhere flips one.
    oracle=f"""
        WITH arms(nprobe, refine) AS (
            VALUES {", ".join(f"({np_}, {rf})" for np_, rf in _IVFPQ_FRONTIER_ARMS)}
        )
        SELECT arms.nprobe, arms.refine,
               (SELECT CAST(count(*) AS BIGINT) FROM embeddings
                WHERE vec_id % 100 = 0) AS n_queries,
               true AS adc_model_ok,
               true AS adc_monotone_ok,
               true AS refine_capped_ok,
               true AS full_scan_exact_ok
        FROM arms ORDER BY arms.nprobe, arms.refine
    """,
    description=(
        "IVFPQ serving-COST model audit — the price side of the "
        "sim_ivfpq_tuning_frontier recall curve: "
        "work units per (nprobe, refine) arm computed EXACTLY from O(model) "
        "driver state (per-cell row counts + the probe's own stable cell "
        "routing), no probe execution needed. Pins four facts of a correct "
        "cost model per arm: adc_model_ok (candidates vs the balanced-cell "
        "prediction nq*N*nprobe/n_cells lands in the "
        f"[{_SERVING_COST_BAND[0]}, {_SERVING_COST_BAND[1]}) band around "
        "the measured 0.994-1.064 — a routing bug moves it far more than "
        "fixture drift), adc_monotone_ok (ADC work strictly grows with "
        "nprobe at fixed refine), refine_capped_ok (rescore rows never "
        "exceed k*refine per query — the refine knob bounds stage-2 cost "
        "by construction), and full_scan_exact_ok (at nprobe = n_cells the "
        "model is exact: ratio == 1). Work-unit integers: "
        "sim_ivfpq_serving_cost_raw"
    ),
    tags=("similarity", "ann", "audit", "profiling", "scale"),
)
def sim_ivfpq_serving_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = sim_ivfpq_serving_cost_raw(spark, sf_dir)
    lo, hi = _SERVING_COST_BAND
    # adc monotonicity in nprobe at fixed refine, computed over the arm
    # frame itself (6 rows — driver-bounded by the arm grid)
    from pyspark.sql.window import Window  # noqa: PLC0415

    w = Window.partitionBy("refine").orderBy("nprobe")
    mono = raw.withColumn("_prev", F.lag("adc_rows").over(w)).agg(
        F.min(
            F.when(F.col("_prev").isNull(), True).otherwise(
                F.col("adc_rows") > F.col("_prev")
            )
        ).alias("adc_monotone_ok")
    )
    full = raw.filter(F.col("nprobe") == 8).agg(
        F.min(F.col("model_ratio_micro") == 1_000_000).alias("full_scan_exact_ok")
    )
    return (
        raw.select(
            "nprobe",
            "refine",
            "n_queries",
            (
                (F.col("model_ratio_micro") >= int(lo * 1_000_000))
                & (F.col("model_ratio_micro") < int(hi * 1_000_000))
            ).alias("adc_model_ok"),
            (F.col("refine_rows") <= F.col("n_queries") * 10 * F.col("refine")).alias(
                "refine_capped_ok"
            ),
        )
        .crossJoin(F.broadcast(mono))  # constant-key: 1-row verdicts
        .crossJoin(F.broadcast(full))
        .select(
            "nprobe", "refine", "n_queries",
            "adc_model_ok", "adc_monotone_ok", "refine_capped_ok",
            "full_scan_exact_ok",
        )
        .orderBy("nprobe", "refine")
    )


# ---------------------------------------------------------------------------
# end-to-end RAG ingest pipeline (model-UDF embed -> index -> serve ->
# eval) — the retrieval twin of pipeline_training_corpus
# ---------------------------------------------------------------------------

_RAG_DIM = 32
_RAG_K = 10
_RAG_RECALL_FLOOR = 0.55  # measured micro recall@10: see registration note


def _hash_embed(df: DataFrame) -> DataFrame:
    """Deterministic stand-in embedder in the MODEL-UDF position: hashed
    bag-of-words (signed feature hashing, crc32 buckets) -> unit vector,
    Arrow-batched via mapInPandas — the exact slot a sentence-transformer
    occupies (any ``texts -> np.ndarray[n, d]`` model drops in; crc32 keeps
    the audit hashable where a learned model would not be). Input
    (doc_id, text); output (doc_id, embedding array<float>)."""

    def _embed(batches):
        import re  # noqa: PLC0415
        import zlib  # noqa: PLC0415

        import numpy as np  # noqa: PLC0415 — resolves inside the Arrow worker
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = []
            for t in pdf["text"]:
                v = np.zeros(_RAG_DIM)
                for tok in re.findall(r"[a-z0-9]+", (t or "").lower()):
                    h = zlib.crc32(tok.encode())
                    v[h % _RAG_DIM] += 1.0 if (h >> 8) & 1 else -1.0
                n = float(np.linalg.norm(v))
                if n:
                    v = v / n
                vecs.append([float(x) for x in v])
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "embedding": vecs})

    # the documents fixture scans as ONE task, so the
    # whole model-UDF embed ran on one Python worker of 32 — fan out BEFORE
    # the Python boundary (no-op on any scan already wider than the cores).
    # Per-row outputs are row-local, so the multiset is unchanged.
    return fan_out_scan(df.select("doc_id", "text")).mapInPandas(
        _embed, schema="doc_id long, embedding array<float>"
    )


def _rag_index_path(spark: SparkSession, sf_dir: str, corpus_emb: DataFrame) -> str:
    """Build-once IVFPQ index over the embedded documents corpus, keyed by
    the DOCUMENTS fixture fingerprint (the embedder is code-frozen, so the
    fixture is the only variable input)."""
    import os  # noqa: PLC0415

    path = _fixture_index_path("ragivfpq", sf_dir, src_file="documents.parquet")
    if not os.path.exists(f"{path}/meta"):
        import shutil  # noqa: PLC0415

        shutil.rmtree(path, ignore_errors=True)
        build_ivfpq_index(
            corpus_emb, path, n_cells=8, m=8, nbits=4, vec_col="embedding",
            id_col="doc_id",
        )
    return path


def pipeline_rag_ingest_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Served (query doc_id, neighbor doc_id, cos_sim, rank) of the
    end-to-end pipeline — embed ALL documents with the model-UDF slot,
    index the corpus slice (doc_id % 53 != 0), batch-probe the held-out
    query slice. Engine-specific ranks; the registered entry wraps this in
    the per-source audit form."""
    from data_integration_and_processing_spark.operators.similarity import (  # noqa: PLC0415
        ivfpq_probe_batch,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = _hash_embed(docs).localCheckpoint(eager=True)
    corpus_emb = emb.filter(F.col("doc_id") % 53 != 0)
    path = _rag_index_path(spark, sf_dir, corpus_emb)
    qs = [
        (int(r["doc_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("doc_id") % 53 == 0).collect()
    ]
    return ivfpq_probe_batch(
        spark, path, qs, k=_RAG_K, nprobe=4, refine=8, id_col="doc_id"
    )


@register(
    "pipeline_rag_ingest",
    oracle="""
        SELECT d.source,
               CAST(count(*) AS BIGINT) AS n_queries,
               CAST(count(*) * 10 AS BIGINT) AS n_served,
               true AS recall_ok
        FROM documents d
        WHERE d.doc_id % 53 = 0
        GROUP BY d.source
        ORDER BY d.source
    """,
    description=(
        "end-to-end RAG ingest pipeline (the "
        "retrieval twin of pipeline_training_corpus): documents are "
        "embedded by a model-UDF (Arrow-batched mapInPandas; a "
        "deterministic crc32 feature-hashing embedder stands in the slot "
        "any texts->vectors model occupies), the corpus slice is built "
        "into a persisted IVFPQ index, the held-out query slice "
        "(doc_id % 53 = 0) is served through the batched probe, and the "
        "served results are audited against the exact brute-force top-10 "
        "over the SAME embeddings. Driver-checked per query-source: "
        "serving completeness (every query returns exactly k rows — "
        "n_served = 10 * n_queries) plus the global recall@10 >= "
        f"{_RAG_RECALL_FLOOR} floor boolean (measured 0.94/0.90/0.90 at "
        "sf0.001/0.01/0.1). Raw ranks: pipeline_rag_ingest_raw"
    ),
    tags=("similarity", "north-star", "ann", "pandas-udf", "pipeline", "scale"),
)
def pipeline_rag_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window  # noqa: PLC0415

    docs = load_table(spark, sf_dir, "documents")
    emb = _hash_embed(docs).localCheckpoint(eager=True)
    corpus_emb = emb.filter(F.col("doc_id") % 53 != 0)
    q_emb = emb.filter(F.col("doc_id") % 53 == 0).select(
        F.col("doc_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    # the served arm re-embeds + loads the index model
    # driver-side — build AND materialize it on a worker thread while the
    # exact ground-truth join runs on the cluster (same rows either way)
    served_f = background_materialize(lambda: pipeline_rag_ingest_raw(spark, sf_dir))
    # exact ground truth over the same embedder output: broadcast the small
    # query side, score the corpus once, window top-k per query
    scored = corpus_emb.join(F.broadcast(q_emb)).select(
        "query_id",
        F.col("doc_id").alias("neighbor_id"),
        cosine(F.col("embedding"), F.col("q_emb")).alias("s"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("s"), F.asc("neighbor_id"))
    exact = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _RAG_K)
        .select("query_id", "neighbor_id")
    )
    nq = q_emb.count()
    served = served_f.result()
    hits = served.select(
        "query_id", F.col("doc_id").alias("neighbor_id")
    ).join(F.broadcast(exact), ["query_id", "neighbor_id"], "left_semi")
    recall_ok = hits.agg(
        (F.count("*") >= F.lit(_RAG_RECALL_FLOOR * _RAG_K * nq)).alias("recall_ok")
    )
    src = docs.filter(F.col("doc_id") % 53 == 0).select(
        F.col("doc_id").alias("query_id"), "source"
    )
    return (
        served.join(F.broadcast(src), "query_id")
        .groupBy("source")
        .agg(
            F.countDistinct("query_id").alias("n_queries"),
            F.count("*").alias("n_served"),
        )
        .crossJoin(F.broadcast(recall_ok))  # constant-key: 1-row verdict
        .select("source", "n_queries", "n_served", "recall_ok")
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# streaming ANN ingest (foreachBatch upsert into a served IVFPQ index,
# recall audited per micro-batch)
# ---------------------------------------------------------------------------

_STREAM_INGEST_BATCHES = 3
_STREAM_INGEST_RECALL_FLOOR = 0.3  # measured per-batch minimum: see note


def stream_ivfpq_ingest_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the streaming ingest and return the per-batch ledger with the
    measured recall fractions (engine-specific; the registered entry
    projects the audit booleans). Composition of three proven pieces:
    the staged file stream (ordered micro-batches), ivfpq_upsert
    (O(batch) ingest), and the batched probe recall audit.

    The base index (vec_id %% 8 < 5, held-out %% 100 == 0 queries never
    indexed) is fixture-cached; each run copies it to a fresh scratch dir
    because ingest MUTATES the index — the cache must stay pristine."""
    import glob as _glob  # noqa: PLC0415
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415
    import time as _time  # noqa: PLC0415
    import uuid  # noqa: PLC0415

    from data_integration_and_processing_spark.operators.similarity import (  # noqa: PLC0415
        ivfpq_probe_batch,
        ivfpq_upsert,
    )
    from data_integration_and_processing_spark.streaming.pipelines import (  # noqa: PLC0415
        drain_available_now,
    )
    from pyspark.sql.window import Window  # noqa: PLC0415

    e = load_table(spark, sf_dir, "embeddings")
    held_out = F.col("vec_id") % 100 == 0
    base_pred = (F.col("vec_id") % 8 < 5) & ~held_out

    base_cache = _fixture_index_path("ivfpq_ingest_base", sf_dir)
    if not os.path.exists(f"{base_cache}/meta"):
        shutil.rmtree(base_cache, ignore_errors=True)
        build_ivfpq_index(e.filter(base_pred), base_cache, n_cells=8, m=8, nbits=4)

    scratch = f"/tmp/diaps_stream_ingest_{uuid.uuid4().hex[:8]}"
    path = f"{scratch}/index"
    os.makedirs(scratch, exist_ok=True)
    shutil.copytree(base_cache, path)

    # stage the ingest slices as one parquet file per micro-batch with
    # strictly ascending mtimes: FileStreamSource replays oldest-first, so
    # batch i == (vec_id % 8 == 5 + i) deterministically on any fs (the
    # _staged_stream order_col discipline, with EXPLICIT slice predicates
    # so the oracle can recompute every batch's membership in SQL)
    src = f"{scratch}/src"
    os.makedirs(src)
    now = _time.time()
    for i in range(_STREAM_INGEST_BATCHES):
        part_dir = f"{scratch}/stage_{i}"
        e.filter((F.col("vec_id") % 8 == 5 + i) & ~held_out).select(
            "vec_id", "embedding"
        ).coalesce(1).write.mode("overwrite").parquet(part_dir)
        part = next(iter(_glob.glob(f"{part_dir}/part-*.parquet")))
        dest = f"{src}/batch_{i}.parquet"
        shutil.move(part, dest)
        os.utime(dest, (now + 2 * i, now + 2 * i))

    qs = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in e.filter(held_out).select("vec_id", "embedding").collect()
    ]
    nq = len(qs)
    exact_base = e.filter(~held_out)
    ledger: list[tuple[int, int, int, float]] = []

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        n_in = batch_df.count()
        if n_in == 0:
            return
        ivfpq_upsert(batch_df, path)
        b = batch_df.sparkSession
        total = b.read.parquet(f"{path}/data").count()
        # per-batch recall audit of the LIVE index: served top-10 vs the
        # exact top-10 over everything indexed so far (base + batches <= i)
        seq = len(ledger)
        corpus = exact_base.filter(F.col("vec_id") % 8 <= 5 + seq)
        q_df = tiny_local_df(
            b, [(q, v) for q, v in qs], "query_id long, q_emb array<float>"
        )
        scored = corpus.join(F.broadcast(q_df)).select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("embedding"), F.col("q_emb")).alias("s"),
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("s"), F.asc("neighbor_id"))
        exact = (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 10)
            .select("query_id", "neighbor_id")
        )
        served = ivfpq_probe_batch(b, path, qs, k=10, nprobe=4, refine=8).select(
            "query_id", F.col("vec_id").alias("neighbor_id")
        )
        n_hits = served.join(
            F.broadcast(exact), ["query_id", "neighbor_id"], "left_semi"
        ).count()
        ledger.append((seq, n_in, total, n_hits / (10.0 * nq)))

    drain_available_now(
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(_ingest),
        scratch,
    )
    shutil.rmtree(scratch, ignore_errors=True)
    return tiny_local_df(
        spark, ledger, "batch_seq int, n_ingested long, total_indexed long, recall double"
    )


@register(
    "stream_ivfpq_ingest",
    oracle="""
        WITH base AS (
            SELECT CAST(count(*) AS BIGINT) AS b FROM embeddings
            WHERE vec_id % 100 <> 0 AND vec_id % 8 < 5
        ),
        ing AS (
            SELECT CAST(vec_id % 8 - 5 AS INT) AS batch_seq,
                   CAST(count(*) AS BIGINT) AS n_ingested
            FROM embeddings
            WHERE vec_id % 100 <> 0 AND vec_id % 8 >= 5
            GROUP BY 1
        )
        SELECT i.batch_seq, i.n_ingested,
               CAST(b.b + sum(i.n_ingested) OVER (ORDER BY i.batch_seq)
                    AS BIGINT) AS total_indexed,
               true AS count_ok,
               true AS recall_ok
        FROM ing i CROSS JOIN base b
        ORDER BY i.batch_seq
    """,
    description=(
        "streaming ANN ingest (composes three proven pieces): "
        "ordered micro-batches (vec_id % 8 slices staged as an "
        "mtime-ordered file stream, maxFilesPerTrigger=1, availableNow) "
        "land in a LIVE IVFPQ index via foreachBatch + ivfpq_upsert "
        "(O(batch) — frozen cells/codebooks, per-cell appends), and every "
        "batch is audited in-flight: accounting (index rows == base + "
        "ingested so far, exact integers the oracle recomputes in SQL) and "
        "recall@10 of the held-out query batch served through the LIVE "
        "index vs the exact top-10 over everything indexed so far >= "
        f"{_STREAM_INGEST_RECALL_FLOOR} (measured per-batch minimum "
        "0.54/0.68/0.53 at sf0.001/0.01/0.1). The streaming twin of "
        "sim_ivfpq_upsert_audit. Raw recalls: stream_ivfpq_ingest_raw"
    ),
    tags=("similarity", "streaming", "ann", "incremental", "north-star", "scale"),
)
def stream_ivfpq_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    base_n = e.filter((F.col("vec_id") % 100 != 0) & (F.col("vec_id") % 8 < 5)).count()
    raw = stream_ivfpq_ingest_raw(spark, sf_dir)
    from pyspark.sql.window import Window  # noqa: PLC0415

    w = Window.orderBy("batch_seq").rowsBetween(Window.unboundedPreceding, 0)
    # 3-row ledger: the global window is bounded by the batch count, not
    # the data (same class as the whitelisted 1-row verdict crosses)
    return raw.select(
        "batch_seq",
        "n_ingested",
        "total_indexed",
        (
            F.col("total_indexed")
            == F.lit(base_n) + F.sum("n_ingested").over(w)
        ).alias("count_ok"),
        (F.col("recall") >= F.lit(_STREAM_INGEST_RECALL_FLOOR)).alias("recall_ok"),
    ).orderBy("batch_seq")
