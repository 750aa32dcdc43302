"""Vector similarity search over embedding columns (north-star surface).

Embeddings are plain ``array<float>`` columns. Scoring (cosine, ADC
lookups) happens JVM-side in ``zip_with``/``aggregate`` expressions; index
encoding runs as one Arrow-batched numpy map.

Three top-k paths:
- **brute-force cosine top-k** — the exact reference every recall check
  compares against. Per-row map + global top-k (``orderBy().limit(k)`` =
  TakeOrderedAndProject: per-partition heaps, no full sort). At 100 TB
  this is a full scan but a tiny shuffle (k rows per partition).
- **in-plan LSH top-k** — random-hyperplane signatures computed per row;
  only the query's bucket (or multi-probe neighbors) survives the filter.
  No build and no trained state: the hyperplanes come from a fixed seed.
- **IVFPQ index** — the one persisted ANN index: coarse cells written
  hive-partitioned by ``_cell`` plus PQ codes of each vector's residual
  (:func:`build_ivfpq_index` / :func:`ivfpq_probe`). IVF and flat PQ are
  settings of it (Jégou et al., IVFADC): ``refine=None`` ranks every row
  of the probed cells by exact cosine (IVF-flat), and ``n_cells=1`` is
  flat PQ over residuals from the corpus mean.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .expr_sql import double_array_col, float_array_col
from .parallelism import fan_out_scan, tiny_local_df  # noqa: F401 — tiny_local_df re-exported for queries


def dot(a: Column, b: Column) -> Column:
    """Dot product of two float arrays, accumulated in doubles in index
    order (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    ))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 6,
) -> DataFrame:
    """Exact top-k by cosine against a literal query vector.

    The similarity is rounded before ranking so ordering is stable across
    engines/runs; ties break on id.
    """
    q = float_array_col(query_vec)
    sim = F.round(cosine(F.col(vec_col), q), round_digits)
    # no fan_out_scan: one cosine fold per row is light — the guard's
    # round-robin exchange measured +0.46s on the benched fixture while the
    # serial fold costs ~25ms; at production scale the scan is already wide
    # and the guard would be a no-op anyway. TakeOrdered keeps the shuffle
    # at k rows per partition regardless.
    return (
        df.select(F.col(id_col), sim.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    """Deterministic Gaussian hyperplanes for sign-LSH."""
    return np.random.RandomState(seed).randn(n_planes, dim)


def lsh_signature(vec: Column, planes: np.ndarray) -> Column:
    """Sign-LSH bucket id: one bit per hyperplane (sign of the projection),
    packed into a long. Pure per-row expression."""
    sig = F.lit(0).cast("long")
    for j, plane in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(
                vec,
                double_array_col(plane),
                lambda x, w: x.cast("double") * w,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        sig = sig + F.when(proj > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
    return sig


def lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 4,
    n_tables: int = 8,
    max_probe_hamming: int = 0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via multi-table sign-LSH: ``n_tables`` independent
    hash tables of ``n_planes`` hyperplanes each; a vector is a candidate if
    its bucket matches the query's (within ``max_probe_hamming`` bits) in
    ANY table. Collision probability per table is p^n_planes with
    p = 1 - angle/pi, so the union of L tables recalls weak neighbors
    (p ~ 0.6) that a single deep table misses entirely.

    All signatures are per-row JVM expressions; the candidate test is one
    OR-of-equalities filter, so the scan is a pure map + TakeOrdered — no
    shuffle of the corpus. At scale, persist the L signature columns and
    partition by (table0_sig) to turn probes into partition-pruned reads;
    expected scanned fraction is ~L/2^n_planes of the corpus.
    """
    planes = random_hyperplanes(len(query_vec), n_planes * n_tables, seed)
    q = np.asarray(query_vec, dtype=np.float64)
    cond = None
    for t in range(n_tables):
        tp = planes[t * n_planes : (t + 1) * n_planes]
        q_sig = sum(1 << j for j, plane in enumerate(tp) if float(np.dot(plane, q)) > 0)
        sig = lsh_signature(F.col(vec_col), tp)
        hit = (
            sig == F.lit(q_sig).cast("long")
            if max_probe_hamming == 0
            else F.bit_count(sig.bitwiseXOR(F.lit(q_sig).cast("long"))) <= max_probe_hamming
        )
        cond = hit if cond is None else (cond | hit)
    qcol = float_array_col(query_vec)
    sim = F.round(cosine(F.col(vec_col), qcol), 6)
    return (
        fan_out_scan(df).filter(cond)
        .select(F.col(id_col), sim.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 6,
    broadcast_max_bytes: int = 512 << 20,
    n_planes: int = 8,
    n_tables: int = 16,
    seed: int = 42,
    force_path: str | None = None,
) -> DataFrame:
    """All pairs with cosine >= threshold, routed by corpus size.

    Both paths share the same exact verification stage (sequential
    index-order double accumulation, matching the oracle), so reported
    values are identical; only candidate *generation* differs:

    - estimated corpus size <= ``broadcast_max_bytes`` (Catalyst plan
      statistics — a planning-time lookup, NO job): BLAS matmul candidates
      (:func:`_neardup_candidates_broadcast`) — fastest when the unit-vector
      matrix fits comfortably in driver/executor memory.
    - larger corpora: distributed sign-LSH banding
      (:func:`_neardup_candidates_lsh`) — no driver materialization
      anywhere; candidate generation is one shuffle keyed by (table,
      signature) with in-task pair expansion. Recall is probabilistic but
      seeded-deterministic: a pair at exactly ``threshold`` collides in one
      table with p = (1 - acos(threshold)/pi)^n_planes; with the defaults at
      threshold 0.9 that is ~0.29 per table, ~0.996 over 16 tables, and
      higher-similarity pairs recall strictly better. Lower thresholds need
      shallower/more tables (see tests/test_ann_recall.py).

    ``force_path`` ('broadcast' | 'lsh') pins a path for tests.
    """
    raw = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    path = force_path
    if path is None:
        # size up the un-repartitioned plan: parquet-backed stats are exact
        path = "broadcast" if _estimated_bytes(raw) <= broadcast_max_bytes else "lsh"
    # no fan_out_scan: the broadcast candidate stage is one numpy
    # block-matmul per partition (~50ms serial at fixture scale) and the
    # guard's round-robin exchange + 32-way Arrow worker round-trips
    # measured +0.64s net on the benched fixture; at production scale the
    # scan is already wide and the guard would be a no-op anyway. The pair
    # set is partition-independent (each block compares against the full
    # broadcast matrix, i<j canonicalization).
    ids_vecs = raw
    if path == "broadcast":
        # the candidate stage already holds both vectors of every pair, so
        # it emits the EXACT verified cosine in-stage (bit-identical
        # sequential fold, see _seq_cosine) — no re-join with the corpus
        cand = _neardup_candidates_broadcast(ids_vecs, threshold, round_digits)
        return cand.select(
            "id_a", "id_b", F.round(F.col("cos"), round_digits).alias("cos_sim")
        ).filter(F.col("cos_sim") >= threshold)
    if path != "lsh":
        raise ValueError(f"unknown force_path: {force_path!r}")
    # LSH candidates carry only ids — fetch vectors back for the exact verify
    cand = _neardup_candidates_lsh(ids_vecs, n_planes, n_tables, seed)
    a = ids_vecs.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    b = ids_vecs.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    sim = F.round(cosine(F.col("va"), F.col("vb")), round_digits)
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def _estimated_bytes(df: DataFrame) -> int:
    """Catalyst's sizeInBytes estimate for the plan — free at planning time
    (no Spark job). Parquet-backed plans report real file sizes; when the
    estimate is unknown Spark returns a conservative huge default, which
    correctly routes to the distributed path."""
    try:
        # py4j converts the scala BigInt to a python int
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())  # noqa: SLF001
    except Exception:  # noqa: BLE001 — e.g. Spark Connect: assume big, stay distributed
        return 1 << 62


def _seq_cosine(a: np.ndarray, b: np.ndarray) -> float:
    """Bit-identical twin of the JVM :func:`cosine` expression: dot and the
    two squared norms are accumulated in doubles in index order from 0.0
    (each step one multiply + one add — no FMA, no pairwise summation), then
    ``dot / (norm_a * norm_b)`` in that association order. BLAS/np.dot use
    pairwise summation and would drift in the last ulps; the exact verify
    must hash-match the SQL oracle."""
    with np.errstate(divide="ignore", invalid="ignore"):
        dot_ = np.float64(0.0)
        na = np.float64(0.0)
        nb = np.float64(0.0)
        for i in range(len(a)):
            dot_ = dot_ + a[i] * b[i]
            na = na + a[i] * a[i]
            nb = nb + b[i] * b[i]
        return float(dot_ / (np.sqrt(na) * np.sqrt(nb)))


def _neardup_candidates_broadcast(
    ids_vecs: DataFrame, threshold: float, round_digits: int
) -> DataFrame:
    """Verified (id_a < id_b, cos) pairs via a BLAS matrix product inside an
    Arrow-batched ``mapInPandas``: the full (id, unit-vector) matrix is a
    broadcast variable and each partition multiplies its block against it.
    Pairs clearing ``threshold`` minus fp slack (summation-order drift) get
    the exact sequential-fold cosine (:func:`_seq_cosine`) computed in-stage
    — the matmul finds the ~|answer| candidates fast, the exact fold runs
    only on those, and no corpus re-join is needed downstream.
    Driver-memory-bound — callers guard on corpus size."""
    spark = ids_vecs.sparkSession

    import pandas as pd  # noqa: PLC0415 — keep pandas off the import hot path

    mat_pdf = ids_vecs.toPandas()
    all_ids = np.asarray(mat_pdf["id"].to_numpy(), dtype=np.int64)
    mat = np.array([np.asarray(v, dtype=np.float64) for v in mat_pdf["v"]])
    norms = np.linalg.norm(mat, axis=1)
    unit = mat / np.where(norms == 0.0, 1.0, norms)[:, None]
    b_ids = spark.sparkContext.broadcast(all_ids)
    b_unit = spark.sparkContext.broadcast(unit)
    b_mat = spark.sparkContext.broadcast(mat)
    slack = 10.0 ** (-round_digits) * 100.0

    def _candidates(batches):
        ids_all, unit_all, mat_all = b_ids.value, b_unit.value, b_mat.value
        order = {int(i): j for j, i in enumerate(ids_all)}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            block = np.array([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            bn = np.linalg.norm(block, axis=1)
            ublock = block / np.where(bn == 0.0, 1.0, bn)[:, None]
            sims = ublock @ unit_all.T
            rid = np.asarray(pdf["id"].to_numpy(), dtype=np.int64)
            rows, cols = np.nonzero((sims >= threshold - slack) & (rid[:, None] < ids_all[None, :]))
            if len(rows):
                exact = [
                    _seq_cosine(mat_all[order[int(rid[r])]], mat_all[c])
                    for r, c in zip(rows, cols)
                ]
                yield pd.DataFrame(
                    {"id_a": rid[rows], "id_b": ids_all[cols], "cos": exact}
                )

    return ids_vecs.mapInPandas(_candidates, schema="id_a long, id_b long, cos double")


def _neardup_candidates_lsh(
    ids_vecs: DataFrame, n_planes: int, n_tables: int, seed: int
) -> DataFrame:
    """Candidate (id_a < id_b) pairs via distributed multi-table sign-LSH:
    each vector gets ``n_tables`` signatures of ``n_planes`` sign bits from
    one (batch x dim) @ (dim x planes) numpy matmul per ``mapInPandas``
    batch against :func:`lsh_signature`'s seeded hyperplanes. A bit can
    differ from that JVM expression only where a projection lies within
    summation rounding of zero. Ids sharing a (table, signature) bucket
    pair up in-task via :func:`pairs_within_buckets`, which drops buckets
    larger than its ``max_bucket``. One shuffle keyed by (table,
    signature); nothing lands on the driver."""
    from data_integration_and_processing_spark.operators.dedup import (  # noqa: PLC0415 — avoid import cycle
        pairs_within_buckets,
    )

    import pandas as pd  # noqa: PLC0415 — keep pandas off the import hot path

    first = ids_vecs.select(F.size("v").alias("d")).first()
    if first is None:
        return tiny_local_df(ids_vecs.sparkSession, [], "id_a long, id_b long")
    planes = random_hyperplanes(int(first["d"]), n_planes * n_tables, seed)
    b_planes = ids_vecs.sparkSession.sparkContext.broadcast(planes)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    def _signatures(batches):
        pl = b_planes.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            block = np.array([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            bits = (block @ pl.T) > 0  # (batch, n_planes * n_tables)
            rid = np.asarray(pdf["id"].to_numpy(), dtype=np.int64)
            out_id = np.repeat(rid, n_tables)
            out_table = np.tile(np.arange(n_tables, dtype=np.int32), len(rid))
            sigs = np.einsum(
                "btp,p->bt", bits.reshape(len(rid), n_tables, n_planes), weights
            )
            yield pd.DataFrame(
                {"id": out_id, "table": out_table, "bucket": sigs.reshape(-1)}
            )

    banded = ids_vecs.mapInPandas(_signatures, schema="id long, table int, bucket long")
    return pairs_within_buckets(banded, ["table", "bucket"])


# ---------------------------------------------------------------------------
# product quantization (PQ)
# ---------------------------------------------------------------------------


def _arrow_matrix(vecs, dim: int | None = None) -> np.ndarray:
    """``(rows, dim)`` float64 matrix of an Arrow list column of vectors
    (float32 -> float64 widening is exact). Raises ``ValueError`` on a null
    vector, a null element, ragged lengths, or a width other than ``dim``
    when given: ``ListArray.flatten()`` drops null lists and keeps null
    elements, so a reshape of anything but a null-free rectangle would
    misalign every later row."""
    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.compute as pc  # noqa: PLC0415

    if isinstance(vecs, pa.ChunkedArray):
        vecs = vecs.combine_chunks()
    if len(vecs) == 0:
        return np.empty((0, dim or 0))
    flat = vecs.flatten()
    lengths = pc.min_max(vecs.value_lengths())
    lo, hi = lengths["min"].as_py(), lengths["max"].as_py()
    if vecs.null_count or flat.null_count or lo != hi or not lo or dim not in (None, lo):
        raise ValueError(
            f"ragged or null vectors: lengths {lo}..{hi}"
            + ("" if dim is None else f" (index dim {dim})")
            + f", {vecs.null_count} null vectors, {flat.null_count} null elements"
        )
    return flat.to_numpy(zero_copy_only=False).astype(np.float64).reshape(len(vecs), lo)


def _vector_sample(
    df: DataFrame, vec_col: str, id_col: str, cap: int, seed: int
) -> "pa.Table":
    """The training sample every quantizer trains on: at most ``cap``
    vectors fetched as ONE Arrow table, ordered by
    ``(pmod(xxhash64(id, seed), 1024), id)``. The order is total on
    (unique) ids, so the sample and its row order are independent of input
    partitioning. No fan_out_scan here: the per-row work is one hash and a
    sort key, and the TakeOrdered already runs per input partition.
    Columns: ``_sid`` (id), ``_h`` (``xxhash64(id)``) and ``_svec``."""
    return (
        df.select(F.col(id_col).alias("_sid"), F.col(vec_col).alias("_svec"))
        .withColumn("_b", F.pmod(F.xxhash64("_sid", F.lit(seed)), F.lit(1024)))
        .orderBy("_b", "_sid")
        .limit(cap)
        .select("_sid", F.xxhash64("_sid").alias("_h"), "_svec")
        .toArrow()
    )


def _unit_rows(x: np.ndarray) -> np.ndarray:
    """Row-wise unit normalization; zero vectors pass through."""
    norms = np.linalg.norm(x, axis=1)
    return x / np.where(norms == 0.0, 1.0, norms)[:, None]


def _unit_training_sample(
    df: DataFrame, vec_col: str, id_col: str, cap: int, seed: int, m: int
) -> tuple[np.ndarray, np.ndarray]:
    """The unit-normalized :func:`_vector_sample` that
    :func:`build_ivfpq_index` trains on, checked for what the build needs
    (at least one row, a width that ``m`` subspaces divide), plus the
    permutation that re-sorts it by ``(xxhash64(id), id)``: the codebook
    trainer's seeded kmeans++ init consumes rows in that order, so a corpus
    within the cap trains the same codebooks as a separate
    ``orderBy(xxhash64(id), id)`` sample of it."""
    tbl = _vector_sample(df, vec_col, id_col, cap, seed)
    sample = _unit_rows(_arrow_matrix(tbl.column("_svec")))
    if not len(sample):
        raise ValueError("cannot index an empty corpus")
    if sample.shape[1] % m:
        raise ValueError(f"dim {sample.shape[1]} not divisible by m={m}")
    return sample, np.lexsort((tbl.column("_sid").to_numpy(), tbl.column("_h").to_numpy()))


def _sq_dists(x: np.ndarray, centers: np.ndarray) -> np.ndarray:
    """``(rows, centers)`` squared L2 distances, one center at a time:
    summing the contiguous (rows, dim) difference is the same pairwise
    reduction over the same values as summing the last axis of one
    (rows, centers, dim) temp, at half the memory traffic."""
    d2 = np.empty((len(x), len(centers)))
    for c in range(len(centers)):
        d2[:, c] = ((x - centers[c]) ** 2).sum(axis=1)
    return d2


def _nearest_cells(u: np.ndarray, centers: np.ndarray) -> np.ndarray:
    """Each row's nearest coarse center; ties go to the lowest cell."""
    return np.argmin(_sq_dists(u, centers), axis=1)


def _pq_codes(x: np.ndarray, books: np.ndarray) -> np.ndarray:
    """``(rows, m)`` int32 PQ codes of ``x`` against ``(m, codes, dsub)``
    codebooks; ties go to the lowest code."""
    m, dsub = len(books), x.shape[1] // len(books)
    codes = np.empty((len(x), m), dtype=np.int32)
    for j in range(m):
        codes[:, j] = np.argmin(_sq_dists(x[:, j * dsub : (j + 1) * dsub], books[j]), axis=1)
    return codes


def _encode_vectors(
    df: DataFrame, vec_col: str, id_col: str, centers: np.ndarray, books: np.ndarray
) -> DataFrame:
    """The per-row encoder every index write goes through: one
    Arrow-batched map turns ``df``'s (id, vector) rows into
    ``(id, codes, v, _cell)`` — unit-normalize, nearest of the FROZEN
    ``centers``, PQ codes of the residual against the FROZEN ``books``.
    The IVFPQ build and :func:`ivfpq_upsert` share it, so the same vector
    gets the same cell and codes either way; a ragged, null or wrong-width
    vector fails the task with ``ValueError`` (:func:`_arrow_matrix`)."""
    import pyarrow as pa  # noqa: PLC0415

    dim, m = centers.shape[1], len(books)

    def encode(batches):
        for batch in batches:
            u = _unit_rows(_arrow_matrix(batch.column("v"), dim))
            cells = _nearest_cells(u, centers)
            codes = _pq_codes(u - centers[cells], books)
            offsets = pa.array(np.arange(0, codes.size + 1, m, dtype=np.int32))
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("id"),
                    pa.ListArray.from_arrays(offsets, pa.array(codes.ravel())),
                    batch.column("v"),
                    pa.array(cells.astype(np.int32)),
                ],
                names=["id", "codes", "v", "_cell"],
            )

    return df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<float>").alias("v"),
    ).mapInArrow(encode, "id long, codes array<int>, v array<float>, _cell int")


def _train_pq_codebooks(
    sample: np.ndarray, m: int, nbits: int, seed: int, n_iter: int = 25
) -> np.ndarray:
    """Lloyd k-means per subspace on a driver-side training sample —
    deterministic (seeded kmeans++ init, fixed iteration count, argmin ties
    to the lowest code). Returns (m, 2**nbits, dim//m) float64 codebooks.

    Driver-side training is the standard PQ shape (FAISS trains on a
    bounded sample too): codebooks are a few KB of model state; only the
    ENCODING pass must be distributed, and is.
    """
    n, dim = sample.shape
    dsub = dim // m
    ncodes = min(2**nbits, n)
    books = np.empty((m, 2**nbits, dsub))
    for j in range(m):
        rs = np.random.RandomState(seed + j)
        x = sample[:, j * dsub : (j + 1) * dsub]
        # kmeans++ seeding
        centers = [x[rs.randint(n)]]
        for _ in range(ncodes - 1):
            d2 = np.min(
                [((x - c) ** 2).sum(axis=1) for c in centers], axis=0
            )
            total = float(d2.sum())
            if total <= 0.0:
                centers.append(x[rs.randint(n)])
                continue
            centers.append(x[rs.choice(n, p=d2 / total)])
        cb = np.array(centers)
        for _ in range(n_iter):
            d2 = ((x[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for c in range(len(cb)):
                members = x[assign == c]
                if len(members):
                    cb[c] = members.mean(axis=0)
        # pad (tiny-sample case) so every code id is addressable
        if len(cb) < 2**nbits:
            cb = np.vstack([cb, np.repeat(cb[-1:], 2**nbits - len(cb), axis=0)])
        books[j] = cb
    return books


def _train_centroids(
    sample: np.ndarray, k: int, seed: int, n_iter: int = 25, restarts: int = 3
) -> np.ndarray:
    """Driver-side Lloyd k-means on a bounded sample: the coarse quantizer
    of :func:`build_ivfpq_index` and :func:`ann_join_ivf`, and the
    full-vector twin of _train_pq_codebooks' per-subspace trainer. It runs
    ``restarts`` seeded kmeans++ attempts and keeps the lowest-inertia
    result, because a single greedy init measured ~5 recall points below a
    kmeans|| fit on clustered data. Deterministic; O(restarts * sample * k *
    dim) numpy."""
    n = len(sample)

    def one(run_seed: int) -> tuple[float, np.ndarray]:
        rs = np.random.RandomState(run_seed)
        centers = [sample[rs.randint(n)]]
        # incremental kmeans++: keep the
        # running elementwise min-distance and fold in ONLY the newest
        # center each step — elementwise min is associative and exact, so
        # this is bit-identical to re-minimizing over every center (the
        # O(k^2) form it replaces) while doing O(k) distance passes
        d2 = ((sample - centers[0]) ** 2).sum(axis=1)
        for _ in range(min(k, n) - 1):
            total = float(d2.sum())
            centers.append(
                sample[rs.randint(n)] if total <= 0 else sample[rs.choice(n, p=d2 / total)]
            )
            d2 = np.minimum(d2, ((sample - centers[-1]) ** 2).sum(axis=1))
        cb = np.array(centers, dtype=np.float64)
        for _ in range(n_iter):
            assign = _nearest_cells(sample, cb)
            for c in range(len(cb)):
                members = sample[assign == c]
                if len(members):
                    cb[c] = members.mean(axis=0)
        inertia = float(((sample - cb[_nearest_cells(sample, cb)]) ** 2).sum())
        if len(cb) < k:
            cb = np.vstack([cb, np.repeat(cb[-1:], k - len(cb), axis=0)])
        return inertia, cb

    best = min((one(seed + 1000 * r) for r in range(restarts)), key=lambda t: t[0])
    return best[1]


def train_ivf_centers(
    corpus: DataFrame,
    n_cells: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> "np.ndarray":
    """Train the IVF coarse quantizer on a bounded, hash-deterministic
    corpus sample (the block :func:`ann_join_ivf` uses). Exposed so a
    multi-probe sweep (e.g. the recall audit's nprobe curve) trains ONCE
    and shares the centers across calls — the build-once, probe-many
    production pattern."""
    tbl = _vector_sample(corpus, vec_col, id_col, 65536, seed)
    return _train_centroids(_arrow_matrix(tbl.column("_svec")), n_cells, seed)


def ann_join_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_cells: int = 8,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    seed: int = 42,
    round_digits: int = 6,
    centers: "np.ndarray | None" = None,
) -> DataFrame:
    """Approximate k-NN JOIN: every query row gets its top-k corpus
    neighbors, but each query only ever meets the ``nprobe`` nearest of
    ``n_cells`` coarse-quantizer cells — ~nprobe/n_cells of the brute-force
    candidate volume.

    The exact k-NN join (:func:`knn_join` / the ``sim_knn_join`` query)
    broadcasts the query side and scans the full corpus per query — right
    when queries are few. This is the other regime: a large query BATCH
    against a large corpus, where all-pairs is the scale killer. Plan:

    1. train the coarse quantizer once with driver-side numpy Lloyd on a
       bounded corpus sample (:func:`train_ivf_centers`; an
       O(n_cells * dim) model inlined into the plan);
    2. assign corpus rows to cells — one narrow map;
    3. route each query to its nprobe nearest cells via a broadcast join
       against the n_cells centroid rows (window rank, JVM-side distance);
    4. shuffle BOTH sides on cell — the join fan-out per query is the cell
       payload, not the corpus — and window-rank the exact cosine within
       candidates to top-k.

    Recall loss is the IVF trade: a true neighbor living in an unprobed
    cell is missed; tests/test_ann_recall.py pins the floor. Centroid count
    scales with corpus size (sqrt(N) rule of thumb) — the centroid table
    stays broadcastable far past 10^9 vectors.
    """
    from pyspark.sql.window import Window  # noqa: PLC0415

    # Coarse quantizer trained driver-side on a bounded sample (the PQ
    # trainer's shape — FAISS trains on samples too): for single-digit
    # n_cells, numpy Lloyd saves the JVM job overhead of a distributed fit,
    # and centroids are O(n_cells*dim) model state either way. Sample via
    # the portable integer hash so the trainer sees a deterministic,
    # shuffle-independent subset.
    # training-set cap is the scale lever: 64k vectors bound the driver
    # collect at ~32 MB for dim=64 while far exceeding what single-digit
    # n_cells needs; a larger corpus contributes a hash-deterministic
    # subset, a smaller one trains on everything (sub-sampling a small
    # corpus costs measurable recall for zero savings). A caller sweeping
    # nprobe passes prebuilt ``centers`` (train_ivf_centers) to skip the
    # redundant sample + Lloyd runs — identical output either way (same
    # seed, same corpus => same centers).
    centers_np = centers if centers is not None else train_ivf_centers(
        corpus, n_cells, vec_col, id_col, seed
    )

    # the centroid table and the
    # assignment expression are built as ONE parsed SQL string each —
    # createDataFrame of the 8-row centroid table alone cost 0.35s of
    # py4j/conversion, and the old per-center Column build produced a
    # 2*k-fold tree (the d2 array was duplicated inside argmin) that cost
    # ~0.74s to build+analyze and evaluated 16 folds per row. The matrix
    # literal + posexplode and the two-step projection below build in
    # ~5ms, analyze a 2-lambda tree, and evaluate k folds per row — the
    # fold arithmetic (zip_with/aggregate, same order) is unchanged, so
    # distances and the argmin tiebreak are bit-identical.
    from .expr_sql import double_array_sql  # noqa: PLC0415

    mat_sql = "array(" + ",".join(double_array_sql(c) for c in centers_np) + ")"
    cent = queries.sparkSession.sql(
        f"SELECT CAST(cell AS int) AS cell, center"
        f" FROM (SELECT posexplode({mat_sql}) AS (cell, center))"
    )
    d2arr = (
        f"transform({mat_sql}, c -> aggregate(zip_with("
        f"CAST(`{vec_col}` AS array<double>), c, (a, b) -> (a - b) * (a - b)),"
        f" 0.0D, (acc, x) -> acc + x))"
    )
    corpus_cells = (
        fan_out_scan(corpus)
        .select(
            F.col(id_col).alias("_nbr_id"),
            F.col(vec_col).alias("_nbr_vec"),
            F.expr(d2arr).alias("_darr"),
        )
        .select(
            "_nbr_id",
            "_nbr_vec",
            (F.array_position(F.col("_darr"), F.array_min("_darr")) - 1)
            .cast("int")
            .alias("_cell"),
        )
    )
    # squared L2 distance query->centroid, JVM fold — no UDF
    d2 = F.aggregate(
        F.zip_with(
            F.col(vec_col).cast("array<double>"), F.col("center"), lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    probe_rank = Window.partitionBy(query_id_col).orderBy(F.asc("_d2"), F.asc("cell"))
    routed = (
        # deliberate broadcast cartesian: n_cells rows against the query batch
        queries.select(F.col(query_id_col), F.col(vec_col))
        .crossJoin(F.broadcast(cent))
        .withColumn("_d2", d2)
        .withColumn("_pr", F.row_number().over(probe_rank))
        .filter(F.col("_pr") <= nprobe)
        .select(query_id_col, vec_col, F.col("cell").alias("_cell"))
    )

    sim = F.round(cosine(F.col(vec_col), F.col("_nbr_vec")), round_digits)
    nbr_rank = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc("_nbr_id"))
    return (
        routed.join(corpus_cells, "_cell")
        .withColumn("cos_sim", sim)
        .withColumn("rank", F.row_number().over(nbr_rank))
        .filter(F.col("rank") <= k)
        .select(
            F.col(query_id_col),
            F.col("_nbr_id").alias("neighbor_id"),
            "cos_sim",
            "rank",
        )
    )


def mmr_rerank(
    candidates: DataFrame,
    lam: float = 0.7,
    k: int = 10,
    id_col: str = "vec_id",
    score_col: str = "score",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-Marginal-Relevance rerank of a BOUNDED candidate list:
    greedily pick argmax of ``lam*relevance - (1-lam)*max_sim_to_selected``.

    The greedy loop is inherently sequential and candidate-sized, so it
    runs on the driver over a collected list — the same single-node rerank
    stage every production retrieval stack ends with (candidates are k*10
    rows by construction; the DISTRIBUTED stages are the retrieval that
    produced them). Deterministic: ties break on ascending id; similarity
    is exact cosine in float64.
    """
    rows = candidates.select(id_col, score_col, vec_col).collect()
    if not rows:
        return candidates.select(
            F.col(id_col), F.col(score_col), F.lit(0).alias("mmr_rank")
        ).limit(0)
    ids = [r[id_col] for r in rows]
    rel = np.array([float(r[score_col]) for r in rows])
    vecs = np.array([r[vec_col] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(vecs, axis=1)
    norms[norms == 0] = 1.0
    unit = vecs / norms[:, None]
    sims = unit @ unit.T

    selected: list[int] = []
    remaining = list(range(len(rows)))
    while remaining and len(selected) < k:
        best_i, best_key = None, None
        for i in remaining:
            penalty = max((float(sims[i, j]) for j in selected), default=0.0)
            mmr = lam * rel[i] - (1.0 - lam) * penalty
            key = (-mmr, ids[i])
            if best_key is None or key < best_key:
                best_i, best_key = i, key
        selected.append(best_i)
        remaining.remove(best_i)

    spark = candidates.sparkSession
    out = [(ids[i], float(rel[i]), rank + 1) for rank, i in enumerate(selected)]
    return tiny_local_df(spark, out, f"{id_col} long, {score_col} double, mmr_rank int")


def mips_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 6,
) -> tuple[DataFrame, DataFrame]:
    """Maximum-inner-product search (MIPS) top-k, plus the norm-augmentation
    reduction that makes MIPS servable by any cosine/L2 ANN index.

    Returns (raw_topk, augmented_topk): ``raw`` ranks by the exact inner
    product; ``augmented`` appends the Shrivastava-Li extra coordinate
    sqrt(M^2 - |x|^2) (M = corpus max norm, one scalar aggregate) to every
    corpus vector and 0 to the query, then ranks by COSINE of the augmented
    vectors — |x'| = M for every row, so cosine = dot / (M |q|) is a
    monotone transform of the inner product and the two rankings agree.
    That equivalence is what lets this module's cosine ANN paths (in-plan
    LSH, the IVFPQ index, :func:`ann_join_ivf`) serve recommendation-style
    MIPS queries unchanged; the registered audit
    gates it as a measured boolean.
    """
    q = double_array_col(query_vec)
    dot = F.aggregate(
        F.zip_with(F.col(vec_col), q, lambda x, w: x.cast("double") * w),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    # Rank both paths by the UNROUNDED score with the id tiebreak and round
    # only the displayed value: rounding dot and dot/(M|q|) at
    # the same digit count quantizes at two different scales, which can
    # create/break ties differently at the k boundary; IEEE division by a
    # positive constant is monotone, so the unrounded orderings agree
    # exactly and the equivalence boolean cannot flip on rounding artifacts.
    base = fan_out_scan(df)
    raw = (
        base.select(F.col(id_col), dot.alias("_dot_exact"))
        .orderBy(F.desc("_dot_exact"), F.asc(id_col))
        .limit(k)
        .select(F.col(id_col), F.round(F.col("_dot_exact"), round_digits).alias("dot"))
    )
    sq = F.aggregate(
        F.col(vec_col), F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )
    m2 = base.agg(F.max(sq).alias("m2"))
    # augmented cosine = dot / (M * |q|): |x'|^2 = |x|^2 + (M^2 - |x|^2) = M^2
    qnorm = float(sum(float(x) * float(x) for x in query_vec)) ** 0.5
    aug = (
        base.crossJoin(F.broadcast(m2))
        .select(
            F.col(id_col),
            (dot / (F.sqrt(F.col("m2")) * F.lit(qnorm))).alias("_cos_exact"),
        )
        .orderBy(F.desc("_cos_exact"), F.asc(id_col))
        .limit(k)
        .select(F.col(id_col), F.round(F.col("_cos_exact"), round_digits).alias("aug_cos"))
    )
    return raw, aug


# ---------------------------------------------------------------------------
# IVF+PQ combined index (FAISS IVFPQ shape: coarse cells + residual codes)
# ---------------------------------------------------------------------------


def build_ivfpq_index(
    df: DataFrame,
    path: str,
    n_cells: int = 8,
    m: int = 8,
    nbits: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    train_cap: int = 100_000,
) -> str:
    """Build the module's one persisted ANN index, in the FAISS IVFPQ
    architecture: coarse cells plus PQ codes of each vector's residual.
    IVF and flat PQ are settings of it, not separate kinds: IVF-flat is
    this index probed with ``refine=None`` (:func:`ivfpq_probe`), and flat
    PQ is ``n_cells=1``, whose one center is the sample mean. Steps:

    1. fetch ONE bounded, id-hash-ordered Arrow sample (:func:`_vector_sample`,
       at most ``train_cap`` rows) and unit-normalize it (cosine ranking =
       L2 ranking on the unit sphere); ``dim`` is the sample's width;
    2. on the driver, train the coarse quantizer on it, assign its rows to
       cells, and train PQ codebooks on their RESIDUALS u - center[cell]
       (residual encoding is what makes IVFPQ beat flat PQ: residual norms
       are a fraction of vector norms, so the same 2**nbits codes per
       subspace quantize a much smaller ball);
    3. encode the whole corpus in ONE Arrow-batched map
       (:func:`_encode_vectors`: normalize, nearest cell, residual codes)
       and write it hive-partitioned by ``_cell``, so probes
       partition-prune to nprobe/n_cells of the data AND rank candidates
       by m table lookups instead of dim multiplies;
    4. write the model plane driver-side (:func:`_write_model`), ``meta``
       last: ``meta`` exists only once the index is complete.

    Before it writes anything, the build removes ``meta`` and any
    ``tombstones`` a previous index at ``path`` left behind: the ids a
    tombstone names were deleted from the OLD corpus, so they must not
    hide rows of the new one.

    Two Spark jobs carry the whole build: the sample fetch and the encode
    write (plus the fan-out exchange when the input is narrower than the
    cluster). The sample is a total order on id, so the model, and with it
    every row's cell and codes, does not depend on how ``df`` is
    partitioned. Layout::

        {path}/data/_cell=K/part-*.parquet   (id, codes array<int>, v)
        {path}/centroids/part-*.parquet      (cell, center array<double>)
        {path}/codebooks/part-*.parquet      (subspace, code, center)
        {path}/meta/part-*.parquet           (n_cells, m, nbits, dim, seed, train_cap)
        {path}/tombstones/part-*.parquet     (id) — appended by ivfpq_delete

    At 100 TB: training state is O(n_cells*dim + m*2**nbits*dim/m) driver
    bytes plus a ``train_cap``-row sample; the encode is one distributed
    map; the probe reads ~nprobe/n_cells of a table that is itself ~1/32
    original bytes for the ADC stage (originals ride along for the exact
    refine, fetched only for the k*refine survivors).
    """
    sample, pq_order = _unit_training_sample(df, vec_col, id_col, train_cap, seed, m)
    centers = _train_centroids(sample, n_cells, seed)
    pq_sample = sample[pq_order]
    books = _train_pq_codebooks(
        pq_sample - centers[_nearest_cells(pq_sample, centers)], m, nbits, seed
    )
    for stale in ("meta", "tombstones"):
        shutil.rmtree(f"{path}/{stale}", ignore_errors=True)
    _encode_vectors(fan_out_scan(df), vec_col, id_col, centers, books).write.mode(
        "overwrite"
    ).partitionBy("_cell").parquet(f"{path}/data")
    meta = {"n_cells": n_cells, "m": m, "nbits": nbits, "dim": sample.shape[1]}
    _write_model(path, books, {**meta, "seed": seed, "train_cap": train_cap}, centers)
    return path


def ivfpq_probe(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
    refine: int | None = 8,
    id_col: str = "vec_id",
    round_digits: int = 6,
) -> DataFrame:
    """Probe a :func:`build_ivfpq_index` index: rank cells by centroid
    distance driver-side, partition-prune the scan to the ``nprobe``
    nearest cells, score candidates by per-cell asymmetric-distance
    lookup tables over the RESIDUAL codes (ADC approximates
    ||u_q - u_x||^2, a monotone transform of cosine on the unit sphere;
    one LUT per probed cell because the query residual q - center differs
    per cell — m * 2**nbits doubles each, pure JVM lookups + adds), then
    exact-cosine re-rank the top ``k * refine`` ADC survivors on their
    stored originals.

    ``refine=None`` skips the ADC cut and ranks every row of the probed
    cells by exact cosine: IVF-flat. At ``nprobe=n_cells`` that returns
    exactly :func:`brute_force_topk`'s rows."""
    model = load_ivfpq_model(spark, path)
    cell_luts = _query_luts(model, query_vec, nprobe)
    scan = _tombstone_filter(
        spark,
        path,
        spark.read.parquet(f"{path}/data").filter(
            F.col("_cell").isin([c for c, _ in cell_luts])
        ),
    )
    if refine is not None:
        adc = None
        for c, lut in cell_luts:
            cell_adc = None
            for j in range(model["m"]):
                lut_j = double_array_col(lut[j])
                term = F.element_at(lut_j, F.element_at("codes", j + 1) + F.lit(1))
                cell_adc = term if cell_adc is None else cell_adc + term
            adc = (
                F.when(F.col("_cell") == c, cell_adc)
                if adc is None
                else adc.when(F.col("_cell") == c, cell_adc)
            )
        scan = (
            scan.select("id", "v", "codes", F.col("_cell").cast("int").alias("_cell"))
            .select("id", "v", adc.alias("_adc"))
            .orderBy(F.asc("_adc"), F.asc("id"))
            .limit(k * refine)
        )
    sim = F.round(cosine(F.col("v"), float_array_col(query_vec)), round_digits)
    return (
        scan.select(F.col("id").alias(id_col), sim.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def _driver_read_parquet_rows(path: str) -> list[dict]:
    """Driver-side pyarrow read of a tiny Spark-written parquet directory
    (the O(KB) index model plane: meta/centroids/codebooks). Each
    ``spark.read.parquet(...).collect()`` of these costs ~2 Spark jobs
    (footer inference + collect) — measured 6 jobs per model load, pure
    fixed overhead for data this small. The persisted-index store is
    documented local-FS-only (see :func:`ivfpq_compact`), so a local read
    is already the contract. Values are the same binary64/int64 the Spark
    read returns (both decode the identical parquet pages)."""
    import glob as _glob  # noqa: PLC0415

    import pyarrow.parquet as _pq  # noqa: PLC0415

    files = sorted(_glob.glob(f"{path}/*.parquet"))
    if not files:
        raise FileNotFoundError(f"no parquet part files under {path}")
    return _pq.read_table(files).to_pylist()


def _driver_write_parquet(path: str, table) -> None:
    """Driver-side pyarrow write of a tiny model-plane table as one part
    file — the twin of :func:`_driver_read_parquet_rows`, on the same
    local-FS-only store contract, and no Spark job. The file lands in a
    sibling ``_<name>.tmp`` directory that is renamed into place, so
    ``path`` is either absent or complete."""
    import pyarrow.parquet as _pq  # noqa: PLC0415

    tmp = os.path.join(os.path.dirname(path), f"_{os.path.basename(path)}.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    _pq.write_table(table, f"{tmp}/part-00000.parquet")
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)


def _write_model(
    path: str, books: np.ndarray, meta: dict[str, int], centers: np.ndarray
) -> None:
    """Write an IVFPQ index's model plane: ``centroids``, ``codebooks``,
    then ``meta`` LAST — a build removes ``meta`` before it writes
    anything, so ``meta`` present means the index is complete."""
    import pyarrow as pa  # noqa: PLC0415

    vec_t = pa.list_(pa.float64())
    _driver_write_parquet(
        f"{path}/centroids",
        pa.table(
            {
                "cell": pa.array(range(len(centers)), pa.int32()),
                "center": pa.array(centers.tolist(), vec_t),
            }
        ),
    )
    m, n_codes, dsub = books.shape
    _driver_write_parquet(
        f"{path}/codebooks",
        pa.table(
            {
                "subspace": pa.array(np.repeat(np.arange(m), n_codes), pa.int32()),
                "code": pa.array(np.tile(np.arange(n_codes), m), pa.int32()),
                "center": pa.array(books.reshape(m * n_codes, dsub).tolist(), vec_t),
            }
        ),
    )
    _driver_write_parquet(
        f"{path}/meta", pa.table({k: pa.array([v], pa.int32()) for k, v in meta.items()})
    )


def load_ivfpq_model(spark, path: str) -> dict:
    """Fetch an IVFPQ index's model state (meta + centers + codebooks) to the
    driver ONCE — O(n_cells*dim + m*2**nbits*dim/m) bytes, the bounded
    metadata plane every probe shares. Multi-query callers load once and
    pass the model to each probe instead of re-reading per query."""
    meta = _driver_read_parquet_rows(f"{path}/meta")[0]
    m, nbits = int(meta["m"]), int(meta["nbits"])
    dsub = int(meta["dim"]) // m
    centers = np.zeros((int(meta["n_cells"]), int(meta["dim"])))
    for r in _driver_read_parquet_rows(f"{path}/centroids"):
        centers[int(r["cell"])] = np.asarray(r["center"])
    books = np.zeros((m, 2**nbits, dsub))
    for r in _driver_read_parquet_rows(f"{path}/codebooks"):
        books[int(r["subspace"]), int(r["code"])] = np.asarray(r["center"])
    return {
        "m": m,
        "nbits": nbits,
        "dim": int(meta["dim"]),
        "dsub": dsub,
        "n_cells": int(meta["n_cells"]),
        "seed": int(meta["seed"]),
        "centers": centers,
        "books": books,
    }


def _query_luts(
    model: dict, query_vec: list[float], nprobe: int
) -> list[tuple[int, "np.ndarray"]]:
    """Driver-side query prep shared by the single probe and the batch
    probe — ONE copy of the zero-norm guard, the stable cell ranking, and
    the residual LUT formula, because the batch path's contract is
    bit-for-bit equality with per-query probes (pytest-pinned): returns
    [(cell, (m, 2**nbits) squared-distance LUT)] for the nprobe nearest
    cells."""
    m, dsub = model["m"], model["dsub"]
    centers, books = model["centers"], model["books"]
    q = np.asarray(query_vec, dtype=np.float64)
    qn = np.linalg.norm(q)
    uq = q / (qn if qn else 1.0)
    order = np.argsort([float(np.linalg.norm(uq - c)) for c in centers], kind="stable")
    out = []
    for c in (int(i) for i in order[:nprobe]):
        qr = (uq - centers[c]).reshape(m, dsub)
        out.append((c, ((qr[:, None, :] - books) ** 2).sum(axis=2)))  # (m, 2**nbits)
    return out


def ivfpq_probe_batch(
    spark,
    path: str,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    nprobe: int = 2,
    refine: int = 8,
    id_col: str = "vec_id",
    round_digits: int = 6,
) -> DataFrame:
    """Serve a BOUNDED batch of queries through one IVFPQ index as ONE
    distributed plan: the model state loads once
    (:func:`load_ivfpq_model`), the per-(query, probed-cell) ADC lookup
    tables — O(batch * nprobe * m * 2**nbits) doubles — are built
    driver-side and BROADCAST as a small table, candidates equi-join their
    cell's LUT rows, the ADC score is one JVM fold over the m code bytes,
    and two per-query windows pick the k*refine ADC survivors then the
    exact-cosine top-k. Returns (query_id, id_col, cos_sim, rank).

    Identical results to per-query :func:`ivfpq_probe` calls (same cell
    routing, same LUTs, same tiebreaks) at a fraction of the plan cost: one
    job instead of a union of Q subplans. The scan prunes to the UNION of
    all probed cells — each query still only meets its own nprobe cells
    through the equi-join. For corpus-sized query sets use
    :func:`ann_join_ivf`, which shuffles queries to cells instead of
    broadcasting LUTs.
    """
    from pyspark.sql.window import Window  # noqa: PLC0415

    short = _adc_shortlist(spark, path, queries, k * refine, nprobe)
    w_k = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        short.select(
            "query_id",
            F.col("id").alias(id_col),
            F.round(cosine(F.col("v"), F.col("_q")), round_digits).alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(w_k))
        .filter(F.col("rank") <= k)
    )


def ivfpq_probe_batch_arms(
    spark,
    path: str,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    nprobe: int = 2,
    refines: tuple[int, ...] = (1, 5),
    id_col: str = "vec_id",
    round_digits: int = 6,
) -> dict[int, DataFrame]:
    """Several refine depths of ONE probe batch from a SINGLE shared ADC
    shortlist: a shallower arm's candidate set is exactly
    the ``_r <= k*refine`` prefix of the deepest arm's ADC ranking (same
    LUTs, same (_adc, id) tiebreak), so running the scan -> broadcast-LUT
    join -> ADC window once and slicing it per arm returns results
    IDENTICAL to per-arm :func:`ivfpq_probe_batch` calls at a fraction of
    the plan. The deepest shortlist is MATERIALIZED (eager localCheckpoint
    of <= batch * k * max(refines) scored rows — bounded by construction):
    leaving it lazy re-runs the whole scan -> join -> ADC pipeline per arm,
    because the per-arm rank filters push DIFFERENT WindowGroupLimit bounds
    (k*refine) into each union branch and the no-longer-identical subtrees
    defeat exchange reuse."""
    from pyspark.sql.window import Window  # noqa: PLC0415

    deepest = k * max(refines)
    short = _adc_shortlist(spark, path, queries, deepest, nprobe, keep_rank=True)
    scored = short.select(
        "query_id",
        "_r",
        F.col("id").alias(id_col),
        F.round(cosine(F.col("v"), F.col("_q")), round_digits).alias("cos_sim"),
    ).localCheckpoint(eager=True)
    w_k = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc(id_col))
    out: dict[int, DataFrame] = {}
    for r in refines:
        arm = scored if r == max(refines) else scored.filter(F.col("_r") <= k * r)
        out[r] = (
            arm.withColumn("rank", F.row_number().over(w_k))
            .filter(F.col("rank") <= k)
            .select("query_id", id_col, "cos_sim", "rank")
        )
    return out


def _adc_shortlist(
    spark,
    path: str,
    queries: list[tuple[int, list[float]]],
    n_candidates: int,
    nprobe: int,
    keep_rank: bool = False,
) -> DataFrame:
    """The batch probe's STAGE-1: per query, the ``n_candidates`` best ADC
    candidates of an IVFPQ index, with both vectors attached —
    ``(query_id, id, v, _q)``. Shared by :func:`ivfpq_probe_batch`
    (stage-2 = exact cosine) and :func:`model_rerank_batch` (stage-2 = a
    pluggable scorer), so the two serving paths are the SAME plan up to
    the rescorer."""
    if not queries:
        # guard here so BOTH callers fail explicitly instead of dying
        # inside createDataFrame on an empty lut_rows list
        raise ValueError("empty query batch")
    from pyspark.sql.window import Window  # noqa: PLC0415

    model = load_ivfpq_model(spark, path)
    m = model["m"]
    lut_rows = []
    for qid, vec in queries:
        for c, lut in _query_luts(model, vec, nprobe):
            lut_rows.append(
                (
                    int(qid),
                    c,
                    [[float(x) for x in row] for row in lut],
                    [float(x) for x in vec],
                )
            )
    luts = tiny_local_df(
        spark,
        lut_rows,
        "query_id long, _cell int, _lut array<array<double>>, _q array<float>",
    )
    probe_cells = sorted({r[1] for r in lut_rows})
    adc = F.aggregate(
        F.sequence(F.lit(1), F.lit(m)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(F.element_at("_lut", j), F.element_at("codes", j) + F.lit(1)),
    )
    w_adc = Window.partitionBy("query_id").orderBy(F.asc("_adc"), F.asc("id"))
    return (
        _tombstone_filter(
            spark,
            path,
            # partition-pruned scan
            spark.read.parquet(f"{path}/data").filter(F.col("_cell").isin(probe_cells)),
        )
        .select("id", "v", "codes", F.col("_cell").cast("int").alias("_cell"))
        .join(F.broadcast(luts), "_cell")
        .select("query_id", "id", "v", "_q", adc.alias("_adc"))
        .withColumn("_r", F.row_number().over(w_adc))
        .filter(F.col("_r") <= n_candidates)
        .select("query_id", "id", "v", "_q", *(["_r"] if keep_rank else []))
    )


def model_rerank_batch(
    spark,
    path: str,
    queries: list[tuple[int, list[float]]],
    scorer,
    k: int = 10,
    nprobe: int = 4,
    n_candidates: int = 50,
    id_col: str = "vec_id",
    round_digits: int = 6,
) -> DataFrame:
    """Two-stage retrieval with a PLUGGABLE stage-2 model (the RAG serving
    pattern `sim_rerank_eval` stands in for with an exact rescore): the
    IVFPQ ADC shortlist fans out ``n_candidates`` per query, then
    ``scorer`` — an Arrow-batched pandas function
    ``(q: np.ndarray[n,d], c: np.ndarray[n,d]) -> np.ndarray[n]`` — scores
    every (query, candidate) pair, and a per-query window keeps the top-k
    by (rounded score, id). Swapping the model = passing a different
    ``scorer``; the plan (pruned scan -> broadcast-LUT join -> ADC window
    -> mapInPandas -> top-k window) is identical for any model.

    At 100 TB: stage-1 is the index's partition-pruned candidate plan;
    stage-2 touches batch * n_candidates rows only, Arrow-batched — the
    model cost is decoupled from corpus size, which is the point of
    candidate-generation architectures. Returns
    ``(query_id, id_col, model_score, rank)``.
    """
    short = _adc_shortlist(spark, path, queries, n_candidates, nprobe)
    return _model_rescore(short, scorer, k=k, id_col=id_col, round_digits=round_digits)


def _model_rescore(
    short: DataFrame,
    scorer,
    k: int = 10,
    id_col: str = "vec_id",
    round_digits: int = 6,
) -> DataFrame:
    """STAGE-2 of :func:`model_rerank_batch`, factored out so it can run
    over any ``(query_id, id, v, _q)`` candidate set — the serving path
    composes it with :func:`_adc_shortlist`; the bench probe times it over
    a checkpointed shortlist to isolate model cost from candidate
    generation. Arrow-batched scorer + per-query top-k window; cost is
    rows(short) scorer evaluations regardless of where the candidates
    came from."""
    import pandas as pd  # noqa: PLC0415 — keep pandas off the import hot path

    from pyspark.sql.window import Window  # noqa: PLC0415

    def _score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            q = np.array([np.asarray(x, dtype=np.float64) for x in pdf["_q"]])
            c = np.array([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "id": pdf["id"],
                    "model_score": np.asarray(scorer(q, c), dtype=np.float64),
                }
            )

    scored = short.mapInPandas(
        _score, schema="query_id long, id long, model_score double"
    )
    w_k = Window.partitionBy("query_id").orderBy(
        F.desc("model_score"), F.asc(id_col)
    )
    return (
        scored.select(
            "query_id",
            F.col("id").alias(id_col),
            F.round("model_score", round_digits).alias("model_score"),
        )
        .withColumn("rank", F.row_number().over(w_k))
        .filter(F.col("rank") <= k)
    )


def ivfpq_upsert(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """Incrementally ingest a new vector batch into an EXISTING IVFPQ index
    — no retrain, no rebuild: read the frozen model state, encode the batch
    through the build's own per-row encoder (:func:`_encode_vectors`:
    nearest coarse cell, residual codes against the FROZEN codebooks), and
    APPEND the encoded rows to the per-cell hive partitions. A vector
    upserted with the same values as an indexed one gets the identical
    ``_cell`` and ``codes``.
    Existing data files are never touched; cost is O(batch) work + one
    append-mode write.

    At 100 TB this is the operational path: the index refresh cadence (a
    daily crawl drop, a backfill shard) costs per-batch work, while a
    rebuild re-encodes the full corpus. Frozen codebooks drift from the data
    distribution over many upserts — the standard IVFPQ maintenance
    contract (FAISS add_with_ids semantics): monitor recall and schedule a
    retrain when it sags; the registered audit gates recall ON the upserted
    index.

    Caller contract: ids in ``df`` must be new (dedupe upstream — the index
    has no uniqueness constraint, exactly like FAISS add).
    """
    model = load_ivfpq_model(df.sparkSession, path)
    first = df.select(F.size(vec_col).alias("d")).first()
    if first is None:
        raise ValueError("cannot upsert an empty batch")
    if int(first["d"]) != model["dim"]:
        raise ValueError("batch dim does not match index dim")
    _encode_vectors(df, vec_col, id_col, model["centers"], model["books"]).write.mode(
        "append"
    ).partitionBy("_cell").parquet(f"{path}/data")
    return path


def ivfpq_delete(
    spark,
    path: str,
    ids: DataFrame,
    id_col: str = "vec_id",
) -> str:
    """Logically remove ids from an EXISTING IVFPQ index — the FAISS
    ``remove_ids`` analog and the operational complement of
    :func:`ivfpq_upsert`: APPEND the ids to the index's ``tombstones``
    parquet; every probe path anti-joins the (broadcast) tombstone set
    before ADC ranking, so deleted vectors neither appear in results NOR
    consume ``k * refine`` candidate slots. No data file is rewritten —
    cost is O(|batch|) regardless of index size, and repeated deletes
    accumulate (append mode).

    At 100 TB this is the takedown/right-to-be-forgotten path: a delete
    must land in seconds while the 100 TB encoded corpus stays immutable.
    The tombstone set is bounded by deletes-since-rebuild and broadcast at
    probe time; when it grows past broadcast scale (or deleted mass drags
    cell selectivity), COMPACT by rebuilding the index over the survivors —
    the same recall-driven retrain cadence the upsert contract documents.

    Deleting an id not in the index is a no-op at probe time (anti-join
    semantics), matching FAISS remove_ids tolerance.
    """
    ids.select(F.col(id_col).cast("long").alias("id")).write.mode("append").parquet(
        f"{path}/tombstones"
    )
    return path


def load_ivfpq_tombstones(spark, path: str) -> DataFrame | None:
    """The index's tombstone set as a 1-column (``id``) frame, or None when
    no delete has ever landed. Bounded metadata plane (like the model
    state): broadcast by the probe paths."""
    t = f"{path}/tombstones"
    if not os.path.exists(t):
        return None
    return spark.read.parquet(t).select("id").distinct()


def _tombstone_filter(spark, path: str, scan: DataFrame) -> DataFrame:
    """Drop tombstoned candidates from an index scan BEFORE ADC ranking
    (deleted rows must not consume refine slots). Broadcast anti-join —
    the tombstone set is deletes-since-rebuild, not corpus-sized."""
    tomb = load_ivfpq_tombstones(spark, path)
    if tomb is None:
        return scan
    return scan.join(F.broadcast(tomb), "id", "left_anti")


def ivfpq_compact(
    spark,
    path: str,
    out_path: str | None = None,
    train_cap: int | None = None,
) -> str:
    """Compact an IVFPQ index: rebuild the data plane over the SURVIVOR
    rows (tombstones dropped), retraining fresh coarse cells and PQ
    codebooks from the stored originals — the operational closer of the
    upsert/delete lifecycle (FAISS has no in-place compaction either: the
    documented pattern is ``remove_ids`` tombstoning followed by a rebuild
    once deleted mass drags selectivity, which is exactly this call).

    Guarantees:

    - **ids preserved**: the survivor (id, v) rows are the rebuild's
      corpus, so every non-tombstoned id remains servable and no new id
      appears;
    - **tombstones retired**: the compacted index has NO tombstone set —
      probes skip the anti-join entirely;
    - **rebuild equivalence**: the stored originals round-trip exactly
      (``array<float>`` in, ``array<float>`` out) and every training
      collect is hash-deterministic on id, so compaction is bit-equal to
      :func:`build_ivfpq_index` over the same survivor rows — the audit
      pins probe-equality against a from-scratch rebuild.

    With ``out_path`` the source index is left untouched (non-destructive
    mode — what the audit fixture uses so the delete fixture keeps its
    tombstones). Without it the rebuild lands in-place via a sibling tmp
    dir and two renames: the old index stays readable until the new one is
    fully written and no crash ever leaves a half-written hybrid at
    ``path``. The swap is NOT atomic, though: a crash between the two
    renames leaves ``path`` absent, with the old index intact at
    ``path.__compact_old`` and the finished rebuild at
    ``path.__compact_tmp`` — the next compact call recovers by renaming
    the ``.old`` back before rebuilding, but a concurrent probe inside
    that two-rename window sees ENOENT. Quiesce probes for the swap, or
    use ``out_path`` + a reader-side pointer flip if probes can't pause.
    The rename/rmtree swap assumes ``path`` is a LOCAL filesystem path;
    on an object store, use ``out_path`` mode and swap via the catalog.

    ``train_cap=None`` (default) reuses the cap recorded in the index's
    meta at build time, so a compact reproduces non-default builds
    without the caller re-supplying the knob.

    At 100 TB: one distributed survivor scan + encode + partitioned write,
    bounded driver state (the build's one ``train_cap``-row Arrow sample). Upserts/deletes landing DURING a compact are lost to the new
    index — quiesce maintenance for the swap window, the standard
    rebuild-cadence contract documented on :func:`ivfpq_delete`.
    """
    old = f"{path}.__compact_old"
    # crash recovery: a previous in-place compact that died between its two
    # renames left the intact old index at .__compact_old and nothing at
    # path — restore it before rebuilding
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)

    meta = _driver_read_parquet_rows(f"{path}/meta")[0]
    if train_cap is None:
        train_cap = (
            int(meta["train_cap"])
            if "train_cap" in meta and meta["train_cap"] is not None
            else 100_000
        )
    survivors = _tombstone_filter(spark, path, spark.read.parquet(f"{path}/data")).select(
        "id", "v"
    )
    in_place = out_path is None
    dest = f"{path}.__compact_tmp" if in_place else out_path
    shutil.rmtree(dest, ignore_errors=True)
    build_ivfpq_index(
        survivors,
        dest,
        n_cells=int(meta["n_cells"]),
        m=int(meta["m"]),
        nbits=int(meta["nbits"]),
        vec_col="v",
        id_col="id",
        seed=int(meta["seed"]),
        train_cap=train_cap,
    )
    if not in_place:
        return dest
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    os.rename(dest, path)
    shutil.rmtree(old, ignore_errors=True)
    return path
