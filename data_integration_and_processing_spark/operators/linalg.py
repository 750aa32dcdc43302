"""Distributed linear algebra over embedding columns: one-pass moment
aggregation (count / mean / Gram matrix) and PCA projection / whitening.

No reference counterpart (the reference is a pandas ETL bridge; SURVEY.md
§2.2) — but a training-data pipeline over embedded corpora needs exactly
this shape: statistics whose per-partition partials are tiny (O(d^2)
floats) tree-aggregate to the driver, the O(d^3) eigendecomposition runs
driver-side where d is small (64-1024), and the resulting projection
matrix broadcasts back for a map-only Arrow-batched transform. One corpus
pass for the moments, one for the projection — nothing wide, nothing
iterative, no O(n) state anywhere off the executors.

Determinism contract: partial moments are computed per spark partition
with numpy float64 matmuls, collected, then summed on the driver in
partition-id order — the same operation sequence every run, so the
covariance (and therefore the eigenbasis) is bit-stable for a fixed input
partitioning. Eigenvector sign is normalized (largest-|entry| coordinate
made positive) so the basis is unique even under degenerate-eigenvalue
reordering.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

_MOMENT_SCHEMA = StructType(
    [
        StructField("pid", LongType()),
        StructField("n", LongType()),
        StructField("s", ArrayType(DoubleType())),
        StructField("g", ArrayType(DoubleType())),
    ]
)


def corpus_moments(df: DataFrame, vec_col: str = "embedding") -> tuple[int, np.ndarray, np.ndarray]:
    """(n, mean, covariance) of the vector column in ONE distributed pass.

    Per spark partition an Arrow-batched task computes (n_p, sum_p,
    X_p^T X_p) — d + d^2 doubles regardless of row count — and the driver
    combines the partials in partition order. At 100 TB this is the same
    plan: the shuffle carries one tiny row per partition, the driver holds
    O(parts * d^2) transiently and O(d^2) after the fold.
    """

    def _partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n = 0
        s = None
        g = None
        pid = -1
        for pdf in batches:
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            pid = int(pdf["_pid"].iloc[0])
            n += x.shape[0]
            s = x.sum(axis=0) if s is None else s + x.sum(axis=0)
            gram = x.T @ x
            g = gram if g is None else g + gram
        if n:
            yield pd.DataFrame({"pid": [pid], "n": [n], "s": [list(s)], "g": [list(g.ravel())]})

    parts = (
        df.select(F.col(vec_col).alias(vec_col), F.spark_partition_id().cast("long").alias("_pid"))
        .mapInPandas(_partials, schema=_MOMENT_SCHEMA)
        .collect()
    )
    if not parts:
        raise ValueError("corpus_moments: empty input")
    parts.sort(key=lambda r: r["pid"])
    d = len(parts[0]["s"])
    n = 0
    s = np.zeros(d)
    g = np.zeros((d, d))
    for r in parts:
        n += r["n"]
        s += np.asarray(r["s"])
        g += np.asarray(r["g"]).reshape(d, d)
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    return n, mean, cov


def _sign_fixed_eigh(cov: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Eigenpairs sorted by descending eigenvalue, sign-normalized so each
    eigenvector's largest-|entry| coordinate is positive (unique basis)."""
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1]
    vals, vecs = vals[order], vecs[:, order]
    flips = np.sign(vecs[np.abs(vecs).argmax(axis=0), np.arange(vecs.shape[1])])
    flips[flips == 0] = 1.0
    return vals, vecs * flips


def pca_project(
    df: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    whiten: bool = False,
) -> tuple[DataFrame, np.ndarray]:
    """Project the corpus onto its top-``k`` principal components.

    Returns ``(projected_df, explained_variance_ratio)`` where the frame
    carries (id, array<double> of length k). ``whiten=True`` scales each
    component to unit variance (the PCA-whitening transform feeding
    e.g. cosine-ANN indexes that assume isotropy).

    Plan: one moments pass (see :func:`corpus_moments`), driver-side
    ``eigh`` on the d x d covariance, then a map-only Arrow-batched
    projection with the (d x k) matrix shipped in the UDF closure —
    broadcast-sized at any corpus scale.
    """
    n, mean, cov = corpus_moments(df, vec_col)
    vals, vecs = _sign_fixed_eigh(cov)
    total = float(np.clip(vals, 0, None).sum()) or 1.0
    ratio = np.clip(vals[:k], 0, None) / total
    w = vecs[:, :k]
    if whiten:
        w = w / np.sqrt(np.clip(vals[:k], 1e-12, None))
    w = np.ascontiguousarray(w)
    mean_c = mean.copy()

    @F.pandas_udf(ArrayType(DoubleType()))
    def _proj(col: pd.Series) -> pd.Series:
        x = np.stack(col.to_numpy()).astype(np.float64) - mean_c
        out = x @ w
        return pd.Series(list(out))

    return df.select(F.col(id_col), _proj(F.col(vec_col)).alias("components")), ratio


def merge_moments(
    a: tuple[int, np.ndarray, np.ndarray],
    b: tuple[int, np.ndarray, np.ndarray],
) -> tuple[int, np.ndarray, np.ndarray]:
    """Combine two corpora's (n, mean, cov) into the union's moments
    WITHOUT re-scanning either — the mergeability that makes the moment
    pass incremental: keep per-shard/per-day moments as tiny artifacts
    (d + d^2 doubles) and fold new data in O(d^2), exactly like HLL and
    CMS sketches merge by addition. Parallel-axis combination:

        mean = weighted mean
        cov  = weighted covs + weighted outer(mean_a - mean_b)
    """
    n_a, m_a, c_a = a
    n_b, m_b, c_b = b
    n = n_a + n_b
    if n == 0:
        raise ValueError("merge_moments: both inputs empty")
    w_a, w_b = n_a / n, n_b / n
    mean = w_a * m_a + w_b * m_b
    d = m_a - m_b
    cov = w_a * c_a + w_b * c_b + (w_a * w_b) * np.outer(d, d)
    return n, mean, cov


_FD_SCHEMA = StructType(
    [
        StructField("pid", LongType()),
        StructField("n", LongType()),
        StructField("frob_sq", DoubleType()),
        StructField("b", ArrayType(DoubleType())),  # l x d sketch, row-major
    ]
)


def _fd_shrink(buf: np.ndarray, sketch_rows: int) -> np.ndarray:
    """One Frequent-Directions shrink: SVD the buffer, subtract the
    ``sketch_rows``-th singular value's square from every kept direction.
    Returns exactly ``sketch_rows`` rows (zero-padded if rank-deficient)."""
    _, s, vt = np.linalg.svd(buf, full_matrices=False)
    if len(s) <= sketch_rows:
        out = np.zeros((sketch_rows, buf.shape[1]))
        out[: len(s)] = (s[:, None] * vt)[: len(s)]
        return out
    delta = s[sketch_rows - 1] ** 2
    kept = np.sqrt(np.clip(s[:sketch_rows] ** 2 - delta, 0.0, None))
    return kept[:, None] * vt[:sketch_rows]


def frequent_directions(
    df: DataFrame,
    sketch_rows: int = 32,
    vec_col: str = "embedding",
    tree_merge_threshold: int = 64,
) -> tuple[np.ndarray, int, float]:
    """Mergeable Frequent-Directions sketch of the corpus Gram matrix:
    returns (B, n, frob_sq) where B is ``sketch_rows x d`` with the
    deterministic guarantee 0 <= A^T A - B^T B (PSD) and
    lambda_max(A^T A - B^T B) <= 2 * ||A||_F^2 / sketch_rows.

    This is the matrix analogue of the KMV/HLL family: covariance/PCA
    state for a 100 TB embedding corpus in O(l * d) doubles per shard,
    mergeable by concatenate+shrink — keep per-day sketches as tiny
    artifacts and fold new data in, the exact pattern
    :func:`merge_moments` provides for exact moments, but with a
    guaranteed spectral-error budget when even the d x d Gram partials
    are too wide to ship densely (d in the tens of thousands). Per
    partition an Arrow-batched task streams rows through a 2l-row buffer
    (one SVD per l rows); the partials then fold two-level: when the input has more than ``tree_merge_threshold``
    partitions, a shuffle stage groups ~sqrt(P) contiguous-pid partials
    per group and shrink-merges each group executor-side, so the driver
    only folds the ~sqrt(P) survivors — O(sqrt(P) * l * d) driver state
    instead of O(P * l * d) at tens of thousands of partitions. Merge
    order is pid-ascending within groups and group-id-ascending on the
    driver — deterministic for a fixed input partitioning — and the
    guarantee booleans hold under ANY partitioning or merge tree
    (worst-case bound, not an expectation)."""

    def _partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        buf: list[np.ndarray] = []
        sk: np.ndarray | None = None
        n = 0
        frob = 0.0
        pid = -1
        for pdf in batches:
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            pid = int(pdf["_pid"].iloc[0])
            n += x.shape[0]
            frob += float((x * x).sum())
            buf.append(x)
            rows = sum(b.shape[0] for b in buf) + (0 if sk is None else sk.shape[0])
            while rows >= 2 * sketch_rows:
                stacked = np.vstack(([sk] if sk is not None else []) + buf)
                sk = _fd_shrink(stacked, sketch_rows)
                buf = []
                rows = sk.shape[0]
        if n:
            stacked = np.vstack(([sk] if sk is not None else []) + buf) if buf else sk
            sk = _fd_shrink(stacked, sketch_rows)
            yield pd.DataFrame(
                {"pid": [pid], "n": [n], "frob_sq": [frob], "b": [list(sk.ravel())]}
            )

    def _fold_rows(rows) -> tuple[np.ndarray | None, int, float]:
        """pid-ascending shrink-merge of partial sketch rows (shared by the
        executor-side group merge and the driver-side final fold)."""
        rows = sorted(rows, key=lambda r: r[0])
        n, frob, sk = 0, 0.0, None
        for _, r_n, r_frob, r_b in rows:
            n += int(r_n)
            frob += float(r_frob)
            d = len(r_b) // sketch_rows
            b = np.asarray(r_b, dtype=np.float64).reshape(sketch_rows, d)
            sk = b if sk is None else _fd_shrink(np.vstack([sk, b]), sketch_rows)
        return sk, n, frob

    partials = df.select(
        F.col(vec_col).alias(vec_col), F.spark_partition_id().cast("long").alias("_pid")
    ).mapInPandas(_partials, schema=_FD_SCHEMA)

    num_parts = df.rdd.getNumPartitions()
    if num_parts > tree_merge_threshold:
        import math

        group_size = int(math.ceil(math.sqrt(num_parts)))

        def _merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
            sk, n, frob = _fold_rows(
                list(zip(pdf["pid"], pdf["n"], pdf["frob_sq"], pdf["b"]))
            )
            gid = int(pdf["pid"].iloc[0]) // group_size
            return pd.DataFrame(
                {"pid": [gid], "n": [n], "frob_sq": [frob], "b": [list(sk.ravel())]}
            )

        partials = (
            partials.groupBy((F.col("pid") / group_size).cast("long").alias("_gid"))
            .applyInPandas(lambda _k, pdf: _merge_group(pdf), schema=_FD_SCHEMA)
        )

    parts = partials.collect()
    if not parts:
        raise ValueError("frequent_directions: empty input")
    sk, n, frob = _fold_rows([(r["pid"], r["n"], r["frob_sq"], r["b"]) for r in parts])
    return sk, n, frob
