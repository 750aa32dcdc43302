"""Distributed Lloyd k-means over an embedding column.

The IVF coarse quantizer (operators/similarity.py:train_ivf_centers) trains
on a bounded driver-side sample — right for single-digit cell counts, where
the model only has to partition space roughly. Corpus *clustering* (SemDeDup
-style semantic curation buckets, cluster-balanced sampling, per-cluster
quality profiling) is the other regime: every vector's assignment matters
and the objective is the global inertia, so the Lloyd iteration itself must
run on the cluster.

Scale shape per iteration (the whole point):

1. **assign**: argmin over k squared-L2 folds (`zip_with`/`aggregate`, all
   JVM expressions against literal centers — no UDF, no shuffle);
2. **update**: `groupBy(cluster).agg(count, sum(get(vec, 0..dim-1)))` — one
   partial-aggregated shuffle of at most k*(dim+2) doubles per map
   partition, never a row explosion (a `posexplode` update would multiply
   the shuffle rows by dim);
3. **driver**: collect k rows (k*(dim+2) doubles), recompute centers, feed
   them back as literals. Empty clusters keep their previous center.

Total driver state is O(k*dim) per iteration; data passes are n_iter scans
of a persisted (id, vec) projection. Inertia — sum of min squared distance
under the centers the assignment used — is folded into the same aggregation
(zero extra passes) and is non-increasing across iterations by Lloyd's
argument; the audit query gates on that measured sequence.

No counterpart in the reference (its engine is a pandas/JDBC ETL bridge);
this is part of the LLM-curation extension surface, same family as
operators/similarity.py and operators/classifier.py.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F

from .expr_sql import double_array_col
from .parallelism import tiny_local_df


@dataclass(frozen=True)
class KMeansModel:
    centers: tuple[tuple[float, ...], ...]  # k x dim
    inertia_history: tuple[float, ...]  # one per iteration, non-increasing
    cluster_sizes: tuple[int, ...]  # final assignment counts, len k


def _d2_fold(vec: Column, center: tuple[float, ...]) -> Column:
    """Squared L2 distance vec -> literal center, one JVM fold."""
    return F.aggregate(
        F.zip_with(
            vec,
            double_array_col(center),
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def assign_to_centers(vec: Column, centers: tuple[tuple[float, ...], ...]) -> Column:
    """0-based argmin cluster id over literal centers (ties -> lowest id)."""
    d2 = [_d2_fold(vec, c) for c in centers]
    return (F.array_position(F.array(*d2), F.array_min(F.array(*d2))) - 1).cast("int")


def _min_d2(vec: Column, centers: tuple[tuple[float, ...], ...]) -> Column:
    return F.array_min(F.array(*[_d2_fold(vec, c) for c in centers]))


# Above this many literal doubles in the per-row distance expression,
# centers travel as a one-row broadcast-joined array<array<double>> DATA
# value instead of literals: the expression tree is then O(1) in k (one
# transform over the joined matrix) and — the bigger effect — IDENTICAL
# across iterations, so whole-stage codegen compiles once and caches,
# where the literal tree recompiles every iteration because the literal
# values change. Measured at 100k x dim-64 vectors, 3 iters:
# k=8 literal 12.2s / broadcast 7.7s; k=32 15.3 / 8.5; k=64 53.0 / 17.1;
# k=256 broadcast 47.8s (literal not attempted — 16k-literal tree).
# The cap keeps the tiny-model regime (registered k=8 x dim=64 fixture,
# where a warm literal run still edges out the join by ~0.7s) on the
# join-free plan; every larger model takes the broadcast path.
LITERAL_CENTERS_CAP = 512


def _d2_arr_from_matrix(vec: Column, cmat: Column) -> Column:
    """Per-row distance array against a runtime centers matrix column:
    same arithmetic as the literal fold, constant expression size."""
    return F.transform(
        cmat,
        lambda c: F.aggregate(
            F.zip_with(vec, c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )


def kmeans_lloyd(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    n_iter: int = 5,
    centers_mode: str = "auto",
) -> tuple[DataFrame, KMeansModel]:
    """Distributed Lloyd k-means; returns (assignments, model).

    ``assignments`` has (id_col, cluster) — the final labels, i.e. the
    argmin against the centers produced by the LAST update step (one extra
    assignment-only pass, so labels and returned centers are mutually
    consistent). Initialization is deterministic and shuffle-independent:
    the k rows with the smallest md5(id) seed the centers (a hash-spread
    subset — md5 order is uncorrelated with insertion or value order, the
    same trick the deterministic samplers use). Center updates are
    distributed sums, so different partition layouts can differ at the FP
    ulp level (cross-partition add order is not fixed); assignments — and
    therefore everything the audit query hashes — are layout-independent
    on any non-degenerate corpus.

    ``centers_mode``: ``"literal"`` inlines the k centers as literal
    arrays in the distance expression (fastest at small k*dim — zero
    join); ``"broadcast"`` ships them as a one-row broadcast-joined
    matrix (constant codegen size — the large-k SemDeDup regime);
    ``"auto"`` switches at ``LITERAL_CENTERS_CAP`` literal doubles. Both
    modes compute identical distances (same zip_with arithmetic), so
    assignments do not depend on the mode.
    """
    if k < 1 or n_iter < 1:
        raise ValueError("k and n_iter must be >= 1")
    if centers_mode not in ("auto", "literal", "broadcast"):
        raise ValueError(f"unknown centers_mode {centers_mode!r}")
    base = df.select(
        F.col(id_col).alias("_kid"), F.col(vec_col).cast("array<double>").alias("_kvec")
    ).persist()
    try:
        first = base.select(F.size("_kvec").alias("s")).limit(1).collect()
        if not first:
            raise ValueError("kmeans_lloyd: empty input")
        dim = int(first[0]["s"])
        seed_rows = (
            base.orderBy(F.md5(F.col("_kid").cast("string").cast("binary")), "_kid")
            .limit(k)
            .collect()
        )
        if not seed_rows:
            raise ValueError("kmeans_lloyd: empty input")
        centers: list[tuple[float, ...]] = [tuple(r["_kvec"]) for r in seed_rows]
        while len(centers) < k:  # fewer rows than k: duplicate last seed
            centers.append(centers[-1])
        use_broadcast = centers_mode == "broadcast" or (
            centers_mode == "auto" and k * dim > LITERAL_CENTERS_CAP
        )
        spark = df.sparkSession

        def _with_darr(cents: tuple[tuple[float, ...], ...]) -> DataFrame:
            """(_kvec, _darr) — k distances materialized ONCE per row (a
            projected array column); argmin and min derive from it.
            Inlining both through assign_to_centers/_min_d2 doubles an
            already-large (k*dim literals) expression tree and the codegen
            compile time dominates the per-iteration cost on small inputs."""
            if use_broadcast:
                cdf = tiny_local_df(
                    spark, [([list(c) for c in cents],)], "_cmat: array<array<double>>"
                )
                return base.join(F.broadcast(cdf)).select(
                    F.col("_kvec"),
                    _d2_arr_from_matrix(F.col("_kvec"), F.col("_cmat")).alias("_darr"),
                )
            darr = F.array(*[_d2_fold(F.col("_kvec"), c) for c in cents])
            return base.select(F.col("_kvec"), darr.alias("_darr"))

        history: list[float] = []
        for _ in range(n_iter):
            cents = tuple(centers)
            assigned = _with_darr(cents).select(
                (F.array_position(F.col("_darr"), F.array_min(F.col("_darr"))) - 1)
                .cast("int")
                .alias("_c"),
                F.col("_kvec"),
                F.array_min(F.col("_darr")).alias("_d2"),
            )
            # one shuffle of k*(dim+2) partials per map partition
            stats = (
                assigned.groupBy("_c")
                .agg(
                    F.count(F.lit(1)).alias("_n"),
                    F.sum("_d2").alias("_j"),
                    *[F.sum(F.get(F.col("_kvec"), i)).alias(f"_s{i}") for i in range(dim)],
                )
                .collect()
            )
            history.append(float(sum(r["_j"] for r in stats)))
            new_centers = list(centers)  # empty cluster keeps previous center
            for r in stats:
                n = r["_n"]
                new_centers[r["_c"]] = tuple(float(r[f"_s{i}"]) / n for i in range(dim))
            centers = new_centers

        final = tuple(tuple(c) for c in centers)
        if use_broadcast:
            fdf = tiny_local_df(
                spark, [([list(c) for c in final],)], "_cmat: array<array<double>>"
            )
            # materialize the distance array once: a fold referenced twice
            # in one projection is compiled (and evaluated) twice
            assignments = (
                base.join(F.broadcast(fdf))
                .select(
                    F.col("_kid"),
                    _d2_arr_from_matrix(F.col("_kvec"), F.col("_cmat")).alias("_darr"),
                )
                .select(
                    F.col("_kid").alias(id_col),
                    (F.array_position(F.col("_darr"), F.array_min(F.col("_darr"))) - 1)
                    .cast("int")
                    .alias("cluster"),
                )
            )
        else:
            assignments = base.select(
                F.col("_kid").alias(id_col),
                assign_to_centers(F.col("_kvec"), final).alias("cluster"),
            )
        sizes = {
            r["cluster"]: r["n"]
            for r in assignments.groupBy("cluster").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        model = KMeansModel(
            centers=final,
            inertia_history=tuple(history),
            cluster_sizes=tuple(sizes.get(c, 0) for c in range(k)),
        )
        return assignments, model
    finally:
        base.unpersist()
