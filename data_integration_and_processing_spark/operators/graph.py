"""Iterative graph analytics over DataFrame edge lists.

The reference has no graph surface; these are the Pregel-shaped algorithms
an analytics engine is asked for once entity relationships exist (the
duplicate-cluster labeler in ``operators/dedup.py::connected_components``
is the same execution pattern). Scale shape per iteration: ONE shuffle
keyed by vertex id — ranks and degrees are (id, double) pairs, never
payload — and ``localCheckpoint`` truncates the lineage every few rounds
so plan size stays constant no matter the iteration count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["pagerank", "triangle_stats", "label_propagation", "kcore_peel"]


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    n_iter: int = 10,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint_every: int = 4,
    dedup_edges: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list.

    Standard power iteration: every vertex starts at rank 1 (the
    "mass = |V|" convention, so ranks are comparable across graph sizes),
    each round sends ``rank/out_degree`` along every edge, and
    ``new_rank = (1-d) + d * (received + dangling_share)`` — dangling
    vertices (no out-edges) redistribute their rank uniformly, which keeps
    total mass at exactly |V| every round (the conservation law the tests
    pin).

    Plan per iteration: ``ranks ⋈ out_degree`` is a co-partitioned join on
    the vertex id, the contribution aggregate is one shuffle keyed by dst,
    and the dangling share is a scalar cross-joined back (broadcast). With
    V vertices and E edges each round moves O(E) (id, double) pairs — the
    Pregel shape; iteration count is fixed (deterministic), not
    convergence-tested, so two runs are bit-identical.

    Superstep caching + edge co-partitioning: each round consumes the previous ``ranks`` TWICE
    (dangling aggregate + contribution join), so without a per-round
    persist the lineage between checkpoints re-evaluates ~2^k chains — and
    ``e``, consumed every round, re-ran the caller's whole edge
    construction each time (the probe's 10-way union arrived as 640 input
    partitions, so every round also paid 640-task stages). Now: ``e`` is
    shuffled ONCE onto the join key (``src``) with exactly
    ``spark.sql.shuffle.partitions`` partitions and persisted — every
    round's contribution join reuses that partitioning, so only the O(V)
    rank pairs shuffle per iteration, never the O(E) edges — and each
    round's ranks are lazily persisted (the within-job cache makes the
    double consumption compute once). The every-``checkpoint_every`` eager
    localCheckpoint stays the only materialization point; caches
    accumulated since the previous checkpoint are released there (the
    GraphX/Pregel superstep-cache discipline).
    """
    src, dst = F.col(src_col), F.col(dst_col)
    # one edge shuffle for the whole run: hash-partition on src with the
    # exact shuffle partition count so the per-iteration join reuses it
    # (repartition without an explicit count is AQE-coalescible, which
    # would break the partitioning match)
    n_part = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # sortWithinPartitions: the cached relation advertises (partitioning,
    # ordering) on src, so the per-iteration contribution join neither
    # re-shuffles NOR re-sorts the O(E) side — without it, sort-merge
    # re-sorted the full cached edge set every round (the dominant cost the
    # probe measured)
    e = edges.select(src.alias("src"), dst.alias("dst")).repartition(
        n_part, F.col("src")
    )
    if dedup_edges:
        # fold the caller's edge dedup into the one src exchange (the
        # label_propagation/kcore_peel argument: hashpartitioning(src)
        # colocates every copy of an (src, dst) row)
        e = e.dropDuplicates(["src", "dst"])
    e = e.sortWithinPartitions("src").persist()
    vertices = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .persist()
    )
    n_v = vertices.count()
    out_deg = e.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("out_degree")).persist()
    ranks = vertices.select("id", F.lit(1.0).alias("rank"))

    cached: list[DataFrame] = []
    for i in range(n_iter):
        with_deg = ranks.join(out_deg, "id", "left")
        # dangling mass: vertices with no out-edges spread their rank evenly
        dangling = with_deg.filter(F.col("out_degree").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dangling_sum")
        )
        contribs = (
            e.join(with_deg.filter(F.col("out_degree").isNotNull()),
                   e.src == F.col("id"))
            .select(F.col("dst").alias("id"), (F.col("rank") / F.col("out_degree")).alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("received"))
        )
        ranks = (
            vertices.join(contribs, "id", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "id",
                (
                    F.lit(1.0 - damping)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("received"), F.lit(0.0))
                        + F.col("_dangling_sum") / F.lit(float(n_v))
                    )
                ).alias("rank"),
            )
        ).persist()
        cached.append(ranks)
        if (i + 1) % checkpoint_every == 0:
            # materialize + truncate lineage: constant-size plan per round;
            # everything cached since the last checkpoint is now dead
            ranks = ranks.localCheckpoint(eager=True)
            for df_ in cached:
                df_.unpersist()
            cached = []
    if cached:
        # hand the caller a checkpoint-backed frame and release the caches:
        # callers compose ranks into larger plans and never unpersist
        ranks = ranks.localCheckpoint(eager=True)
        for df_ in cached:
            df_.unpersist()
    e.unpersist()
    vertices.unpersist()
    out_deg.unpersist()
    return ranks


def triangle_stats(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Global triangle census of an undirected simple graph: one row of
    (n_vertices, n_edges, n_wedges, n_triangles, clustering_coeff).

    Enumeration is **degree-oriented**: every undirected edge is oriented
    from its lower-(degree, id) endpoint to the higher one, then triangles
    are closed by joining oriented paths a->b->c with the oriented edge
    a->c. Orientation makes each triangle count exactly once AND bounds
    every vertex's out-degree by O(sqrt(m)), so the path-join fan-out is
    O(m^1.5) total — the classic bound that survives power-law degree
    skew, where the naive a<b<c-by-id orientation can put a celebrity
    vertex's full neighborhood on one side of the join. Three shuffles
    (degree agg, path join, closing join), all keyed by vertex/edge ids.

    The count itself is orientation-independent, so any engine's simpler
    enumeration (e.g. id-ordered in a SQL oracle) must agree exactly.
    """
    a, b = F.col(src_col), F.col(dst_col)
    # canonical undirected edge set (a < b), self-loops dropped; persisted —
    # it feeds the degree aggregate, the orientation join and the edge count
    und = (
        edges.select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .filter(F.col("a") < F.col("b"))
        .distinct()
        .persist()
    )
    deg = (
        und.select(F.col("a").alias("id"))
        .unionByName(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    # orient by (deg, id): src is the lower-ranked endpoint
    da = deg.select(F.col("id").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("id").alias("b"), F.col("deg").alias("deg_b"))
    ranked = und.join(da, "a").join(db, "b")
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    # consumed by both sides of the path join AND the closing join: persist
    # so the orientation lineage (two degree joins) computes once
    oriented = ranked.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    ).persist()
    paths = (
        oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
        .join(oriented.select(F.col("u").alias("y"), F.col("v").alias("z")), "y")
    )
    # close x->y->z with oriented x->z OR z->x is impossible (orientation is
    # acyclic by the (deg, id) total order), so only x->z closes
    tri = paths.join(
        oriented.select(F.col("u").alias("x"), F.col("v").alias("z")), ["x", "z"]
    ).agg(F.count("*").alias("n_triangles"))
    stats = deg.agg(
        F.count("*").alias("n_vertices"),
        (F.sum(F.col("deg") * (F.col("deg") - 1)) / 2).cast("long").alias("n_wedges"),
    )
    n_edges = und.agg(F.count("*").alias("n_edges"))
    out = (
        stats.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_vertices",
            "n_edges",
            "n_wedges",
            "n_triangles",
            # exact integer-micro: 3T/W is a
            # rational that can land exactly on a round-half tie —
            # truncating BIGINT div has no rounding mode to disagree on
            F.expr(
                "CASE WHEN n_wedges > 0"
                " THEN (3 * n_triangles * CAST(1000000 AS BIGINT)) div n_wedges"
                " ELSE CAST(0 AS BIGINT) END"
            ).alias("clustering_coeff_micro"),
        )
        # single-row census: materialize eagerly so both caches release now
        .localCheckpoint(eager=True)
    )
    und.unpersist()
    oriented.unpersist()
    return out


def local_clustering(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-vertex triangle counts and local clustering coefficient of an
    undirected simple graph: (id, deg, triangles, local_cc) with
    local_cc = 2*T(v) / (deg(v) * (deg(v) - 1)), 0 for deg < 2.

    Same degree-oriented enumeration as :func:`triangle_stats` (lower-
    (degree, id) endpoint first; O(m^1.5) total path-join fan-out under
    power-law skew), but each closed triangle x->y->z is attributed back
    to ALL THREE endpoints before the per-vertex count — a triangle is
    still enumerated exactly once, so the per-vertex counts are
    orientation-independent and any id-ordered SQL enumeration agrees
    exactly. Four keyed shuffles (degree agg, path join, closing join,
    per-vertex count), nothing driver-side.
    """
    a, b = F.col(src_col), F.col(dst_col)
    und = (
        edges.select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .filter(F.col("a") < F.col("b"))
        .distinct()
        .persist()
    )
    deg = (
        und.select(F.col("a").alias("id"))
        .unionByName(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    da = deg.select(F.col("id").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("id").alias("b"), F.col("deg").alias("deg_b"))
    ranked = und.join(da, "a").join(db, "b")
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = ranked.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    ).persist()
    closed = (
        oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
        .join(oriented.select(F.col("u").alias("y"), F.col("v").alias("z")), "y")
        .join(oriented.select(F.col("u").alias("x"), F.col("v").alias("z")), ["x", "z"])
    )
    tri_v = (
        closed.select(F.col("x").alias("id"))
        .unionByName(closed.select(F.col("y").alias("id")))
        .unionByName(closed.select(F.col("z").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("triangles"))
    )
    out = (
        deg.join(tri_v, "id", "left")
        .select(
            "id",
            F.col("deg").cast("long").alias("deg"),
            F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias("triangles"),
            F.when(
                F.col("deg") >= 2,
                2.0
                * F.coalesce(F.col("triangles"), F.lit(0)).cast("double")
                / (F.col("deg").cast("double") * (F.col("deg").cast("double") - 1.0)),
            )
            .otherwise(F.lit(0.0))
            .alias("local_cc"),
        )
        .localCheckpoint(eager=True)
    )
    und.unpersist()
    oriented.unpersist()
    return out


def bfs_distances(
    edges: DataFrame,
    source_ids: list[int],
    max_depth: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Single-source(-set) BFS shortest distances, Pregel-shaped: expand the
    frontier one level per iteration, anti-join against already-settled
    vertices (first reach IS the min distance), stop at ``max_depth`` or an
    empty frontier.

    Scale shape: each level is one join keyed by vertex id (frontier x
    adjacency) plus one anti join against the settled set — no path
    enumeration ever happens, so dense graphs cost O(frontier * avg_degree)
    per level, not O(#paths). The frontier is localCheckpointed per level
    (same lineage-truncation discipline as pagerank above); the settled set
    grows monotonically and stays vertex-bounded.
    """
    spark = edges.sparkSession
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")).distinct().persist()
    from data_integration_and_processing_spark.operators.parallelism import tiny_local_df

    dist = tiny_local_df(spark, [(int(s), 0) for s in source_ids], "id long, dist int")
    frontier = dist.select("id")
    live: list[DataFrame] = []
    try:
        for depth in range(1, max_depth + 1):
            nxt = (
                frontier.join(e, frontier["id"] == e["src"])
                .select(F.col("dst").alias("id"))
                .distinct()
                .join(dist.select("id"), "id", "left_anti")
                .withColumn("dist", F.lit(depth))
                .localCheckpoint(eager=True)
            )
            live.append(nxt)
            if nxt.limit(1).count() == 0:
                break
            dist = dist.unionByName(nxt).localCheckpoint(eager=True)
            live.append(dist)
            frontier = nxt.select("id")
        return dist
    finally:
        e.unpersist()


def label_propagation(
    edges: DataFrame,
    n_iter: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint_every: int = 4,
    dedup_edges: bool = False,
    salt_hot_dst: bool | None = None,
) -> DataFrame:
    """Synchronous label propagation (community detection) over a
    symmetrized edge list; returns (id, label) after ``n_iter`` supersteps.

    Every vertex starts labeled with its own id; each superstep it adopts
    the most frequent label among its in-neighbors, ties broken toward the
    SMALLEST label — the deterministic variant (async/randomized LPA is
    run-order dependent, useless for a hash-checked contract). Fixed
    iteration count, not convergence-tested: synchronous LPA can 2-cycle on
    bipartite structure, so a fixpoint test may never fire; fixed supersteps
    are also what makes the unrolled SQL oracle possible.

    Scale shape per superstep: labels are (id, long) pairs joined onto the
    once-shuffled edge partitioning (pagerank's edge-co-partition
    discipline: O(V) label pairs move per round, never the O(E) edges),
    then ONE count shuffle keyed by (dst, label) and a struct-argmax
    groupBy(dst) — no window, no row_number. Lineage is truncated with the
    same per-round persist + every-``checkpoint_every`` localCheckpoint
    superstep caching as :func:`pagerank`.

    ``dedup_edges=True`` folds the caller's edge-dedup into the one edge
    shuffle: ``hashpartitioning(src)`` colocates every
    copy of an (src, dst) row, so the dedup aggregate runs post-shuffle on
    the SAME exchange the superstep join needs — callers that previously
    paid a ``distinct()`` exchange on the pair key plus this repartition
    drop to one exchange for the whole edge build.

    Skewed-dst guard: the one-exchange
    superstep ships (dst, label) rows unreduced, so a hot dst (power-law
    in-degree) would land its whole neighborhood on one reducer. The edge
    cache's materialization pass now also measures max in-degree (== max
    src-degree on a symmetrized input, and e is already partitioned by src,
    so the degree pass adds no exchange); when one vertex holds more than a
    full average partition's share of edges (max_deg * n_part >= |E|), the
    superstep switches to a salted two-phase count — groupBy(dst, salt,
    label) with map-side combine, then one (dst)-keyed exchange of the
    bounded partials — identical counts, no single-reducer stage.
    """
    src, dst = F.col(src_col), F.col(dst_col)
    spark = edges.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    e = edges.select(src.alias("src"), dst.alias("dst")).repartition(
        n_part, F.col("src")
    )
    if dedup_edges:
        e = e.dropDuplicates(["src", "dst"])
    e = e.sortWithinPartitions("src").persist()
    # Materialize the cache BEFORE any superstep is physically planned:
    # physical plans are built at action time, and an InMemoryRelation whose
    # build plan is an unfinished AdaptiveSparkPlan reports
    # UnknownPartitioning/no stats — every superstep then bakes in a fresh
    # Exchange+Sort of the O(E) edge side (measured: the whole 4-superstep
    # chain re-shuffled e each round despite the persist; pagerank avoids
    # this only by accident via its n_v = vertices.count()). The
    # materializing action doubles as the skew probe: groupBy(src) rides the
    # cache's own partitioning (no exchange), and on a symmetrized graph
    # src-degree == dst-in-degree, so this is exactly the quantity the
    # one-exchange superstep is vulnerable to.
    deg_row = (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).alias("_d"))
        .agg(F.max("_d").alias("mx"), F.sum("_d").alias("total"))
        .first()
    )
    max_deg = int(deg_row["mx"] or 0)
    n_edges = int(deg_row["total"] or 0)
    hot_dst = (
        (max_deg * n_part >= n_edges and n_edges > 0)
        if salt_hot_dst is None
        else salt_hot_dst
    )
    # symmetrized input => every vertex occurs as src; its first label is id
    labels = e.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("label")
    )
    for i in range(n_iter):
        # ONE exchange per superstep: hash the joined
        # (dst, label) rows on dst BEFORE counting — hashpartitioning(dst)
        # satisfies BOTH the (dst, label) count and the dst argmax, so the
        # two aggregations run back-to-back in one post-shuffle stage
        # instead of paying a second (dst, label)->(dst) exchange of the
        # counts. The trade is the map-side combine of the old
        # groupBy(dst, label) exchange — worth little while neighbor labels
        # are distinct (early supersteps, where the volume is) — against a
        # full O(E) exchange removed. Counts and the struct-argmax are
        # unchanged, so labels are identical.
        joined = e.join(labels, e.src == labels.id)
        if hot_dst:
            # salted two-phase: phase 1 counts per
            # (dst, salt, label) with map-side combine — the salt (derived
            # from the neighbor id, deterministic) spreads a hot dst over
            # n_part reducers — and phase 2 sums the bounded partials on
            # the dst exchange the argmax reuses. Long sums of long
            # partials: counts bit-identical to the unsalted form.
            counts = (
                joined.groupBy(
                    "dst", F.pmod(F.col("id"), F.lit(n_part)).alias("_salt"), "label"
                )
                .agg(F.count(F.lit(1)).alias("_pc"))
                .repartition(n_part, F.col("dst"))
                .groupBy("dst", "label")
                .agg(F.sum("_pc").alias("c"))
            )
        else:
            counts = (
                joined.repartition(n_part, F.col("dst"))
                .groupBy("dst", "label")
                .agg(F.count(F.lit(1)).alias("c"))
            )
        # argmax by (count desc, label asc): max over (c, -label) — labels
        # are vertex ids >= 0, so negation is a safe total-order flip.
        # No per-round persist: unlike pagerank's ranks
        # (consumed twice per round), each superstep's labels feed exactly
        # ONE consumer — the next round's join — so between checkpoints the
        # chain is a linear plan at most checkpoint_every supersteps deep
        # and a cache would only add per-round serialize/build overhead.
        labels = (
            counts.groupBy("dst")
            .agg(F.max(F.struct(F.col("c").alias("c"), (-F.col("label")).alias("nl"))).alias("m"))
            .select(F.col("dst").alias("id"), (-F.col("m.nl")).cast("long").alias("label"))
        )
        if (i + 1) % checkpoint_every == 0:
            labels = labels.localCheckpoint(eager=True)
    if (n_iter % checkpoint_every) != 0:
        labels = labels.localCheckpoint(eager=True)
    e.unpersist()
    return labels


def kcore_peel(
    edges: DataFrame,
    k: int = 3,
    n_iter: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    symmetrize: bool = False,
    dedup_edges: bool = False,
) -> DataFrame:
    """Fixed-superstep k-core peeling over a symmetrized edge list; returns
    (id, core_deg): the surviving edges' per-vertex degrees after
    ``n_iter`` rounds of deleting every vertex whose current degree is
    below ``k``.

    INPUT CONTRACT: degree is counted as ``count(src rows)``,
    so the edge list must be SYMMETRIZED (every undirected edge present in
    both directions) and DEDUPLICATED — an unsymmetrized or multi-edge
    input yields wrong cores silently. Callers that already maintain that
    layout (the registered query, the 12M-edge probe) pass the default
    ``symmetrize=False`` and skip the extra shuffle; pass
    ``symmetrize=True`` to have the operator union the swapped orientation
    and ``distinct()`` internally (also drops self-loops, which would
    otherwise self-inflate a vertex's degree).

    The k-core is the classic dense-subgraph extractor (spam/link-farm
    clusters in a web corpus, review rings, bot cliques); full peeling
    iterates to a fixpoint, but a FIXED superstep count keeps the result
    deterministic and makes the unrolled-CTE SQL oracle possible (the
    label_propagation/pagerank contract) — after T rounds the survivor set
    is a superset of the true k-core that shrinks monotonically in T, and
    on graphs whose peel converges within T it IS the k-core.

    Scale shape: the ITERATED state is the O(V) alive set, never the
    edges. Alive sets are nested (each round only removes vertices), so
    the chained edge filters collapse to ``e0 filtered by the CURRENT
    alive set`` — the original edge list is shuffled onto ``src`` exactly
    once and persisted, and each superstep is two semi-joins of that
    fixed list against alive (the src side reuses the co-partitioning;
    the dst side broadcasts while alive fits, else exchanges the O(V)
    set) plus ONE map-side-combined degree aggregation. Each round's
    alive set is eagerly localCheckpointed (tiny), so plan depth stays
    constant; no shrinking edge copy is ever materialized. (A first cut
    that persisted filtered edges per round measured 40.9s on the
    12M-edge probe; this formulation runs the same peel in a fraction —
    see BENCH_DETAIL's kcore_scale_probe_10x.)
    """
    if k < 1 or n_iter < 1:
        raise ValueError("k and n_iter must be >= 1")
    src, dst = F.col(src_col), F.col(dst_col)
    directed = edges.select(src.alias("src"), dst.alias("dst"))
    if symmetrize:
        directed = (
            directed.unionByName(
                directed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
    n_part = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    e0 = directed.repartition(n_part, F.col("src"))
    if dedup_edges:
        # fold the caller's edge dedup into the one src exchange:
        # hashpartitioning(src) colocates every copy of an (src, dst)
        # row, so the dedup aggregate needs no exchange of its own —
        # replaces a caller-side distinct() on the pair key
        e0 = e0.dropDuplicates(["src", "dst"])
    e0 = e0.persist()
    # materialize before the first superstep is planned (see
    # label_propagation: an unmaterialized cache reports
    # UnknownPartitioning, so the first superstep would
    # re-exchange e0 for its groupBy(src) instead of riding the repartition)
    e0.count()

    def _alive_edges(alive: DataFrame | None) -> DataFrame:
        if alive is None:
            return e0
        return e0.join(
            alive.withColumnRenamed("_id", "src"), "src", "left_semi"
        ).join(alive.withColumnRenamed("_id", "dst"), "dst", "left_semi")

    alive: DataFrame | None = None
    for _ in range(n_iter):
        alive = (
            _alive_edges(alive)
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("_d"))
            .filter(F.col("_d") >= k)
            .select(F.col("src").alias("_id"))
            # consumed by both semi-joins next round: materialize the O(V)
            # set and truncate lineage (constant plan depth across rounds;
            # each round's blocks are unreferenced and GC'd once the next
            # checkpoint lands). A lazy per-round persist (no driver
            # barrier, one final action) measured
            # WORSE in-session (eager 2.56 vs lazy 2.88 best-of-5) — the
            # chained unmaterialized broadcast builds cost more than the
            # barriers save — so the eager form stays.
            .localCheckpoint(eager=True)
        )
    out = (
        _alive_edges(alive)
        .groupBy("src")
        .agg(F.count(F.lit(1)).cast("long").alias("core_deg"))
        .select(F.col("src").alias("id"), "core_deg")
        .localCheckpoint(eager=True)
    )
    e0.unpersist()
    return out
