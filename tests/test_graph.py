"""Behavioral checks for the iterative graph operators (no SQL oracle:
recursive CTEs cannot aggregate per level, so the contract is conservation
laws + determinism + structural sanity)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from data_integration_and_processing_spark.operators.graph import pagerank
from data_integration_and_processing_spark.queries.catalog import all_specs


def _star_edges(spark, n_leaves=6):
    # hub 0 <-> leaves 1..n (symmetric star)
    rows = [(0, i) for i in range(1, n_leaves + 1)] + [(i, 0) for i in range(1, n_leaves + 1)]
    return spark.createDataFrame(rows, "src long, dst long")


def test_pagerank_conserves_mass(spark):
    ranks = pagerank(_star_edges(spark), n_iter=8)
    total = ranks.agg(F.sum("rank")).collect()[0][0]
    n_v = ranks.count()
    assert abs(total - n_v) < 1e-6


def test_pagerank_hub_dominates_star(spark):
    ranks = {r["id"]: r["rank"] for r in pagerank(_star_edges(spark), n_iter=8).collect()}
    hub, leaves = ranks[0], [v for k, v in ranks.items() if k != 0]
    assert hub > max(leaves) * 2
    # leaves are symmetric => identical ranks
    assert max(leaves) - min(leaves) < 1e-12


def test_pagerank_dangling_mass_redistributes(spark):
    # 0 -> 1 -> 2, vertex 2 dangles; mass must still sum to |V|
    e = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    ranks = pagerank(e, n_iter=12)
    total = ranks.agg(F.sum("rank")).collect()[0][0]
    assert abs(total - 3.0) < 1e-6


def test_pagerank_fixed_iterations_deterministic(spark, sf_dir):
    q = all_specs()["graph_pagerank"].spark
    a = [(r["id"], r["rank"]) for r in q(spark, sf_dir).collect()]
    b = [(r["id"], r["rank"]) for r in q(spark, sf_dir).collect()]
    assert a == b
    assert len(a) == 25


class TestTriangleStats:
    def _stats(self, spark, edge_list):
        from data_integration_and_processing_spark.operators.graph import triangle_stats

        df = spark.createDataFrame(edge_list, "src long, dst long")
        return triangle_stats(df).collect()[0]

    def test_k4_complete_graph(self, spark):
        # K4: 4 vertices, 6 edges, 12 wedges, 4 triangles, coeff = 1.0
        edges = [(a, b) for a in range(4) for b in range(4) if a < b]
        r = self._stats(spark, edges)
        assert (r["n_vertices"], r["n_edges"], r["n_wedges"], r["n_triangles"]) == (4, 6, 12, 4)
        assert r["clustering_coeff_micro"] == 1_000_000

    def test_path_graph_has_no_triangles(self, spark):
        r = self._stats(spark, [(0, 1), (1, 2), (2, 3)])
        assert r["n_triangles"] == 0
        assert r["n_wedges"] == 2

    def test_duplicate_reversed_and_self_edges_normalize(self, spark):
        # triangle given redundantly: both directions, dupes, a self-loop
        edges = [(0, 1), (1, 0), (1, 2), (2, 1), (0, 2), (0, 2), (1, 1)]
        r = self._stats(spark, edges)
        assert (r["n_edges"], r["n_triangles"]) == (3, 1)
        assert r["clustering_coeff_micro"] == 1_000_000

    def test_skewed_hub_counts_correctly(self, spark):
        # star hub 0 -- 1..10 plus one rim edge (1,2): exactly 1 triangle,
        # the shape where naive id-orientation piles the hub's whole
        # neighborhood on one join side
        edges = [(0, i) for i in range(1, 11)] + [(1, 2)]
        r = self._stats(spark, edges)
        assert r["n_triangles"] == 1


class TestBfsDistances:
    def _edges(self, spark, pairs):
        from pyspark.sql import functions as F

        df = spark.createDataFrame(pairs, "src long, dst long")
        return df.unionByName(df.select(F.col("dst").alias("src"), F.col("src").alias("dst")))

    def test_path_graph_distances(self, spark):
        from data_integration_and_processing_spark.operators.graph import bfs_distances

        edges = self._edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
        got = {r["id"]: r["dist"] for r in bfs_distances(edges, [1], max_depth=10).collect()}
        assert got == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}

    def test_depth_bound_and_disconnected(self, spark):
        from data_integration_and_processing_spark.operators.graph import bfs_distances

        edges = self._edges(spark, [(1, 2), (2, 3), (3, 4), (7, 8)])
        got = {r["id"]: r["dist"] for r in bfs_distances(edges, [1], max_depth=2).collect()}
        # depth-bounded: 4 unreached; disconnected component never appears
        assert got == {1: 0, 2: 1, 3: 2}

    def test_min_distance_on_diamond(self, spark):
        from data_integration_and_processing_spark.operators.graph import bfs_distances

        # two paths 1->4: length 2 via 2, length 3 via (5, 6) — min wins
        edges = self._edges(spark, [(1, 2), (2, 4), (1, 5), (5, 6), (6, 4)])
        got = {r["id"]: r["dist"] for r in bfs_distances(edges, [1], max_depth=5).collect()}
        assert got[4] == 2

    def test_multi_source(self, spark):
        from data_integration_and_processing_spark.operators.graph import bfs_distances

        edges = self._edges(spark, [(1, 2), (2, 3), (9, 3)])
        got = {r["id"]: r["dist"] for r in bfs_distances(edges, [1, 9], max_depth=5).collect()}
        assert got[3] == 1 and got[1] == 0 and got[9] == 0


class TestLabelPropagation:
    def _sym(self, spark, pairs):
        """Symmetrized edge frame from undirected pairs."""
        rows = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
        return spark.createDataFrame(rows, "src long, dst long")

    def test_two_cliques_converge_to_min_label(self, spark):
        from data_integration_and_processing_spark.operators.graph import label_propagation

        # two disjoint triangles: each converges to its component's min id
        edges = self._sym(spark, [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12)])
        got = {r["id"]: r["label"] for r in label_propagation(edges, n_iter=4).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}

    def test_tie_breaks_to_smallest_label(self, spark):
        from data_integration_and_processing_spark.operators.graph import label_propagation

        # path 1-2-3 after one superstep: 2 sees {1, 3} -> tie -> 1
        edges = self._sym(spark, [(1, 2), (2, 3)])
        got = {r["id"]: r["label"] for r in label_propagation(edges, n_iter=1).collect()}
        assert got[2] == 1

    def test_deterministic_across_partitioning(self, spark):
        from data_integration_and_processing_spark.operators.graph import label_propagation

        pairs = [(i, (i * 7) % 20 + 20) for i in range(20)] + [(3, 5), (5, 9)]
        e = self._sym(spark, pairs)
        a = sorted(map(tuple, label_propagation(e.repartition(1), n_iter=3).collect()))
        b = sorted(map(tuple, label_propagation(e.repartition(17, "dst"), n_iter=3).collect()))
        assert a == b

    def test_every_vertex_labeled_once(self, spark):
        from data_integration_and_processing_spark.operators.graph import label_propagation

        edges = self._sym(spark, [(1, 2), (2, 3), (4, 5)])
        out = label_propagation(edges, n_iter=2).collect()
        assert sorted(r["id"] for r in out) == [1, 2, 3, 4, 5]


class TestKCorePeel:
    def _sym(self, spark, und_pairs):
        rows = [(a, b) for a, b in und_pairs] + [(b, a) for a, b in und_pairs]
        return spark.createDataFrame(rows, "src long, dst long")

    def test_clique_plus_tail_peels_to_clique(self, spark):
        """K4 (0-3) with a pendant path 3-4-5: the 3-core is exactly the
        clique, every clique vertex keeps degree 3, and the tail peels off
        within two supersteps."""
        from data_integration_and_processing_spark.operators.graph import kcore_peel

        und = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (3, 4), (4, 5)]
        out = {r["id"]: r["core_deg"] for r in kcore_peel(self._sym(spark, und), k=3, n_iter=3).collect()}
        assert out == {0: 3, 1: 3, 2: 3, 3: 3}

    def test_cycle_survives_k2_vanishes_k3(self, spark):
        from data_integration_and_processing_spark.operators.graph import kcore_peel

        und = [(0, 1), (1, 2), (2, 3), (3, 0)]  # 4-cycle: every degree 2
        k2 = kcore_peel(self._sym(spark, und), k=2, n_iter=3)
        assert {r["id"]: r["core_deg"] for r in k2.collect()} == {0: 2, 1: 2, 2: 2, 3: 2}
        k3 = kcore_peel(self._sym(spark, und), k=3, n_iter=2)
        assert k3.count() == 0

    def test_symmetrize_option_fixes_raw_directed_input(self, spark):
        """The operator assumes a symmetrized deduplicated edge
        list. symmetrize=True must make a raw directed list (one direction
        per undirected edge, duplicates, a self-loop) produce the SAME
        cores as the manual symmetrization path."""
        from data_integration_and_processing_spark.operators.graph import kcore_peel

        und = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (3, 4), (4, 5)]
        raw = spark.createDataFrame(
            und + [(0, 1), (2, 2)], "src long, dst long"  # dup edge + self-loop
        )
        fixed = {
            r["id"]: r["core_deg"]
            for r in kcore_peel(raw, k=3, n_iter=3, symmetrize=True).collect()
        }
        manual = {
            r["id"]: r["core_deg"]
            for r in kcore_peel(self._sym(spark, und), k=3, n_iter=3).collect()
        }
        assert fixed == manual == {0: 3, 1: 3, 2: 3, 3: 3}

    def test_monotone_in_supersteps(self, spark):
        """The survivor set only shrinks as supersteps increase (each round
        filters the previous round's edges)."""
        from data_integration_and_processing_spark.operators.graph import kcore_peel

        # chain of triangles sharing vertices: peels gradually under k=2
        und = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 2), (4, 5)]
        e = self._sym(spark, und)
        prev = None
        for t in (1, 2, 3):
            ids = {r["id"] for r in kcore_peel(e, k=2, n_iter=t).collect()}
            if prev is not None:
                assert ids <= prev
            prev = ids


def test_adamic_adar_weights_rare_shared_parts_higher(spark):
    """Two customer pairs with ONE shared part each: the pair sharing the
    rarer part must score higher (1/ln d), which Jaccard cannot separate."""
    from data_integration_and_processing_spark.queries.analytics_queries import (
        graph_link_prediction_adamic_adar,
    )

    # part 1: shared by customers 1,2 only (degree 2 - rare)
    # part 2: shared by customers 3,4 plus 8 others (degree 10 - popular)
    orders, lines = [], []
    ok = 0
    for cust, part in [(1, 1), (2, 1), (3, 2), (4, 2)] + [(10 + i, 2) for i in range(8)]:
        ok += 1
        orders.append((ok, cust))
        lines.append((ok, part))
    odf = spark.createDataFrame(orders, "o_orderkey long, o_custkey long")
    ldf = spark.createDataFrame(lines, "l_orderkey long, l_partkey long")

    import data_integration_and_processing_spark.queries.analytics_queries as aq

    orig = aq.load_table
    try:
        aq.load_table = lambda s, d, t: odf if t == "orders" else ldf
        out = {(r["c1"], r["c2"]): r["adamic_adar"]
               for r in graph_link_prediction_adamic_adar(spark, "ignored").collect()}
    finally:
        aq.load_table = orig
    assert out[(1, 2)] == round(1.0 / math.log(2.0), 6)
    assert out[(3, 4)] == round(1.0 / math.log(10.0), 6)
    assert out[(1, 2)] > out[(3, 4)]


def _sym(spark, und_pairs):
    rows = [(a, b) for a, b in und_pairs] + [(b, a) for a, b in und_pairs]
    return spark.createDataFrame(rows, "src long, dst long")


class TestLpaSaltedSuperstep:
    def _hot_graph(self):
        """Star: hub 1 touches 40 spokes (max degree 40 of 96 half-edges
        >> |E|/n_part), plus a detached triangle so labels are not all 1."""
        pairs = [(1, i) for i in range(2, 42)]
        pairs += [(100, 101), (101, 102), (100, 102)]
        return pairs

    def test_salted_equals_plain_on_hot_graph(self, spark):
        from data_integration_and_processing_spark.operators.graph import (
            label_propagation,
        )

        e = _sym(spark, self._hot_graph())
        plain = sorted(
            map(tuple, label_propagation(e, n_iter=3, salt_hot_dst=False).collect())
        )
        salted = sorted(
            map(tuple, label_propagation(e, n_iter=3, salt_hot_dst=True).collect())
        )
        assert plain == salted

    def test_auto_gate_fires_on_hot_graph_only(self, spark, monkeypatch):
        """The degree gate (max_deg * n_part >= |E|) must engage the salted
        form on a star and stay off on a near-regular ring; both paths must
        agree with the forced salted variant either way. The route is read
        from the returned frame's plan: the salted count groups by ``_salt``.
        The operator truncates lineage with a final localCheckpoint, so the
        test makes that call a no-op to keep the superstep plan visible."""
        from data_integration_and_processing_spark.operators.graph import (
            label_propagation,
        )

        star = _sym(spark, self._hot_graph())
        ring = _sym(spark, [(i, (i + 1) % 60) for i in range(60)])
        for edges, hot in ((star, True), (ring, False)):
            forced = sorted(
                map(
                    tuple,
                    label_propagation(edges, n_iter=2, salt_hot_dst=True).collect(),
                )
            )
            with monkeypatch.context() as m:
                m.setattr(type(edges), "localCheckpoint", lambda df, eager=True: df)
                auto_df = label_propagation(edges, n_iter=2)
                plan = auto_df._jdf.queryExecution().logical().toString()
                auto = sorted(map(tuple, auto_df.collect()))
            assert ("_salt" in plan) == hot, plan
            assert auto == forced

    def test_salted_equals_plain_on_fixture_shape(self, spark):
        from data_integration_and_processing_spark.operators.graph import (
            label_propagation,
        )

        pairs = [(i, (i * 7) % 20 + 20) for i in range(20)] + [(3, 5), (5, 9)]
        e = _sym(spark, pairs)
        plain = sorted(
            map(tuple, label_propagation(e, n_iter=4, salt_hot_dst=False).collect())
        )
        salted = sorted(
            map(tuple, label_propagation(e, n_iter=4, salt_hot_dst=True).collect())
        )
        assert plain == salted


class TestDedupEdgesFold:
    def test_lpa_dedup_fold_equals_pre_distinct(self, spark):
        from data_integration_and_processing_spark.operators.graph import (
            label_propagation,
        )

        pairs = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12)]
        dup = _sym(spark, pairs + pairs + pairs[:2])  # multiplicity > 1
        clean = _sym(spark, pairs)
        a = sorted(
            map(tuple, label_propagation(dup, n_iter=4, dedup_edges=True).collect())
        )
        b = sorted(map(tuple, label_propagation(clean, n_iter=4).collect()))
        assert a == b

    def test_pagerank_dedup_fold_equals_pre_distinct(self, spark):
        from data_integration_and_processing_spark.operators.graph import pagerank

        pairs = [(1, 2), (2, 3), (1, 3), (3, 4)]
        dup = _sym(spark, pairs + pairs)
        clean = _sym(spark, pairs)
        a = sorted(
            map(tuple, pagerank(dup, n_iter=3, dedup_edges=True).collect())
        )
        b = sorted(map(tuple, pagerank(clean, n_iter=3).collect()))
        assert a == b

    def test_kcore_dedup_fold_equals_pre_distinct(self, spark):
        from data_integration_and_processing_spark.operators.graph import kcore_peel

        pairs = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 3), (1, 4)]
        dup = _sym(spark, pairs + pairs)
        clean = _sym(spark, pairs)
        a = sorted(map(tuple, kcore_peel(dup, k=2, n_iter=3, dedup_edges=True).collect()))
        b = sorted(map(tuple, kcore_peel(clean, k=2, n_iter=3).collect()))
        assert a == b

    def test_lpa_edge_build_single_exchange(self, spark):
        """Plan pin for the fold: repartition(src) -> dropDuplicates plans
        exactly ONE exchange (hashpartitioning(src) satisfies the (src, dst)
        dedup clustering)."""
        from pyspark.sql import functions as F

        e = _sym(spark, [(1, 2), (2, 3), (1, 3)])
        built = (
            e.repartition(8, F.col("src"))
            .dropDuplicates(["src", "dst"])
            .sortWithinPartitions("src")
        )
        plan = built._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1


def test_lpa_single_exchange_superstep_labels(spark):
    """Synthetic 2-community graph: the one-exchange superstep must still
    produce the deterministic (count desc, label asc) argmax labels."""
    from data_integration_and_processing_spark.operators.graph import label_propagation

    # two triangles joined by one bridge edge, symmetrized
    und = [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in und] + [(b, a) for a, b in und], "src long, dst long"
    )
    got = {r["id"]: r["label"] for r in label_propagation(edges, n_iter=4).collect()}

    # driver-side reference: synchronous min-label-majority supersteps
    import collections

    adj = collections.defaultdict(list)
    for a, b in und:
        adj[a].append(b)
        adj[b].append(a)
    labels = {v: v for v in adj}
    for _ in range(4):
        nxt = {}
        for v in adj:
            cnt = collections.Counter(labels[u] for u in adj[v])
            best = min(((-c, lab) for lab, c in cnt.items()))
            nxt[v] = best[1]
        labels = nxt
    assert got == labels
