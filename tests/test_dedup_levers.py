"""Scale-lever behavior checks for dedup operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_integration_and_processing_spark.operators.dedup import ngram_jaccard_pairs
from data_integration_and_processing_spark.queries.dedup_queries import _with_mutated_copies
from data_integration_and_processing_spark.sources.tables import load_table


def test_ngram_df_cap_is_conservative(spark, sf_dir):
    """A document-frequency cap may only drop pairs / lower similarity,
    never invent pairs or raise it — and a generous cap on this corpus
    (no shingle is corpus-hot) changes nothing."""
    u = _with_mutated_copies(load_table(spark, sf_dir, "documents")).limit(400)
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(u, "text", "id", threshold=0.5).collect()
    }
    capped = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(u, "text", "id", threshold=0.5, max_shingle_df=50).collect()
    }
    assert set(capped) <= set(exact)
    for pair, j in capped.items():
        assert j <= exact[pair] + 1e-12


def test_ngram_tight_cap_keeps_near_identical_copies(spark, sf_dir):
    """Near-identical copies share many doc-unique shingles, so a tight df
    cap (<=5) retains ~all pairs the exact run finds (measured: 93/93 on
    this corpus; df<=2 already costs ~18% recall)."""
    d = load_table(spark, sf_dir, "documents").limit(100)
    u = _with_mutated_copies(d)
    exact = {(r.id_a, r.id_b) for r in ngram_jaccard_pairs(u, "text", "id", threshold=0.5).collect()}
    capped = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(u, "text", "id", threshold=0.5, max_shingle_df=5).collect()
    }
    assert len(capped & exact) >= len(exact) * 0.9, f"kept {len(capped & exact)}/{len(exact)}"


def test_vectorized_simhash_matches_jvm_expression(spark, sf_dir):
    """The numpy bit-vote path must be bit-identical to the pure-JVM
    column-expression simhash."""
    from data_integration_and_processing_spark.operators.dedup import simhash, simhash_signatures

    d = load_table(spark, sf_dir, "documents").limit(200)
    jvm = {r.doc_id: r.s for r in d.select("doc_id", simhash(F.col("text")).alias("s")).collect()}
    vec = {r.id: r.sig for r in simhash_signatures(d, "text", "doc_id").collect()}
    assert jvm == vec


def test_salted_agg_rejects_non_decomposable(spark, sf_dir):
    """avg-of-avg is wrong; the salted path must refuse instead of silently
    mis-combining."""
    import pytest as _pytest

    from data_integration_and_processing_spark.operators.skew import salted_agg

    e = load_table(spark, sf_dir, "events")
    with _pytest.raises(ValueError, match="decomposable"):
        salted_agg(e, keys=["event_type"], aggs={"bad": F.avg("value")}, unique_col="event_id")
    # explicit-combinator tuple form: min partial recombined with min
    out = salted_agg(
        e,
        keys=["event_type"],
        aggs={"lo": (F.min("event_id"), F.min)},
        unique_col="event_id",
    )
    direct = {r.event_type: r.lo for r in e.groupBy("event_type").agg(F.min("event_id").alias("lo")).collect()}
    assert {r.event_type: r.lo for r in out.collect()} == direct


def test_connected_components_match_union_find(spark, sf_dir):
    """Spark label propagation must equal a driver-side union-find on the
    same edge list."""
    from data_integration_and_processing_spark.operators.dedup import connected_components
    from data_integration_and_processing_spark.operators.similarity import embedding_neardup_pairs

    e = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_neardup_pairs(e, threshold=0.4)
    edges = [(r.id_a, r.id_b) for r in pairs.collect()]
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {x: find(x) for x in parent}
    got = {r.id: r.component for r in connected_components(pairs).collect()}
    assert got == expected


def test_end2end_dedup_survivor_properties(spark, sf_dir):
    """Survivors = one min-id doc per duplicate cluster plus all unpaired
    docs; every dropped doc belongs to a cluster whose survivor is kept."""
    from data_integration_and_processing_spark.operators.dedup import (
        connected_components,
        minhash_lsh_dedup,
        minhash_lsh_pairs,
    )

    d = load_table(spark, sf_dir, "documents").limit(150)
    u = _with_mutated_copies(d)
    all_ids = {r.id for r in u.select("id").collect()}
    pairs = minhash_lsh_pairs(u, "text", "id")
    comp = {r.id: r.component for r in connected_components(pairs).collect()}
    survivors = {r.id for r in minhash_lsh_dedup(u, "text", "id").select("id").collect()}

    paired = set(comp)
    expected_survivors = (all_ids - paired) | {c for c in comp.values()}
    assert survivors == expected_survivors
    for doc, c in comp.items():
        assert c in survivors and c <= doc


def test_salted_agg_refuses_unidentified_combinators(spark, sf_dir):
    """An aggregate the introspection can't positively classify must raise
    (defaulting to sum would silently mis-combine min/max partials when
    name inference fails) — the tuple form is the escape hatch."""
    import pytest as _pytest

    from data_integration_and_processing_spark.operators.skew import salted_agg

    e = load_table(spark, sf_dir, "events")
    with _pytest.raises(ValueError, match="tuple form"):
        salted_agg(e, keys=["event_type"], aggs={"f": F.first("value")}, unique_col="event_id")
    # introspection failure itself (no _jc string) must also refuse, not sum
    class _NoJc:
        @property
        def _jc(self):
            raise RuntimeError("no JVM column (e.g. Spark Connect)")

        def alias(self, name):
            return F.lit(0).alias(name)

    with _pytest.raises(ValueError, match="tuple form"):
        salted_agg(e, keys=["event_type"], aggs={"x": _NoJc()}, unique_col="event_id")


def test_recall_caps_are_observable(spark):
    """max_bucket / max_shingle_df recall losses must be measurable, not
    silent. Partial loss (the production case) reports
    through the zero-cost Observation; a fully-capped run falls back to the
    explicit bucket_cap_report audit (AQE prunes CollectMetrics when the
    whole result collapses to empty)."""
    from pyspark.sql import Observation

    from data_integration_and_processing_spark.operators.dedup import (
        bucket_cap_report,
        lsh_bands,
        minhash_lsh_pairs,
        minhash_signature_from_hashes,
        ngram_jaccard_pairs,
        shingle_keys,
    )

    # 40 identical docs (degenerate hot buckets) + 2 distinct near-dups
    rows = [(i, "the same exact degenerate document text repeated for everyone") for i in range(40)]
    rows += [
        (100, "a perfectly unique pair of documents that resemble each other closely indeed"),
        (101, "a perfectly unique pair of documents that resemble each other very closely indeed"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")

    # partial loss: hot buckets dropped, the unique pair survives => metrics live
    obs = Observation("lsh_caps")
    pairs = minhash_lsh_pairs(d, max_bucket=10, jaccard_threshold=0.3, observation=obs)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert found == {(100, 101)}  # conservative: hot cluster gone, real pair kept
    assert obs.get["dropped_buckets"] > 0
    assert obs.get["dropped_ids"] >= 40
    assert obs.get["candidate_buckets"] > 0

    obs2 = Observation("ngram_caps")
    pairs2 = ngram_jaccard_pairs(d, max_shingle_df=10, threshold=0.3, observation=obs2)
    assert {(r.id_a, r.id_b) for r in pairs2.collect()} == {(100, 101)}
    assert obs2.get["dropped_postings"] > 0
    assert obs2.get["candidate_postings"] > 0

    # fully-capped corner: audit helper reports the loss unconditionally
    hs = d.selectExpr("doc_id as id", "text").select(
        "id", shingle_keys(F.col("text")).alias("hs")
    )
    sig = hs.select("id", minhash_signature_from_hashes(F.col("hs"), 32).alias("sig"))
    banded = sig.select(
        "id", F.posexplode(lsh_bands(F.col("sig"), 8, 4)).alias("band", "bucket")
    )
    report = bucket_cap_report(banded, ["band", "bucket"], max_bucket=10).first()
    assert report["dropped_buckets"] >= 8
    assert report["dropped_ids"] >= 320
    assert report["max_bucket_size"] >= 40

    # uncapped run on the same corpus: nothing dropped
    obs3 = Observation("lsh_uncapped")
    full = minhash_lsh_pairs(d, max_bucket=1024, jaccard_threshold=0.3, observation=obs3)
    assert full.count() >= 40 * 39 // 2
    assert obs3.get["dropped_buckets"] == 0


def test_dedup_cache_handle_lifecycle(spark, sf_dir):
    """The hashed-shingle persist must be releasable: cache_handle exposes
    it, and minhash_lsh_dedup drops it internally (otherwise caches
    accumulate across a long session until broadcast OOM)."""
    from data_integration_and_processing_spark.operators.dedup import (
        minhash_lsh_dedup,
        minhash_lsh_pairs,
    )

    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("doc_id"), "text"
    ).limit(200)

    caches: list = []
    pairs = minhash_lsh_pairs(d, text_col="text", id_col="doc_id", cache_handle=caches)
    pairs.count()
    assert caches, "cache_handle must surface the persisted shingle table"
    assert all(c.storageLevel.useMemory or c.storageLevel.useDisk for c in caches)
    for c in caches:
        c.unpersist(blocking=True)
    assert all(not (c.storageLevel.useMemory or c.storageLevel.useDisk) for c in caches)

    # the dedup wrapper manages the lifecycle itself: the persistent-RDD set
    # must not grow by more than the localCheckpoint labels it legitimately
    # keeps (shingle caches are released before return)
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    survivors = minhash_lsh_dedup(d, text_col="text", id_col="doc_id")
    assert survivors.count() > 0
    import gc

    gc.collect()
    after = jsc.getPersistentRDDs().size()
    # only the final connected-components checkpoint may stay live
    assert after - before <= 1, f"cache leak: {before} -> {after} persistent RDDs"


def test_components_driver_and_distributed_paths_agree(spark):
    """The union-find fast path must replicate the distributed fixpoint
    exactly — min-reachable-id labels, every paired vertex present."""
    from data_integration_and_processing_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21), (5, 9), (9, 7),
         (30, 31), (31, 32), (32, 30), (100, 4)],
        "id_a long, id_b long",
    )
    drv = sorted((r.id, r.component) for r in
                 connected_components(pairs, force_path="driver").collect())
    dist = sorted((r.id, r.component) for r in
                  connected_components(pairs, force_path="distributed").collect())
    assert drv == dist
    assert (100, 1) in drv  # transitivity across the late edge


class TestPrefixFilteredJaccard:
    def test_result_identical_to_unfiltered_plan(self, spark, sf_dir):
        from data_integration_and_processing_spark.operators.dedup import (
            ngram_jaccard_pairs,
            ngram_jaccard_pairs_prefix,
        )
        from data_integration_and_processing_spark.queries.dedup_queries import (
            _with_mutated_copies,
        )

        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        u = _with_mutated_copies(d)
        plain = {
            (r["id_a"], r["id_b"], r["inter"])
            for r in ngram_jaccard_pairs(u, text_col="text", id_col="id", n=3, threshold=0.5).collect()
        }
        pref = {
            (r["id_a"], r["id_b"], r["inter"])
            for r in ngram_jaccard_pairs_prefix(
                u, text_col="text", id_col="id", n=3, threshold=0.5
            ).collect()
        }
        assert plain == pref
        assert plain  # non-degenerate fixture

    def test_prefix_shrinks_candidate_volume(self, spark, sf_dir):
        """The point of the filter: candidate pairs from prefix postings are a
        small fraction of the full inverted-index expansion."""
        from pyspark.sql import functions as F

        from data_integration_and_processing_spark.operators.dedup import shingle_keys
        from data_integration_and_processing_spark.queries.dedup_queries import (
            _with_mutated_copies,
        )

        u = _with_mutated_copies(spark.read.parquet(f"{sf_dir}/documents.parquet"))
        sh = u.select(F.col("id"), shingle_keys(F.col("text"), 3).alias("sh")).filter(
            F.size("sh") > 0
        )
        tok = sh.select("id", F.explode("sh").alias("s"))
        dfreq = tok.groupBy("s").agg(F.count("*").alias("df"))

        def pair_volume(posting_src):
            per_shingle = posting_src.groupBy("s").agg(F.count("*").alias("m")).filter(F.col("m") > 1)
            return per_shingle.agg(
                F.sum(F.col("m") * (F.col("m") - 1) / 2).alias("pairs")
            ).collect()[0]["pairs"]

        full_pairs = pair_volume(tok)
        ordered = (
            tok.join(dfreq, "s")
            .groupBy("id")
            .agg(F.array_sort(F.collect_list(F.struct("df", "s"))).alias("toks"))
        )
        p_len = (F.size("toks") - F.floor(F.lit(0.5) * F.size("toks")) + 1).cast("int")
        pref_tok = ordered.select(
            "id",
            F.explode(
                F.transform(F.slice("toks", F.lit(1), p_len), lambda x: x["s"])
            ).alias("s"),
        )
        pref_pairs = pair_volume(pref_tok)
        # prefix indexing must cut the posting-list pair expansion hard
        assert pref_pairs <= full_pairs * 0.55, (pref_pairs, full_pairs)


def test_minhash_calibration_within_binomial_bound(spark, sf_dir):
    """The signature-agreement Jaccard estimator must track exact Jaccard
    within the Binomial(32, J) standard error (~0.09 worst case): per-band
    avg |est - exact| <= 0.10 for every band with >= 10 pairs. Measured at
    sf0.01: 0.030-0.073 across bands 6-9.

    Reads the per-band table (dedup_minhash_calibration_raw) directly: the
    registered catalog entry is the 1-row audit summary and does not
    carry n_pairs/avg_abs_err columns."""
    from data_integration_and_processing_spark.queries.dedup_queries import (
        dedup_minhash_calibration_raw,
    )

    df = dedup_minhash_calibration_raw(spark, sf_dir)
    rows = [r for r in df.collect() if r["n_pairs"] >= 10]
    assert rows, "calibration produced no populated bands"
    for r in rows:
        assert r["avg_abs_err"] <= 0.10, dict(r.asDict())


def test_line_dedup_invariants(spark):
    """Constructed-corpus invariants for C4-style line dedup: every distinct
    line survives exactly once corpus-wide, the survivor is the first
    (doc_id, line_no) occurrence, per-doc counts reconcile, and cleaned
    text preserves each doc's own line order."""
    from pyspark.sql import functions as F

    from data_integration_and_processing_spark.operators.dedup import line_dedup

    L = {  # 4-word pseudo-lines
        "A": "alpha beta gamma delta",
        "B": "bravo charlie delta echo",
        "C": "common boiler plate line",
        "D": "delta epsilon zeta eta",
    }
    docs = [
        (1, " ".join([L["A"], L["C"], L["B"]])),   # first occurrence of A, C, B
        (2, " ".join([L["C"], L["D"]])),           # C repeated -> removed here
        (3, " ".join([L["B"], L["C"], L["A"]])),   # all three repeated -> all removed
        (4, L["C"]),                                # everything removed -> empty text
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in line_dedup(df, line_words=4).collect()}

    assert {d: (out[d]["n_lines"], out[d]["n_removed"]) for d in out} == {
        1: (3, 0), 2: (2, 1), 3: (3, 3), 4: (1, 1),
    }
    assert out[1]["cleaned_text"] == " ".join([L["A"], L["C"], L["B"]])  # order kept
    assert out[2]["cleaned_text"] == L["D"]
    assert out[3]["cleaned_text"] == ""
    assert out[4]["cleaned_text"] == ""
    # global uniqueness: every distinct line appears exactly once among kept
    all_kept = " || ".join(out[d]["cleaned_text"] for d in sorted(out) if out[d]["cleaned_text"])
    for line in L.values():
        assert all_kept.count(line) == 1


def test_jaccard_auto_router_routes_and_is_lossless(spark):
    """The statistics-routed Jaccard join: a uniform corpus (no shared
    shingles) routes to the plain plan, a boilerplate-heavy corpus (one
    sentence shared by 20% of docs) routes to the prefix plan, and BOTH
    routes return the identical pair set as the unrouted plain operator —
    the router can cost time, never pairs."""
    from pyspark.sql import functions as F

    from data_integration_and_processing_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_auto,
    )

    # 200 docs of 12 globally-unique words each: every shingle has df=1
    uniform = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", *[F.concat(F.lit(f"w{j}_"), F.col("id")) for j in range(12)]
        ).alias("text"),
    )
    dec = {}
    out_u = ngram_jaccard_pairs_auto(uniform, threshold=0.5, decision_handle=dec)
    assert dec["route"] == "plain", dec
    assert out_u.count() == 0  # nothing shares a shingle

    boiler = uniform.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat_ws(
                " ", F.col("text"),
                F.lit("this site uses cookies accept terms privacy policy"),
            ),
        ).otherwise(F.col("text")),
    )
    dec2 = {}
    out_b = ngram_jaccard_pairs_auto(boiler, threshold=0.1, decision_handle=dec2)
    assert dec2["route"] == "prefix", dec2
    got = sorted(map(tuple, out_b.collect()))
    want = sorted(map(tuple, ngram_jaccard_pairs(boiler, threshold=0.1).collect()))
    assert got == want and len(got) > 0
