"""Behavioral guarantees of the deterministic sampling operators.

The oracle queries check value equality; these tests pin the *properties*
that make the operators safe at scale: reproducibility, subset refinement,
split disjointness/exhaustiveness, and per-stratum rate accuracy.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_integration_and_processing_spark.operators.sampling import (
    deterministic_sample,
    hash_bucket,
    stratified_sample,
    train_test_split,
)
from data_integration_and_processing_spark.queries.catalog import all_specs
from data_integration_and_processing_spark.sources.tables import load_table


def test_sample_is_reproducible_and_refinable(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    keys = ["l_orderkey", "l_linenumber"]
    ten = deterministic_sample(l, keys, 0.10).select(*keys)
    # same call twice -> identical row set (no rand() anywhere)
    assert ten.exceptAll(deterministic_sample(l, keys, 0.10).select(*keys)).count() == 0
    # 1% sample is a strict subset of the 10% sample (same keys/seed)
    one = deterministic_sample(l, keys, 0.01).select(*keys)
    assert one.exceptAll(ten).count() == 0
    assert 0 < one.count() < ten.count()


def test_sample_fraction_accuracy(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    total = l.count()
    got = deterministic_sample(l, ["l_orderkey", "l_linenumber"], 0.10).count()
    assert abs(got / total - 0.10) < 0.02


def test_split_disjoint_exhaustive_and_balanced(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    split = train_test_split(d, ["doc_id"], weights=(80, 10, 10))
    counts = {r["split"]: r["n"] for r in split.groupBy("split").agg(F.count("*").alias("n")).collect()}
    total = d.count()
    assert sum(counts.values()) == total  # exhaustive, no row dropped or duplicated
    assert set(counts) == {"train", "valid", "test"}
    assert abs(counts["train"] / total - 0.80) < 0.05
    # membership is a pure function of the key: re-running assigns identically
    again = train_test_split(d, ["doc_id"], weights=(80, 10, 10))
    assert split.select("doc_id", "split").exceptAll(again.select("doc_id", "split")).count() == 0


def test_stratified_rates(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    fractions = {"click": 0.5, "purchase": 1.0, "error": 0.1}
    sampled = stratified_sample(e, "event_type", fractions, ["event_id"], default_fraction=0.05)
    base = {r["event_type"]: r["n"] for r in e.groupBy("event_type").agg(F.count("*").alias("n")).collect()}
    got = {r["event_type"]: r["n"] for r in sampled.groupBy("event_type").agg(F.count("*").alias("n")).collect()}
    for stratum, frac in fractions.items():
        assert abs(got.get(stratum, 0) / base[stratum] - frac) < 0.05
    # default rate applies to the strata not named
    for stratum in set(base) - set(fractions):
        assert abs(got.get(stratum, 0) / base[stratum] - 0.05) < 0.03


def test_hash_bucket_range_and_seed_independence(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    b = d.select(hash_bucket(["doc_id"], 100, seed=0).alias("b0"), hash_bucket(["doc_id"], 100, seed=7).alias("b7"))
    row = b.agg(
        F.min("b0").alias("lo"),
        F.max("b0").alias("hi"),
        F.sum((F.col("b0") != F.col("b7")).cast("int")).alias("moved"),
    ).collect()[0]
    assert 0 <= row["lo"] and row["hi"] < 100
    # a different seed reshuffles a substantial share of rows
    assert row["moved"] > d.count() * 0.5


def test_mix_to_target_balances_groups(spark, sf_dir):
    from data_integration_and_processing_spark.operators.sampling import mix_to_target

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    mixed = mix_to_target(d, "lang", ["doc_id"])
    base = {r["lang"]: r["n"] for r in d.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    got = {r["lang"]: r["n"] for r in mixed.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    target = min(base.values())
    assert set(got) == set(base)  # no group vanishes
    for lang, n in got.items():
        # every group lands near the smallest group's size (1/n_buckets
        # quantization + hash variance)
        assert abs(n - target) <= max(5, 0.15 * target), (lang, n, target)


class TestTemperatureMix:
    def test_shares_track_sqrt_weights_within_quantization(self, spark, sf_dir):
        import math

        from pyspark.sql import functions as F

        from data_integration_and_processing_spark.operators.sampling import temperature_mix

        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        kept = temperature_mix(d, "source", ["doc_id"], budget_frac=0.6)
        nat = {r["source"]: r["n"] for r in d.groupBy("source").agg(F.count("*").alias("n")).collect()}
        got = {r["source"]: r["n"] for r in kept.groupBy("source").agg(F.count("*").alias("n")).collect()}
        total = sum(nat.values())
        budget = math.floor(0.6 * total)
        z = sum(math.floor(math.sqrt(n)) for n in nat.values())
        for src, n in nat.items():
            target = budget * math.floor(math.sqrt(n)) / z
            # hash quantization: threshold rounds to 1/1000, plus hash noise
            assert abs(got.get(src, 0) - min(target, n)) <= max(0.05 * n, 25), (src, got.get(src), target)

    def test_deterministic_and_subset(self, spark, sf_dir):
        from data_integration_and_processing_spark.operators.sampling import temperature_mix

        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        a = {r["doc_id"] for r in temperature_mix(d, "source", ["doc_id"]).select("doc_id").collect()}
        b = {r["doc_id"] for r in temperature_mix(d, "source", ["doc_id"]).select("doc_id").collect()}
        assert a == b
        assert a <= {r["doc_id"] for r in d.select("doc_id").collect()}


def test_dsir_importance_prefers_target_domain(spark, sf_dir):
    """DSIR selection: exactly k rows, deterministic across runs, and the
    mean importance log-weight of target-source docs exceeds the non-target
    mean (the selection signal points toward the target domain)."""
    from pyspark.sql import functions as F

    from data_integration_and_processing_spark.queries.catalog import all_specs
    from data_integration_and_processing_spark.queries.sampling_queries import (
        _DSIR_K,
        _DSIR_TARGETS,
    )
    from data_integration_and_processing_spark.sources.tables import load_table

    q = all_specs()["sample_dsir_importance"].spark
    rows1 = q(spark, sf_dir).collect()
    rows2 = q(spark, sf_dir).collect()
    assert [r.doc_id for r in rows1] == [r.doc_id for r in rows2]
    assert len(rows1) == _DSIR_K
    assert len({r.doc_id for r in rows1}) == _DSIR_K

    # signal check on the full weight table: join selection back to sources
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    sel = spark.createDataFrame([(r.doc_id, float(r.logweight)) for r in rows1],
                                "doc_id long, logweight double")
    by_side = (
        sel.join(d, "doc_id")
        .groupBy(F.col("source").isin(*_DSIR_TARGETS).alias("tgt"))
        .agg(F.avg("logweight").alias("m"), F.count("*").alias("n"))
        .collect()
    )
    means = {r.tgt: r.m for r in by_side}
    if True in means and False in means:
        assert means[True] > means[False]


def test_hash_bucket_column_seed_matches_int_seed(spark):
    """The Column-seed form (epoch fan-out) must equal the int-seed form for
    every constant, including negative and > HASH_MOD seeds."""
    from pyspark.sql import functions as F

    from data_integration_and_processing_spark.operators.sampling import hash_bucket

    df = spark.range(0, 500).select(F.col("id").alias("k"))
    for seed in (0, 1, 5, 12345, 2**31, -3):
        a = df.select(hash_bucket(["k"], 64, seed=seed).alias("b")).collect()
        b = df.select(hash_bucket(["k"], 64, seed=F.lit(seed)).alias("b")).collect()
        assert [r["b"] for r in a] == [r["b"] for r in b], seed


def test_kcenter_shape_and_determinism(spark, sf_dir):
    from data_integration_and_processing_spark.queries.sampling_queries import (
        _KC_K,
        sample_coreset_kcenter,
    )

    a = sample_coreset_kcenter(spark, sf_dir).collect()
    b = sample_coreset_kcenter(spark, sf_dir).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert len(a) == _KC_K
    assert [r["rank"] for r in a] == list(range(1, _KC_K + 1))
    assert len({r["vec_id"] for r in a}) == _KC_K
    # greedy max-min distances are non-increasing by construction
    dists = [r["dist2"] for r in a[1:]]
    assert all(x is not None and x >= 0 for x in dists)
    assert all(dists[i] >= dists[i + 1] for i in range(len(dists) - 1))


def test_kcenter_covers_better_than_prefix_of_ids(spark, sf_dir):
    """The k-center set's covering radius (max over points of distance to
    nearest center) must beat the naive first-k-ids baseline — the point of
    diverse selection."""
    from data_integration_and_processing_spark.queries.sampling_queries import (
        _KC_K,
        sample_coreset_kcenter,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")

    def radius(center_ids: list[int]) -> float:
        centers = e.filter(F.col("vec_id").isin(center_ids)).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cemb")
        )
        d2 = F.aggregate(
            F.zip_with(
                F.col("embedding").cast("array<double>"),
                F.col("cemb").cast("array<double>"),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return (
            e.crossJoin(F.broadcast(centers))
            .select("vec_id", d2.alias("d2"))
            .groupBy("vec_id")
            .agg(F.min("d2").alias("md"))
            .agg(F.max("md"))
            .collect()[0][0]
        )

    picked = [r["vec_id"] for r in sample_coreset_kcenter(spark, sf_dir).collect()]
    first_ids = [r["vec_id"] for r in e.orderBy("vec_id").limit(_KC_K).collect()]
    assert radius(picked) < radius(first_ids)


def test_kfold_is_leak_proof_and_total(spark, sf_dir):
    """Every customer's orders land in exactly one fold; folds partition all
    orders and are roughly balanced."""
    from pyspark.sql import functions as F

    from data_integration_and_processing_spark.operators.sampling import hash_bucket

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    assigned = o.select("o_custkey", hash_bucket(["o_custkey"], 5, seed=7).alias("fold"))
    per_cust = assigned.groupBy("o_custkey").agg(F.count_distinct("fold").alias("nf"))
    assert per_cust.filter(F.col("nf") > 1).count() == 0
    census = all_specs()["sample_stratified_kfold"].spark(spark, sf_dir).collect()
    assert sum(r["n_orders"] for r in census) == o.count()
    by_fold = {}
    for r in census:
        by_fold[r["fold"]] = by_fold.get(r["fold"], 0) + r["n_orders"]
    assert set(by_fold) == set(range(5))
    mean = sum(by_fold.values()) / 5
    assert all(abs(v - mean) / mean < 0.25 for v in by_fold.values()), by_fold


def test_dedup_aware_split_never_straddles_groups(spark, sf_dir):
    from pyspark.sql import functions as F

    out = all_specs()["sample_split_dedup_aware"].spark(spark, sf_dir)
    straddle = out.groupBy("grp").agg(F.count_distinct("split").alias("ns"))
    assert straddle.filter(F.col("ns") > 1).count() == 0
    # every injected variant copy (id + 10000) shares its original's split
    pairs = out.alias("a").join(
        out.alias("b"), F.col("a.id") + 10000 == F.col("b.id")
    )
    assert pairs.filter(F.col("a.split") != F.col("b.split")).count() == 0
    # rough 80/20 at the GROUP grain
    grp = out.select("grp", "split").distinct()
    frac = grp.filter(F.col("split") == "train").count() / grp.count()
    assert 0.7 < frac < 0.9, frac


def test_target_encoding_shrinks_toward_prior_for_rare_categories(spark, sf_dir):
    """|smoothed - prior| <= |raw_mean - prior| for every category, with
    equality only when n >> m: empirical-Bayes shrinkage direction."""
    from data_integration_and_processing_spark.queries.sampling_queries import (
        prep_target_encoding,
    )

    rows = prep_target_encoding(spark, sf_dir).collect()
    assert len(rows) == 5
    prior = rows[0]["global_prior_micro"]
    for r in rows:
        raw_dev = abs(r["raw_mean_micro"] - prior)
        smooth_dev = abs(r["smoothed_enc_micro"] - prior)
        # integer-micro outputs: 2 micro slack covers the truncating div
        assert smooth_dev <= raw_dev + 2, r
        # with m=100 and n in the thousands the shrink is small but real
        assert smooth_dev < raw_dev or raw_dev <= 2, r
