"""Behavioral tests for the corpus-curation operators.

The three oracled queries (decontaminate / repetition / snapshot dedup)
are value-checked by the driver; these tests pin the semantics the oracle
can't see — packing invariants (pack_sequences is rows-only by design),
decontamination edge cases, and the HOF run-length fold against a naive
Python count.
"""

from __future__ import annotations

from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F

from data_integration_and_processing_spark.operators.curation import (
    dedup_against_snapshot,
    flag_contaminated,
    pack_sequences,
    repetition_metrics,
)
from data_integration_and_processing_spark.queries.catalog import all_specs

BUDGET = 50


@pytest.fixture(scope="module")
def packed(spark):
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range((i * 7919) % 80 + 1))) for i in range(300)],
        "doc_id LONG, text STRING",
    )
    rows = pack_sequences(docs, token_budget=BUDGET, n_buckets=16).collect()
    return rows


class TestPackSequences:
    def test_every_doc_assigned_exactly_once(self, packed):
        ids = [r.doc_id for r in packed]
        assert len(ids) == 300 and len(set(ids)) == 300

    def test_no_sequence_over_budget_unless_single_doc(self, packed):
        by_seq = defaultdict(list)
        for r in packed:
            by_seq[r.seq_id].append(r)
        for rows in by_seq.values():
            total = sum(r.n_tokens for r in rows)
            assert total <= BUDGET or len(rows) == 1

    def test_oversized_doc_gets_own_sequence(self, packed):
        by_seq = defaultdict(list)
        for r in packed:
            by_seq[r.seq_id].append(r)
        oversized = [r for r in packed if r.n_tokens > BUDGET]
        assert oversized, "fixture must include docs over budget"
        for r in oversized:
            assert len(by_seq[r.seq_id]) == 1

    def test_order_within_sequence_is_doc_id_order(self, packed):
        by_seq = defaultdict(list)
        for r in packed:
            by_seq[r.seq_id].append(r)
        for rows in by_seq.values():
            rows.sort(key=lambda r: r.pos_in_seq)
            assert [r.pos_in_seq for r in rows] == list(range(len(rows)))
            assert [r.doc_id for r in rows] == sorted(r.doc_id for r in rows)

    def test_seq_ids_unique_across_buckets(self, packed):
        owners = defaultdict(set)
        for r in packed:
            owners[r.seq_id].add(r.bucket)
        assert all(len(b) == 1 for b in owners.values())

    def test_deterministic_across_runs(self, spark, packed):
        docs = spark.createDataFrame(
            [(i, " ".join(f"w{j}" for j in range((i * 7919) % 80 + 1))) for i in range(300)],
            "doc_id LONG, text STRING",
        )
        again = pack_sequences(docs, token_budget=BUDGET, n_buckets=16).collect()
        key = lambda r: (r.doc_id, r.n_tokens, r.bucket, r.seq_id, r.pos_in_seq)
        assert sorted(map(key, again)) == sorted(map(key, packed))


class TestDecontaminate:
    def test_single_shared_gram_is_flagged(self, spark):
        bench = spark.createDataFrame([(0, "alpha beta gamma delta")], "doc_id LONG, text STRING")
        docs = spark.createDataFrame(
            [
                (1, "x alpha beta gamma delta y"),  # contains the bench 4-gram
                (2, "alpha beta gamma x delta"),  # shares only shorter grams
            ],
            "doc_id LONG, text STRING",
        )
        out = {r.doc_id: r.n_shared_grams for r in flag_contaminated(docs, bench, n=4).collect()}
        assert out == {1: 1}

    def test_repeated_gram_counts_once(self, spark):
        bench = spark.createDataFrame([(0, "a b c d")], "doc_id LONG, text STRING")
        docs = spark.createDataFrame([(1, "a b c d a b c d")], "doc_id LONG, text STRING")
        out = flag_contaminated(docs, bench, n=4).collect()
        assert [(r.doc_id, r.n_shared_grams) for r in out] == [(1, 1)]


class TestRepetition:
    def test_fold_matches_naive_count(self, spark):
        texts = [
            "a b a b a b",
            "x y z x y z x y",
            "solo",
            "p p p p",
            "a b c d e f g",
        ]
        df = spark.createDataFrame(list(enumerate(texts)), "doc_id LONG, text STRING")
        got = {r.doc_id: r for r in repetition_metrics(df, n=2).collect()}
        for i, t in enumerate(texts):
            words = t.split(" ")
            if len(words) < 2:
                assert i not in got
                continue
            grams = [" ".join(words[j : j + 2]) for j in range(len(words) - 1)]
            top = Counter(grams).most_common(1)[0][1]
            assert got[i].n_words == len(words)
            exp_dup = 1_000_000 - (len(set(words)) * 1_000_000) // len(words)
            assert got[i].dup_word_frac_micro == exp_dup
            assert got[i].top_ngram_frac_micro == (top * 1_000_000) // len(grams)


class TestSnapshotDedup:
    def test_semantics(self, spark):
        snapshot = spark.createDataFrame(
            [(1, "seen before"), (2, "also seen")], "id LONG, text STRING"
        )
        batch = spark.createDataFrame(
            [
                (10, "seen before"),  # dropped: in snapshot
                (11, "brand new"),  # kept
                (12, "brand new"),  # dropped: in-batch dup, 11 wins
                (13, "another new"),  # kept
            ],
            "id LONG, text STRING",
        )
        out = sorted(r.id for r in dedup_against_snapshot(batch, snapshot).collect())
        assert out == [11, 13]

    def test_no_text_columns_cross_the_join(self, spark):
        snapshot = spark.createDataFrame([(1, "x")], "id LONG, text STRING")
        batch = spark.createDataFrame([(2, "y")], "id LONG, text STRING")
        plan = dedup_against_snapshot(batch, snapshot)._jdf.queryExecution().optimizedPlan().toString()
        # both join inputs must reduce to 16-byte digests BEFORE the
        # anti-join (an Aggregate keyed on fp on each side), so the
        # exchange never carries document text
        assert plan.count("Aggregate [fp") == 2
        join_line = next(l for l in plan.splitlines() if "Join LeftAnti" in l)
        assert "fp" in join_line and "text" not in join_line


def test_length_bucketed_batches_are_full_and_complete(spark, sf_dir):
    """Bucketed batching: every document appears exactly once, no batch
    exceeds its row capacity, every batch except the last per bucket is
    exactly full, and pad_efficiency is in (0, 1]."""
    from collections import Counter

    from data_integration_and_processing_spark.queries.catalog import all_specs
    from data_integration_and_processing_spark.sources.tables import load_table

    rows = all_specs()["pack_batches_length_bucketed"].spark(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs
    assert len({r.doc_id for r in rows}) == n_docs

    per_batch = Counter((r.bucket_cap, r.batch_id) for r in rows)
    max_batch = {}
    for r in rows:
        assert r.n_tokens <= r.bucket_cap
        assert 0 < r.pad_efficiency_micro <= 1_000_000
        max_batch[r.bucket_cap] = max(max_batch.get(r.bucket_cap, -1), r.batch_id)
    for (cap, bid), n in per_batch.items():
        cap_rows = next(r.batch_rows for r in rows if r.bucket_cap == cap)
        assert n <= cap_rows
        if bid < max_batch[cap]:
            assert n == cap_rows, f"non-final batch {cap}/{bid} underfull: {n} < {cap_rows}"


def test_dup_ngram_bounds_and_short_doc_exclusion(spark, sf_dir):
    rows = all_specs()["text_duplicate_ngram_spans"].spark(spark, sf_dir).collect()
    assert rows, "expected some documents with >= 8 words"
    for r in rows:
        assert 0 <= r["n_dup_grams"] <= r["n_distinct_grams"]
        assert 0 <= r["dup_frac_micro"] <= 1_000_000
    # every included doc really has >= 8 words
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_long = d.filter(F.size(F.split(F.lower("text"), " ")) >= 8).count()
    assert len(rows) == n_long


def test_dup_ngram_detects_injected_duplicate(spark, sf_dir):
    """Two synthetic docs sharing an 8-word span must both report dup_frac
    > 0; a doc of unique words reports 0."""
    from data_integration_and_processing_spark.queries.text_queries import (
        text_duplicate_ngram_spans,
    )
    import os
    import shutil
    import uuid

    scratch = f"/tmp/diaps_test_ngram_{uuid.uuid4().hex[:8]}"
    os.makedirs(scratch, exist_ok=True)
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (1, f"{shared} one two three", "en", "s", 1),
            (2, f"prefix words here {shared}", "en", "s", 1),
            (3, "only unique tokens appear in this third document row", "en", "s", 1),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.mode("overwrite").parquet(f"{scratch}/documents.parquet")
    try:
        out = {r["doc_id"]: r for r in text_duplicate_ngram_spans(spark, scratch).collect()}
        assert out[1]["n_dup_grams"] >= 1 and out[2]["n_dup_grams"] >= 1
        assert out[3]["n_dup_grams"] == 0 and out[3]["dup_frac_micro"] == 0
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_perplexity_filter_ranks_a_rare_transition_doc_worst(spark):
    """A corpus of one repeated fluent sentence plus one doc that reuses the
    SAME words in scrambled order: its transitions are rare against the
    common contexts, so it must top the kill list. (Scrambled-common-words,
    not novel words: under a self-trained unsmoothed MLE a doc of singleton
    contexts scores p=1 per bigram — 'perfectly predictable' — which is the
    known self-scoring corner, not a fluency signal.)"""
    from data_integration_and_processing_spark.queries.text_queries import (
        text_perplexity_filter,
    )

    fluent = "the quick brown fox jumps over the lazy dog"
    rows = [(i, fluent) for i in range(50)]
    rows.append((99, "dog the fox lazy quick jumps brown over the"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    import data_integration_and_processing_spark.queries.text_queries as tx

    orig = tx.load_table
    try:
        tx.load_table = lambda s, d, t: df
        out = text_perplexity_filter(spark, "ignored").collect()
    finally:
        tx.load_table = orig
    # worst doc first; the gibberish doc's bigrams are singletons among a
    # corpus of repeated transitions -> max cross-entropy
    assert out[0]["doc_id"] == 99
    assert out[0]["cross_entropy"] > out[1]["cross_entropy"]
    # the fluent docs all share identical entropy (identical text)
    fluent_h = {r["cross_entropy"] for r in out[1:]}
    assert len(fluent_h) == 1


def test_heaps_fit_beta_in_range_and_points_fixed(spark, sf_dir):
    from data_integration_and_processing_spark.queries.text_queries import (
        text_heaps_law_fit,
    )

    r = text_heaps_law_fit(spark, sf_dir).collect()[0]
    assert r["n_points"] == 20
    assert 0.0 < r["heaps_beta"] <= 1.0 + 1e-9
    assert r["r2"] > 0.9  # log-log growth is near-linear on the fixture


def test_heaps_fit_ignores_sub_trigram_docs(spark):
    """Docs with <3 words must contribute nothing (not crash): Spark's
    F.sequence(1, size-2) is DESCENDING for size<3 and element_at(ws, 0)
    throws INVALID_INDEX_OF_ZERO without the size guard, while the oracle's
    generate_series is simply empty — both engines must agree on 'nothing'."""
    from data_integration_and_processing_spark.queries.text_queries import (
        text_heaps_law_fit,
    )

    # distinct texts so vocab grows (constant vocab would zero var(y) and
    # trip ANSI divide-by-zero inside r2 — a fixture artifact, not the guard)
    rows = [(i, f"w{i}a w{i}b w{i}c w{i}d w{i}e") for i in range(40)]
    rows += [(40, "one"), (41, "two words"), (42, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    import data_integration_and_processing_spark.queries.text_queries as tx

    orig = tx.load_table
    try:
        tx.load_table = lambda s, d, t: df
        r = text_heaps_law_fit(spark, "ignored").collect()[0]
    finally:
        tx.load_table = orig
    # fit still produced over the trigram-bearing docs only
    assert r["n_points"] >= 1
    assert r["heaps_beta"] is not None
