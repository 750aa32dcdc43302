"""Training-corpus curation operators beyond dedup: benchmark
decontamination, repetition (boilerplate) metrics, incremental dedup
against a prior snapshot, and token-budget sequence packing.

These are the corpus-hygiene steps a large-scale LLM data pipeline runs
between raw ingest and tokenization. The reference repo has no analogue
(it moves tables verbatim, ETLManager.py:101-124); each operator here is
shaped for the 100 TB case:

- decontamination broadcasts the (small) benchmark n-gram set, so the
  corpus is filtered map-side with zero corpus shuffle;
- repetition metrics are pure higher-order-function column expressions —
  zero shuffle, embarrassingly parallel;
- snapshot dedup ships 16-byte digests through the one shuffle, never
  documents;
- sequence packing is a per-bucket sequential scan behind
  ``applyInPandas`` with bucket count >> core count, so the inherently
  serial next-fit loop still saturates the cluster.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from data_integration_and_processing_spark.operators.dedup import shingles
from data_integration_and_processing_spark.operators.sampling import hash_bucket

# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------


def benchmark_ngrams(benchmark: DataFrame, n: int = 4, text_col: str = "text") -> DataFrame:
    """Distinct word ``n``-grams of the evaluation/benchmark set.

    One column ``gram``. Benchmarks are small (10^3-10^5 docs) next to a
    training corpus, so the output is broadcastable by construction.
    """
    return (
        benchmark.select(F.explode(shingles(F.col(text_col), n)).alias("gram"))
        .distinct()
    )


def flag_contaminated(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Docs sharing at least one word ``n``-gram with the benchmark set —
    the candidates a decontamination pass removes before training so eval
    answers don't leak into the training corpus.

    Returns (``id_col``, ``n_shared_grams``) with distinct-gram overlap
    counts. Scale shape: the benchmark gram set is broadcast and the corpus
    side is ``explode`` -> broadcast-hash semi-join -> partial-aggregated
    count, so the full corpus is never shuffled; cost is one map-side pass
    over the corpus (the same shape GPT-3/Llama-style 8-to-13-gram
    decontamination runs use). For corpora where even the gram explode is
    too hot, swap ``shingles`` for ``shingle_keys`` (8-byte longs) — the
    join key shrinks ~10x and the semantics are identical up to 64-bit
    collisions.
    """
    grams = benchmark_ngrams(benchmark, n, text_col)
    doc_grams = docs.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), n)).alias("gram")
    )
    return (
        doc_grams.join(F.broadcast(grams), "gram")
        .groupBy(id_col)
        .agg(F.count("*").cast("bigint").alias("n_shared_grams"))
    )


# ---------------------------------------------------------------------------
# repetition / boilerplate metrics (Gopher-style quality rules)
# ---------------------------------------------------------------------------


def _ngrams_all(words: Column, n: int) -> Column:
    """ALL word n-grams (with multiplicity, unlike :func:`shingles`)."""
    k = F.size(words) - (n - 1)
    acc = F.slice(words, 1, k)
    for j in range(1, n):
        acc = F.zip_with(acc, F.slice(words, j + 1, k), lambda x, y: F.concat(x, F.lit(" "), y))
    return F.when(k >= 1, acc).otherwise(F.array().cast("array<string>"))


def _max_run_length(sorted_arr: Column) -> Column:
    """Longest run of equal adjacent elements in a sorted array == the
    count of the most frequent element — computed with a single
    ``aggregate`` fold, no explode, no shuffle.

    The fold accumulator is a struct (prev, run, maxrun); lambdas touch
    only their own arguments, so nothing is re-evaluated per element (the
    HOF-recompute trap measured at ~10x on this corpus).
    """
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("maxrun"),
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["maxrun"], run).alias("maxrun")
        )

    return F.aggregate(sorted_arr, init, step, lambda acc: acc["maxrun"])


def repetition_metrics(
    docs: DataFrame,
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document repetition scores (the Gopher boilerplate family):

    - ``n_words``
    - ``dup_word_frac_micro``  — 1 - distinct/total words (integer micro)
    - ``top_ngram_frac_micro`` — share of all word n-grams taken by the single
      most frequent n-gram (high => looping/boilerplate text)

    Everything is a higher-order-function column expression over the word
    array — zero shuffles, zero Python; the most-frequent-gram count comes
    from a sort + run-length fold instead of an explode + groupBy, so per
    doc the cost is O(g log g) local work and the 100 TB plan is a pure map
    stage. Docs with fewer than ``n`` words are dropped (no n-grams exist).
    """
    words = F.split(F.col(text_col), " ")
    grams = _ngrams_all(words, n)
    n_words = F.size(words)
    # exact integer-micro fractions: count/count
    # quotients ship as truncating BIGINT division — no rounding mode
    return (
        docs.filter(F.size(F.split(F.col(text_col), " ")) >= n)
        .select(
            F.col(id_col),
            n_words.cast("bigint").alias("n_words"),
            F.size(F.array_distinct(words)).cast("long").alias("_nd"),
            _max_run_length(F.array_sort(grams)).cast("long").alias("_mr"),
            F.size(grams).cast("long").alias("_ng"),
        )
        .select(
            id_col,
            "n_words",
            F.expr(
                "1000000 - (_nd * CAST(1000000 AS BIGINT)) div n_words"
            ).alias("dup_word_frac_micro"),
            F.expr("(_mr * CAST(1000000 AS BIGINT)) div _ng").alias(
                "top_ngram_frac_micro"
            ),
        )
    )


# ---------------------------------------------------------------------------
# incremental dedup against a prior corpus snapshot
# ---------------------------------------------------------------------------


def dedup_against_snapshot(
    batch: DataFrame,
    snapshot: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-dedup a NEW batch against an already-deduped corpus snapshot:
    keep batch docs whose content digest is unseen in the snapshot, first
    (min id) wins within the batch.

    This is the steady-state form of exact dedup — re-running
    ``exact_dedup`` over snapshot+batch costs O(corpus) per ingest, while
    this costs O(batch) scan + one digest shuffle. Both sides reduce to
    16-byte md5 digests before the anti-join, so the shuffle never carries
    documents; at 100 TB the snapshot side should be a pre-materialized
    digest table (write ``snapshot_digests`` once, bucket it on ``fp``,
    and the anti-join co-locates with zero snapshot re-hash).
    """
    fp = F.md5(F.col(text_col).cast("binary")).alias("fp")
    snap_fps = snapshot.select(fp).distinct()
    batch_first = (
        batch.select(fp, F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
    )
    return batch_first.join(snap_fps, "fp", "left_anti").select(id_col, "fp")


# ---------------------------------------------------------------------------
# token-budget sequence packing
# ---------------------------------------------------------------------------

_PACK_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_tokens", LongType()),
        StructField("bucket", IntegerType()),
        StructField("seq_id", LongType()),
        StructField("pos_in_seq", IntegerType()),
    ]
)


# Default hash-bucket count for pack_sequences — exported so audit bounds
# (pack_sequences_budget's seq-count upper bound gains up to one partial
# sequence per bucket) reference the same constant the operator runs with.
PACK_N_BUCKETS = 256


def pack_sequences(
    docs: DataFrame,
    token_budget: int,
    id_col: str = "doc_id",
    tokens_col: Column | str | None = None,
    n_buckets: int = PACK_N_BUCKETS,
) -> DataFrame:
    """Pack documents into fixed-token-budget training sequences (next-fit
    bin packing): scan docs in id order, append to the current sequence
    until the next doc would overflow ``token_budget``, then start a new
    one. A single doc larger than the budget gets a sequence of its own
    (the tokenizer-side truncation decision is out of scope here).

    Packing is inherently sequential — each bin boundary depends on every
    prior decision — so it cannot be a window/prefix-sum expression. The
    scale shape: hash-bucket docs with the shared deterministic
    :func:`hash_bucket` (reproducible across runs/retries), run the serial
    loop per bucket inside ``applyInPandas``, with ``n_buckets`` set well
    above the core count so the grouped-map parallelism trap (tasks ==
    groups) never binds. Sequence ids are globally unique without any
    cross-bucket coordination: ``bucket << 40 | local_seq``.

    ``tokens_col``: a Column (or column name) with per-doc token counts;
    default is whitespace word count computed JVM-side so only three slim
    columns cross the Arrow boundary.

    Returns (doc_id, n_tokens, bucket, seq_id, pos_in_seq).
    """
    tokens = (
        F.size(F.split(F.col("text"), " ")).cast("long")
        if tokens_col is None
        else (F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col).cast("long")
    )
    slim = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        tokens.alias("n_tokens"),
        hash_bucket([id_col], n_buckets).cast("int").alias("bucket"),
    )

    def pack(pdf):
        import pandas as pd

        pdf = pdf.sort_values("doc_id", kind="mergesort").reset_index(drop=True)
        bucket = int(pdf["bucket"].iloc[0])
        seq_local, pos, filled = 0, 0, 0
        seqs, positions = [], []
        for t in pdf["n_tokens"].to_numpy():
            if pos > 0 and filled + t > token_budget:
                seq_local, pos, filled = seq_local + 1, 0, 0
            seqs.append((bucket << 40) | seq_local)
            positions.append(pos)
            pos, filled = pos + 1, filled + int(t)
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_tokens": pdf["n_tokens"],
                "bucket": pdf["bucket"],
                "seq_id": pd.Series(seqs, dtype="int64"),
                "pos_in_seq": pd.Series(positions, dtype="int32"),
            }
        )

    return slim.groupBy("bucket").applyInPandas(pack, _PACK_SCHEMA)
