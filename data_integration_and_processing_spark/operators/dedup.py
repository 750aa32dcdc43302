"""Deduplication operators for LLM training-data pipelines (north-star).

No reference counterpart (SURVEY.md §2.2). Five strategies, each designed
around shuffle behavior at 100 TB:

- **exact**: hash-groupBy on a content fingerprint — one shuffle keyed by
  md5(text), representative = min(doc_id). Never ships full text twice:
  group on the 16-byte digest, not the document.
- **MinHash + LSH**: shingle -> k minhashes (xxhash64 with per-hash salt,
  all JVM-side) -> b bands of r -> explode bands -> shuffle keyed by
  (band, bucket). Only same-bucket docs meet, so candidate generation is
  linear-ish; exact Jaccard verification runs per candidate pair only.
- **SimHash**: 63-bit signature from per-word hash bit votes (pure per-row
  map), exact-match dedup via groupBy(simhash) + near-match candidates via
  16-bit band buckets + popcount(xor) Hamming verify.
- **n-gram Jaccard**: inverted-index join on distinct shingles (the
  classic prefix/blocking trick) -> per-pair intersection counts ->
  Jaccard = inter / (|A| + |B| - inter). Avoids the O(n^2) cross join.
- **embedding cosine**: near-duplicate pairs above a cosine threshold;
  brute pairwise at small n, LSH-bucketed variant in similarity.py for
  scale.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .parallelism import fan_out_scan, tiny_local_df

_HAMMING_BITS = 63  # keep the simhash non-negative in a signed long


# ---------------------------------------------------------------------------
# shingling (shared)
# ---------------------------------------------------------------------------

def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of ``text`` (space-tokenized).

    Built by zipping ``n`` shifted slices of the word array. The zip_with
    lambdas reference only their own arguments — an ``element_at(words, i)``
    formulation re-evaluates ``split(text)`` for every element because
    subexpressions inside higher-order-function lambdas are not hoisted
    (measured ~10x slower on 50-word docs)."""
    words = F.split(text, " ")
    k = F.size(words) - (n - 1)
    acc = F.slice(words, 1, k)
    for j in range(1, n):
        acc = F.zip_with(acc, F.slice(words, j + 1, k), lambda x, y: F.concat(x, F.lit(" "), y))
    return F.array_distinct(F.when(k >= 1, acc).otherwise(F.array().cast("array<string>")))


def shingle_keys(text: Column, n: int = 3) -> Column:
    """Distinct word-n-gram keys as longs: per-word xxhash64 combined with a
    polynomial mix, never materializing shingle strings.

    Same distinctness structure as ``shingles`` up to 64-bit collisions —
    what index-based operators (posting lists, minhash banding) actually
    need. Skipping the per-shingle string allocation + re-hash roughly
    halves signature cost on 50-word docs; long-array ``array_distinct``
    beats string-array too.

    The pairwise combine is ``xxhash64(x, y)`` — ANSI-safe (a polynomial
    ``x*31+y`` mix relies on wrap-around long multiplication, which throws
    ARITHMETIC_OVERFLOW under Spark 4's default ``spark.sql.ansi.enabled``)
    and hash-quality-equivalent for key purposes."""
    words = F.split(text, " ")
    hw = F.transform(words, lambda w: F.xxhash64(w))
    k = F.size(hw) - (n - 1)
    acc = F.slice(hw, 1, k)
    for j in range(1, n):
        acc = F.zip_with(acc, F.slice(hw, j + 1, k), lambda x, y: F.xxhash64(x, y))
    return F.array_distinct(F.when(k >= 1, acc).otherwise(F.array().cast("array<long>")))


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Deterministic exact dedup: keep the lowest id per identical content.

    Groups on md5(text) so the shuffle carries 16-byte keys, not documents;
    at 100 TB this is one hash-partitioned exchange of (digest, id).
    """
    fp = F.md5(F.col(text_col).cast("binary")).alias("fp")
    reps = df.select(fp, F.col(id_col)).groupBy("fp").agg(F.min(id_col).alias(id_col))
    return df.join(reps, on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# shared LSH machinery
# ---------------------------------------------------------------------------

def pairs_within_buckets(
    banded: DataFrame,
    bucket_cols: list[str],
    payload_cols: tuple[str, ...] = (),
    max_bucket: int = 1024,
    observation=None,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) of ids sharing any bucket.

    ``banded`` has one row per (bucket_cols..., id [, payload_cols...]).
    Instead of a bucket self-join — which scans the (often expensive)
    upstream lineage twice — this groups each bucket's members into an
    array and expands i<j pairs inside one row: a single corpus scan, one
    shuffle keyed by bucket, pair fan-out entirely within tasks.

    Buckets larger than ``max_bucket`` are dropped (documented recall
    trade): a bucket that hot means the band value is degenerate (the
    stop-ngram analogue) and its m^2 expansion would dominate the stage —
    content that common belongs to exact dedup, not near-dup pairing.
    The loss is *observable*: pass a ``pyspark.sql.Observation`` and the
    next action reports ``dropped_buckets`` / ``dropped_ids`` /
    ``candidate_buckets`` (metrics ride the action — no extra pass).
    Payload columns (e.g. signatures) ride along as ``<col>_a``/``<col>_b``.
    """
    item = F.struct(F.col("id"), *[F.col(c) for c in payload_cols])
    grouped = banded.groupBy(*bucket_cols).agg(
        F.array_sort(F.collect_set(item)).alias("items")
    )
    if observation is not None:
        over = F.size("items") > max_bucket
        grouped = grouped.observe(
            observation,
            F.sum(over.cast("long")).alias("dropped_buckets"),
            F.sum(F.when(over, F.size("items")).otherwise(0).cast("long")).alias("dropped_ids"),
            F.sum(((F.size("items") > 1) & ~over).cast("long")).alias("candidate_buckets"),
        )
    grouped = grouped.filter((F.size("items") > 1) & (F.size("items") <= max_bucket))
    # i<j expansion; lambdas only touch their arguments and the materialized
    # `items` attribute (cheap re-reference — see shingles() note).
    pairs = F.flatten(
        F.transform(
            F.col("items"),
            lambda a, i: F.transform(
                F.slice(F.col("items"), i + 2, F.size(F.col("items"))),
                lambda b: F.struct(a.alias("a"), b.alias("b")),
            ),
        )
    )
    out = grouped.select(F.explode(pairs).alias("p")).select(
        F.col("p.a.id").alias("id_a"),
        F.col("p.b.id").alias("id_b"),
        *[F.col(f"p.a.{c}").alias(f"{c}_a") for c in payload_cols],
        *[F.col(f"p.b.{c}").alias(f"{c}_b") for c in payload_cols],
    )
    return out.dropDuplicates(["id_a", "id_b"])


def bucket_cap_report(
    banded: DataFrame,
    bucket_cols: list[str],
    max_bucket: int = 1024,
) -> DataFrame:
    """Standalone audit of what a ``max_bucket`` cap would drop: one tiny
    aggregation over the banded table returning a single row of
    (dropped_buckets, dropped_ids, candidate_buckets, max_bucket_size).

    The zero-cost path is the ``observation`` parameter of
    :func:`pairs_within_buckets` (metrics ride the action); this helper is
    the guaranteed path for audits — AQE's empty-relation propagation prunes
    CollectMetrics when a cap empties the WHOLE result, so a fully-capped
    run needs its own (cheap: the shuffle is (bucket, count)) job to report
    the loss."""
    sizes = banded.groupBy(*bucket_cols).agg(F.count("*").alias("m"))
    over = F.col("m") > max_bucket
    return sizes.agg(
        F.sum(over.cast("long")).alias("dropped_buckets"),
        F.sum(F.when(over, F.col("m")).otherwise(0)).alias("dropped_ids"),
        F.sum(((F.col("m") > 1) & ~over).cast("long")).alias("candidate_buckets"),
        F.max("m").alias("max_bucket_size"),
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _salted_minhash(hash_arr: Column, i: int) -> Column:
    # Factory keeps the lambda unary: higher-order functions infer lambda
    # arity, so a default arg would silently turn this into (element, index).
    return F.array_min(F.transform(hash_arr, lambda h: F.xxhash64(h, F.lit(i))))


def minhash_signature(shingle_arr: Column, num_hashes: int = 32) -> Column:
    """Array of ``num_hashes`` minhash values: min over shingles of a salted
    xxhash64. Pure per-row map, JVM-side.

    Each shingle string is hashed to a long exactly once; the per-function
    variants rehash (long, salt) pairs, so the k passes run fixed-width
    integer hashing instead of k string hashes per shingle."""
    base = F.transform(shingle_arr, lambda s: F.xxhash64(s))
    return minhash_signature_from_hashes(base, num_hashes)


def minhash_signature_from_hashes(hash_arr: Column, num_hashes: int = 32) -> Column:
    """Signature from pre-hashed (long) shingles — lets callers hash each
    shingle string once and reuse the longs for banding AND verification."""
    return F.array(*[_salted_minhash(hash_arr, i) for i in range(num_hashes)])


def minhash_signature_vectorized(num_hashes: int = 32, seed: int = 42):
    """Arrow-vectorized signature over pre-hashed shingle longs: the k
    salted variants come from a multiply-shift family (odd multiplier *
    x + offset in wraparound uint64 — universal, standard for minhash)
    instead of k xxhash64 re-hashes, which lets the whole batch compute as
    k ``np.minimum.reduceat`` passes over one flattened array. Measured
    3.2x faster than the per-element JVM expression form at sf0.1 (1.0 s vs
    3.3 s warm; same hybrid rationale as simhash_signatures). Candidate
    recall is equivalent per the banding theory; the exact Jaccard verify
    downstream is hash-family-independent.

    Returns a pandas UDF to apply to the hashed-shingle array column; rows
    must be non-empty (callers filter size > 0 first)."""
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415
    from pyspark.sql.types import ArrayType, LongType  # noqa: PLC0415 — DataType instances: DDL strings break worker re-import

    rng = np.random.RandomState(seed)
    mult = rng.randint(1, 2**63, size=num_hashes, dtype=np.uint64) | np.uint64(1)
    add = rng.randint(0, 2**63, size=num_hashes, dtype=np.uint64)

    @pandas_udf(ArrayType(LongType()))
    def _sig(hs_col: pd.Series) -> pd.Series:
        lens = np.fromiter((len(a) for a in hs_col), dtype=np.int64, count=len(hs_col))
        flat = np.concatenate([np.asarray(a, dtype=np.int64) for a in hs_col]).astype(np.uint64)
        offsets = np.zeros(len(lens), dtype=np.int64)
        np.cumsum(lens[:-1], out=offsets[1:])
        out = np.empty((len(lens), num_hashes), dtype=np.int64)
        for k in range(num_hashes):
            vals = flat * mult[k] + add[k]
            out[:, k] = np.minimum.reduceat(vals, offsets).astype(np.int64)
        return pd.Series(list(out))

    return _sig


def lsh_bands(sig: Column, bands: int, rows: int) -> Column:
    """Bucket keys: one hash per band of ``rows`` consecutive signature
    entries. Docs sharing any band bucket become candidates.

    Multi-argument xxhash64 over the band's longs directly — no string
    concatenation/allocation per band."""
    return F.array(
        *[
            F.xxhash64(*[sig.getItem(b * rows + j) for j in range(rows)])
            for b in range(bands)
        ]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.5,
    ngram: int = 3,
    max_bucket: int = 1024,
    observation=None,
    cache_handle: list | None = None,
    vectorized: bool = True,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard >= threshold).

    Plan shape at scale: map (shingle+sign) -> explode bands -> shuffle on
    (band, bucket) -> same-bucket self-join -> exact Jaccard verify on the
    candidate pairs only. The b/r choice (8 bands x 4 rows) targets the
    ~(1/b)^(1/r) ≈ 0.6 similarity knee. ``vectorized`` picks the Arrow
    multiply-shift signature (3.2x faster; see
    :func:`minhash_signature_vectorized`) over the pure-JVM xxhash64 form —
    both feed the same banding and the same exact verify.
    """
    rows = num_hashes // bands
    # Hash each shingle string to a long exactly once; every later stage
    # (signature, banding, Jaccard verify) works on fixed-width longs.
    # Jaccard over distinct hashed shingles equals Jaccard over shingles
    # up to 64-bit collisions (negligible).
    hs = (
        fan_out_scan(df)
        .select(F.col(id_col).alias("id"), shingle_keys(F.col(text_col), ngram).alias("hs"))
        .filter(F.size("hs") > 0)
        # The hashed-shingle index feeds banding AND both sides of the
        # candidate verify join; without persist each consumer re-scans and
        # re-shingles the corpus (3 full scans). On a cluster this is the
        # "materialize the signature table" step of any LSH pipeline.
        # Lifecycle: pass cache_handle to unpersist after consuming the
        # result (the pipeline wrappers do); a bare call leaves the cache to
        # session GC, which accumulates across a long-lived session.
        .persist()
    )
    if cache_handle is not None:
        cache_handle.append(hs)
    if vectorized:
        sig_udf = minhash_signature_vectorized(num_hashes)
        sig = hs.select("id", sig_udf(F.col("hs")).alias("sig"))
    else:
        sig = hs.select("id", minhash_signature_from_hashes(F.col("hs"), num_hashes).alias("sig"))
    # Banded rows carry only (id, band, bucket) — 24 bytes each — through
    # the explode and the bucket self-join; shingle sets rejoin at the end
    # for the few candidate pairs only.
    banded = sig.select("id", F.posexplode(lsh_bands(F.col("sig"), bands, rows)).alias("band", "bucket"))
    cand = pairs_within_buckets(banded, ["band", "bucket"], max_bucket=max_bucket, observation=observation)
    ha = hs.select(F.col("id").alias("id_a"), F.col("hs").alias("hs_a"))
    hb = hs.select(F.col("id").alias("id_b"), F.col("hs").alias("hs_b"))
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    union = F.size("hs_a") + F.size("hs_b") - inter
    return (
        cand.join(ha, "id_a")
        .join(hb, "id_b")
        .withColumn("jaccard", inter.cast("double") / union)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", **kwargs
) -> DataFrame:
    """The full near-dedup pipeline: MinHash-LSH pair detection ->
    connected components over the pair graph -> keep the min-id doc per
    duplicate cluster (transitively: A~B, B~C drops B AND C even when A~C
    was never detected directly). Unpaired docs always survive."""
    caches: list = []
    pairs = minhash_lsh_pairs(df, text_col, id_col, cache_handle=caches, **kwargs)
    comp = connected_components(pairs)
    # connected_components materialized its labels (eager localCheckpoint),
    # so the hashed-shingle cache is no longer reachable from `comp` — drop
    # it instead of letting caches accumulate across the session (they
    # crowd out broadcast memory).
    for cached in caches:
        cached.unpersist()
    dropped = comp.filter(F.col("id") != F.col("component")).select(F.col("id").alias(id_col))
    return df.join(dropped, on=id_col, how="left_anti")


def _lsh_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    ngram: int,
) -> tuple[DataFrame, DataFrame]:
    """(hashed-shingles, banded-LSH-index) pair for ``df``.

    ``hs`` is persisted — it feeds banding AND the exact-Jaccard verify;
    callers unpersist after materializing downstream results. ``banded``
    rows carry only (id, band, bucket): 24 bytes through every shuffle.
    """
    rows = num_hashes // bands
    hs = (
        fan_out_scan(df)
        .select(F.col(id_col).alias("id"), shingle_keys(F.col(text_col), ngram).alias("hs"))
        .filter(F.size("hs") > 0)
        .persist()
    )
    sig_udf = minhash_signature_vectorized(num_hashes)
    banded = (
        hs.select("id", sig_udf(F.col("hs")).alias("sig"))
        .select("id", F.posexplode(lsh_bands(F.col("sig"), bands, rows)).alias("band", "bucket"))
    )
    return hs, banded


def neardup_against_snapshot(
    batch: DataFrame,
    snapshot: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.5,
    ngram: int = 3,
    max_bucket: int = 1024,
) -> DataFrame:
    """Near-dedup a NEW batch against an already-near-deduped corpus
    snapshot, then within the batch itself: the steady-state form of
    MinHash-LSH dedup (the near-dup twin of
    ``curation.dedup_against_snapshot``'s exact digest anti-join).

    Re-running ``minhash_lsh_dedup`` over snapshot+batch costs O(corpus)
    per ingest; this costs O(batch) shingling plus one shuffle join of the
    batch's banded rows against the snapshot's banded LSH index. Plan:

    1. Snapshot index rows group per (band, bucket) into member arrays —
       buckets over ``max_bucket`` are dropped with the same degenerate-
       band rationale (and observable-recall trade) as
       ``pairs_within_buckets``.
    2. Batch banded rows join those buckets (shuffle keyed by the
       high-cardinality (band, bucket)); member expansion happens in-task.
    3. Candidates verify by exact Jaccard over hashed shingle sets; any
       batch doc matching a snapshot doc at/over the threshold is dropped.
    4. Survivors then near-dedup among themselves via
       :func:`minhash_lsh_dedup` (a fresh batch can contain its own dups).

    At 100 TB the snapshot's ``banded`` index and hashed-shingle table are
    write-once artifacts maintained alongside the corpus (bucketed on
    (band, bucket) and id respectively), so step 2 co-locates and the
    snapshot is never re-shingled — the per-ingest cost is O(batch +
    matched buckets), independent of corpus size.
    """
    hs_b, banded_b = _lsh_index(batch, id_col, text_col, num_hashes, bands, ngram)
    hs_s, banded_s = _lsh_index(snapshot, id_col, text_col, num_hashes, bands, ngram)

    snap_buckets = (
        banded_s.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_set("id")).alias("snap_ids"))
        .filter(F.size("snap_ids") <= max_bucket)
    )
    cand = (
        banded_b.join(snap_buckets, ["band", "bucket"])
        .select(F.col("id").alias("id_b"), F.explode("snap_ids").alias("id_s"))
        .dropDuplicates(["id_b", "id_s"])
    )
    inter = F.size(F.array_intersect("hs_batch", "hs_snap"))
    union = F.size("hs_batch") + F.size("hs_snap") - inter
    contaminated = (
        cand.join(hs_b.select(F.col("id").alias("id_b"), F.col("hs").alias("hs_batch")), "id_b")
        .join(hs_s.select(F.col("id").alias("id_s"), F.col("hs").alias("hs_snap")), "id_s")
        .filter((inter.cast("double") / union) >= jaccard_threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
        # materialize now so both shingle caches can be released before the
        # in-batch pass (which re-derives its own lineage from `batch`)
        .localCheckpoint(eager=True)
    )
    hs_b.unpersist()
    hs_s.unpersist()
    survivors = batch.join(contaminated, id_col, "left_anti")
    return minhash_lsh_dedup(
        survivors,
        text_col=text_col,
        id_col=id_col,
        num_hashes=num_hashes,
        bands=bands,
        jaccard_threshold=jaccard_threshold,
        ngram=ngram,
        max_bucket=max_bucket,
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(text: Column, bits: int = _HAMMING_BITS) -> Column:
    """SimHash signature: per-word xxhash64 bit votes, packed into a long.

    Pure per-row expression (O(words x bits) inside codegen) — no shuffle.
    NOTE: the word-hash transform is referenced ``bits`` times; callers
    processing many rows should materialize it in a prior projection and
    use :func:`simhash_from_hashes` (CollapseProject keeps a non-cheap
    multiply-referenced expression in its own stage, so the split+hash then
    runs once per row instead of once per bit).
    """
    return simhash_from_hashes(F.transform(F.split(text, " "), lambda w: F.xxhash64(w)), bits)


def simhash_from_hashes(word_hashes: Column, bits: int = _HAMMING_BITS) -> Column:
    """Signature from a pre-computed per-word hash array column."""
    sig = F.lit(0).cast("long")
    for j in range(bits):
        vote = _bit_vote(word_hashes, j)
        sig = sig + F.when(vote > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
    return sig


def simhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, sig) SimHash table — the production path for bulk signing.

    The per-word xxhash64 stays a JVM expression; the 63 bit votes run as a
    vectorized Arrow-batched pandas UDF (one (words x 63) numpy reduction
    per document). Higher-order-function lambdas are interpreted per
    element, so the pure-JVM expression form costs ~63 array folds per row —
    measured 4x slower than this hybrid on 50-word docs. Bit-identical to
    :func:`simhash` (unit-tested)."""
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415
    from pyspark.sql.types import LongType  # noqa: PLC0415

    shifts = np.arange(_HAMMING_BITS, dtype=np.uint64)

    @pandas_udf(LongType())
    def _sig(whs: pd.Series) -> pd.Series:
        out = np.empty(len(whs), dtype=np.int64)
        for i, arr in enumerate(whs):
            h = np.asarray(arr, dtype=np.uint64)
            votes = (((h[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int64) * 2 - 1).sum(axis=0)
            out[i] = int(((votes > 0).astype(np.uint64) << shifts).sum(dtype=np.uint64).astype(np.int64))
        return pd.Series(out)

    wh = F.transform(F.split(F.col(text_col), " "), lambda w: F.xxhash64(w))
    return fan_out_scan(df).select(F.col(id_col).alias("id"), _sig(wh).alias("sig"))


def _bit_vote(word_hashes: Column, j: int) -> Column:
    # Factory keeps the fold lambda binary (see _salted_minhash note).
    return F.aggregate(
        word_hashes,
        F.lit(0).cast("long"),
        lambda acc, x: acc + (F.shiftright(x, j).bitwiseAND(F.lit(1)) * 2 - 1),
    )


def simhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    observation=None,
) -> DataFrame:
    """Near-duplicate candidate pairs by SimHash banding.

    Signatures are cut into 4 x 16-bit bands; docs sharing any band value
    are candidates (any pair within Hamming distance 3 of a 64-bit hash
    must agree on at least one of 4 bands), verified by popcount(xor).
    """
    sig = simhash_signatures(df, text_col, id_col)
    banded = sig.select(
        "id",
        "sig",
        F.posexplode(
            F.array(*[F.shiftright(F.col("sig"), 16 * b).bitwiseAND(F.lit(0xFFFF)) for b in range(4)])
        ).alias("band", "bucket"),
    )
    cand = pairs_within_buckets(banded, ["band", "bucket"], payload_cols=("sig",), observation=observation)
    return (
        cand.select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# duplicate-cluster formation (transitive closure of the pair graph)
# ---------------------------------------------------------------------------

def _components_driver_unionfind(pairs: DataFrame, id_a: str, id_b: str) -> DataFrame:
    """Small-graph fast path: collect (id_a, id_b) longs, union-find with
    path compression, relabel every set to its min member — exactly the
    distributed fixpoint's output (min reachable id), including singleton
    semantics (every vertex that appears in any pair gets a row)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    rows = pairs.select(id_a, id_b).collect()
    for r in rows:
        a, b = int(r[0]), int(r[1])
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # min-id root => min labels
    out = [(x, find(x)) for x in parent]
    return tiny_local_df(pairs.sparkSession, out, "id long, component long")


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    max_driver_pairs: int = 2_000_000,
    force_path: str | None = None,
) -> DataFrame:
    """Connected components of the near-duplicate pair graph: (id, component)
    with component = min id reachable. Pair detectors find EDGES; dedup
    needs CLUSTERS (A~B, B~C => {A,B,C} keeps one survivor), so this is the
    step every real pipeline runs after MinHash/SimHash/cosine pairing.

    Routed by edge count (the same guarded-fast-path pattern as
    ``embedding_neardup_pairs``):

    - up to ``max_driver_pairs`` edges (2M pairs = 32 MB of longs): driver
      union-find — near-dup pair sets are usually tiny relative to the
      corpus, and a dozen distributed rounds cost more than collecting two
      long columns. Identical output to the distributed path (unit-pinned).
    - larger: iterative min-label propagation — each round every vertex
      takes the min of its own and its neighbors' labels, converging in
      O(graph diameter) rounds (near-dup graphs are shallow: big components
      are star/clique-like). Each round is one join + one aggregate,
      shuffle-keyed by vertex; ``localCheckpoint`` truncates the growing
      lineage so iteration N doesn't replan the earlier iterations. Raises if
      ``max_iter`` rounds don't converge (diameter > max_iter signals a
      pathological graph).

    ``force_path`` ('driver' | 'distributed') pins a path for tests.
    """
    if force_path not in (None, "driver", "distributed"):
        raise ValueError(f"unknown force_path: {force_path!r}")
    path = force_path
    routed = pairs
    if path is None:
        # persist before counting: the count and the consumer otherwise
        # each recompute the (often expensive) upstream candidate stage
        routed = pairs.persist()
        path = "driver" if routed.count() <= max_driver_pairs else "distributed"
    if path == "driver":
        try:
            return _components_driver_unionfind(routed, id_a, id_b)
        finally:
            if routed is not pairs:
                routed.unpersist()
    pairs = routed
    # one edge shuffle for the whole fixpoint (same discipline as
    # operators/graph.py::pagerank): the
    # per-round join is on dst, so the cached edge set is hash-partitioned
    # and sorted on dst with exactly the shuffle partition count — every
    # round re-shuffles only the O(V) label pairs, never the O(E) edges
    n_part = int(pairs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .repartition(n_part, F.col("dst"))
        .sortWithinPartitions("dst")
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    # Each eager localCheckpoint is materialized and lineage-independent, so
    # the PREVIOUS one can be released the moment a new one exists — without
    # this, every round leaks a cached RDD for the session's lifetime.
    # DataFrame.unpersist() only clears CacheManager entries, not checkpoint
    # RDDs, so the release goes through the LogicalRDD's backing RDD.
    live: list[DataFrame] = []

    def _release(df: DataFrame) -> None:
        try:
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)  # noqa: SLF001
        except Exception:  # noqa: BLE001 — best-effort (e.g. Spark Connect); leak beats crash
            pass

    def _cp(df: DataFrame) -> DataFrame:
        new = df.localCheckpoint(eager=True)
        for old in live:
            _release(old)
        live.clear()
        live.append(new)
        return new

    for _ in range(max_iter):
        labels = _cp(labels)
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        updated = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_component"), F.col("component"))
                ).alias("component"),
                (F.col("nbr_component") < F.col("component")).alias("_changed"),
            )
        )
        updated = _cp(updated)
        changed = updated.filter(F.col("_changed")).limit(1).count()
        labels = updated.drop("_changed")
        if changed == 0:
            edges.unpersist()
            if routed is not pairs:
                routed.unpersist()
            # the final checkpoint stays live — the returned labels read it
            return labels
    edges.unpersist()
    if routed is not pairs:
        routed.unpersist()
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


# ---------------------------------------------------------------------------
# n-gram Jaccard via inverted index
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.2,
    max_shingle_df: int | None = None,
    observation=None,
    cache_handle: list | None = None,
) -> DataFrame:
    """All pairs with word-n-gram Jaccard >= threshold, via an inverted
    index: explode distinct shingles, self-join on shingle (only docs that
    actually share a shingle ever meet), count shared shingles per pair.

    The shuffle is keyed by shingle, so skew follows shingle frequency.
    ``max_shingle_df`` is the scale lever: drop shingles appearing in more
    than that many documents (stop-ngrams) from the *index* before pairing —
    a hot shingle shared by m docs contributes m^2 intersection rows, so a
    df cap bounds the worst reducer. Default None keeps exact semantics
    (matches the SQL oracle); production corpora set it to O(100).
    Intersection counts for capped runs undercount only by the dropped
    stop-ngrams, biasing Jaccard down (conservative: no false positives
    become MORE similar). Pass a ``pyspark.sql.Observation`` to have the
    next action report ``dropped_postings`` / ``dropped_posting_ids`` /
    ``candidate_postings`` so capped runs can see what they lost.
    """
    sh = fan_out_scan(df).select(F.col(id_col).alias("id"), shingle_keys(F.col(text_col), n).alias("sh"))
    # consumed by sizes + both sides of the inverted-index join: materialize
    # once (the LSH "signature table" step; see minhash_lsh_pairs — same
    # cache_handle lifecycle)
    sh = sh.filter(F.size("sh") > 0).persist()
    if cache_handle is not None:
        cache_handle.append(sh)
    sizes = sh.select("id", F.size("sh").alias("n_sh"))
    # Inverted index on long shingle keys (shingle_keys): 8-byte join keys +
    # integer hash-partitioning, no shingle strings ever built or shuffled.
    # Intersection counts are unchanged up to 64-bit collisions.
    inv = sh.select("id", F.explode("sh").alias("s"))
    # Posting lists per shingle + in-task i<j expansion instead of an
    # inverted-index self-join: one shuffle keyed by shingle (the join
    # shuffled the same data twice), pair fan-out inside tasks. The df cap
    # drops hot postings before their m^2 expansion.
    # collect_list, not collect_set: ids are already unique per shingle
    # (shingle_keys is distinct per doc), so set-dedup hashing is pure cost
    postings = inv.groupBy("s").agg(F.array_sort(F.collect_list("id")).alias("ids"))
    if observation is not None:
        hot = F.size("ids") > F.lit(max_shingle_df if max_shingle_df is not None else 2**31 - 1)
        postings = postings.observe(
            observation,
            F.sum(hot.cast("long")).alias("dropped_postings"),
            F.sum(F.when(hot, F.size("ids")).otherwise(0).cast("long")).alias("dropped_posting_ids"),
            F.sum(((F.size("ids") > 1) & ~hot).cast("long")).alias("candidate_postings"),
        )
    postings = postings.filter(F.size("ids") > 1)
    if max_shingle_df is not None:
        postings = postings.filter(F.size("ids") <= max_shingle_df)
    pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda a, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
            ),
        )
    )
    pair_inter = (
        postings.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        pair_inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", F.col("inter").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "inter", "jaccard")
    )


def normalize_for_dedup(text: Column) -> Column:
    """Canonical text form for exact dedup: lowercase, non-alphanumerics to
    spaces, whitespace collapsed, trimmed. Catches the near-trivial
    duplicates (case, punctuation, spacing) that raw-byte hashing misses,
    at pure map cost — the standard first pass before MinHash spends real
    money on the hard ones."""
    return F.trim(F.regexp_replace(F.regexp_replace(F.lower(text), "[^a-z0-9 ]", " "), " +", " "))


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.9,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """All pairs with n-gram CONTAINMENT >= threshold: inter / min(|A|, |B|).

    Jaccard misses asymmetric inclusion — a document wholly quoted inside a
    much larger one has jaccard ~= |A|/|B| (small) but containment 1.0; a
    training-corpus boilerplate/quotation detector needs the latter. Same
    inverted-index plan as ngram_jaccard_pairs (one shuffle keyed by the
    8-byte shingle hash, in-task i<j pair expansion, optional df cap for hot
    shingles), only the normalization differs.
    """
    sh = fan_out_scan(df).select(
        F.col(id_col).alias("id"), shingle_keys(F.col(text_col), n).alias("sh")
    )
    sh = sh.filter(F.size("sh") > 0)
    sizes = sh.select("id", F.size("sh").alias("n_sh"))
    inv = sh.select("id", F.explode("sh").alias("s"))
    postings = inv.groupBy("s").agg(F.array_sort(F.collect_list("id")).alias("ids"))
    postings = postings.filter(F.size("ids") > 1)
    if max_shingle_df is not None:
        postings = postings.filter(F.size("ids") <= max_shingle_df)
    pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda a, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
            ),
        )
    )
    pair_inter = (
        postings.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    # exact integer-micro containment: for integer
    # k, trunc(p*1e6/q) >= k <=> p*1e6 >= k*q, so the micro threshold is
    # EXACTLY the rational threshold — no float compare at the boundary
    thresh_micro = int(round(threshold * 1_000_000))
    return (
        pair_inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "containment_micro",
            F.expr("(inter * CAST(1000000 AS BIGINT)) div least(n_a, n_b)"),
        )
        .filter(F.col("containment_micro") >= thresh_micro)
        .select("id_a", "id_b", "inter", "containment_micro")
    )


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    cache_handle: list | None = None,
) -> DataFrame:
    """PPJoin-style prefix-filtered Jaccard join — same RESULT as
    :func:`ngram_jaccard_pairs` at the same threshold, far fewer candidate
    pairs.

    Prefix-filtering theorem: order every document's shingles by a global
    total order (ascending document frequency, rarest first); two documents
    with Jaccard >= t MUST share at least one shingle inside each one's
    first ``|d| - floor(t*|d|) + 1`` shingles. So only the prefixes are
    indexed — the posting lists that drive the m^2 pair expansion shrink by
    ~(1-t), and crucially they shrink MOST for the hot (high-df) shingles
    that dominate the expansion, because high-df shingles sort to the END
    of every document and fall out of the prefixes entirely. Candidates are
    then verified with the exact intersection, so the filter is lossless —
    the oracle for the unfiltered operator checks this one too.

    Extra cost vs the plain plan: ONE extra
    id-keyed shuffle. The single shingle-keyed aggregation that the plain
    plan already pays (posting lists) is reused for BOTH the df-count and
    the rarest-first ordering — the old plan computed a separate df
    aggregate, joined it back onto the exploded tokens (a second
    shingle-keyed shuffle of the full token stream), and re-aggregated,
    which is why it measured 2.4x SLOWER than its unfiltered twin at sf0.1.
    At 100 TB this trade is the difference between a feasible and an
    infeasible all-pairs stage; the df-cap lever in the plain operator
    bounds the same expansion but LOSSILY.
    """
    sh = fan_out_scan(df).select(
        F.col(id_col).alias("id"), shingle_keys(F.col(text_col), n).alias("sh")
    )
    # consumed by the full-index aggregation AND both verify sides — same
    # persist/cache_handle lifecycle as ngram_jaccard_pairs
    sh = sh.filter(F.size("sh") > 0).persist()
    if cache_handle is not None:
        cache_handle.append(sh)

    # ONE full-index aggregation: posting list per shingle carries the
    # document frequency as size(ids) — df-count and global (df, s) order
    # come for free, no second token shuffle
    tok = sh.select("id", F.explode("sh").alias("s"))
    postings_full = tok.groupBy("s").agg(F.collect_list("id").alias("ids"))

    # per-document shingles sorted rarest-first; keep only the prefix
    ordered = (
        postings_full.select("s", F.size("ids").alias("df"), F.explode("ids").alias("id"))
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "s"))).alias("toks"))
    )
    n_sh = F.size("toks")
    # floor (not ceil) keeps the prefix >= the theoretical bound: lossless
    p_len = (n_sh - F.floor(F.lit(threshold) * n_sh) + 1).cast("int")
    prefix = ordered.select(
        "id", F.transform(F.slice("toks", F.lit(1), p_len), lambda x: x["s"]).alias("pref")
    )

    # index ONLY prefixes; i<j pair expansion inside posting lists
    postings = (
        prefix.select(F.explode("pref").alias("s"), "id")
        .groupBy("s")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda a, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
            ),
        )
    )
    cand = (
        postings.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )

    # exact verify: the full shingle sets of both sides, array_intersect
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    out = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.size("sh_a") + F.size("sh_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "inter", "jaccard")
    )
    return out


def shingle_df_sample_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    sample_docs: int = 4096,
) -> dict:
    """Planner-statistics pass for the Jaccard-join router: shingle
    document-frequency stats measured on a deterministic hash sample of
    ~``sample_docs`` documents (two small driver actions — a count and a
    one-row aggregate — the same kind of stats collection AQE does between
    stages). ``max_df_ratio`` is the fraction of sampled docs sharing the
    hottest shingle; boilerplate corpora concentrate df, uniform corpora
    don't."""
    n_docs = df.count()
    mod = 1 << 20
    keep = max(1, min(mod, int(mod * sample_docs / max(n_docs, 1))))
    sample = df if n_docs <= sample_docs else df.filter(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(mod)) < keep
    )
    sh = sample.select(
        F.col(id_col).alias("id"), shingle_keys(F.col(text_col), n).alias("sh")
    ).filter(F.size("sh") > 0)
    row = (
        sh.select("id", F.explode("sh").alias("s"))
        .groupBy("s")
        .agg(F.count("*").alias("df"))
        .agg(
            F.max("df").alias("max_df"),
            F.count("*").alias("n_shingles"),
        )
        .crossJoin(F.broadcast(sh.agg(F.count("*").alias("n_sampled"))))
        .first()
    )
    n_sampled = int(row["n_sampled"] or 0)
    max_df = int(row["max_df"] or 0)
    return {
        "n_docs": n_docs,
        "n_sampled": n_sampled,
        "max_df": max_df,
        "max_df_ratio": (max_df / n_sampled) if n_sampled else 0.0,
    }


def ngram_jaccard_pairs_auto(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    sample_docs: int = 4096,
    hot_doc_ratio: float = 0.02,
    min_hot_df: int = 8,
    cache_handle: list | None = None,
    decision_handle: dict | None = None,
) -> DataFrame:
    """Statistics-routed Jaccard join: same RESULT as both underlying plans
    (the prefix filter is lossless at equal threshold), plan chosen from
    measured shingle-df concentration instead of by hand (SCALE.md
    'prefix-Jaccard crossover').

    Routing rule, from the measured crossover: the prefix filter's ~2 extra
    shuffles pay off exactly when hot shingles drive a quadratic pair
    expansion — its prefixes shed high-df shingles entirely. The 50k-doc
    probes put the boilerplate corpus (hottest shingle in 4% of docs) at
    prefix-wins-by-1.3x and the uniform corpus (max df ~10 docs) at a
    statistical tie, so the router sends a corpus to the prefix plan when
    the sampled hottest shingle covers >= ``hot_doc_ratio`` (2%) of sampled
    docs (with an absolute ``min_hot_df`` floor so a handful of colliding
    docs in a small sample can't trigger it) and to the cheaper plain plan
    otherwise. Misrouting is a performance miss, never a correctness one.

    ``decision_handle``: pass a dict to receive the routing decision and
    the measured stats (for logs/Observations)."""
    stats = shingle_df_sample_stats(
        df, text_col=text_col, id_col=id_col, n=n, sample_docs=sample_docs
    )
    hot = stats["max_df"] >= min_hot_df and stats["max_df_ratio"] >= hot_doc_ratio
    if decision_handle is not None:
        decision_handle.update(stats, route="prefix" if hot else "plain")
    if hot:
        return ngram_jaccard_pairs_prefix(
            df, text_col=text_col, id_col=id_col, n=n, threshold=threshold,
            cache_handle=cache_handle,
        )
    return ngram_jaccard_pairs(
        df, text_col=text_col, id_col=id_col, n=n, threshold=threshold,
        cache_handle=cache_handle,
    )


# ---------------------------------------------------------------------------
# cross-document line dedup (C4 / RefinedWeb style)
# ---------------------------------------------------------------------------

def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_words: int = 8,
) -> DataFrame:
    """C4-style bulk line deduplication: any line occurring in more than one
    place across the corpus is kept ONLY at its first occurrence (min
    (doc_id, line_no)) and removed everywhere else — the web-corpus cleanup
    that strips boilerplate (nav bars, cookie banners, license headers)
    repeated across millions of pages.

    The fixtures carry no newlines, so a "line" is a non-overlapping
    ``line_words``-word segment; a real corpus passes its own splitter by
    pre-exploding on \\n and the rest of the plan is identical.

    Returns one row per document: ``doc_id, n_lines, n_removed,
    cleaned_text`` (kept lines re-joined in order).

    Scale shape: the keeper table is ONE aggregation keyed by line using a
    map-side-combinable min(struct(doc_id, line_no)) — deliberately NOT a
    row_number window, whose single-reducer sort on a mega-hot boilerplate
    line is exactly the skew this operator exists to survive. The join back
    is line-keyed (AQE skew-split handles the hot lines); reassembly is one
    doc-keyed shuffle. No driver materialization anywhere.
    """
    words = F.split(F.col(text_col), " ")
    n_lines = F.greatest(
        F.ceil(F.size(words) / F.lit(line_words)).cast("int"), F.lit(1)
    )
    lines = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_lines - 1),
                lambda i: F.array_join(
                    F.slice(words, i * line_words + 1, line_words), " "
                ),
            )
        ).alias("line_no", "line"),
    )
    keepers = lines.groupBy("line").agg(
        F.min(F.struct("doc_id", "line_no")).alias("keep"),
        F.count("*").alias("occ"),
    )
    marked = lines.join(keepers, "line").withColumn(
        "kept",
        (F.col("occ") == 1)
        | (
            (F.col("doc_id") == F.col("keep.doc_id"))
            & (F.col("line_no") == F.col("keep.line_no"))
        ),
    )
    return marked.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_lines"),
        F.sum((~F.col("kept")).cast("long")).alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(F.col("kept"), F.struct("line_no", "line")))
                ),
                lambda x: x["line"],
            ),
            " ",
        ).alias("cleaned_text"),
    )
