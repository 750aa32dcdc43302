"""Catalog queries for the corpus-curation operators (decontamination,
repetition metrics, snapshot-incremental dedup, sequence packing).

Benchmark/batch splits are derived deterministically from doc_id mod
rules so the DuckDB oracle can reconstruct the identical inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from data_integration_and_processing_spark.operators.curation import (
    dedup_against_snapshot,
    flag_contaminated,
    pack_sequences,
    repetition_metrics,
)
from data_integration_and_processing_spark.queries.catalog import register
from data_integration_and_processing_spark.operators.parallelism import fan_out_scan
from data_integration_and_processing_spark.sources.tables import load_table


@register(
    "text_decontaminate",
    oracle="""
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        bg AS (
            SELECT DISTINCT concat_ws(' ', words[i], words[i+1], words[i+2], words[i+3]) AS gram
            FROM w, unnest(generate_series(1, len(words) - 3)) AS t(i)
            WHERE doc_id % 41 = 7
        ),
        dg AS (
            SELECT DISTINCT doc_id, concat_ws(' ', words[i], words[i+1], words[i+2], words[i+3]) AS gram
            FROM w, unnest(generate_series(1, len(words) - 3)) AS t(i)
            WHERE doc_id % 41 <> 7
        )
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared_grams
        FROM dg JOIN bg USING (gram)
        GROUP BY doc_id
    """,
    description=(
        "benchmark decontamination: training docs sharing any word 4-gram with the "
        "held-out benchmark split (doc_id % 41 = 7), with distinct-shared-gram counts. "
        "Benchmark gram set is broadcast -> zero corpus shuffle"
    ),
    tags=("text", "north-star", "curation"),
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out_scan(load_table(spark, sf_dir, "documents"))
    bench = d.filter(F.col("doc_id") % 41 == 7)
    train = d.filter(F.col("doc_id") % 41 != 7)
    return flag_contaminated(train, bench, n=4)


@register(
    "text_repetition_metrics",
    oracle="""
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS words FROM documents
            WHERE len(string_split(text, ' ')) >= 2
        ),
        g AS (
            SELECT doc_id, concat_ws(' ', words[i], words[i+1]) AS gram
            FROM w, unnest(generate_series(1, len(words) - 1)) AS t(i)
        ),
        gc AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram),
        top AS (
            SELECT doc_id, max(c) AS maxc, CAST(sum(c) AS BIGINT) AS total
            FROM gc GROUP BY doc_id
        )
        SELECT doc_id,
               CAST(len(words) AS BIGINT) AS n_words,
               1000000 - CAST((len(list_distinct(words)) * 1000000)
                              // len(words) AS BIGINT) AS dup_word_frac_micro,
               CAST((maxc * 1000000) // total AS BIGINT) AS top_ngram_frac_micro
        FROM w JOIN top USING (doc_id)
    """,
    description=(
        "Gopher-style repetition metrics per doc: duplicate-word fraction and "
        "most-frequent-2-gram share. Spark side is a sort + run-length aggregate fold "
        "over the gram array (zero shuffle); the oracle is the explode+groupBy form — "
        "their equality is the correctness claim"
    ),
    tags=("text", "north-star", "curation"),
)
def text_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out_scan(load_table(spark, sf_dir, "documents"))
    return repetition_metrics(d, n=2)


@register(
    "dedup_incremental_snapshot",
    oracle="""
        WITH snap AS (
            SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 3 <> 0
        ),
        batch AS (
            SELECT doc_id AS id, text FROM documents WHERE doc_id % 3 = 0
            UNION ALL
            SELECT doc_id + 20000 AS id, text FROM documents WHERE doc_id % 7 = 1
        ),
        first_wins AS (SELECT md5(text) AS fp, min(id) AS id FROM batch GROUP BY md5(text))
        SELECT id, fp FROM first_wins WHERE fp NOT IN (SELECT fp FROM snap)
    """,
    description=(
        "incremental exact dedup of a new batch against a prior corpus snapshot "
        "(digest anti-join, first-wins within batch): O(batch) instead of re-deduping "
        "the whole corpus per ingest; only 16-byte digests shuffle"
    ),
    tags=("dedup", "north-star", "curation", "incremental"),
)
def dedup_incremental_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out_scan(load_table(spark, sf_dir, "documents"))
    snapshot = d.filter(F.col("doc_id") % 3 != 0).select(F.col("doc_id").alias("id"), "text")
    batch = (
        d.filter(F.col("doc_id") % 3 == 0)
        .select(F.col("doc_id").alias("id"), "text")
        .unionByName(
            d.filter(F.col("doc_id") % 7 == 1).select(
                (F.col("doc_id") + 20000).alias("id"), "text"
            )
        )
    )
    return dedup_against_snapshot(batch, snapshot)


_PACK_BUDGET = 256


def pack_sequences_budget_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw packed assignment (bin boundaries are decision-dependent, so the
    registered entry wraps this in the exact+invariant audit form)."""
    d = fan_out_scan(load_table(spark, sf_dir, "documents"))
    return pack_sequences(d, token_budget=_PACK_BUDGET)


@register(
    "pack_sequences_budget",
    # Audit form: next-fit bin boundaries are
    # decision-dependent — not a window/prefix-sum expression — so the
    # driver-checked output is the exact corpus arithmetic the oracle
    # recomputes (doc/token/oversized counts) plus boolean invariants of the
    # real packing: every doc exactly once, no multi-doc sequence over
    # budget, and sequence count inside [ceil(small/budget)+big,
    # 2*ceil(small/budget)+n_buckets+big] (the next-fit guarantee; oversized
    # docs always sit alone). Raw assignment: pack_sequences_budget_raw;
    # determinism + in-seq order pinned in tests/test_curation.py.
    oracle=f"""
        WITH t AS (SELECT len(string_split(text, ' ')) AS nt FROM documents)
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(nt) AS BIGINT) AS total_tokens,
               CAST(count(*) FILTER (WHERE nt > {_PACK_BUDGET}) AS BIGINT) AS n_big_docs,
               true AS each_doc_once_ok,
               true AS budget_ok,
               true AS seq_bounds_ok
        FROM t
    """,
    description=(
        "token-budget sequence packing for training (next-fit per deterministic hash "
        "bucket via applyInPandas; 256 buckets >> cores so the serial loop still "
        "saturates; globally unique seq ids without coordination), driver-checked "
        "in audit form: exact doc/token counts + packing-invariant booleans "
        "(raw assignment: pack_sequences_budget_raw)"
    ),
    tags=("text", "north-star", "curation", "udf"),
)
def pack_sequences_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    packed = pack_sequences_budget_raw(spark, sf_dir)
    budget = _PACK_BUDGET
    per_seq = packed.groupBy("seq_id").agg(
        F.sum("n_tokens").alias("st"), F.count("*").alias("nd")
    )
    seq_stats = per_seq.agg(
        F.count("*").alias("n_seqs"),
        F.min((F.col("st") <= budget) | (F.col("nd") == 1)).alias("budget_ok"),
    )
    from data_integration_and_processing_spark.operators.curation import (  # noqa: PLC0415
        PACK_N_BUCKETS,
    )

    doc_stats = packed.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("doc_id").alias("n_distinct"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum(F.when(F.col("n_tokens") > budget, 1).otherwise(0)).cast("long").alias("n_big_docs"),
        # coalesce: with zero within-budget docs the conditional sum is NULL,
        # which would turn both bound booleans NULL instead of true/false
        F.coalesce(
            F.sum(F.when(F.col("n_tokens") <= budget, F.col("n_tokens")).otherwise(0)),
            F.lit(0),
        ).alias("small_tokens"),
    )
    # next-fit can leave at most one partial sequence open per hash bucket,
    # so the upper bound carries the operator's own bucket-count constant
    lower = F.ceil(F.col("small_tokens") / budget) + F.col("n_big_docs")
    upper = (
        2 * F.ceil(F.col("small_tokens") / budget)
        + F.lit(PACK_N_BUCKETS)
        + F.col("n_big_docs")
    )
    return doc_stats.crossJoin(seq_stats).select(  # two 1-row frames
        "n_docs",
        "total_tokens",
        "n_big_docs",
        (F.col("n_distinct") == F.col("n_docs")).alias("each_doc_once_ok"),
        "budget_ok",
        ((F.col("n_seqs") >= lower) & (F.col("n_seqs") <= upper)).alias("seq_bounds_ok"),
    )


# ---------------------------------------------------------------------------
# cross-source duplicate overlap (contamination between dumps)
# ---------------------------------------------------------------------------

_SOURCE_OVERLAP_ORACLE = """
WITH d AS (
    SELECT DISTINCT source,
           md5(array_to_string((string_split(lower(text), ' '))[1:8], ' ')) AS digest
    FROM documents
),
sizes AS (
    SELECT source, count(*) AS n_distinct FROM d GROUP BY source
),
shared AS (
    SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
    FROM d a JOIN d b ON a.digest = b.digest AND a.source < b.source
    GROUP BY a.source, b.source
)
SELECT s.source_a, s.source_b, s.n_shared,
       sa.n_distinct AS n_a, sb.n_distinct AS n_b,
       (s.n_shared * CAST(1000000 AS BIGINT))
           // (sa.n_distinct + sb.n_distinct - s.n_shared) AS jaccard_micro
FROM shared s
JOIN sizes sa ON sa.source = s.source_a
JOIN sizes sb ON sb.source = s.source_b
ORDER BY s.source_a, s.source_b
"""


@register(
    "corpus_source_overlap",
    oracle=_SOURCE_OVERLAP_ORACLE,
    description=(
        "duplicate-content overlap between corpus sources (the 'is dump B a "
        "re-crawl of dump A' contamination question), keyed on a normalized "
        "8-word-prefix fingerprint (the standard blocking key when exact digests "
        "are too strict): distinct (source, digest) pairs, digest-keyed self-join "
        "so only 16-byte digests ever shuffle — "
        "never document text — then a source-pair-cardinality aggregate with "
        "Jaccard from broadcast per-source sizes. The digest join key is "
        "high-cardinality and uniform, so partitions stay balanced at 100 TB"
    ),
    tags=("curation", "dedup", "join", "north-star"),
)
def corpus_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    prefix = F.concat_ws(" ", F.slice(F.split(F.lower("text"), " "), 1, 8))
    d = docs.select("source", F.md5(prefix.cast("binary")).alias("digest")).distinct()
    sizes = d.groupBy("source").agg(F.count("*").alias("n_distinct"))
    a = d.select(F.col("source").alias("source_a"), "digest")
    b = d.select(F.col("source").alias("source_b"), "digest")
    shared = (
        a.join(b, "digest")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n_distinct").alias("n_a"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n_distinct").alias("n_b"))
    return (
        shared.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_a",
            "n_b",
            # exact integer-micro
            F.expr(
                "(n_shared * CAST(1000000 AS BIGINT)) div (n_a + n_b - n_shared)"
            ).alias("jaccard_micro"),
        )
        .orderBy("source_a", "source_b")
    )


# 64 synthetic boilerplate tokens planted verbatim at the head of every
# 10th document for the dedup_chunk_neardup audit: exactly one 64-token
# chunk window (chunk_id 0), so every planted doc's chunk 0 is IDENTICAL —
# signature equality makes LSH recall on the planted ledger exactly 1, not
# probabilistic, and the tokens appear nowhere in the natural corpus so the
# planted pairs are disjoint from natural boilerplate hits.
_PLANT_BOILERPLATE = " ".join(f"bpqz{i:03d}" for i in range(64))


@register(
    "dedup_chunk_neardup",
    # Audit form (same shape as multimodal_phash_neardup): MinHash banding has no DuckDB twin, but the
    # PLANTED ground truth does — every 10th doc gets the same 64-token
    # boilerplate passage prepended, which lands as an identical chunk 0 in
    # each, so all C(k,2) planted (doc_a, doc_b) chunk-0 pairs MUST appear
    # with exact Jaccard 1.0 (identical text => identical signature => same
    # bucket in every band; deterministic, not a recall floor). The
    # driver-checked row is the exact planted-ledger arithmetic plus
    # structural booleans. Raw cross-document pair table:
    # dedup_chunk_neardup_raw (invariants pinned in tests/test_chunking.py).
    oracle="""
        WITH k AS (
            SELECT CAST(count(*) AS BIGINT) AS n
            FROM documents WHERE doc_id % 10 = 0
        )
        SELECT n AS n_planted_docs,
               CAST(n * (n - 1) / 2 AS BIGINT) AS n_planted_pairs,
               CAST(n * (n - 1) / 2 AS BIGINT) AS n_planted_caught,
               true AS planted_exact_ok,
               true AS cross_doc_only_ok,
               true AS verified_threshold_ok
        FROM k
    """,
    description=(
        "passage-level near-dedup: chunk every document into overlapping "
        "64-token windows (shuffle-free in-task fan-out), then MinHash-LSH "
        "banding over chunk texts finds near-duplicate PASSAGES across "
        "documents — the cross-document boilerplate detector exact doc-level "
        "dedup misses. Driver-checked in audit form: a planted boilerplate "
        "passage (prepended to every 10th doc as an identical chunk 0) must "
        "surface as exactly C(k,2) cross-document pairs at Jaccard 1.0, and "
        "the output must be cross-document-only and threshold-verified "
        "(raw pair table: dedup_chunk_neardup_raw)"
    ),
    tags=("curation", "dedup", "chunking", "north-star"),
)
def dedup_chunk_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(F.lit(_PLANT_BOILERPLATE + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    pairs = _chunk_neardup_pairs(planted).localCheckpoint(eager=True)
    is_planted_pair = (
        (F.col("doc_a") % 10 == 0)
        & (F.col("doc_b") % 10 == 0)
        & (F.col("chunk_a") == 0)
        & (F.col("chunk_b") == 0)
    )
    caught = pairs.agg(
        F.sum(is_planted_pair.cast("long")).alias("n_planted_caught"),
        F.coalesce(
            F.min(F.when(is_planted_pair, F.col("jaccard") == 1.0)), F.lit(False)
        ).alias("planted_exact_ok"),
        F.coalesce(F.min(F.col("doc_a") != F.col("doc_b")), F.lit(False)).alias(
            "cross_doc_only_ok"
        ),
        F.coalesce(F.min(F.col("jaccard") >= 0.6), F.lit(False)).alias(
            "verified_threshold_ok"
        ),
    )
    ledger = (
        d.filter(F.col("doc_id") % 10 == 0)
        .agg(F.count("*").alias("n_planted_docs"))
        .select(
            "n_planted_docs",
            F.expr("CAST(n_planted_docs * (n_planted_docs - 1) DIV 2 AS BIGINT)").alias(
                "n_planted_pairs"
            ),
        )
    )
    return ledger.crossJoin(F.broadcast(caught)).select(
        "n_planted_docs",
        "n_planted_pairs",
        "n_planted_caught",
        "planted_exact_ok",
        "cross_doc_only_ok",
        "verified_threshold_ok",
    )


def dedup_chunk_neardup_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw cross-document chunk near-dup pair table over the unmodified
    corpus (the pre-audit-form registered output)."""
    d = load_table(spark, sf_dir, "documents")
    return _chunk_neardup_pairs(d).orderBy("doc_a", "chunk_a", "doc_b", "chunk_b")


def _chunk_neardup_pairs(d: DataFrame) -> DataFrame:
    from data_integration_and_processing_spark.operators.dedup import minhash_lsh_pairs  # noqa: PLC0415
    from data_integration_and_processing_spark.operators.text_analysis import chunk_documents  # noqa: PLC0415

    # chunk key packs (doc, chunk) into one long: doc_id < 1e12 in any
    # fixture, chunk_id < 4096 for docs under ~196k words at this stride.
    # The in-plan guard raises instead of silently attributing chunks of an
    # over-long document to the wrong doc_id.
    packed = F.when(
        F.col("chunk_id") < 4096, F.col("doc_id") * 4096 + F.col("chunk_id")
    ).otherwise(F.raise_error(F.concat(F.lit("chunk_id overflows 4096-slot packing for doc_id="), F.col("doc_id").cast("string"))))
    chunks = chunk_documents(d, chunk_tokens=64, overlap=16).select(
        packed.alias("chunk_key"),
        F.col("chunk_text"),
    )
    pairs = minhash_lsh_pairs(
        chunks, text_col="chunk_text", id_col="chunk_key", jaccard_threshold=0.6
    )
    # dividing by a power of two is EXACT in binary floating point (pure
    # exponent shift), so the cast-back can never round across a key
    doc_a = (F.col("id_a") / 4096).cast("long")
    doc_b = (F.col("id_b") / 4096).cast("long")
    return (
        pairs.withColumn("doc_a", doc_a)
        .withColumn("doc_b", doc_b)
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select(
            "doc_a",
            (F.col("id_a") % 4096).alias("chunk_a"),
            "doc_b",
            (F.col("id_b") % 4096).alias("chunk_b"),
            "jaccard",
        )
    )


@register(
    "pipeline_entity_resolution",
    oracle="""
        WITH base AS (
            SELECT s_suppkey,
                   lower(trim(s_name)) || ' '
                   || CAST(CAST(s_acctbal AS DECIMAL(12,2)) AS VARCHAR) AS nm
            FROM supplier
        ),
        ent AS (
            SELECT s_suppkey AS id, nm AS name FROM base
            UNION ALL
            SELECT s_suppkey + 10000,
                   concat(substr(nm, 1, (s_suppkey % 10) + 1),
                          substr(nm, (s_suppkey % 10) + 3))
            FROM base
        ),
        edges AS (
            SELECT a.id AS ea, b.id AS eb
            FROM ent a JOIN ent b
              ON a.id < b.id AND levenshtein(a.name, b.name) <= 1
        ),
        sym AS (
            SELECT ea AS a, eb AS b FROM edges
            UNION SELECT eb, ea FROM edges
        ),
        reach AS (
            WITH RECURSIVE r(a, b) AS (
                SELECT id, id FROM ent
                UNION
                SELECT r.a, sym.b FROM r JOIN sym ON r.b = sym.a
            )
            SELECT * FROM r
        ),
        lab AS (SELECT a AS id, min(b) AS component FROM reach GROUP BY a),
        cl AS (
            -- members serialized to CSV: the driver's canonicalizer cannot
            -- sort list-typed columns, so array outputs are
            -- string-rendered on both sides
            SELECT component AS cluster_rep,
                   CAST(count(*) AS BIGINT) AS n_members,
                   array_to_string(list_sort(list(id)), ',') AS members
            FROM lab GROUP BY component
        )
        SELECT cl.cluster_rep, cl.n_members, cl.members, e.name AS rep_name
        FROM cl JOIN ent e ON e.id = cl.cluster_rep
        ORDER BY cl.cluster_rep
    """,
    description=(
        "end-to-end entity resolution: normalize -> SymSpell deletion-neighborhood "
        "blocking (exact recall at edit distance 1, no cross join) -> levenshtein "
        "verify on candidates -> similarity graph -> connected components -> "
        "canonical min-id cluster with members and representative name. The oracle "
        "cross-joins levenshtein and closes the graph with a recursive CTE — "
        "feasible only at oracle scale, which is exactly the point of the blocked "
        "plan. The dedup twin of pipeline_training_corpus for structured records"
    ),
    tags=("curation", "linkage", "dedup", "graph", "pipeline", "north-star"),
)
def pipeline_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.operators.dedup import connected_components  # noqa: PLC0415
    from data_integration_and_processing_spark.operators.linkage import fuzzy_join_within_k  # noqa: PLC0415

    s = load_table(spark, sf_dir, "supplier")
    name = F.concat(
        F.lower(F.trim(F.col("s_name"))),
        F.lit(" "),
        F.col("s_acctbal").cast("decimal(12,2)").cast("string"),
    )
    orig = s.select(F.col("s_suppkey").alias("id"), name.alias("name"))
    p = (F.col("s_suppkey") % 10) + 1
    mutated = s.select(
        (F.col("s_suppkey") + 10000).alias("id"),
        F.concat(F.substring(name, 1, p), F.substring(name, p + 2, F.lit(128))).alias("name"),
    )
    ent = orig.unionByName(mutated)
    base = ent.select(F.col("id").alias("id_a"), F.col("name").alias("name_a"))
    probes = ent.select(F.col("id").alias("id_b"), F.col("name").alias("name_b"))
    pairs = (
        fuzzy_join_within_k(base, probes, "name_a", "name_b", max_len=64, k=1)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    lab = connected_components(pairs)
    # singletons keep their own id as component
    labeled = (
        ent.join(lab, ent.id == lab.id, "left")
        .select(ent.id.alias("eid"), F.coalesce("component", ent.id).alias("component"))
    )
    cl = labeled.groupBy("component").agg(
        F.count("*").alias("n_members"),
        F.array_join(
            F.transform(F.array_sort(F.collect_list("eid")), lambda x: x.cast("string")), ","
        ).alias("members"),
    )
    return (
        cl.join(ent, cl.component == ent.id)
        .select(
            F.col("component").alias("cluster_rep"),
            "n_members",
            "members",
            F.col("name").alias("rep_name"),
        )
        .orderBy("cluster_rep")
    )


# ---------------------------------------------------------------------------
# n-gram novelty scoring (redundancy curve for data ordering)
# ---------------------------------------------------------------------------

_NOVELTY_ORACLE = """
WITH sh AS (
    SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, len(string_split(text, ' ')) - 2),
               i -> concat_ws(' ', string_split(text, ' ')[i],
                                   string_split(text, ' ')[i+1],
                                   string_split(text, ' ')[i+2])))) AS s
    FROM documents WHERE len(string_split(text, ' ')) >= 3
),
first_seen AS (SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s),
per_doc AS (
    SELECT sh.doc_id,
           count(*) AS n_shingles,
           CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
    FROM sh JOIN first_seen f ON f.s = sh.s
    GROUP BY sh.doc_id
)
SELECT doc_id, n_shingles, n_novel,
       CAST((n_novel * 1000000) // n_shingles AS BIGINT) AS novelty_micro
FROM per_doc ORDER BY doc_id
"""


@register(
    "text_ngram_novelty",
    oracle=_NOVELTY_ORACLE,
    description=(
        "per-document n-gram novelty: the fraction of a doc's distinct shingles "
        "whose FIRST appearance (min doc_id over the corpus order) is this doc — "
        "the redundancy curve that tells a curriculum/data-ordering pipeline when "
        "additional documents stop contributing new content. Two shuffles: "
        "first-seen per shingle (8-byte hash keys, map-side combinable min), then "
        "the doc-keyed novel-count fold. The streaming complement is "
        "stream_neardup_incremental's survivor rate"
    ),
    tags=("curation", "text", "north-star", "dedup"),
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.operators.dedup import shingle_keys  # noqa: PLC0415
    from data_integration_and_processing_spark.operators.parallelism import fan_out_scan  # noqa: PLC0415

    d = fan_out_scan(load_table(spark, sf_dir, "documents"))
    sh = d.select("doc_id", F.explode(shingle_keys(F.col("text"), 3)).alias("s"))
    first_seen = sh.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        sh.join(first_seen, "s")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)).alias("n_novel"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_novel",
        # exact integer-micro
        F.expr("(n_novel * CAST(1000000 AS BIGINT)) div n_shingles").alias(
            "novelty_micro"
        ),
    ).orderBy("doc_id")


@register(
    "text_line_dedup",
    oracle="""
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        lines AS (
            SELECT doc_id, CAST(i AS BIGINT) AS line_no,
                   array_to_string(list_slice(ws, i * 8 + 1, i * 8 + 8), ' ') AS line
            FROM w, unnest(generate_series(0,
                     greatest(CAST(ceil(len(ws) / 8.0) AS BIGINT), 1) - 1)) AS t(i)
        ),
        marked AS (
            SELECT doc_id, line_no, line,
                   (count(*) OVER (PARTITION BY line) = 1
                    OR row_number() OVER (PARTITION BY line
                                          ORDER BY doc_id, line_no) = 1) AS kept
            FROM lines
        )
        SELECT doc_id,
               count(*) AS n_lines,
               CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
               coalesce(string_agg(CASE WHEN kept THEN line END, ' ' ORDER BY line_no), '')
                   AS cleaned_text
        FROM marked GROUP BY doc_id
    """,
    description=(
        "C4/RefinedWeb-style cross-document line dedup: every 8-word line kept "
        "only at its first occurrence (min doc_id, line_no) corpus-wide — the "
        "boilerplate stripper (nav bars, cookie banners, license headers) every "
        "web-scale training pipeline runs before near-dedup. Keeper selection is "
        "a map-side-combinable min(struct) aggregation keyed by line, NOT a "
        "row_number window, so a mega-hot boilerplate line cannot pin one "
        "reducer; reassembly is one doc-keyed shuffle"
    ),
    tags=("curation", "dedup", "text", "north-star", "scale"),
)
def text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.operators.dedup import line_dedup  # noqa: PLC0415

    d = fan_out_scan(load_table(spark, sf_dir, "documents"))
    return line_dedup(d, text_col="text", id_col="doc_id", line_words=8)


@register(
    "text_decontaminate_fuzzy",
    oracle="""
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        sh AS (
            SELECT doc_id, unnest(list_distinct(list_transform(
                       generate_series(1, len(words) - 2),
                       i -> concat_ws(' ', words[i], words[i+1], words[i+2])))) AS s
            FROM w WHERE len(words) >= 3
        ),
        bench AS (SELECT doc_id, s FROM sh WHERE doc_id % 41 = 7),
        train AS (SELECT doc_id, s FROM sh WHERE doc_id % 41 <> 7),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
            SELECT t.doc_id AS train_id, b.doc_id AS bench_id, count(*) AS shared
            FROM train t JOIN bench b ON t.s = b.s
            GROUP BY t.doc_id, b.doc_id
        )
        SELECT i.train_id, i.bench_id, i.shared,
               (i.shared * CAST(1000000 AS BIGINT))
                   // (st.n_sh + sb.n_sh - i.shared) AS jaccard_micro
        FROM inter i
        JOIN sizes st ON st.doc_id = i.train_id
        JOIN sizes sb ON sb.doc_id = i.bench_id
        WHERE i.shared * 5 >= st.n_sh + sb.n_sh - i.shared
        ORDER BY i.train_id, i.bench_id
    """,
    description=(
        "NEAR-DUP benchmark decontamination: training docs whose 3-gram "
        "Jaccard vs any held-out benchmark doc (doc_id % 41 = 7) reaches "
        "0.2 — catches paraphrased/truncated contamination the exact "
        "shared-4-gram check (text_decontaminate) misses. Inverted-index "
        "join on hashed shingles so only 8-byte keys shuffle; the benchmark "
        "side is tiny, so posting lists stay bounded"
    ),
    tags=("curation", "text", "dedup", "north-star"),
)
def text_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.operators.dedup import shingles  # noqa: PLC0415

    d = fan_out_scan(load_table(spark, sf_dir, "documents"))
    sh = d.select("doc_id", F.explode(shingles(F.col("text"), 3)).alias("s"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    bench = sh.filter(F.col("doc_id") % 41 == 7).select(
        F.col("doc_id").alias("bench_id"), "s"
    )
    train = sh.filter(F.col("doc_id") % 41 != 7).select(
        F.col("doc_id").alias("train_id"), "s"
    )
    inter = (
        train.join(bench, "s")
        .groupBy("train_id", "bench_id")
        .agg(F.count("*").alias("shared"))
    )
    st = sizes.select(F.col("doc_id").alias("train_id"), F.col("n_sh").alias("n_t"))
    sb = sizes.select(F.col("doc_id").alias("bench_id"), F.col("n_sh").alias("n_b"))
    # exact integer-micro Jaccard + an integer threshold:
    # shared/union >= 0.2 <=> 5*shared >= union, so neither the
    # score nor the cutoff can split on a rounding mode
    return (
        inter.join(st, "train_id")
        .join(sb, "bench_id")
        .withColumn(
            "jaccard_micro",
            F.expr("(shared * CAST(1000000 AS BIGINT)) div (n_t + n_b - shared)"),
        )
        .filter(F.col("shared") * 5 >= F.col("n_t") + F.col("n_b") - F.col("shared"))
        .select("train_id", "bench_id", "shared", "jaccard_micro")
        .orderBy("train_id", "bench_id")
    )


# ---------------------------------------------------------------------------
# length-bucketed batch shaping (padding-efficient training batches)
# ---------------------------------------------------------------------------

_BUCKET_BOUNDS = (16, 32, 64, 128)  # bucket cap = smallest bound >= n_tokens
_BATCH_TOKEN_BUDGET = 512  # rows per batch = budget // bucket cap

_LB_ORACLE = f"""
WITH doc AS (
    SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
),
bucketed AS (
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(CASE WHEN n_tokens <= 16 THEN 16
                     WHEN n_tokens <= 32 THEN 32
                     WHEN n_tokens <= 64 THEN 64
                     ELSE 128 END AS BIGINT) AS bucket_cap
    FROM doc
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY bucket_cap ORDER BY doc_id) AS rn
    FROM bucketed
)
SELECT doc_id, n_tokens, bucket_cap,
       CAST((rn - 1) // ({_BATCH_TOKEN_BUDGET} // bucket_cap) AS BIGINT) AS batch_id,
       CAST({_BATCH_TOKEN_BUDGET} // bucket_cap AS BIGINT) AS batch_rows,
       (n_tokens * CAST(1000000 AS BIGINT)) // bucket_cap AS pad_efficiency_micro
FROM ranked
ORDER BY bucket_cap, batch_id, doc_id
"""


@register(
    "pack_batches_length_bucketed",
    oracle=_LB_ORACLE,
    description=(
        "length-bucketed batch shaping (the padding-minimization step every "
        "training loader runs): documents route to the smallest power-of-two "
        "length bucket that fits, each bucket packs a fixed token budget per "
        "batch (rows = budget // bucket cap), and batch ids are assigned by "
        "deterministic in-bucket order — per-row padding waste is "
        "1 - n_tokens/bucket_cap instead of padding everything to the corpus "
        "max. Plan: pure map to bucket, ONE per-bucket ranking exchange "
        "(bucket count is fixed and small), no data shuffle of text. At "
        "100 TB the per-bucket row_number swaps for the partition-offset "
        "contiguous-id assignment (ids_contiguous_assign) — same output "
        "contract, no single-reducer sort per bucket"
    ),
    tags=("curation", "text", "north-star", "sampling"),
)
def pack_batches_length_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window  # noqa: PLC0415

    d = fan_out_scan(load_table(spark, sf_dir, "documents"))
    n_tokens = F.size(F.split("text", " "))
    cap = (
        F.when(n_tokens <= 16, 16)
        .when(n_tokens <= 32, 32)
        .when(n_tokens <= 64, 64)
        .otherwise(128)
        .cast("long")
    )
    bucketed = d.select(
        "doc_id", n_tokens.cast("long").alias("n_tokens"), cap.alias("bucket_cap")
    )
    rn = F.row_number().over(Window.partitionBy("bucket_cap").orderBy("doc_id"))
    batch_rows = (F.lit(_BATCH_TOKEN_BUDGET) / F.col("bucket_cap")).cast("long")
    return (
        bucketed.withColumn("rn", rn)
        .select(
            "doc_id",
            "n_tokens",
            "bucket_cap",
            ((F.col("rn") - 1) / batch_rows).cast("long").alias("batch_id"),
            batch_rows.alias("batch_rows"),
            # exact integer-micro
            F.expr("(n_tokens * CAST(1000000 AS BIGINT)) div bucket_cap").alias(
                "pad_efficiency_micro"
            ),
        )
        .orderBy("bucket_cap", "batch_id", "doc_id")
    )


# ---------------------------------------------------------------------------
# model-based quality filtering: hashed-feature logistic regression
# ---------------------------------------------------------------------------


@register(
    "curation_quality_classifier",
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(*) FILTER (
                   WHERE list_contains(string_split(text, ' '), 'spark')
               ) AS BIGINT) AS n_pos,
               true AS loss_decreasing,
               true AS train_acc_ok,
               true AS auc_ok
        FROM documents
    """,
    description=(
        "model-based quality gate (the fastText-classifier pattern): hashed "
        "word-presence features -> distributed full-batch IRLS (gradient "
        "O(D), curvature-weighted Gram O(D^2) — shuffle sizes independent of "
        "corpus rows, driver solves the normal equations) -> map-side "
        "scoring. Audit form: exact corpus/label counts the oracle "
        "recomputes + boolean gates (monotone loss, train acc >= 0.95, "
        "rank-AUC >= 0.98) on a separable marker-token label"
    ),
    tags=("curation", "north-star", "profiling"),
)
def curation_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.operators.classifier import (  # noqa: PLC0415
        classifier_audit,
        hashed_token_features,
        train_logistic_regression,
    )

    d = fan_out_scan(load_table(spark, sf_dir, "documents"))
    d = d.withColumn(
        "y", F.array_contains(F.split(F.col("text"), " "), "spark").cast("int")
    )
    feats = hashed_token_features(d, label_col="y", n_features=1024)
    model = train_logistic_regression(feats, n_features=1024, n_iters=4, l2=1e-4)
    return classifier_audit(feats, model, acc_floor=0.95, auc_floor=0.98)


# ---------------------------------------------------------------------------
# rule-based quality filtering with a per-rule ledger (Gopher-style rules)
# ---------------------------------------------------------------------------

from data_integration_and_processing_spark.operators.text_analysis import (  # noqa: E402
    STOPWORDS,
    stopword_count,
    words_of,
)

_GOPHER_STOPS = ", ".join(f"'{w}'" for w in STOPWORDS["en"])

# Thresholds follow the published Gopher/MassiveText heuristics (word-count
# window, mean-word-length window, symbol-to-word ratio, alphabetic-word
# fraction, stopword floor), tokenized by single-space split so the Spark
# plan and the DuckDB oracle segment identically.
_GOPHER_ORACLE = f"""
WITH base AS (
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_words,
           length(text) AS n_chars,
           len(list_filter(string_split(text, ' '),
                           w -> w IN ({_GOPHER_STOPS}))) AS stop_cnt,
           len(list_filter(string_split(text, ' '),
                           w -> regexp_matches(w, '[A-Za-z]'))) AS alpha_words,
           length(text) - length(replace(text, '#', '')) AS hash_chars,
           (length(text) - length(replace(text, '...', ''))) / 3 AS ellipses
    FROM documents
)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       n_words BETWEEN 50 AND 100000 AS r_word_count,
       CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words BETWEEN 3.0 AND 10.0
           AS r_mean_word_len,
       stop_cnt >= 2 AS r_stopwords,
       CAST(alpha_words AS DOUBLE) / n_words >= 0.70 AS r_alpha_words,
       CAST(hash_chars + ellipses AS DOUBLE) / n_words <= 0.10 AS r_symbol_ratio,
       (n_words BETWEEN 50 AND 100000)
           AND (CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words BETWEEN 3.0 AND 10.0)
           AND stop_cnt >= 2
           AND CAST(alpha_words AS DOUBLE) / n_words >= 0.70
           AND CAST(hash_chars + ellipses AS DOUBLE) / n_words <= 0.10 AS kept
FROM base
"""


@register(
    "curation_gopher_rules",
    oracle=_GOPHER_ORACLE,
    description=(
        "rule-based quality filter with a per-rule ledger (the Gopher/"
        "MassiveText heuristics: word-count window, mean-word-length window, "
        "stopword floor, alphabetic-word fraction, symbol-to-word ratio) — "
        "filter-with-reasons, not just a kept bit, so curation can report "
        "per-rule rejection rates; one codegen'd map stage, no shuffle"
    ),
    tags=("curation", "text", "north-star", "filter"),
)
def curation_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out_scan(load_table(spark, sf_dir, "documents"))
    words = words_of(F.col("text"))
    n_words = F.size(words)
    n_chars = F.length("text")
    mean_wl = (n_chars - (n_words - 1)).cast("double") / n_words
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    hash_chars = n_chars - F.length(F.replace(F.col("text"), F.lit("#"), F.lit("")))
    ellipses = (
        n_chars - F.length(F.replace(F.col("text"), F.lit("..."), F.lit("")))
    ) / 3
    r_wc = n_words.between(50, 100000)
    r_mwl = mean_wl.between(3.0, 10.0)
    r_stop = stopword_count(words, "en") >= 2
    r_alpha = alpha_words.cast("double") / n_words >= 0.70
    r_sym = (hash_chars + ellipses).cast("double") / n_words <= 0.10
    return d.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        r_wc.alias("r_word_count"),
        r_mwl.alias("r_mean_word_len"),
        r_stop.alias("r_stopwords"),
        r_alpha.alias("r_alpha_words"),
        r_sym.alias("r_symbol_ratio"),
        (r_wc & r_mwl & r_stop & r_alpha & r_sym).alias("kept"),
    )


@register(
    "quality_calibration_bins",
    # Audit form: the trained model's probabilities have no SQL twin, so
    # the driver-checked row is the exact corpus/label arithmetic plus
    # measured-deterministic booleans over the 10-bin reliability diagram
    # (the production artifact a quality-gate owner reads before trusting
    # a score threshold).
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(*) FILTER (
                   WHERE list_contains(string_split(text, ' '), 'spark')
               ) AS BIGINT) AS n_pos,
               true AS bins_cover_ok,
               true AS bin_bounds_ok,
               true AS separation_ok,
               true AS ece_ok
        FROM documents
    """,
    description=(
        "classifier CALIBRATION audit (reliability diagram): score the corpus "
        "with the hashed-feature logistic model, bucket probabilities into 10 "
        "equal-width bins, and gate on the diagram's structural guarantees — "
        "bins partition every document (counts sum exactly), each bin's mean "
        "probability lies inside its own bounds, the >=0.5 half separates the "
        "marker label from the <0.5 half by at least 0.5 positive-rate, and "
        "expected calibration error stays under 0.15. Binning is one map-side "
        "floor() pass + a 10-key aggregate over the same no-shuffle scoring "
        "plan as the quality gate itself"
    ),
    tags=("quality", "curation", "profiling", "north-star"),
)
def quality_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.operators.classifier import (  # noqa: PLC0415
        hashed_token_features,
        score_logistic,
        train_logistic_regression,
    )

    d = fan_out_scan(load_table(spark, sf_dir, "documents"))
    d = d.withColumn(
        "y", F.array_contains(F.split(F.col("text"), " "), "spark").cast("int")
    )
    feats = hashed_token_features(d, label_col="y", n_features=1024)
    model = train_logistic_regression(feats, n_features=1024, n_iters=4, l2=1e-4)
    scored = score_logistic(feats, model).select(
        "label",
        F.col("prob"),
        F.least(F.floor(F.col("prob") * 10).cast("int"), F.lit(9)).alias("bin"),
    )
    bins = scored.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("label").cast("long").alias("n_pos_bin"),
        F.avg("prob").alias("mean_prob"),
    )
    # structural gates, all computed from the 10-row bin table
    gates = bins.agg(
        F.sum("n").cast("long").alias("_n_total"),
        F.sum(
            (
                (F.col("mean_prob") < F.col("bin") / 10.0)
                | (F.col("mean_prob") > (F.col("bin") + 1) / 10.0)
            ).cast("long")
        ).alias("_oob"),
        (
            F.sum(
                F.col("n")
                * F.abs(F.col("n_pos_bin") / F.col("n") - F.col("mean_prob"))
            )
            / F.sum("n")
        ).alias("_ece"),
        (
            F.sum(F.when(F.col("bin") >= 5, F.col("n_pos_bin")))
            / F.sum(F.when(F.col("bin") >= 5, F.col("n")))
            - F.sum(F.when(F.col("bin") < 5, F.col("n_pos_bin")))
            / F.sum(F.when(F.col("bin") < 5, F.col("n")))
        ).alias("_sep"),
    )
    counts = d.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("y").cast("long").alias("n_pos"),
    )
    return counts.crossJoin(F.broadcast(gates)).select(
        "n_docs",
        "n_pos",
        (F.col("_n_total") == F.col("n_docs")).alias("bins_cover_ok"),
        (F.col("_oob") == 0).alias("bin_bounds_ok"),
        (F.col("_sep") >= 0.5).alias("separation_ok"),
        (F.col("_ece") <= 0.15).alias("ece_ok"),
    )


_GOPHER_REP_ORACLE = """
WITH w AS (
    SELECT doc_id, length(text) AS n_chars, string_split(text, ' ') AS ws
    FROM documents
),
lines AS (
    SELECT doc_id,
           array_to_string(list_slice(ws, i * 8 + 1, i * 8 + 8), ' ') AS line
    FROM w, unnest(generate_series(0,
             greatest(CAST(ceil(len(ws) / 8.0) AS BIGINT), 1) - 1)) AS t(i)
),
line_grp AS (
    SELECT doc_id, line, count(*) AS c, length(line) AS lc
    FROM lines GROUP BY doc_id, line
),
line_stats AS (
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_lines,
           sum(c - 1) AS dup_lines,
           sum((c - 1) * lc) AS dup_line_chars,
           sum(c * lc) AS tot_line_chars
    FROM line_grp GROUP BY doc_id
),
grams AS (
    SELECT doc_id, n, gram, count(*) AS c, length(gram) AS gc
    FROM (
        SELECT doc_id, 2 AS n,
               concat_ws(' ', ws[i], ws[i+1]) AS gram
        FROM w, unnest(generate_series(1, len(ws) - 1)) AS t(i)
        WHERE len(ws) >= 2
        UNION ALL
        SELECT doc_id, 3 AS n,
               concat_ws(' ', ws[i], ws[i+1], ws[i+2]) AS gram
        FROM w, unnest(generate_series(1, len(ws) - 2)) AS t(i)
        WHERE len(ws) >= 3
        UNION ALL
        SELECT doc_id, 5 AS n,
               concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3], ws[i+4]) AS gram
        FROM w, unnest(generate_series(1, len(ws) - 4)) AS t(i)
        WHERE len(ws) >= 5
    ) GROUP BY doc_id, n, gram
),
gram_stats AS (
    SELECT doc_id,
           max(CASE WHEN n = 2 THEN c * gc END) AS top2_chars,
           max(CASE WHEN n = 3 THEN c * gc END) AS top3_chars,
           sum(CASE WHEN n = 5 AND c >= 2 THEN c * gc ELSE 0 END) AS dup5_chars
    FROM grams GROUP BY doc_id
)
SELECT w.doc_id,
       CAST((l.dup_lines * 1000000) // l.n_lines AS BIGINT) AS dup_line_frac_micro,
       CAST((l.dup_line_chars * 1000000) // l.tot_line_chars AS BIGINT)
           AS dup_line_char_frac_micro,
       least(CAST((coalesce(g.top2_chars, 0) * 1000000) // w.n_chars AS BIGINT),
             1000000) AS top2gram_char_frac_micro,
       least(CAST((coalesce(g.top3_chars, 0) * 1000000) // w.n_chars AS BIGINT),
             1000000) AS top3gram_char_frac_micro,
       least(CAST((coalesce(g.dup5_chars, 0) * 1000000) // w.n_chars AS BIGINT),
             1000000) AS dup5gram_char_frac_micro,
       l.dup_lines * 10 <= l.n_lines * 3 AS r_dup_line,
       l.dup_line_chars * 5 <= l.tot_line_chars AS r_dup_line_chars,
       coalesce(g.top2_chars, 0) * 5 <= w.n_chars AS r_top2gram,
       coalesce(g.top3_chars, 0) * 50 <= w.n_chars * 9 AS r_top3gram,
       coalesce(g.dup5_chars, 0) * 20 <= w.n_chars * 3 AS r_dup5gram,
       (l.dup_lines * 10 <= l.n_lines * 3)
           AND (l.dup_line_chars * 5 <= l.tot_line_chars)
           AND (coalesce(g.top2_chars, 0) * 5 <= w.n_chars)
           AND (coalesce(g.top3_chars, 0) * 50 <= w.n_chars * 9)
           AND (coalesce(g.dup5_chars, 0) * 20 <= w.n_chars * 3)
           AS kept
FROM w
JOIN line_stats l ON l.doc_id = w.doc_id
LEFT JOIN gram_stats g ON g.doc_id = w.doc_id
ORDER BY w.doc_id
"""


@register(
    "curation_gopher_repetition",
    oracle=_GOPHER_REP_ORACLE,
    description=(
        "the OTHER half of the Gopher/MassiveText filter (curation_gopher_rules "
        "covers the quality heuristics): WITHIN-document repetition signals — "
        "duplicate-line fraction and duplicate-line character fraction over "
        "8-word segments, most-frequent 2-/3-gram character fractions, and the "
        "duplicated-5-gram character fraction — each as a per-rule ledger "
        "column with the published thresholds (0.30/0.20/0.20/0.18/0.15). "
        "Machine-generated and template-spam text fails exactly these. Two "
        "map-side-combinable aggregations keyed by (doc, segment) and "
        "(doc, n, gram) — high-cardinality keys, no hot reducer — then a "
        "doc-keyed rollup; all arithmetic integer-ratio, hash-checked exactly"
    ),
    tags=("curation", "text", "north-star", "filter", "dedup"),
)
def curation_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out_scan(load_table(spark, sf_dir, "documents"))
    base = d.select("doc_id", F.length("text").alias("n_chars"), F.split("text", " ").alias("ws"))
    n_lines = F.greatest(F.ceil(F.size("ws") / F.lit(8)).cast("int"), F.lit(1))
    lines = base.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_lines - 1),
                lambda i: F.array_join(F.slice(F.col("ws"), i * 8 + 1, 8), " "),
            )
        ).alias("line"),
    )
    line_stats = (
        lines.groupBy("doc_id", "line")
        .agg(F.count(F.lit(1)).alias("c"), F.length("line").alias("lc"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_lines"),
            F.sum(F.col("c") - 1).alias("dup_lines"),
            F.sum((F.col("c") - 1) * F.col("lc")).alias("dup_line_chars"),
            F.sum(F.col("c") * F.col("lc")).alias("tot_line_chars"),
        )
    )

    def _grams(n: int):
        return F.when(
            F.size("ws") >= n,
            F.transform(
                F.sequence(F.lit(1), F.size("ws") - (n - 1)),
                lambda i: F.array_join(F.slice(F.col("ws"), i, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))

    grams = base.select(
        "doc_id",
        F.explode(
            F.concat(
                F.transform(_grams(2), lambda g: F.struct(F.lit(2).alias("n"), g.alias("gram"))),
                F.transform(_grams(3), lambda g: F.struct(F.lit(3).alias("n"), g.alias("gram"))),
                F.transform(_grams(5), lambda g: F.struct(F.lit(5).alias("n"), g.alias("gram"))),
            )
        ).alias("g"),
    ).select("doc_id", "g.n", "g.gram")
    gram_stats = (
        grams.groupBy("doc_id", "n", "gram")
        .agg(F.count(F.lit(1)).alias("c"), F.length("gram").alias("gc"))
        .groupBy("doc_id")
        .agg(
            F.max(F.when(F.col("n") == 2, F.col("c") * F.col("gc"))).alias("top2_chars"),
            F.max(F.when(F.col("n") == 3, F.col("c") * F.col("gc"))).alias("top3_chars"),
            F.sum(
                F.when((F.col("n") == 5) & (F.col("c") >= 2), F.col("c") * F.col("gc")).otherwise(0)
            ).alias("dup5_chars"),
        )
    )
    # exact integer-micro fractions and cross-multiplied integer thresholds:
    # p/q <= t with rational t ships as the
    # equivalent integer comparison, so neither the ledger columns nor the
    # kept verdict can split on a rounding mode
    dl = F.expr("(dup_lines * CAST(1000000 AS BIGINT)) div n_lines")
    dlc = F.expr("(dup_line_chars * CAST(1000000 AS BIGINT)) div tot_line_chars")
    t2 = F.least(
        F.expr("(coalesce(top2_chars, 0) * CAST(1000000 AS BIGINT)) div n_chars"),
        F.lit(1000000).cast("long"),
    )
    t3 = F.least(
        F.expr("(coalesce(top3_chars, 0) * CAST(1000000 AS BIGINT)) div n_chars"),
        F.lit(1000000).cast("long"),
    )
    d5 = F.least(
        F.expr("(coalesce(dup5_chars, 0) * CAST(1000000 AS BIGINT)) div n_chars"),
        F.lit(1000000).cast("long"),
    )
    r1 = F.col("dup_lines") * 10 <= F.col("n_lines") * 3
    r2 = F.col("dup_line_chars") * 5 <= F.col("tot_line_chars")
    r3 = F.coalesce(F.col("top2_chars"), F.lit(0)) * 5 <= F.col("n_chars")
    r4 = F.coalesce(F.col("top3_chars"), F.lit(0)) * 50 <= F.col("n_chars") * 9
    r5 = F.coalesce(F.col("dup5_chars"), F.lit(0)) * 20 <= F.col("n_chars") * 3
    return (
        base.select("doc_id", "n_chars")
        .join(line_stats, "doc_id")
        .join(gram_stats, "doc_id", "left")
        .select(
            "doc_id",
            dl.alias("dup_line_frac_micro"),
            dlc.alias("dup_line_char_frac_micro"),
            t2.alias("top2gram_char_frac_micro"),
            t3.alias("top3gram_char_frac_micro"),
            d5.alias("dup5gram_char_frac_micro"),
            r1.alias("r_dup_line"),
            r2.alias("r_dup_line_chars"),
            r3.alias("r_top2gram"),
            r4.alias("r_top3gram"),
            r5.alias("r_dup5gram"),
            (r1 & r2 & r3 & r4 & r5).alias("kept"),
        )
        .orderBy("doc_id")
    )


@register(
    "curation_encoding_audit",
    oracle="""
        WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 700000,
                   text || ' caf' || chr(195) || chr(169) || ' ' || chr(65533)
                        || chr(195) || chr(162)
            FROM documents WHERE doc_id % 5 = 0
        ),
        m AS (
            SELECT doc_id,
                   length(text) AS n_chars,
                   length(text) - length(replace(text, chr(65533), ''))
                       AS n_replacement,
                   length(text) - length(replace(text, chr(195), ''))
                       AS n_mojibake_marker,
                   length(regexp_replace(text, '[^ -~]', '', 'g')) AS n_ascii
            FROM corpus
        )
        SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
               CAST(n_replacement AS BIGINT) AS n_replacement,
               CAST(n_mojibake_marker AS BIGINT) AS n_mojibake_marker,
               CAST((n_ascii * 1000000) // n_chars AS BIGINT) AS ascii_frac_micro,
               n_replacement = 0 AS r_no_replacement,
               n_mojibake_marker = 0 AS r_no_mojibake,
               n_ascii * 20 >= n_chars * 19 AS r_ascii_floor,
               (n_replacement = 0) AND (n_mojibake_marker = 0)
                   AND (n_ascii * 20 >= n_chars * 19) AS kept
        FROM m ORDER BY doc_id
    """,
    description=(
        "encoding-health audit (the pre-tokenizer hygiene pass every web "
        "corpus needs): per-document counts of U+FFFD replacement characters "
        "(lossy transcodes), U+00C3 mojibake markers (UTF-8 bytes re-decoded "
        "as Latin-1 — the 'cafÃ©' signature), and the printable-ASCII "
        "fraction, each as a ledger column with a kept verdict. The fixture "
        "plants corrupted twins (doc_id+700000 with injected mojibake + "
        "replacement chars) so the detector is checked in BOTH directions — "
        "clean docs pass, planted ones fail, hash-exact against the SQL twin. "
        "One codegen'd map stage over the scan, no shuffle, no UDF"
    ),
    tags=("curation", "text", "quality", "filter", "north-star"),
)
def curation_encoding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out_scan(load_table(spark, sf_dir, "documents")).select("doc_id", "text")
    injected = F.concat(
        F.col("text"),
        F.lit(" cafÃ© �Ã¢"),
    )
    corpus = d.unionByName(
        d.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 700000).alias("doc_id"), injected.alias("text")
        )
    )
    n_chars = F.length("text")
    n_repl = n_chars - F.length(F.replace(F.col("text"), F.lit("�"), F.lit("")))
    n_moji = n_chars - F.length(F.replace(F.col("text"), F.lit("Ã"), F.lit("")))
    n_ascii = F.length(F.regexp_replace(F.col("text"), "[^ -~]", ""))
    r_repl = n_repl == 0
    r_moji = n_moji == 0
    # exact integer threshold + micro fraction:
    # p/q >= 0.95 <=> 20p >= 19q, so neither the ledger column nor the
    # kept verdict can split on a rounding mode
    r_ascii = n_ascii * 20 >= n_chars * 19
    return corpus.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars"),
        n_repl.cast("long").alias("n_replacement"),
        n_moji.cast("long").alias("n_mojibake_marker"),
        F.expr(
            "(length(regexp_replace(text, '[^ -~]', '')) * CAST(1000000 AS BIGINT))"
            " div length(text)"
        ).alias("ascii_frac_micro"),
        r_repl.alias("r_no_replacement"),
        r_moji.alias("r_no_mojibake"),
        r_ascii.alias("r_ascii_floor"),
        (r_repl & r_moji & r_ascii).alias("kept"),
    ).orderBy("doc_id")
