"""Text-analysis queries over the ``documents`` fixture (north-star surface).

Each oracle mirrors the Spark formula exactly, so the checks verify real
semantics (same heuristic, same arithmetic), not just row counts.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_integration_and_processing_spark.operators.text_analysis import (
    BPE_ISH_PATTERN,
    STOPWORDS,
    chunk_documents,
    fingerprint_md5,
    fingerprint_rolling,
    language_id,
    quality_score,
    stopword_count,
    token_counts,
    words_of,
)
from data_integration_and_processing_spark.queries.catalog import register
from data_integration_and_processing_spark.operators.parallelism import fan_out_scan
from data_integration_and_processing_spark.sources.tables import load_table


def _sql_stop_count(lang: str) -> str:
    quoted = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_filter(string_split(text, ' '), w -> w IN ({quoted})))"


_LANG_ORACLE = f"""
WITH scored AS (
    SELECT doc_id, lang AS labeled_lang,
           {_sql_stop_count('en')} AS en_cnt,
           {_sql_stop_count('de')} AS de_cnt,
           {_sql_stop_count('fr')} AS fr_cnt,
           {_sql_stop_count('es')} AS es_cnt
    FROM documents
)
SELECT doc_id, labeled_lang,
       CASE WHEN en_cnt >= de_cnt AND en_cnt >= fr_cnt AND en_cnt >= es_cnt AND en_cnt > 0 THEN 'en'
            WHEN de_cnt >= fr_cnt AND de_cnt >= es_cnt AND de_cnt > 0 THEN 'de'
            WHEN fr_cnt >= es_cnt AND fr_cnt > 0 THEN 'fr'
            WHEN es_cnt > 0 THEN 'es'
            ELSE 'und' END AS detected_lang,
       en_cnt, de_cnt, fr_cnt, es_cnt
FROM scored
"""


@register(
    "text_language_id",
    oracle=_LANG_ORACLE,
    description="stopword-ngram language-ID heuristic (pure map stage; scales as a pre-filter)",
    tags=("text", "north-star"),
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out_scan(load_table(spark, sf_dir, "documents"))
    words = words_of(F.col("text"))
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        language_id(words).alias("detected_lang"),
        stopword_count(words, "en").alias("en_cnt"),
        stopword_count(words, "de").alias("de_cnt"),
        stopword_count(words, "fr").alias("fr_cnt"),
        stopword_count(words, "es").alias("es_cnt"),
    )


_EN_STOPS = ", ".join(f"'{w}'" for w in STOPWORDS["en"])

_QUALITY_ORACLE = f"""
WITH base AS (
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_words,
           length(text) AS n_chars,
           len(list_filter(string_split(text, ' '), w -> w IN ({_EN_STOPS}))) AS stop_cnt,
           length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS punct_chars
    FROM documents
)
SELECT doc_id, n_words, n_chars,
       least(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.4
       + least(CAST(stop_cnt AS DOUBLE) / n_words * 5.0, 1.0) * 0.3
       + (1.0 - least(CAST(punct_chars AS DOUBLE) / n_chars * 10.0, 1.0)) * 0.2
       + (CASE WHEN CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words >= 3.0
                AND CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words <= 10.0
               THEN 1.0 ELSE 0.5 END) * 0.1 AS quality
FROM base
"""


@register(
    "text_quality_score",
    oracle=_QUALITY_ORACLE,
    description="composite quality heuristic (length/stopword/punctuation/word-length)",
    tags=("text", "north-star"),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out_scan(load_table(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.size(words_of(F.col("text"))).alias("n_words"),
        F.length("text").alias("n_chars"),
        quality_score(F.col("text")).alias("quality"),
    )


@register(
    "text_token_count",
    oracle=f"""
        SELECT doc_id,
               len(string_split(text, ' ')) AS ws_tokens,
               len(regexp_extract_all(text, '{BPE_ISH_PATTERN}')) AS bpe_ish_tokens,
               n_chars
        FROM documents
    """,
    description="token counting: whitespace tokens + BPE-ish regex segmentation",
    tags=("text", "north-star"),
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out_scan(load_table(spark, sf_dir, "documents"))
    ws, bpe = token_counts(F.col("text"))
    return d.select("doc_id", ws.alias("ws_tokens"), bpe.alias("bpe_ish_tokens"), "n_chars")


@register(
    "text_fingerprint",
    oracle="""
        SELECT doc_id,
               md5(lower(trim(text))) AS fp_md5,
               list_reduce(
                   list_prepend(0, list_transform(string_split(text, ' '),
                                                  w -> (ascii(w) * 31 + length(w)) % 1000000007)),
                   (acc, x) -> (acc * 31 + x) % 1000000007) AS fp_rolling
        FROM documents
    """,
    description="document fingerprints: md5 of normalized text + polynomial rolling hash",
    tags=("text", "north-star"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out_scan(load_table(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        fingerprint_md5(F.col("text")).alias("fp_md5"),
        fingerprint_rolling(words_of(F.col("text"))).alias("fp_rolling"),
    )


@register(
    "text_source_profile",
    oracle="""
        SELECT source, lang, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_words
        FROM documents
        GROUP BY source, lang
    """,
    description="corpus profiling: per-source/lang doc, char and word totals",
    tags=("text", "north-star", "aggregation"),
)
def text_source_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out_scan(load_table(spark, sf_dir, "documents"))
    return d.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum(F.size(words_of(F.col("text")))).cast("bigint").alias("total_words"),
    )


@register(
    "text_ngram_topk",
    oracle="""
        WITH sh AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       generate_series(1, len(string_split(text, ' ')) - 2),
                       i -> concat_ws(' ', string_split(text, ' ')[i],
                                           string_split(text, ' ')[i+1],
                                           string_split(text, ' ')[i+2])))) AS gram
            FROM documents WHERE len(string_split(text, ' ')) >= 3
        )
        SELECT gram, count(*) AS doc_freq
        FROM sh GROUP BY gram
        ORDER BY doc_freq DESC, gram
        LIMIT 20
    """,
    description="corpus statistics: top-20 word 3-grams by document frequency (the stop-ngram detector feeding the dedup df cap)",
    tags=("text", "north-star", "topk", "aggregation"),
)
def text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.operators.dedup import shingles

    d = fan_out_scan(load_table(spark, sf_dir, "documents"))
    return (
        d.select(F.explode(shingles(F.col("text"), 3)).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("gram"))
        .limit(20)
    )


@register(
    "text_pii_redaction",
    oracle="""
        WITH contact AS (
            SELECT doc_id,
                   concat(string_split(text, ' ')[1], '@mail.example.com tel 555-',
                          lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), ' re: ',
                          substr(text, 1, 40)) AS line
            FROM documents
        )
        SELECT doc_id,
               regexp_replace(regexp_replace(line, '[a-z0-9.]+@[a-z0-9.-]+', '<EMAIL>', 'g'),
                              '[0-9][0-9-]{3,}[0-9]', '<NUM>', 'g') AS redacted,
               len(regexp_extract_all(line, '[a-z0-9.]+@[a-z0-9.-]+')) AS n_emails,
               len(regexp_extract_all(line, '[0-9][0-9-]{3,}[0-9]')) AS n_phones
        FROM contact
    """,
    description=(
        "PII redaction: scrub emails then phone-like digit runs with RE2-compatible "
        "regexes (pure map stage; contact lines are synthesized deterministically from "
        "fixture fields since the corpus itself is clean)"
    ),
    tags=("text", "north-star"),
)
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.operators.text_analysis import (
        EMAIL_RE,
        PHONE_RE,
        redact_pii,
    )

    d = fan_out_scan(load_table(spark, sf_dir, "documents"))
    line = F.concat(
        F.element_at(words_of(F.col("text")), 1),
        F.lit("@mail.example.com tel 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" re: "),
        F.substring("text", 1, 40),
    )
    return d.select(
        "doc_id",
        redact_pii(line).alias("redacted"),
        F.regexp_count(line, F.lit(EMAIL_RE)).alias("n_emails"),
        F.regexp_count(line, F.lit(PHONE_RE)).alias("n_phones"),
    )


from data_integration_and_processing_spark.operators.sampling import hash_bucket_sql

_DOC_BUCKET_1000 = hash_bucket_sql(["doc_id"], 1000)

_CORPUS_ORACLE = f"""
WITH base AS (
    SELECT doc_id, source, text,
           len(string_split(text, ' ')) AS n_words,
           length(text) AS n_chars,
           len(list_filter(string_split(text, ' '), w -> w IN ({_EN_STOPS}))) AS stop_cnt,
           length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS punct_chars,
           md5(text) AS fp
    FROM documents WHERE lang = 'en'
),
scored AS (
    -- round(q, 6) at source: the re-spelled arithmetic can drift from the
    -- Spark expression in the last ulp; rounding pins the gate AND the
    -- min/max aggregates to the same value in both engines
    SELECT *,
           round(least(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.4
           + least(CAST(stop_cnt AS DOUBLE) / n_words * 5.0, 1.0) * 0.3
           + (1.0 - least(CAST(punct_chars AS DOUBLE) / n_chars * 10.0, 1.0)) * 0.2
           + (CASE WHEN CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words >= 3.0
                    AND CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words <= 10.0
                   THEN 1.0 ELSE 0.5 END) * 0.1, 6) AS q
    FROM base
),
kept AS (
    SELECT * FROM scored
    WHERE q >= 0.5
    QUALIFY doc_id = min(doc_id) OVER (PARTITION BY fp)
),
sampled AS (
    SELECT * FROM kept
    WHERE {_DOC_BUCKET_1000} < 500
)
SELECT source, count(*) AS n_docs, CAST(sum(n_words) AS BIGINT) AS total_ws_tokens,
       min(q) AS min_quality, max(q) AS max_quality
FROM sampled GROUP BY source
"""


@register(
    "pipeline_training_corpus",
    oracle=_CORPUS_ORACLE,
    description=(
        "end-to-end corpus build: language filter -> quality gate (>=0.5) -> exact dedup "
        "(min-id survivor per fingerprint) -> 50% deterministic sample -> per-source "
        "stats. Every stage is a narrow map or one keyed shuffle; the composite is the "
        "shape of a production pretraining-data job"
    ),
    tags=("text", "dedup", "sampling", "north-star", "pipeline"),
)
def pipeline_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from data_integration_and_processing_spark.operators.sampling import hash_bucket

    # no fan_out_scan here: the per-row work (md5 + quality arithmetic) is
    # too cheap to amortize a full-text repartition — measured +16% at
    # sf0.1; the fp window shuffle redistributes anyway
    d = load_table(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    scored = d.select(
        "doc_id",
        "source",
        F.size(words_of(F.col("text"))).alias("n_words"),
        # round(q, 6) at source — pins gate + min/max to the oracle's value
        F.round(quality_score(F.col("text")), 6).alias("q"),
        F.md5(F.col("text").cast("binary")).alias("fp"),
    ).filter(F.col("q") >= 0.5)
    survivors = (
        scored.withColumn("min_id", F.min("doc_id").over(Window.partitionBy("fp")))
        .filter(F.col("doc_id") == F.col("min_id"))
    )
    sampled = survivors.filter(hash_bucket(["doc_id"], 1000) < 500)
    return sampled.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").alias("total_ws_tokens"),
        F.min("q").alias("min_quality"),
        F.max("q").alias("max_quality"),
    )


@register(
    "text_tfidf_topterms",
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        ),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
        dfreq AS (SELECT term, count(DISTINCT doc_id) AS doc_freq FROM tok GROUP BY term),
        scored AS (
            SELECT doc_id, term, tf, doc_freq,
                   row_number() OVER (
                       PARTITION BY doc_id
                       ORDER BY CAST(tf AS DOUBLE) / doc_freq DESC, term
                   ) AS rn
            FROM tf JOIN dfreq USING (term)
        )
        SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
               CAST(doc_freq AS BIGINT) AS doc_freq,
               (tf * CAST(1000000 AS BIGINT)) // doc_freq AS rel_micro
        FROM scored WHERE rn <= 3
    """,
    description=(
        "per-doc top-3 salient terms by tf over document frequency (a tf-idf variant "
        "with raw inverse-frequency weighting: tf/df is a single exact IEEE division, "
        "so ranking is bit-deterministic across engines — a log-idf would tie-break on "
        "libm's last ulp). Plan: token explode -> partial-agg tf shuffle; the "
        "vocabulary-sized df table is broadcast; one window shuffle keyed by doc"
    ),
    tags=("text", "north-star", "aggregation", "window"),
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = fan_out_scan(load_table(spark, sf_dir, "documents"))
    tok = d.select("doc_id", F.explode(words_of(F.col("text"))).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tok.groupBy("term").agg(F.count_distinct("doc_id").alias("doc_freq"))
    score = F.col("tf").cast("double") / F.col("doc_freq")
    w = Window.partitionBy("doc_id").orderBy(score.desc(), F.col("term").asc())
    return (
        tf.join(F.broadcast(dfreq), "term")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "doc_id",
            "term",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("doc_freq").cast("bigint").alias("doc_freq"),
            # exact integer-micro output; the rank
            # above still orders by the exact single-division double
            F.expr("(tf * CAST(1000000 AS BIGINT)) div doc_freq").alias("rel_micro"),
        )
    )


@register(
    "text_chunk_documents",
    oracle="""
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS words,
                   len(string_split(text, ' ')) AS n_words
            FROM documents
        ),
        starts AS (
            SELECT doc_id, n_words,
                   unnest(generate_series(0, (greatest(0, n_words - 128) + 95) // 96)) AS i
            FROM w
        )
        SELECT s.doc_id,
               s.n_words,
               CAST(s.i AS INT) AS chunk_id,
               CAST(s.i * 96 AS INT) AS chunk_start,
               CAST(least(128, s.n_words - s.i * 96) AS INT) AS chunk_len,
               array_to_string(w.words[s.i * 96 + 1 : s.i * 96 + 128], ' ') AS chunk_text
        FROM starts s JOIN w USING (doc_id)
    """,
    description=(
        "overlapping token-window chunking (128-token windows, 32 overlap -> stride 96): "
        "the pipeline step between curation and sequence packing. Integer-only window "
        "arithmetic (engine-exact); pure map + in-task explode, zero shuffles at any scale"
    ),
    tags=("text", "north-star", "chunking"),
)
def text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out_scan(load_table(spark, sf_dir, "documents"))
    return chunk_documents(d, chunk_tokens=128, overlap=32)


_BM25_TERMS = ("query", "stream", "join")
_BM25_K1 = 1.2
_BM25_K1P1 = 2.2  # spelled as a literal in BOTH engines: 1.2 + 1.0 is a
#                   DIFFERENT double than nearest-double("2.2")
_BM25_B = 0.75


def _bm25_oracle() -> str:
    t1, t2, t3 = _BM25_TERMS
    per_term = ", ".join(
        f"""max(CASE WHEN term = '{t}' THEN
            ln(1.0 + (n_docs - doc_freq + 0.5) / (doc_freq + 0.5))
            * (tf * {_BM25_K1P1})
            / (tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * (dl / avgdl)))
        END) AS s_{t}"""
        for t in _BM25_TERMS
    )
    return f"""
        WITH docs AS (
            SELECT doc_id, string_split(text, ' ') AS words,
                   len(string_split(text, ' ')) AS dl
            FROM documents
        ),
        stats AS (
            SELECT count(*) AS n_docs,
                   CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
            FROM docs
        ),
        tok AS (
            SELECT doc_id, unnest(words) AS term FROM docs
        ),
        tf AS (
            SELECT doc_id, term, count(*) AS tf FROM tok
            WHERE term IN ('{t1}', '{t2}', '{t3}')
            GROUP BY doc_id, term
        ),
        dfreq AS (
            SELECT term, count(*) AS doc_freq FROM tf GROUP BY term
        ),
        scored AS (
            SELECT tf.doc_id, {per_term}
            FROM tf
            JOIN dfreq USING (term)
            JOIN docs USING (doc_id)
            CROSS JOIN stats
            GROUP BY tf.doc_id
        )
        SELECT doc_id,
               round(coalesce(s_{t1}, 0.0) + coalesce(s_{t2}, 0.0) + coalesce(s_{t3}, 0.0), 6) AS bm25
        FROM scored
        ORDER BY bm25 DESC, doc_id ASC
        LIMIT 20
    """


@register(
    "text_bm25_search",
    oracle=_bm25_oracle(),
    description=(
        "BM25 full-text relevance (k1=1.2, b=0.75) for a fixed term set, top-20. "
        "Determinism: per-(doc,term) partial scores reduce via max() (one row each "
        "— no float-accumulation order), the <=3 term scores add in FIXED spelled-out "
        "order, constants are identical decimal literals in both engines (1.2+1.0 is "
        "a different double than 2.2), and the score rounds to 6 digits before "
        "ranking with a doc_id tiebreak. Plan: token explode -> tf shuffle keyed by "
        "(doc, term); df and corpus stats are tiny broadcasts; TakeOrderedAndProject"
    ),
    tags=("text", "north-star", "search"),
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out_scan(load_table(spark, sf_dir, "documents"))
    docs = d.select("doc_id", words_of(F.col("text")).alias("words")).withColumn(
        "dl", F.size("words")
    )
    stats = docs.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    tok = docs.select("doc_id", F.explode("words").alias("term")).filter(
        F.col("term").isin(*_BM25_TERMS)
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("doc_freq"))
    part = (
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("doc_freq") + F.lit(0.5)) / (F.col("doc_freq") + F.lit(0.5))
        )
        * (F.col("tf") * F.lit(_BM25_K1P1))
        / (
            F.col("tf")
            + F.lit(_BM25_K1)
            * (F.lit(1.0) - F.lit(_BM25_B) + F.lit(_BM25_B) * (F.col("dl") / F.col("avgdl")))
        )
    )
    per_term = [
        F.max(F.when(F.col("term") == t, part)).alias(f"s_{t}") for t in _BM25_TERMS
    ]
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(docs.select("doc_id", "dl"), "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(*per_term)
    )
    total = None
    for t in _BM25_TERMS:  # FIXED addition order, mirrored in the oracle
        c = F.coalesce(F.col(f"s_{t}"), F.lit(0.0))
        total = c if total is None else total + c
    return (
        scored.select("doc_id", F.round(total, 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(20)
    )


@register(
    "text_countmin_heavy_hitters",
    # xxhash64 bucket coordinates have no DuckDB twin, so the driver-checked
    # output is the exact top-20 (token, true_count) plus the CMS guarantee
    # band — never underestimates, overestimate <= eps*N — as a boolean;
    # the same bounds stay pinned in
    # tests/test_analytics.py.
    oracle="""
        WITH c AS (
            SELECT token, CAST(count(*) AS BIGINT) AS true_count
            FROM (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
            GROUP BY token
        )
        SELECT token, true_count, true AS cms_in_band
        FROM c ORDER BY true_count DESC, token ASC LIMIT 20
    """,
    description=(
        "Count-Min sketch frequency estimates for the exact top-20 tokens: the "
        "second mergeable-sketch family (HLL counts distincts, CMS counts "
        "frequencies). Build = one map-side-combinable groupBy over (row, bucket) "
        "— the shuffle carries at most depth*width counters per task regardless "
        "of corpus size; two sketches merge by adding counters, so per-day "
        "sketches roll up without re-scanning, and estimates never underestimate"
    ),
    tags=("text", "sketch", "north-star", "aggregation"),
)
def text_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.operators.text_analysis import (  # noqa: PLC0415
        countmin_estimate,
        countmin_sketch,
    )

    d = load_table(spark, sf_dir, "documents")
    tokens = d.select(F.explode(F.split(F.lower("text"), " ")).alias("token"))
    exact_top = (
        tokens.groupBy("token")
        .agg(F.count("*").alias("true_count"))
        .orderBy(F.col("true_count").desc(), F.col("token").asc())
        .limit(20)
    )
    sketch = countmin_sketch(tokens, "token")
    est = countmin_estimate(sketch, exact_top.select(F.col("token").alias("item")))
    n_tokens = tokens.count()
    # CMS contract, driver-checked as a boolean: est >= true always;
    # overestimate bounded by eps*N with eps = e/width (width=1024 ->
    # ~0.27% of N)
    eps_n = (2.718281828 / 1024.0) * n_tokens
    in_band = (F.col("est_count") >= F.col("true_count")) & (
        F.col("est_count") <= F.col("true_count") + F.lit(eps_n)
    )
    return (
        exact_top.join(est, exact_top.token == est.item)
        .select("token", "true_count", in_band.alias("cms_in_band"))
        .orderBy(F.col("true_count").desc(), F.col("token").asc())
    )


_TRENDING_K = 3

_TRENDING_ORACLE = f"""
WITH tok AS (
    SELECT epoch_us(e.ts) // 21600000000 AS bucket_id,
           lower(unnest(string_split(d.text, ' '))) AS token
    FROM events e JOIN documents d ON e.event_id = d.doc_id
),
counts AS (
    SELECT bucket_id, token, count(*) AS n FROM tok GROUP BY bucket_id, token
),
ranked AS (
    SELECT bucket_id, token, n,
           row_number() OVER (PARTITION BY bucket_id ORDER BY n DESC, token ASC) AS rank
    FROM counts
)
SELECT bucket_id, token, n, rank
FROM ranked WHERE rank <= {_TRENDING_K}
ORDER BY bucket_id, rank
"""


@register(
    "text_trending_terms",
    oracle=_TRENDING_ORACLE,
    description=(
        "trending terms: top-k tokens per 6-hour window over the event-joined "
        "document stream — explode -> (window, token) count with map-side "
        "combine -> per-window row_number over the vocabulary-sized "
        "intermediate. The trending dashboard every content pipeline runs; the "
        "second shuffle carries (window x token) counts, never raw tokens"
    ),
    tags=("text", "window", "topk", "north-star"),
)
def text_trending_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window  # noqa: PLC0415

    e = load_table(spark, sf_dir, "events")
    d = load_table(spark, sf_dir, "documents")
    # deterministic event->document pairing (the fixture has no direct FK):
    # event_id = doc_id stands in for a document-published event stream
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    bucket = ((us - us % F.lit(21_600_000_000)) / F.lit(21_600_000_000)).cast("bigint")
    tok = (
        e.select(bucket.alias("bucket_id"), "event_id")
        .join(d.select("doc_id", "text"), F.col("event_id") == F.col("doc_id"))
        .select("bucket_id", F.explode(F.split(F.lower("text"), " ")).alias("token"))
    )
    counts = tok.groupBy("bucket_id", "token").agg(F.count("*").alias("n"))
    w = Window.partitionBy("bucket_id").orderBy(F.col("n").desc(), F.col("token").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TRENDING_K)
        .orderBy("bucket_id", "rank")
    )


@register(
    "text_unigram_logprob",
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        ),
        vocab AS (
            SELECT term, count(*) AS tf,
                   (SELECT count(*) FROM tok) AS n_total
            FROM tok GROUP BY term
        )
        SELECT t.doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               round(avg(log10(CAST(v.tf AS DOUBLE) / v.n_total)), 6) AS avg_logprob
        FROM tok t JOIN vocab v USING (term)
        GROUP BY t.doc_id
    """,
    description=(
        "unigram language-model scoring (the perplexity-proxy quality filter "
        "production corpora gate on): corpus unigram frequencies -> per-doc "
        "mean log10 token probability. Plan: one token-explode aggregate "
        "builds the vocabulary (partial-agg shuffle), the vocabulary-sized "
        "frequency table broadcasts back onto the token stream, one shuffle "
        "keyed by doc re-aggregates — the fact table never shuffles twice. "
        "Rare-token-heavy (low avg_logprob) docs are gibberish/OCR-noise "
        "candidates; high means boilerplate"
    ),
    tags=("text", "north-star", "quality", "aggregation"),
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window  # noqa: PLC0415

    d = fan_out_scan(load_table(spark, sf_dir, "documents"))
    tok = d.select("doc_id", F.explode(words_of(F.col("text"))).alias("term"))
    # corpus total rides the vocabulary itself: the old
    # form persisted the FULL exploded token frame and ran an eager count()
    # job just to embed n_total as a literal — a blocking driver job plus an
    # O(corpus-tokens) cache (far bigger than the corpus at scale). The
    # total is just sum(tf) over the vocabulary-sized aggregate, computed
    # here as a single-partition window over the (small, broadcastable-by-
    # assumption) vocab frame inside the one real action. Same double
    # division (bigint -> double promotion == the old int literal), so
    # values are identical.
    vocab = (
        tok.groupBy("term")
        .agg(F.count("*").alias("tf"))
        .withColumn("n_total", F.sum("tf").over(Window.partitionBy()))
    )
    return (
        tok.join(F.broadcast(vocab), "term")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                F.avg(F.log10(F.col("tf").cast("double") / F.col("n_total"))), 6
            ).alias("avg_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# distributed BPE merge-step statistics
# ---------------------------------------------------------------------------

_BPE_TOPK = 30

_BPE_ORACLE = f"""
WITH words AS (
    SELECT lower(w) AS word, count(*) AS wc
    FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
    WHERE len(w) >= 2
    GROUP BY 1
),
pair_rows AS (
    SELECT word, wc, unnest(generate_series(1, len(word) - 1)) AS i FROM words
),
pairs AS (
    SELECT substr(word, CAST(i AS INT), 2) AS pair, CAST(sum(wc) AS BIGINT) AS cnt
    FROM pair_rows GROUP BY 1
)
SELECT pair, cnt FROM pairs ORDER BY cnt DESC, pair ASC LIMIT {_BPE_TOPK}
"""


@register(
    "text_bpe_merge_step",
    oracle=_BPE_ORACLE,
    description=(
        "tokenizer-training primitive: one BPE merge iteration's pair statistics. "
        "The key scale move is BPE's own: corpus folds to a VOCABULARY first (one "
        "word-keyed partial-agg shuffle), then adjacent-symbol-pair counts are "
        "computed over vocab rows weighted by word frequency — pair stats cost "
        "O(vocab), not O(corpus), exactly why real BPE trainers operate on the "
        "word-count table. Top-30 merge candidates, fully deterministic tie-break"
    ),
    tags=("text", "north-star", "tokenizer"),
)
def text_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
        .select(F.lower(F.col("w")).alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count("*").alias("wc"))
    )
    bigrams = F.transform(
        F.sequence(F.lit(1), F.length("word") - 1),
        lambda i: F.col("word").substr(i, F.lit(2)),
    )
    return (
        words.select(F.explode(bigrams).alias("pair"), F.col("wc"))
        .groupBy("pair")
        .agg(F.sum("wc").cast("bigint").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(_BPE_TOPK)
    )


# ---------------------------------------------------------------------------
# vocabulary coverage / OOV-rate diagnostics
# ---------------------------------------------------------------------------

_VOCAB_TOP_N = 500

_VOCAB_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, source, lower(unnest(string_split(text, ' '))) AS w
    FROM documents
),
vocab AS (
    SELECT w FROM (
        SELECT w, count(*) AS c FROM tok GROUP BY w
        ORDER BY c DESC, w ASC LIMIT {_VOCAB_TOP_N}
    ) t
)
SELECT source,
       count(*) AS n_tokens,
       CAST(sum(CASE WHEN w IN (SELECT w FROM vocab) THEN 1 ELSE 0 END) AS BIGINT) AS in_vocab,
       1000000 - CAST((sum(CASE WHEN w IN (SELECT w FROM vocab) THEN 1 ELSE 0 END)
                       * 1000000) // count(*) AS BIGINT) AS oov_rate_micro
FROM tok
GROUP BY source
ORDER BY source
"""


@register(
    "text_vocab_coverage",
    oracle=_VOCAB_ORACLE,
    description=(
        "tokenizer diagnostics: per-source OOV rate against the corpus top-N "
        "vocabulary — the number that says whether a vocabulary (or tokenizer "
        "merge table) trained on the mix actually covers each source. Vocabulary "
        "is one token-keyed partial-agg shuffle + top-N (vocab-sized, "
        "broadcastable at any corpus size because N is fixed); the coverage pass "
        "is a broadcast semi-membership flag folded per source — the corpus "
        "shuffles once, keyed by source"
    ),
    tags=("text", "north-star", "tokenizer"),
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("w0")
    ).select("source", F.lower(F.col("w0")).alias("w"))
    vocab = (
        tok.groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("w"))
        .limit(_VOCAB_TOP_N)
        .select("w", F.lit(1).alias("_in_vocab"))
    )
    flagged = tok.join(F.broadcast(vocab), "w", "left")
    return (
        flagged.groupBy("source")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.coalesce(F.col("_in_vocab"), F.lit(0))).alias("in_vocab"),
            # exact integer-micro
            (
                F.lit(1000000).cast("long")
                - F.expr(
                    "(sum(coalesce(_in_vocab, 0)) * CAST(1000000 AS BIGINT))"
                    " div count(*)"
                )
            ).alias("oov_rate_micro"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# hybrid retrieval: BM25 + vector ranks fused with RRF
# ---------------------------------------------------------------------------

_RRF_K = 60
_RRF_QVEC_ID = 7  # query point: embedding of vec_id 7 (vec_id aligns doc_id)


def _hybrid_oracle() -> str:
    from data_integration_and_processing_spark.queries.similarity_queries import (  # noqa: PLC0415
        _cos_sql,
    )

    t1, t2, t3 = _BM25_TERMS
    per_term = ", ".join(
        f"""max(CASE WHEN term = '{t}' THEN
            ln(1.0 + (n_docs - doc_freq + 0.5) / (doc_freq + 0.5))
            * (tf * {_BM25_K1P1})
            / (tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * (dl / avgdl)))
        END) AS s_{t}"""
        for t in _BM25_TERMS
    )
    return f"""
        WITH docs AS (
            SELECT doc_id, string_split(text, ' ') AS words,
                   len(string_split(text, ' ')) AS dl
            FROM documents
        ),
        stats AS (
            SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM docs
        ),
        tok AS (SELECT doc_id, unnest(words) AS term FROM docs),
        tf AS (
            SELECT doc_id, term, count(*) AS tf FROM tok
            WHERE term IN ('{t1}', '{t2}', '{t3}') GROUP BY doc_id, term
        ),
        dfreq AS (SELECT term, count(*) AS doc_freq FROM tf GROUP BY term),
        scored AS (
            SELECT tf.doc_id, {per_term}
            FROM tf JOIN dfreq USING (term) JOIN docs USING (doc_id) CROSS JOIN stats
            GROUP BY tf.doc_id
        ),
        bm AS (
            SELECT doc_id,
                   round(coalesce(s_{t1}, 0.0) + coalesce(s_{t2}, 0.0) + coalesce(s_{t3}, 0.0), 6) AS bm25
            FROM scored
        ),
        bm_ranked AS (
            SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS r_bm FROM bm
        ),
        qv AS (SELECT embedding FROM embeddings WHERE vec_id = {_RRF_QVEC_ID}),
        vec AS (
            SELECT e.vec_id AS doc_id,
                   round({_cos_sql('e.embedding', 'qv.embedding')}, 6) AS cos_sim
            FROM embeddings e, qv WHERE e.vec_id < 500
        ),
        vec_ranked AS (
            SELECT doc_id, row_number() OVER (ORDER BY cos_sim DESC, doc_id ASC) AS r_vec FROM vec
        ),
        fused AS (
            SELECT coalesce(b.doc_id, v.doc_id) AS doc_id,
                   coalesce(CAST(1000000000 AS BIGINT) // ({_RRF_K} + r_bm), 0)
                       + coalesce(CAST(1000000000 AS BIGINT) // ({_RRF_K} + r_vec), 0)
                       AS rrf_nano
            FROM bm_ranked b FULL OUTER JOIN vec_ranked v ON b.doc_id = v.doc_id
        )
        SELECT doc_id, rrf_nano FROM fused ORDER BY rrf_nano DESC, doc_id ASC LIMIT 20
    """


@register(
    "search_hybrid_rrf",
    oracle=_hybrid_oracle(),
    description=(
        "hybrid retrieval: BM25 lexical ranks fused with embedding-cosine ranks "
        "by reciprocal-rank fusion (1/(60+r) per list, missing rank contributes "
        "0) — the standard RAG retrieval stack's merge step, score-scale-free by "
        "construction. Both branches reuse this catalog's oracled machinery; "
        "ranks are over rounded scores with id tiebreaks so both engines rank "
        "identically. Rank lists are candidate-sized (the windows order "
        "hundreds of scored rows, not the corpus); at 100 TB each branch is its "
        "own top-k retrieval and RRF fuses k-sized lists"
    ),
    tags=("text", "similarity", "north-star", "search"),
)
def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window  # noqa: PLC0415

    from data_integration_and_processing_spark.operators.similarity import cosine  # noqa: PLC0415

    d = fan_out_scan(load_table(spark, sf_dir, "documents"))
    docs = d.select("doc_id", words_of(F.col("text")).alias("words")).withColumn(
        "dl", F.size("words")
    )
    stats = docs.agg(
        F.count("*").alias("n_docs"), (F.sum("dl").cast("double") / F.count("*")).alias("avgdl")
    )
    tok = docs.select("doc_id", F.explode("words").alias("term")).filter(
        F.col("term").isin(*_BM25_TERMS)
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("doc_freq"))
    part = (
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("doc_freq") + F.lit(0.5)) / (F.col("doc_freq") + F.lit(0.5))
        )
        * (F.col("tf") * F.lit(_BM25_K1P1))
        / (
            F.col("tf")
            + F.lit(_BM25_K1)
            * (F.lit(1.0) - F.lit(_BM25_B) + F.lit(_BM25_B) * (F.col("dl") / F.col("avgdl")))
        )
    )
    per_term = [F.max(F.when(F.col("term") == t, part)).alias(f"s_{t}") for t in _BM25_TERMS]
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(docs.select("doc_id", "dl"), "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(*per_term)
    )
    total = None
    for t in _BM25_TERMS:
        c = F.coalesce(F.col(f"s_{t}"), F.lit(0.0))
        total = c if total is None else total + c
    bm = scored.select("doc_id", F.round(total, 6).alias("bm25"))
    bm_ranked = bm.select(
        "doc_id",
        F.row_number().over(Window.orderBy(F.desc("bm25"), F.asc("doc_id"))).alias("r_bm"),
    )

    e = load_table(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") == _RRF_QVEC_ID).select(F.col("embedding").alias("qv"))
    vec = (
        e.filter(F.col("vec_id") < 500)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias("cos_sim"),
        )
    )
    vec_ranked = vec.select(
        "doc_id",
        F.row_number().over(Window.orderBy(F.desc("cos_sim"), F.asc("doc_id"))).alias("r_vec"),
    )

    b = bm_ranked.withColumnRenamed("doc_id", "b_id")
    v = vec_ranked.withColumnRenamed("doc_id", "v_id")
    fused = b.join(v, b["b_id"] == v["v_id"], "full_outer").select(
        F.coalesce(F.col("b_id"), F.col("v_id")).alias("doc_id"),
        # exact integer-nano fusion: 1/(K+rank) is a
        # rational with a small data-dependent denominator — the classic tie
        # shape — so each term ships as a truncating nano quotient and the
        # top-k orders by exact integers
        (
            F.coalesce(
                F.expr(f"CAST(1000000000 AS BIGINT) div ({_RRF_K} + r_bm)"),
                F.lit(0).cast("long"),
            )
            + F.coalesce(
                F.expr(f"CAST(1000000000 AS BIGINT) div ({_RRF_K} + r_vec)"),
                F.lit(0).cast("long"),
            )
        ).alias("rrf_nano"),
    )
    return fused.orderBy(F.desc("rrf_nano"), F.asc("doc_id")).limit(20)


# ---------------------------------------------------------------------------
# readability scoring (Flesch-shaped, syllables proxied by vowel groups)
# ---------------------------------------------------------------------------

_READ_ORACLE = """
WITH base AS (
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_words,
           greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
           greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS n_syllables
    FROM documents
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       206835000 - (n_words * CAST(1015000 AS BIGINT)) // n_sentences
                 - (n_syllables * CAST(84600000 AS BIGINT)) // n_words
           AS flesch_score_micro
FROM base ORDER BY doc_id
"""


@register(
    "text_readability_scores",
    oracle=_READ_ORACLE,
    description=(
        "Flesch-shaped readability per document: words / sentence-terminator runs "
        "/ vowel-group syllable proxy folded into the classic 206.835 formula — a "
        "standard quality-filter feature next to the composite heuristic and the "
        "unigram log-prob score. RE2-compatible regex counting, pure projection, "
        "identical decimal literals both engines"
    ),
    tags=("text", "north-star", "quality"),
)
def text_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out_scan(load_table(spark, sf_dir, "documents"))
    n_words = F.size(F.split(F.col("text"), " "))
    n_sent = F.greatest(F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")), F.lit(1))
    n_syll = F.greatest(
        F.size(F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")), F.lit(1)
    )
    base = d.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syll.alias("n_syllables"),
    )
    # exact integer-micro Flesch: rational
    # coefficients scale to exact micro integers, the two word/sentence
    # ratios ship as truncating BIGINT division
    flesch = F.expr(
        "206835000 - (n_words * CAST(1015000 AS BIGINT)) div n_sentences"
        " - (n_syllables * CAST(84600000 AS BIGINT)) div n_words"
    )
    return base.select(
        "doc_id", "n_words", "n_sentences", "n_syllables",
        flesch.alias("flesch_score_micro"),
    ).orderBy("doc_id")


@register(
    "text_tokenizer_fertility",
    oracle=f"""
        SELECT source,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
               CAST(sum(len(regexp_extract_all(text, '{BPE_ISH_PATTERN}'))) AS BIGINT) AS bpe_ish_tokens,
               CAST((sum(len(regexp_extract_all(text, '{BPE_ISH_PATTERN}'))) * 1000000)
                    // sum(len(string_split(text, ' '))) AS BIGINT) AS fertility_micro
        FROM documents GROUP BY source ORDER BY source
    """,
    description=(
        "tokenizer fertility per source: BPE-ish tokens per whitespace word — the "
        "cost multiplier a tokenizer imposes on each source (high fertility = "
        "more sequence positions per word = that source is EXPENSIVE to train "
        "on). Companion to text_vocab_coverage's OOV rate; one partial-agg "
        "shuffle keyed by source"
    ),
    tags=("text", "north-star", "tokenizer"),
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out_scan(load_table(spark, sf_dir, "documents"))
    ws = F.size(F.split(F.col("text"), " "))
    bpe = F.size(F.expr(f"regexp_extract_all(text, '{BPE_ISH_PATTERN}', 0)"))
    return (
        d.groupBy("source")
        .agg(
            F.sum(ws).cast("bigint").alias("ws_tokens"),
            F.sum(bpe).cast("bigint").alias("bpe_ish_tokens"),
            # exact integer-micro
            F.expr(
                f"(sum(size(regexp_extract_all(text, '{BPE_ISH_PATTERN}', 0)))"
                " * CAST(1000000 AS BIGINT))"
                " div sum(size(split(text, ' ')))"
            ).alias("fertility_micro"),
        )
        .orderBy("source")
    )


@register(
    "text_lexical_diversity",
    oracle="""
        SELECT doc_id,
               len(string_split(lower(text), ' ')) AS n_tokens,
               len(list_distinct(string_split(lower(text), ' '))) AS n_types,
               CAST((len(list_distinct(string_split(lower(text), ' '))) * 1000000)
                    // len(string_split(lower(text), ' ')) AS BIGINT) AS ttr_micro
        FROM documents ORDER BY doc_id
    """,
    description=(
        "lexical diversity (type-token ratio) per document: distinct lowercased "
        "tokens over total — low TTR flags boilerplate/keyword-stuffed text the "
        "length and stopword heuristics miss; sits beside quality, readability "
        "and repetition in the filter stack. Pure per-row array expression, no "
        "shuffle at all"
    ),
    tags=("text", "north-star", "quality"),
)
def text_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out_scan(load_table(spark, sf_dir, "documents"))
    toks = F.split(F.lower(F.col("text")), " ")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_types"),
        # exact integer-micro
        F.expr(
            "(size(array_distinct(split(lower(text), ' '))) * CAST(1000000 AS BIGINT))"
            " div size(split(lower(text), ' '))"
        ).alias("ttr_micro"),
    ).orderBy("doc_id")


@register(
    "text_langid_confusion",
    oracle=f"""
        WITH pred AS ({_LANG_ORACLE.strip()})
        SELECT labeled_lang, detected_lang,
               CAST(count(*) AS BIGINT) AS n,
               CAST((count(*) * 1000000)
                    // sum(count(*)) OVER (PARTITION BY labeled_lang) AS BIGINT)
                   AS share_of_label_micro
        FROM pred
        GROUP BY labeled_lang, detected_lang
        ORDER BY labeled_lang, detected_lang
    """,
    description=(
        "language-ID confusion matrix: the stopword-heuristic's predictions "
        "cross-tabulated against the labeled lang column, with each cell's share "
        "of its true label — the per-class eval that says WHICH languages the "
        "pre-filter confuses (aggregate accuracy hides de->und asymmetries). "
        "Classifier + eval in one plan: a map stage into a cell-cardinality "
        "aggregate"
    ),
    tags=("text", "north-star", "quality", "analytics"),
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window  # noqa: PLC0415

    from data_integration_and_processing_spark.operators.text_analysis import (  # noqa: PLC0415
        language_id,
    )

    d = fan_out_scan(load_table(spark, sf_dir, "documents"))
    pred = d.select(
        F.col("lang").alias("labeled_lang"),
        language_id(words_of(F.col("text"))).alias("detected_lang"),
    )
    cells = pred.groupBy("labeled_lang", "detected_lang").agg(
        F.count("*").cast("bigint").alias("n")
    )
    w = Window.partitionBy("labeled_lang")
    return cells.select(
        "labeled_lang",
        "detected_lang",
        "n",
        # exact integer-micro
        F.expr(
            "(n * CAST(1000000 AS BIGINT))"
            " div (sum(n) OVER (PARTITION BY labeled_lang))"
        ).alias("share_of_label_micro"),
    ).orderBy("labeled_lang", "detected_lang")


@register(
    "text_bigram_lm",
    oracle="""
        WITH w AS (
            SELECT string_split(text, ' ') AS ws FROM documents
            WHERE len(string_split(text, ' ')) >= 2
        ),
        b AS (
            SELECT ws[i] AS w1, ws[i+1] AS w2
            FROM w, unnest(generate_series(1, len(ws) - 1)) AS t(i)
        ),
        c AS (SELECT w1, w2, count(*) AS n FROM b GROUP BY w1, w2)
        SELECT w1, w2, n,
               CAST((n * 1000000) // sum(n) OVER (PARTITION BY w1) AS BIGINT)
                   AS p_micro
        FROM c
        ORDER BY n DESC, w1, w2
        LIMIT 100
    """,
    description=(
        "bigram language-model table: P(w2 | w1) over the corpus, top-100 "
        "transitions — the cheapest fluency prior (the backbone of perplexity "
        "filters when no neural LM is affordable at corpus scale). Bigrams "
        "come from zipping two shifted slices of the word array in-task (zero "
        "shuffle until the count aggregate); the conditional normalization "
        "window runs on the O(vocab^2-observed) count table, not the corpus"
    ),
    tags=("text", "north-star", "aggregation"),
)
def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window  # noqa: PLC0415

    d = fan_out_scan(load_table(spark, sf_dir, "documents"))
    words = F.split("text", " ")
    n = F.size(words)
    pairs = d.filter(n >= 2).select(
        F.explode(
            F.zip_with(
                F.slice(words, 1, n - 1),
                F.slice(words, 2, n - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg")
    )
    counts = pairs.groupBy(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")).agg(
        F.count("*").alias("n")
    )
    tot = Window.partitionBy("w1")
    return (
        counts.select(
            "w1", "w2", "n",
            # exact integer-micro
            F.expr(
                "(n * CAST(1000000 AS BIGINT))"
                " div (sum(n) OVER (PARTITION BY w1))"
            ).alias("p_micro"),
        )
        .orderBy(F.desc("n"), "w1", "w2")
        .limit(100)
    )


@register(
    "text_zipf_fit",
    oracle="""
        WITH tf AS (
            SELECT w, count(*) AS f
            FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
            GROUP BY w
        ),
        ranked AS (
            SELECT f, row_number() OVER (ORDER BY f DESC, w) AS r FROM tf
        ),
        pts AS (SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(f AS DOUBLE)) AS y
                FROM ranked WHERE r <= 1000)
        SELECT count(*) AS n_terms,
               round(covar_pop(y, x) / var_pop(x), 6) AS zipf_slope,
               round(corr(y, x) * corr(y, x), 6) AS r2
        FROM pts
    """,
    description=(
        "Zipf's-law fit over the corpus vocabulary: OLS slope of log-frequency "
        "vs log-rank for the top-1000 terms (natural text sits near -1; a flat "
        "or broken slope flags synthetic/spammy corpora before training). Term "
        "frequencies are one map-side-combinable aggregate; rank + regression "
        "run on the O(vocab) table. Slope computed as covar_pop/var_pop in "
        "both engines — the closed form of regr_slope"
    ),
    tags=("text", "north-star", "aggregation", "profiling"),
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window  # noqa: PLC0415

    d = fan_out_scan(load_table(spark, sf_dir, "documents"))
    tf = d.select(F.explode(F.split("text", " ")).alias("w")).groupBy("w").agg(
        F.count("*").alias("f")
    )
    ranked = tf.select(
        "f", F.row_number().over(Window.orderBy(F.desc("f"), F.asc("w"))).alias("r")
    ).filter(F.col("r") <= 1000)
    pts = ranked.select(
        F.log(F.col("r").cast("double")).alias("x"),
        F.log(F.col("f").cast("double")).alias("y"),
    )
    return pts.agg(
        F.count("*").alias("n_terms"),
        F.round(F.covar_pop("y", "x") / F.var_pop("x"), 6).alias("zipf_slope"),
        F.round(F.corr("y", "x") * F.corr("y", "x"), 6).alias("r2"),
    )


@register(
    "text_vocab_coverage_curve",
    oracle="""
        WITH tf AS (
            SELECT w, count(*) AS f
            FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
            GROUP BY w
        ),
        ranked AS (
            SELECT f, row_number() OVER (ORDER BY f DESC, w) AS r FROM tf
        ),
        tot AS (SELECT CAST(sum(f) AS BIGINT) AS total FROM tf),
        curve AS (
            SELECT r, CAST(sum(f) OVER (ORDER BY r) AS BIGINT) AS cum_f FROM ranked
        )
        SELECT k AS vocab_size,
               CAST((max(CASE WHEN r <= k THEN cum_f END) * 1000000) // t.total
                    AS BIGINT) AS token_coverage_micro
        FROM curve, tot t, unnest([10, 20, 50, 100, 1000]) AS u(k)
        GROUP BY k, t.total
        ORDER BY k
    """,
    description=(
        "vocabulary coverage curve: share of all corpus tokens covered by the "
        "top-k most frequent terms, at k = 10/20/50/100/1000 — the readout "
        "that sizes a tokenizer's vocab (where the curve flattens, bigger "
        "vocab buys nothing). One term-frequency aggregate; rank + cumulative "
        "sum run on the O(vocab) table"
    ),
    tags=("text", "north-star", "profiling", "aggregation"),
)
def text_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window  # noqa: PLC0415

    d = fan_out_scan(load_table(spark, sf_dir, "documents"))
    tf = d.select(F.explode(F.split("text", " ")).alias("w")).groupBy("w").agg(
        F.count("*").alias("f")
    )
    ranked = tf.select(
        "f", F.row_number().over(Window.orderBy(F.desc("f"), F.asc("w"))).alias("r")
    )
    curve = ranked.select(
        "r",
        F.sum("f").over(Window.orderBy("r")).cast("bigint").alias("cum_f"),
        F.sum("f").over(Window.partitionBy()).cast("bigint").alias("total"),
    )
    ks = F.explode(F.array(*[F.lit(k) for k in (10, 20, 50, 100, 1000)])).alias("vocab_size")
    return (
        curve.select("r", "cum_f", "total")
        .crossJoin(F.broadcast(curve.sparkSession.range(1).select(ks).select("vocab_size")))
        .groupBy("vocab_size")
        .agg(
            # exact integer-micro: constant
            # denominator per group, so max of truncs == trunc of max
            F.expr(
                "(max(CASE WHEN r <= vocab_size THEN cum_f END)"
                " * CAST(1000000 AS BIGINT)) div max(total)"
            ).alias("token_coverage_micro")
        )
        .orderBy("vocab_size")
    )


# Per-source guarantee bands for the zlib quality signal (shared between
# the registered query's booleans and the behavioral tests): the fixture
# word-salad corpus compresses to avg 0.49-0.62 per source at every sf
# (measured sf0.001/0.01/0.1), min >= 0.38, max <= 1.13. The bands leave
# drift headroom while still flipping on the real failure modes — a broken
# UDF returning 1.0 (empty/err fallback), 0.0, or raw/compressed swapped.
_ZRATIO_AVG_BAND = (0.30, 0.80)
_ZRATIO_MIN_FLOOR = 0.20
_ZRATIO_MAX_CEIL = 1.2


@register(
    "text_compression_ratio",
    # zlib has no DuckDB twin, so the driver-checked output is the sketch
    # pattern: exact SQL-computable columns
    # (doc/byte counts per source) plus the compression signal's guarantee
    # bands as constant-true booleans. Determinism + separation (repetitive
    # text compresses far below random text) stay pinned in
    # tests/test_analytics.py; full per-source avg/min/max readout:
    # text_compression_curve.
    oracle="""
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
               true AS avg_in_band,
               true AS bounds_ok
        FROM documents
        GROUP BY source
        ORDER BY source
    """,
    description=(
        "zlib compression ratio as a text-quality signal (the Gopher-rules "
        "repetition proxy: boilerplate/template text compresses to a small "
        "fraction of its size; high-entropy prose stays near 1.0 after "
        "deflate overhead). Computed by an Arrow-vectorized pandas UDF "
        "(zlib level 6 — deterministic output length for a given input), "
        "then a per-source rollup with a 0.35 flag threshold. Scale: the "
        "UDF is embarrassingly parallel per batch, no shuffle before the "
        "final source-cardinality aggregate; compression cost is linear in "
        "corpus bytes — the same single full-scan any quality scorer pays. "
        "Driver-checked in audit form: exact per-source doc/byte counts plus "
        "the ratio guarantee bands as booleans (full readout: "
        "text_compression_curve)"
    ),
    tags=("text", "quality", "pandas-udf", "llm-pipeline"),
)
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    curve = text_compression_curve(spark, sf_dir)
    avg_in_band = (F.col("avg_ratio") > _ZRATIO_AVG_BAND[0]) & (
        F.col("avg_ratio") < _ZRATIO_AVG_BAND[1]
    )
    bounds_ok = (F.col("min_ratio") > _ZRATIO_MIN_FLOOR) & (
        F.col("max_ratio") <= _ZRATIO_MAX_CEIL
    )
    return curve.select(
        "source",
        "n_docs",
        "total_bytes",
        avg_in_band.alias("avg_in_band"),
        bounds_ok.alias("bounds_ok"),
    ).orderBy("source")


def text_compression_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415
    from pyspark.sql.types import DoubleType  # noqa: PLC0415

    @pandas_udf(DoubleType())
    def _zratio(text: pd.Series) -> pd.Series:
        import zlib  # noqa: PLC0415

        def ratio(s: str) -> float:
            raw = s.encode("utf-8", "replace") if isinstance(s, str) else b""
            if not raw:
                return 1.0
            return len(zlib.compress(raw, 6)) / len(raw)

        return text.map(ratio)

    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "source",
        F.octet_length("text").cast("bigint").alias("n_bytes"),
        F.round(_zratio(F.col("text")), 9).alias("zratio"),
    ).withColumn(
        "zratio",
        F.when(
            (F.col("zratio") > F.lit(0.0)) & (F.col("zratio") <= F.lit(1.2)),
            F.col("zratio"),
        ).otherwise(F.raise_error(F.format_string("zratio out of bounds: %s", "zratio"))),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_bytes").cast("bigint").alias("total_bytes"),
            F.round(F.avg("zratio"), 6).alias("avg_ratio"),
            F.round(F.min("zratio"), 6).alias("min_ratio"),
            F.round(F.max("zratio"), 6).alias("max_ratio"),
            F.sum(F.when(F.col("zratio") < 0.35, 1).otherwise(0))
            .cast("bigint")
            .alias("n_flagged_repetitive"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# cross-document duplicated n-gram spans (substring-level dedup signal)
# ---------------------------------------------------------------------------

_DUP_NGRAM_N = 8

_DUP_SPANS_ORACLE = f"""
WITH w AS (
    SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
),
g AS (
    SELECT DISTINCT doc_id, array_to_string(ws[i:i+{_DUP_NGRAM_N - 1}], ' ') AS gram
    FROM w, UNNEST(generate_series(1, len(ws) - {_DUP_NGRAM_N - 1})) AS t(i)
    WHERE len(ws) >= {_DUP_NGRAM_N}
),
df AS (SELECT gram, count(*) AS df FROM g GROUP BY gram),
per AS (
    SELECT g.doc_id,
           count(*) AS n_grams,
           sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS n_dup
    FROM g JOIN df USING (gram) GROUP BY g.doc_id
)
SELECT doc_id,
       CAST(n_grams AS BIGINT) AS n_distinct_grams,
       CAST(n_dup AS BIGINT) AS n_dup_grams,
       CAST((n_dup * 1000000) // n_grams AS BIGINT) AS dup_frac_micro
FROM per ORDER BY doc_id
"""


@register(
    "text_duplicate_ngram_spans",
    oracle=_DUP_SPANS_ORACLE,
    description=(
        "substring-level duplication signal (the Lee et al. 2021 "
        "'Deduplicating Training Data' diagnostic, at n-gram granularity): "
        "for each document, the fraction of its distinct 8-grams that occur "
        "in at least one OTHER document — the pre-filter readout that "
        "decides whether a corpus needs span-level dedup on top of "
        "document-level MinHash. Plan: in-task n-gram expansion (transform "
        "over index sequence, no shuffle), distinct per (doc, gram), one "
        "map-side-combinable document-frequency aggregate on gram, "
        "join-back keyed on the same high-cardinality gram — AQE splits the "
        "boilerplate-gram skew. Documents shorter than 8 words carry no "
        "8-gram evidence and are excluded by both sides"
    ),
    tags=("text", "dedup", "north-star", "curation"),
)
def text_duplicate_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _DUP_NGRAM_N
    d = fan_out_scan(load_table(spark, sf_dir, "documents")).select("doc_id", "text")
    words = F.split(F.lower("text"), " ")
    d = d.select("doc_id", words.alias("ws")).filter(F.size("ws") >= n)
    grams = d.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ws") - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice("ws", i, n)),
            )
        ).alias("gram"),
    ).distinct()
    df = grams.groupBy("gram").agg(F.count("*").alias("df"))
    per = (
        grams.join(df, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_distinct_grams"),
            F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)).alias("n_dup_grams"),
        )
    )
    return per.select(
        "doc_id",
        "n_distinct_grams",
        "n_dup_grams",
        # exact integer-micro
        F.expr(
            "(n_dup_grams * CAST(1000000 AS BIGINT)) div n_distinct_grams"
        ).alias("dup_frac_micro"),
    ).orderBy("doc_id")


@register(
    "text_pmi_collocations",
    oracle="""
        WITH w AS (
            SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS ws
            FROM documents
        ),
        toks AS (SELECT unnest(ws) AS tok FROM w),
        uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY tok),
        n_tok AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks),
        bg AS (
            SELECT ws[i] AS w1, ws[i + 1] AS w2
            FROM w, unnest(generate_series(1, len(ws) - 1)) AS t(i)
            WHERE len(ws) >= 2
        ),
        big AS (
            SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
            FROM bg GROUP BY w1, w2
        ),
        n_big AS (SELECT CAST(count(*) AS BIGINT) AS n FROM bg),
        scored AS (
            SELECT b.w1, b.w2, b.c12,
                   round(ln((CAST(b.c12 AS DOUBLE) / nb.n)
                         / ((CAST(u1.c AS DOUBLE) / nt.n)
                            * (CAST(u2.c AS DOUBLE) / nt.n))), 6) AS pmi
            FROM big b
            JOIN uni u1 ON u1.tok = b.w1
            JOIN uni u2 ON u2.tok = b.w2
            CROSS JOIN n_tok nt CROSS JOIN n_big nb
            WHERE b.c12 >= 5
        )
        SELECT w1, w2, c12, pmi
        FROM scored
        ORDER BY pmi DESC, w1, w2
        LIMIT 30
    """,
    description=(
        "PMI collocation mining (the phrase-mining pass a tokenizer/vocab "
        "pipeline runs to find multi-word units worth merging): adjacent "
        "bigrams with count >= 5 scored by pointwise mutual information "
        "ln(P(w1,w2) / (P(w1) P(w2))), top 30. Plan: one bigram explode + "
        "map-side-combinable counts, unigram probabilities joined back by "
        "token key (two hash joins, never a vocab broadcast assumption), "
        "TakeOrderedAndProject for the top-k — no global sort, no window. "
        "The cutoff orders by ROUNDED pmi with a (w1, w2) tiebreak so both "
        "engines pick an identical set"
    ),
    tags=("text", "analytics", "north-star"),
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out_scan(load_table(spark, sf_dir, "documents"))
    ws = d.select(
        F.filter(F.split(F.lower("text"), " "), lambda t: t != "").alias("ws")
    )
    toks = ws.select(F.explode("ws").alias("tok"))
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("c"))
    pairs = ws.filter(F.size("ws") >= 2).select(
        F.explode(
            F.zip_with(
                F.slice(F.col("ws"), 1, F.size("ws") - 1),
                F.slice(F.col("ws"), 2, F.size("ws") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("c12"))
    # NOTE: deriving these totals from uni/big (sum(c) / sum(c12))
    # to share the keyed-agg exchanges was tried and measured WORSE
    # (0.89 -> 0.99 best-of-5 in-session A/B; exchange reuse never fired,
    # and the keyed-agg subtree costs more than the plain count) — the
    # straight recounts below stay.
    n_tok = toks.agg(F.count(F.lit(1)).cast("long").alias("n"))
    n_big = pairs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    u1 = uni.select(F.col("tok").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("c").alias("c2"))
    nt = F.broadcast(n_tok.select(F.col("n").alias("n_tok")))
    nb = F.broadcast(n_big.select(F.col("n").alias("n_big")))
    scored = (
        big.filter(F.col("c12") >= 5)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(nt)
        .crossJoin(nb)
        .select(
            "w1",
            "w2",
            "c12",
            F.round(
                F.log(
                    (F.col("c12").cast("double") / F.col("n_big"))
                    / (
                        (F.col("c1").cast("double") / F.col("n_tok"))
                        * (F.col("c2").cast("double") / F.col("n_tok"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), "w1", "w2").limit(30)


@register(
    "text_char_entropy_filter",
    oracle="""
        WITH cf AS (
            SELECT doc_id, c, count(*) AS n
            FROM (SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents)
            GROUP BY doc_id, c
        ),
        tot AS (SELECT doc_id, sum(n) AS tot FROM cf GROUP BY doc_id),
        ent AS (
            SELECT cf.doc_id,
                   CAST(sum(cf.n) AS BIGINT) AS n_chars,
                   -sum((CAST(cf.n AS DOUBLE) / t.tot)
                        * ln(CAST(cf.n AS DOUBLE) / t.tot)) AS h
            FROM cf JOIN tot t ON t.doc_id = cf.doc_id
            GROUP BY cf.doc_id
        )
        SELECT doc_id, n_chars, round(h, 6) AS char_entropy_nats,
               round(h, 6) >= 2.5 AS r_entropy_floor,
               round(h, 6) <= 5.0 AS r_entropy_ceiling,
               (round(h, 6) >= 2.5) AND (round(h, 6) <= 5.0) AS kept
        FROM ent ORDER BY doc_id
    """,
    description=(
        "character-entropy gibberish filter: per-document Shannon entropy of "
        "the doc's own character distribution — repeated-character spam sits "
        "near 0 nats, natural English ~4.1, base64/random blobs push toward "
        "ln(alphabet) — with floor (2.5) and ceiling (5.0) verdicts, the "
        "cheap information-theoretic screen run before any model-based "
        "quality gate. One char explode + a map-side-combinable (doc, char) "
        "count, then the entropy fold per doc; verdicts compare the ROUNDED "
        "entropy (the unrounded fold order differs at ulp level between "
        "engines)"
    ),
    tags=("text", "curation", "quality", "filter"),
)
def text_char_entropy_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out_scan(load_table(spark, sf_dir, "documents"))
    cf = (
        d.select("doc_id", F.explode(F.split("text", "")).alias("c"))
        .groupBy("doc_id", "c")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # per-doc totals joined back so the p*ln(p) fold is a plain aggregation
    # (the SQL twin uses a per-doc window for the same ratio)
    tot = cf.groupBy("doc_id").agg(F.sum("n").alias("tot"))
    h = (
        cf.join(tot, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("long").alias("n_chars"),
            (
                -F.sum(
                    (F.col("n").cast("double") / F.col("tot"))
                    * F.log(F.col("n").cast("double") / F.col("tot"))
                )
            ).alias("h"),
        )
    )
    rh = F.round("h", 6)
    return h.select(
        "doc_id",
        "n_chars",
        rh.alias("char_entropy_nats"),
        (rh >= 2.5).alias("r_entropy_floor"),
        (rh <= 5.0).alias("r_entropy_ceiling"),
        ((rh >= 2.5) & (rh <= 5.0)).alias("kept"),
    ).orderBy("doc_id")


@register(
    "text_perplexity_filter",
    oracle="""
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS ws FROM documents
            WHERE len(string_split(text, ' ')) >= 2
        ),
        b AS (
            SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
            FROM w, unnest(generate_series(1, len(ws) - 1)) AS t(i)
        ),
        c AS (SELECT w1, w2, count(*) AS n FROM b GROUP BY w1, w2),
        u AS (SELECT w1, sum(n) AS tot FROM c GROUP BY w1),
        scored AS (
            SELECT b.doc_id,
                   CAST(count(*) AS BIGINT) AS n_bigrams,
                   -avg(ln(c.n / CAST(u.tot AS DOUBLE))) AS h
            FROM b JOIN c USING (w1, w2) JOIN u USING (w1)
            GROUP BY b.doc_id
        )
        SELECT doc_id, n_bigrams, round(h, 6) AS cross_entropy
        FROM scored
        ORDER BY round(h, 6) DESC, doc_id
        LIMIT 25
    """,
    description=(
        "CCNet-style perplexity filter on the cheapest affordable LM: train "
        "an unsmoothed bigram model ON the corpus itself (every scored "
        "bigram is in-vocabulary by construction, so MLE needs no smoothing "
        "and the oracle is exact), score each document's per-bigram "
        "cross-entropy -avg(ln P(w2|w1)), and return the 25 most-perplexing "
        "documents — the kill list a fluency filter would drop first. "
        "Selection orders by the ROUNDED entropy with a doc_id tiebreak so "
        "engine-order float-sum drift below 1e-6 cannot flip the k boundary "
        "(the sim_mips contract, inverted: here rounding is the stabilizer "
        "because the two engines sum per-doc logs in different orders). "
        "Scale: bigram counts are one map-side-combinable shuffle; scoring "
        "is an equi-join of the bigram stream against the O(observed-vocab^2) "
        "count table + one per-doc aggregate — no row-at-a-time Python, "
        "no driver state; at 100 TB the count table itself shards by w1"
    ),
    tags=("text", "north-star", "curation", "aggregation", "scale"),
)
def text_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out_scan(load_table(spark, sf_dir, "documents"))
    words = F.split("text", " ")
    n = F.size(words)
    bigrams = d.filter(n >= 2).select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(words, 1, n - 1),
                F.slice(words, 2, n - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg"),
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    from pyspark.sql import Window  # noqa: PLC0415

    # conditional totals as a WINDOW over the count table, not a separate
    # groupBy+join: a second aggregate re-expands the counts lineage and
    # re-explodes the whole corpus (measured: 3 document scans; now 2 — the
    # bigram stream and the counts chain, the minimum for self-scoring)
    counts = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count("*").alias("n"))
        .withColumn("tot", F.sum("n").over(Window.partitionBy("w1")))
    )
    scored = (
        bigrams.join(counts, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            (-F.avg(F.log(F.col("n").cast("double") / F.col("tot").cast("double")))).alias("h"),
        )
    )
    return (
        scored.select(
            "doc_id", "n_bigrams", F.round("h", 6).alias("cross_entropy")
        )
        .orderBy(F.desc("cross_entropy"), "doc_id")
        .limit(25)
    )


@register(
    "text_heaps_law_fit",
    oracle="""
        WITH mx AS (SELECT max(doc_id) AS md FROM documents),
        tok AS (
            SELECT doc_id, concat_ws(' ', ws[i], ws[i+1], ws[i+2]) AS w
            FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
                 unnest(generate_series(1, len(ws) - 2)) AS t(i)
        ),
        bkt AS (
            SELECT tok.doc_id, tok.w,
                   CAST(floor(tok.doc_id * 20.0 / (mx.md + 1)) AS INTEGER) AS b
            FROM tok CROSS JOIN mx
        ),
        new_v AS (
            SELECT fb AS b, count(*) AS nv
            FROM (SELECT w, min(b) AS fb FROM bkt GROUP BY w)
            GROUP BY fb
        ),
        per_b AS (SELECT b, count(*) AS nt FROM bkt GROUP BY b),
        cum AS (
            SELECT p.b,
                   sum(p.nt) OVER (ORDER BY p.b) AS tokens,
                   sum(coalesce(n.nv, 0)) OVER (ORDER BY p.b) AS vocab
            FROM per_b p LEFT JOIN new_v n ON n.b = p.b
        ),
        pts AS (
            SELECT ln(CAST(tokens AS DOUBLE)) AS x, ln(CAST(vocab AS DOUBLE)) AS y
            FROM cum
        )
        SELECT CAST(count(*) AS BIGINT) AS n_points,
               round(covar_pop(y, x) / var_pop(x), 6) AS heaps_beta,
               round(corr(y, x) * corr(y, x), 6) AS r2
        FROM pts
    """,
    description=(
        "Heaps'-law fit of vocabulary growth: distinct-TRIGRAM count V(n) "
        "vs running token count n at 20 cumulative sample points, OLS "
        "slope of ln V vs ln n (natural corpora sit at beta ~ 0.4-0.6; a "
        "saturating curve flags template/duplicated text, a beta ~ 1 flags "
        "near-random gibberish — the growth-side companion to "
        "text_zipf_fit's frequency side; trigram vocabulary because the "
        "fixture's word pool is deliberately tiny). The trick that makes "
        "it one pass: V(n) needs no per-threshold rescan — each trigram "
        "contributes to vocab growth exactly at its FIRST-occurrence "
        "bucket (min aggregate), so cumulative sums over the 20 bucket "
        "rows reconstruct every sample point. Scale: two "
        "map-side-combinable aggregates over the trigram stream; the "
        "global-order window sees exactly 20 rows at any corpus size"
    ),
    tags=("text", "profiling", "aggregation", "analytics", "scale"),
)
def text_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window  # noqa: PLC0415

    d = fan_out_scan(load_table(spark, sf_dir, "documents"))
    mx = d.agg(F.max("doc_id").alias("md"))
    ws = F.split("text", " ")
    tri = F.transform(
        F.sequence(F.lit(1), F.size(ws) - 2),
        lambda i: F.concat_ws(
            " ",
            F.element_at(ws, i),
            F.element_at(ws, i + 1),
            F.element_at(ws, i + 2),
        ),
    )
    # guard: for <3 words F.sequence(1, size-2) would generate a DESCENDING
    # sequence and element_at(ws, 0) throws, while the oracle's
    # generate_series is simply empty — filter so both engines emit nothing
    # (mirrors text_perplexity_filter's n >= 2 guard)
    tok = d.filter(F.size(ws) >= 3).select("doc_id", F.explode(tri).alias("w"))
    bkt = tok.crossJoin(F.broadcast(mx)).select(
        "w",
        # explicit floor on BOTH engines: DuckDB CAST(float AS INTEGER)
        # ROUNDS while Spark's cast truncates — 19.6 became bucket 20 in
        # the oracle only (21 sample points vs 20)
        F.floor(F.col("doc_id") * 20 / (F.col("md") + 1)).cast("int").alias("b"),
    )
    new_v = (
        bkt.groupBy("w")
        .agg(F.min("b").alias("fb"))
        .groupBy(F.col("fb").alias("b"))
        .agg(F.count("*").alias("nv"))
    )
    per_b = bkt.groupBy("b").agg(F.count("*").alias("nt"))
    w_cum = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = per_b.join(new_v, "b", "left").select(
        F.sum("nt").over(w_cum).alias("tokens"),
        F.sum(F.coalesce(F.col("nv"), F.lit(0))).over(w_cum).alias("vocab"),
    )
    pts = cum.select(
        F.log(F.col("tokens").cast("double")).alias("x"),
        F.log(F.col("vocab").cast("double")).alias("y"),
    )
    return pts.agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.round(F.covar_pop("y", "x") / F.var_pop("x"), 6).alias("heaps_beta"),
        F.round(F.corr("y", "x") * F.corr("y", "x"), 6).alias("r2"),
    )
