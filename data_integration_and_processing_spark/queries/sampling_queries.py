"""Deterministic sampling + data-profiling queries (training-pipeline surface).

The reference has no sampling or validation at all (its ``md.md:43-49`` lists
"data validation before write" as an unimplemented idea; SURVEY.md §2.2) —
these queries provide both, Spark-first. Every oracle expression is generated
from the SAME spec as the Spark plan (``hash_bucket_sql`` twins
``hash_bucket``), so there is no second implementation to drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_integration_and_processing_spark.operators.sampling import (
    deterministic_sample,
    hash_bucket,
    hash_bucket_sql,
    stratified_sample,
    train_test_split,
)
from data_integration_and_processing_spark.operators.parallelism import tiny_local_df
from data_integration_and_processing_spark.queries.catalog import register
from data_integration_and_processing_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# 10% deterministic row sample
# ---------------------------------------------------------------------------

_LINEITEM_BUCKET = hash_bucket_sql(["l_orderkey", "l_linenumber"], 1000)


@register(
    "sample_hash_deterministic",
    oracle=f"""
        SELECT l_orderkey, l_linenumber,
               CAST({_LINEITEM_BUCKET} AS BIGINT) AS bucket
        FROM lineitem
        WHERE {_LINEITEM_BUCKET} < 100
    """,
    description=(
        "10% reproducible sample: exact integer hash bucket of the row key, never rand() "
        "(retries/speculative tasks must agree); pure map filter, refinable (1% ⊂ 10%)"
    ),
    tags=("sampling", "north-star"),
)
def sample_hash_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    keys = ["l_orderkey", "l_linenumber"]
    return deterministic_sample(l, keys, 0.10).select(
        "l_orderkey", "l_linenumber", hash_bucket(keys, 1000).alias("bucket")
    )


# ---------------------------------------------------------------------------
# stratified sample (per-source rates = the "training mix")
# ---------------------------------------------------------------------------

_EVENT_FRACTIONS = {"click": 0.5, "purchase": 1.0, "error": 0.1}
_EVENT_BUCKET = hash_bucket_sql(["event_id"], 1000)
_EVENT_THRESHOLD = (
    "CASE event_type WHEN 'click' THEN 500 WHEN 'error' THEN 100 WHEN 'purchase' THEN 1000 ELSE 50 END"
)


@register(
    "sample_stratified",
    oracle=f"""
        SELECT event_id, event_type,
               CAST({_EVENT_BUCKET} AS BIGINT) AS bucket
        FROM events
        WHERE {_EVENT_BUCKET} < {_EVENT_THRESHOLD}
    """,
    description=(
        "stratified deterministic sampling (sampleBy without rand()): per-stratum keep-rate "
        "as a CASE over the stratum — one codegen'd map stage, no per-stratum jobs"
    ),
    tags=("sampling", "north-star"),
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    sampled = stratified_sample(e, "event_type", _EVENT_FRACTIONS, ["event_id"], default_fraction=0.05)
    return sampled.select("event_id", "event_type", hash_bucket(["event_id"], 1000).alias("bucket"))


# ---------------------------------------------------------------------------
# train/valid/test split (leakage-safe: split is a pure function of the key)
# ---------------------------------------------------------------------------

_DOC_BUCKET = hash_bucket_sql(["doc_id"], 100)


@register(
    "sample_train_test_split",
    oracle=f"""
        SELECT CASE WHEN {_DOC_BUCKET} < 80 THEN 'train'
                    WHEN {_DOC_BUCKET} < 90 THEN 'valid'
                    ELSE 'test' END AS split,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               min(doc_id) AS min_doc,
               max(doc_id) AS max_doc
        FROM documents
        GROUP BY 1
    """,
    description=(
        "80/10/10 train/valid/test split by hash-bucket ranges: disjoint+exhaustive by "
        "construction, same entity always lands in the same split (no leakage on re-runs)"
    ),
    tags=("sampling", "north-star"),
)
def sample_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        train_test_split(d, ["doc_id"], weights=(80, 10, 10))
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


# ---------------------------------------------------------------------------
# column profiling (the reference's unimplemented "data validation" idea)
# ---------------------------------------------------------------------------

_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")

_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name, count(*) AS n_rows,
               count(*) - count({c}) AS n_nulls,
               count(DISTINCT {c}) AS n_distinct,
               CAST(min({c}) AS DOUBLE) AS min_value,
               CAST(max({c}) AS DOUBLE) AS max_value
        FROM lineitem"""
    for c in _PROFILE_COLS
)


@register(
    "profile_column_stats",
    oracle=_PROFILE_ORACLE,
    description=(
        "per-column validation profile (rows/nulls/distinct/min/max) in ONE pass over the "
        "table — the reference's unimplemented 'data validation before write' idea "
        "(reference md.md:43-49); at 100 TB swap count(DISTINCT) for approx_count_distinct"
    ),
    tags=("profiling", "etl"),
)
def profile_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").select(*_PROFILE_COLS)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs += [
            F.count(c).alias(f"{c}__nn"),
            F.countDistinct(c).alias(f"{c}__ndv"),
            F.min(c).cast("double").alias(f"{c}__min"),
            F.max(c).cast("double").alias(f"{c}__max"),
        ]
    one_row = l.agg(*aggs)
    # reshape the single stats row into long format driver-free: one struct
    # per column, exploded back out as rows
    structs = [
        F.struct(
            F.lit(c).alias("column_name"),
            F.col("n_rows").alias("n_rows"),
            (F.col("n_rows") - F.col(f"{c}__nn")).alias("n_nulls"),
            F.col(f"{c}__ndv").alias("n_distinct"),
            F.col(f"{c}__min").alias("min_value"),
            F.col(f"{c}__max").alias("max_value"),
        )
        for c in _PROFILE_COLS
    ]
    return one_row.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


# ---------------------------------------------------------------------------
# source mixing: rebalance language shares to the smallest group
# ---------------------------------------------------------------------------

_MIX_BUCKET = hash_bucket_sql(["doc_id"], 1000)


@register(
    "sample_mix_to_target",
    oracle=f"""
        WITH counts AS (SELECT lang AS g, count(*) AS n FROM documents GROUP BY lang),
        fracs AS (
            SELECT g, CAST(floor(CAST((SELECT min(n) FROM counts) AS DOUBLE) / n * 1000) AS BIGINT) AS thresh
            FROM counts
        )
        SELECT d.doc_id, d.lang, d.source
        FROM documents d JOIN fracs f ON d.lang = f.g
        WHERE {_MIX_BUCKET} < f.thresh
    """,
    description=(
        "data mixing: deterministically downsample every language to the smallest "
        "group's size — count agg (one row per group) -> broadcast keep-fractions -> "
        "hash filter; the corpus is scanned once and never shuffled"
    ),
    tags=("sampling", "north-star"),
)
def sample_mix_to_target(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.operators.sampling import mix_to_target

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return mix_to_target(d, "lang", ["doc_id"])


_VALIDATION_RULES_SQL = """
    SELECT * FROM (VALUES
        ('discount_range',
         (SELECT count(*) FROM lineitem WHERE NOT coalesce(l_discount BETWEEN 0.0 AND 0.1, FALSE))),
        ('linestatus_domain',
         (SELECT count(*) FROM lineitem WHERE NOT coalesce(l_linestatus IN ('O', 'F'), FALSE))),
        ('orderkey_not_null',
         (SELECT count(*) FROM lineitem WHERE l_orderkey IS NULL)),
        ('price_positive',
         (SELECT count(*) FROM lineitem WHERE NOT coalesce(l_extendedprice > 0, FALSE))),
        ('qty_range',
         (SELECT count(*) FROM lineitem WHERE NOT coalesce(l_quantity BETWEEN 1 AND 50, FALSE))),
        ('returnflag_domain',
         (SELECT count(*) FROM lineitem WHERE NOT coalesce(l_returnflag IN ('A', 'N', 'R'), FALSE)))
    ) AS v(rule, n_violations)
"""


@register(
    "etl_validation_report",
    oracle=f"""
        SELECT v.rule, v.n_violations,
               (SELECT count(*) FROM lineitem) AS n_rows,
               v.n_violations = 0 AS pass
        FROM ({_VALIDATION_RULES_SQL}) v
        ORDER BY v.rule
    """,
    description=(
        "rule-based expectation checks (not-null / range / domain) over lineitem in ONE "
        "aggregation pass — each rule is a conditional count, so 50 expectations at "
        "100 TB cost one scan (reference md.md:43-49 'validation before write', "
        "implemented; operators/validation.py)"
    ),
    tags=("profiling", "etl", "validation"),
)
def etl_validation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.operators.validation import (
        in_range,
        not_null,
        one_of,
        validate,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return validate(
        li,
        {
            "orderkey_not_null": not_null("l_orderkey"),
            "qty_range": in_range("l_quantity", 1, 50),
            "discount_range": in_range("l_discount", 0.0, 0.1),
            "price_positive": F.col("l_extendedprice") > 0,
            "returnflag_domain": one_of("l_returnflag", ["A", "N", "R"]),
            "linestatus_domain": one_of("l_linestatus", ["O", "F"]),
        },
    )


# ---------------------------------------------------------------------------
# ML preprocessing: feature scaling pack
# ---------------------------------------------------------------------------

_SCALE_ORACLE = """
WITH stats AS (
    SELECT l_returnflag,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS mu,
           sqrt((CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                           * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                 - CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                   * CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*))
                / (count(*) - 1)) AS sigma,
           min(l_extendedprice) AS vmin,
           max(l_extendedprice) AS vmax,
           quantile_cont(l_extendedprice, 0.50) AS med,
           quantile_cont(l_extendedprice, 0.75) - quantile_cont(l_extendedprice, 0.25) AS iqr
    FROM lineitem GROUP BY l_returnflag
)
SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
       round(l.l_extendedprice, 6) AS price,
       round((l.l_extendedprice - s.mu) / s.sigma, 6) AS zscore,
       (CAST(round(l.l_extendedprice * 100) AS BIGINT)
        - CAST(round(s.vmin * 100) AS BIGINT)) * 1000000
           // (CAST(round(s.vmax * 100) AS BIGINT)
               - CAST(round(s.vmin * 100) AS BIGINT)) AS minmax_micro,
       (CAST(round(l.l_extendedprice * 400) AS BIGINT)
        - CAST(round(s.med * 400) AS BIGINT)) * 1000000
           // (CAST(round(s.iqr * 400) AS BIGINT)) AS robust_micro
FROM lineitem l JOIN stats s USING (l_returnflag)
WHERE l.l_orderkey % 100 = 0
ORDER BY l.l_orderkey, l.l_linenumber
"""


@register(
    "prep_feature_scaling",
    oracle=_SCALE_ORACLE,
    description=(
        "ML preprocessing pack: z-score (DECIMAL sufficient statistics -> one "
        "IEEE finish), min-max, and robust (median/IQR, exact interpolated "
        "percentiles) scaling per group — stats are one aggregate over the full "
        "table, broadcast back onto the row scan; the output subset is "
        "deterministic (l_orderkey % 100). The shape a feature pipeline runs "
        "before training: full-data statistics, row-level transform, no "
        "driver-side fit object"
    ),
    tags=("sampling", "preprocessing", "aggregation", "north-star"),
)
def prep_feature_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    vd = F.col("l_extendedprice").cast("decimal(12,2)")
    stats = l.groupBy("l_returnflag").agg(
        (F.sum(vd).cast("double") / F.count("*")).alias("mu"),
        F.sqrt(
            (
                F.sum(vd * vd).cast("double")
                - F.sum(vd).cast("double") * F.sum(vd).cast("double") / F.count("*")
            )
            / (F.count("*") - 1)
        ).alias("sigma"),
        F.min("l_extendedprice").alias("vmin"),
        F.max("l_extendedprice").alias("vmax"),
        F.percentile("l_extendedprice", 0.50).alias("med"),
        (F.percentile("l_extendedprice", 0.75) - F.percentile("l_extendedprice", 0.25)).alias(
            "iqr"
        ),
    )
    price = F.col("l_extendedprice")
    return (
        l.filter(F.col("l_orderkey") % 100 == 0)
        .join(F.broadcast(stats), "l_returnflag")
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            F.round(price, 6).alias("price"),
            # zscore keeps round(): sigma is a sqrt (irrational a.e., no
            # exact decimal tie — det64 residual only). minmax/robust are
            # rational over the cents / quarter-cent grid, so they ship as
            # exact integer-micro truncating quotients:
            # min/max are cents-exact; the interpolated median/IQR land on
            # the 1/400-dollar grid (quartile fractions), recovered exactly
            # by round(x*400) from the det64 double both engines share
            F.round((price - F.col("mu")) / F.col("sigma"), 6).alias("zscore"),
            F.expr(
                "((CAST(round(l_extendedprice * 100, 0) AS BIGINT)"
                " - CAST(round(vmin * 100, 0) AS BIGINT)) * 1000000)"
                " div (CAST(round(vmax * 100, 0) AS BIGINT)"
                " - CAST(round(vmin * 100, 0) AS BIGINT))"
            ).alias("minmax_micro"),
            F.expr(
                "((CAST(round(l_extendedprice * 400, 0) AS BIGINT)"
                " - CAST(round(med * 400, 0) AS BIGINT)) * 1000000)"
                " div CAST(round(iqr * 400, 0) AS BIGINT)"
            ).alias("robust_micro"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


# ---------------------------------------------------------------------------
# weighted systematic (PPS) sampling — exact integer arithmetic
# ---------------------------------------------------------------------------

_PPS_K = 50  # target sample size per stratum

# Selection rule: scale weights to integer cents; row i is selected iff
# floor(cumw_i * k / total) > floor(cumw_prev * k / total) — i.e. a multiple
# of total/k falls inside the row's weight interval. Pure bigint arithmetic,
# positive operands (Spark div truncates, DuckDB // floors — identical on
# positives), no float anywhere.
_PPS_ORACLE = f"""
WITH s AS (
    SELECT l_returnflag, l_orderkey, l_linenumber,
           CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS w_cents
    FROM lineitem
),
c AS (
    SELECT l_returnflag, l_orderkey, l_linenumber, w_cents,
           CAST(sum(w_cents) OVER (PARTITION BY l_returnflag
                                   ORDER BY l_orderkey, l_linenumber, w_cents
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumw,
           sum(w_cents) OVER (PARTITION BY l_returnflag) AS total
    FROM s
)
SELECT l_returnflag, l_orderkey, l_linenumber, w_cents, cumw
FROM c
WHERE (cumw * {_PPS_K}) // total > ((cumw - w_cents) * {_PPS_K}) // total
ORDER BY l_returnflag, l_orderkey, l_linenumber
"""


@register(
    "sample_weighted_systematic",
    oracle=_PPS_ORACLE,
    description=(
        "deterministic probability-proportional-to-size (PPS) systematic sample, "
        "k per stratum: weights scaled to integer cents, running cumulative "
        "weight per stratum, a row is selected iff a multiple of total/k lands "
        "in its weight interval — pure bigint comparisons, no float, no RNG, so "
        "the sample is reproducible on any engine. One window shuffle keyed by "
        "the stratum; the fixed traversal order is the documented cost (PPS "
        "needs SOME total order — at scale use a hash-of-key order per stratum)"
    ),
    tags=("sampling", "north-star", "window"),
)
def sample_weighted_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window  # noqa: PLC0415

    l = load_table(spark, sf_dir, "lineitem")
    s = l.select(
        "l_returnflag",
        "l_orderkey",
        "l_linenumber",
        (F.col("l_quantity").cast("decimal(12,2)") * 100).cast("bigint").alias("w_cents"),
    )
    # (l_orderkey, l_linenumber) is NOT unique in the fixture; adding
    # w_cents makes tied rows interchangeable (identical sort keys => the
    # cumw sequence is invariant to their relative order)
    ordw = Window.partitionBy("l_returnflag").orderBy(
        "l_orderkey", "l_linenumber", "w_cents"
    )
    c = s.withColumn(
        "cumw", F.sum("w_cents").over(ordw.rowsBetween(Window.unboundedPreceding, 0))
    ).withColumn("total", F.sum("w_cents").over(Window.partitionBy("l_returnflag")))
    sel = F.expr(f"(cumw * {_PPS_K}) div total") > F.expr(
        f"((cumw - w_cents) * {_PPS_K}) div total"
    )
    return (
        c.filter(sel)
        .select("l_returnflag", "l_orderkey", "l_linenumber", "w_cents", "cumw")
        .orderBy("l_returnflag", "l_orderkey", "l_linenumber")
    )


_EXACT_N_PER_STRATUM = 50
_EXACT_N_KEY_SQL = hash_bucket_sql(["doc_id"], 1_000_003, seed=17)


@register(
    "sample_exact_stratum_counts",
    oracle=f"""
        WITH ranked AS (
            SELECT source, doc_id,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY ({_EXACT_N_KEY_SQL}) ASC, doc_id ASC
                   ) AS rn
            FROM documents
        )
        SELECT source, doc_id, rn
        FROM ranked WHERE rn <= {_EXACT_N_PER_STRATUM}
        ORDER BY source, rn
    """,
    description=(
        "exact-N per-stratum sampling: rank each stratum by a portable "
        "deterministic integer hash of the row key (the same generated-SQL-twin "
        "spec as every sampler here) and keep the first N — 'exactly 50 "
        "uniformly-random docs per source, reproducibly', where fraction-based "
        "sampling can only hit N in expectation. One shuffle keyed by stratum; "
        "for huge strata swap row_number for a two-pass threshold estimate "
        "(sample the hash distribution, filter below the estimated N-th "
        "quantile, exact-rank the small survivor set)"
    ),
    tags=("sampling", "north-star", "window"),
)
def sample_exact_stratum_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window  # noqa: PLC0415

    d = load_table(spark, sf_dir, "documents")
    key = hash_bucket(["doc_id"], 1_000_003, seed=17)
    w = Window.partitionBy("source").orderBy(key.asc(), F.col("doc_id").asc())
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _EXACT_N_PER_STRATUM)
        .select("source", "doc_id", "rn")
        .orderBy("source", "rn")
    )


# ---------------------------------------------------------------------------
# temperature mixing (T=2): sqrt-weighted source rebalance
# ---------------------------------------------------------------------------

_TEMP_BUCKET = hash_bucket_sql(["doc_id"], 1000)


@register(
    "sample_temperature_mix",
    oracle=f"""
        WITH counts AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
        tot AS (
            SELECT CAST(sum(n) AS BIGINT) AS total,
                   CAST(sum(CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT)) AS BIGINT) AS z
            FROM counts
        ),
        th AS (
            SELECT source,
                   least(1000, CAST(floor(
                       (CAST(CAST(floor(0.6 * total) AS BIGINT) AS DOUBLE)
                            * CAST(CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS DOUBLE)
                            * 1000.0)
                       / (CAST(z AS DOUBLE) * CAST(n AS DOUBLE))) AS BIGINT)) AS thresh
            FROM counts, tot
        )
        SELECT d.doc_id, d.source, CAST({_TEMP_BUCKET.replace('doc_id', 'd.doc_id')} AS BIGINT) AS bucket
        FROM documents d JOIN th ON d.source = th.source
        WHERE {_TEMP_BUCKET.replace('doc_id', 'd.doc_id')} < th.thresh
    """,
    description=(
        "temperature-weighted corpus mixing (T=2): source g keeps "
        "budget * sqrt(n_g)/sum sqrt(n_h) rows — upsamples small sources relative "
        "to natural share without flattening to uniform (mix_to_target is the "
        "T=inf limit). floor(sqrt) + integer arithmetic keeps Spark and the SQL "
        "twin bit-identical (IEEE sqrt is correctly rounded; general pow is not); "
        "the corpus is scanned once, filtered by the broadcast per-source "
        "threshold, never shuffled"
    ),
    tags=("sampling", "north-star", "scale"),
)
def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.operators.sampling import (  # noqa: PLC0415
        temperature_mix,
    )

    d = load_table(spark, sf_dir, "documents")
    kept = temperature_mix(d, "source", ["doc_id"], budget_frac=0.6)
    return kept.select("doc_id", "source", hash_bucket(["doc_id"], 1000).alias("bucket"))


_AB_BUCKET = hash_bucket_sql(["user_id"], 2, seed=7)


@register(
    "sample_ab_srm_audit",
    oracle=f"""
        WITH assign AS (
            SELECT DISTINCT user_id, {_AB_BUCKET} AS arm
            FROM events
        ),
        counts AS (SELECT arm, count(*) AS n FROM assign GROUP BY arm),
        tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts)
        SELECT c.arm, c.n, t.total * 5 AS expected_x10,
               ((2 * c.n - t.total) * (2 * c.n - t.total)
                * CAST(500000 AS BIGINT)) // t.total AS chisq_term_micro
        FROM counts c, tot t
        ORDER BY c.arm
    """,
    description=(
        "A/B experiment assignment + sample-ratio-mismatch audit: users "
        "hash-bucketed into two arms with the portable integer hash (same "
        "assignment in any engine or language — the property an experiment "
        "platform actually needs), then per-arm chi-square terms vs the 50/50 "
        "expectation (sum them and compare to 3.84 for the SRM alarm at "
        "p=0.05). One distinct + one 2-row aggregate; nothing wide shuffles"
    ),
    tags=("sampling", "quality", "analytics", "north-star"),
)
def sample_ab_srm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    assign = e.select(
        "user_id", hash_bucket(["user_id"], 2, seed=7).alias("arm")
    ).distinct()
    counts = assign.groupBy("arm").agg(F.count("*").alias("n"))
    tot = counts.agg(F.sum("n").cast("bigint").alias("total"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "arm",
            "n",
            # exact integer forms: expected ships in
            # tenths (total*5 == 10*(total/2)); the chi2 term collapses to
            # (2n - total)^2 / (2*total), a truncating micro quotient
            (F.col("total") * 5).alias("expected_x10"),
            F.expr(
                "((2 * n - total) * (2 * n - total) * CAST(500000 AS BIGINT))"
                " div total"
            ).alias("chisq_term_micro"),
        )
        .orderBy("arm")
    )


_KFOLD_BUCKET = hash_bucket_sql(["user_id"], 5, seed=11)


@register(
    "sample_kfold_assignment",
    oracle=f"""
        WITH assign AS (
            SELECT DISTINCT user_id, CAST({_KFOLD_BUCKET} AS BIGINT) AS fold
            FROM events
        ),
        ev AS (
            SELECT e.user_id, a.fold FROM events e JOIN assign a USING (user_id)
        )
        SELECT fold,
               count(*) AS n_events,
               count(DISTINCT user_id) AS n_users
        FROM ev GROUP BY fold ORDER BY fold
    """,
    description=(
        "5-fold cross-validation assignment keyed by USER (the grouping "
        "unit), not by event — every event of a user lands in one fold, so "
        "no entity leaks across train/eval folds on re-runs or engine "
        "changes (the portable integer hash guarantees identical folds "
        "anywhere). Output is the per-fold balance readout; the assignment "
        "join broadcasts the O(users) fold table"
    ),
    tags=("sampling", "north-star", "quality"),
)
def sample_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    assign = e.select(
        "user_id", hash_bucket(["user_id"], 5, seed=11).cast("bigint").alias("fold")
    ).distinct()
    ev = e.select("user_id").join(F.broadcast(assign), "user_id")
    return (
        ev.groupBy("fold")
        .agg(F.count("*").alias("n_events"), F.count_distinct("user_id").alias("n_users"))
        .orderBy("fold")
    )


@register(
    "sample_mix_greedy_budget",
    oracle="""
        WITH per_source AS (
            SELECT source,
                   count(*) AS n_avail,
                   CAST(sum(least(n_chars * 2500, 1000000)) // count(*) AS BIGINT)
                       AS quality_micro
            FROM documents GROUP BY source
        ),
        ranked AS (
            SELECT source, n_avail, quality_micro,
                   row_number() OVER (ORDER BY quality_micro DESC, source) AS rnk,
                   least(n_avail, 150) AS want
            FROM per_source
        ),
        cum AS (
            SELECT *,
                   CAST(coalesce(sum(want) OVER (ORDER BY rnk
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        AS BIGINT) AS cum_before
            FROM ranked
        )
        SELECT source, rnk, n_avail, quality_micro,
               CAST(greatest(least(want, 400 - cum_before), 0) AS BIGINT) AS alloc
        FROM cum ORDER BY rnk
    """,
    description=(
        "training-mix planning: greedy budget allocation across sources by "
        "quality rank — each source contributes up to a per-source cap "
        "(diversity ceiling, 150 docs) in descending-quality order until the "
        "corpus budget (400) is spent. The sequential greedy linearizes to a "
        "prefix sum over capped wants (alloc_i = clamp(budget - cum_before, "
        "0, want_i)), so the whole plan is one per-source aggregate plus a "
        "window over the O(sources) table — no iteration, no driver loop"
    ),
    tags=("sampling", "north-star", "curation", "aggregation"),
)
def sample_mix_greedy_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window  # noqa: PLC0415

    d = load_table(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.count("*").alias("n_avail"),
        # exact integer-micro mean of per-row capped micro scores:
        # n_chars/400 capped at 1 == least(n_chars*2500,
        # 1e6) in micro units, and the greedy rank orders by the SAME
        # exact integers on both engines
        F.expr(
            "sum(least(n_chars * 2500, 1000000)) div count(*)"
        ).alias("quality_micro"),
    )
    ranked = per_source.select(
        "source",
        "n_avail",
        "quality_micro",
        F.row_number().over(
            Window.orderBy(F.desc("quality_micro"), F.asc("source"))
        ).alias("rnk"),
        F.least("n_avail", F.lit(150)).alias("want"),
    )
    w = Window.orderBy("rnk").rowsBetween(Window.unboundedPreceding, -1)
    cum = ranked.withColumn(
        "cum_before", F.coalesce(F.sum("want").over(w), F.lit(0)).cast("bigint")
    )
    return cum.select(
        "source",
        "rnk",
        "n_avail",
        "quality_micro",
        F.greatest(F.least(F.col("want"), 400 - F.col("cum_before")), F.lit(0))
        .cast("bigint")
        .alias("alloc"),
    ).orderBy("rnk")


_RES_N = 100
_RES_M = 2_147_483_647  # HASH_MOD


def _reservoir_key_sql() -> str:
    u = f"(CAST({hash_bucket_sql(['doc_id'], _RES_M, seed=7)} AS DOUBLE) + 1.0) / {float(_RES_M + 1)}"
    return f"round(pow({u}, 1.0 / CAST(n_chars AS DOUBLE)), 6)"


@register(
    "sample_weighted_reservoir",
    oracle=f"""
        WITH keyed AS (
            SELECT doc_id, source, n_chars,
                   {_reservoir_key_sql()} AS res_key
            FROM documents
        )
        SELECT doc_id, source, n_chars, res_key
        FROM keyed
        ORDER BY res_key DESC, doc_id
        LIMIT {_RES_N}
    """,
    description=(
        "weighted reservoir sample without replacement (Efraimidis-Spirakis "
        "A-ES): each row draws key u^(1/w) with u from the portable integer "
        "hash (NOT rand(), which Spark re-evaluates on task retry) and the "
        "top-N keys ARE the weighted sample — here w = n_chars, so selection "
        "probability tracks document length. The key is rounded to 6 digits "
        "in BOTH engines before ranking (libm pow may drift a final ulp "
        "between JVM and C; rounding makes the order engine-stable, with "
        "doc_id breaking the induced ties identically). Scale: pure map "
        "stage + one top-N (partial per partition, final N-row merge) — no "
        "shuffle of the corpus, no driver state, retry-deterministic"
    ),
    tags=("sampling", "llm-pipeline", "scale"),
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    u = (hash_bucket(["doc_id"], _RES_M, seed=7).cast("double") + F.lit(1.0)) / F.lit(
        float(_RES_M + 1)
    )
    keyed = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.round(F.pow(u, F.lit(1.0) / F.col("n_chars").cast("double")), 6).alias("res_key"),
    )
    return keyed.orderBy(F.desc("res_key"), F.asc("doc_id")).limit(_RES_N)


_BOOT_B = 100
_BOOT_M = 2_147_483_647
# Poisson(1) CDF thresholds, truncated at k=5 (P(X>5) ~ 6e-4): identical
# 10-digit literals on both sides make the inverse-CDF draw engine-exact.
_POIS_CDF = (0.3678794412, 0.7357588823, 0.9196986029, 0.9810118431, 0.9963401532)


def _pois_k_sql(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {c!r} THEN {k}" for k, c in enumerate(_POIS_CDF)
    )
    return f"(CASE {cases} ELSE 5 END)"


@register(
    "sample_poisson_bootstrap_ci",
    oracle=f"""
        WITH reps AS (
            SELECT e.event_type, g.b,
                   {_pois_k_sql(f"(CAST({hash_bucket_sql(['event_id', 'b'], _BOOT_M, seed=11)} AS DOUBLE) + 0.5) / {float(_BOOT_M)}")} AS k,
                   e.value
            FROM events e CROSS JOIN (SELECT unnest(range(0, {_BOOT_B})) AS b) g
        ),
        means AS (
            SELECT event_type, b,
                   sum(k * value) / sum(k) AS mean_b
            FROM reps GROUP BY event_type, b
        ),
        raw AS (
            SELECT event_type,
                   (CAST(round(sum(value) * 10000) AS BIGINT) * 100) // count(*)
                       AS mean_value_micro
            FROM events GROUP BY event_type
        )
        SELECT m.event_type,
               raw.mean_value_micro,
               round(percentile_cont(0.025) WITHIN GROUP (ORDER BY mean_b), 6) AS ci_lo,
               round(percentile_cont(0.975) WITHIN GROUP (ORDER BY mean_b), 6) AS ci_hi
        FROM means m JOIN raw ON m.event_type = raw.event_type
        GROUP BY m.event_type, raw.mean_value_micro
        ORDER BY m.event_type
    """,
    description=(
        f"Poisson bootstrap 95% CI of mean(value) per event type, B={_BOOT_B} "
        "replicates: each (row, replicate) draws a Poisson(1) resample weight "
        "by inverse-CDF over a portable-hash uniform — the MapReduce-native "
        "bootstrap (no per-replicate resampling pass, no driver RNG state, "
        "retry-deterministic because the weight is a pure function of "
        "(event_id, b)). One explode x one map-side-combinable aggregate: "
        "B per-group sufficient statistics in a single scan, then the "
        "percentile runs over B-row groups. At 100 TB the explode is the "
        "documented cost lever (B x scan bytes); weighted sufficient-stats "
        "accumulation per replicate IN one pass (no explode) is the "
        "grouped-map variant when B x rows exceeds shuffle budget"
    ),
    tags=("sampling", "statistics", "scale"),
)
def sample_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.operators.parallelism import (  # noqa: PLC0415
        fan_out_scan,
    )

    e = load_table(spark, sf_dir, "events")
    # the B-way explode + Poisson inverse-CDF case chain
    # + partial aggregation all ran inside the single-split fixture scan
    # (0.92s single-task stage). Fan out BEFORE the explode so the added
    # shuffle moves the 1x rows, not the Bx exploded rows. Replicate means
    # are round()ed det64 doubles (the registered tie argument); partial
    # sums of k (int) stay exact in any order.
    rep = fan_out_scan(e.select("event_type", "event_id", "value")).select(
        "event_type", "event_id", "value", F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b")
    )
    u = (hash_bucket(["event_id", "b"], _BOOT_M, seed=11).cast("double") + F.lit(0.5)) / F.lit(
        float(_BOOT_M)
    )
    k = F.lit(5)
    for kk, c in reversed(list(enumerate(_POIS_CDF))):
        k = F.when(u < F.lit(c), F.lit(kk)).otherwise(k)
    means = (
        rep.withColumn("k", k)
        .groupBy("event_type", "b")
        .agg((F.sum(F.col("k") * F.col("value")) / F.sum("k")).alias("mean_b"))
    )
    # exact integer-micro corpus mean; the CI
    # bounds stay round()ed — bootstrap-replicate percentiles interpolate
    # det64 doubles, not a single data-dependent rational
    raw = e.groupBy("event_type").agg(
        F.expr(
            "(CAST(round(sum(value) * 10000, 0) AS BIGINT) * CAST(100 AS BIGINT))"
            " div count(*)"
        ).alias("mean_value_micro")
    )
    return (
        means.join(F.broadcast(raw), "event_type")
        .groupBy("event_type", "mean_value_micro")
        .agg(
            F.round(F.expr("percentile(mean_b, 0.025)"), 6).alias("ci_lo"),
            F.round(F.expr("percentile(mean_b, 0.975)"), 6).alias("ci_hi"),
        )
        .orderBy("event_type")
    )


_DELTA_ARM = hash_bucket_sql(["user_id"], 2, seed=7)

_DELTA_ORACLE = f"""
WITH per_user AS (
    SELECT user_id, {_DELTA_ARM} AS arm,
           CAST(sum(CAST(value AS DECIMAL(18,9))) AS DECIMAL(18,6)) AS x,
           CAST(count(*) AS BIGINT) AS y
    FROM events GROUP BY user_id
),
stats AS (
    SELECT arm,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(x) AS DOUBLE) AS sx,
           CAST(sum(x) * 1000000 AS HUGEINT) AS sx_micro,
           CAST(sum(y) AS BIGINT) AS sy_int,
           CAST(sum(y) AS DOUBLE) AS sy,
           CAST(sum(CAST(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6))
                          AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
           CAST(sum(CAST(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,0))
                          AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
           CAST(sum(y * y) AS DOUBLE) AS syy
    FROM per_user GROUP BY arm
)
SELECT arm, n_users,
       CAST(sx_micro // sy_int AS BIGINT) AS ratio_micro,
       round(sqrt((
                 (sxx / n_users - (sx / n_users) * (sx / n_users))
               - 2.0 * ((sx / n_users) / (sy / n_users))
                     * (sxy / n_users - (sx / n_users) * (sy / n_users))
               + ((sx / n_users) / (sy / n_users)) * ((sx / n_users) / (sy / n_users))
                     * (syy / n_users - (sy / n_users) * (sy / n_users))
             ) / n_users) / (sy / n_users), 6) AS se_delta
FROM stats
ORDER BY arm
"""


@register(
    "sample_ab_delta_method",
    oracle=_DELTA_ORACLE,
    description=(
        "delta-method standard error for a RATIO metric (value per event, "
        "analyzed at the user grain) per experiment arm: ratio metrics "
        "violate the iid assumption event-level t-tests make — the unit of "
        "randomization is the user, so se(X̄/Ȳ) comes from the delta "
        "expansion (var_x - 2R cov + R^2 var_y) / (n Ȳ^2). Per-user "
        "numerators are DECIMAL-exact (order-independent sums), cross "
        "moments multiply at width 19 (int128 territory in both engines) and "
        "recast per-term to DECIMAL(38,6) — a deterministic truncation whose "
        "~1e-13 relative effect is invisible at the rounded output — so "
        "both engines finish from matching sufficient statistics with "
        "one spelled-out IEEE chain. Two map-side-combinable aggregations "
        "(user grain, then 2-row arm grain); nothing wide shuffles"
    ),
    tags=("sampling", "statistics", "analytics", "scale"),
)
def sample_ab_delta_method(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(18,9)")).cast("decimal(18,6)").alias("x"),
        F.count("*").cast("bigint").alias("y"),
    )
    per_user = per_user.select(
        hash_bucket(["user_id"], 2, seed=7).alias("arm"), "x", "y"
    )
    stats = per_user.groupBy("arm").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("x").cast("double").alias("sx"),
        (F.sum("x") * 1000000).cast("decimal(38,0)").alias("sx_micro"),
        F.sum("y").cast("long").alias("sy_int"),
        F.sum("y").cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,6)")).cast("double").alias("sxx"),
        F.sum((F.col("x") * F.col("y").cast("decimal(19,0)")).cast("decimal(38,6)"))
        .cast("double")
        .alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    mx = F.col("sx") / F.col("n_users")
    my = F.col("sy") / F.col("n_users")
    r = mx / my
    var_x = F.col("sxx") / F.col("n_users") - mx * mx
    cov = F.col("sxy") / F.col("n_users") - mx * my
    var_y = F.col("syy") / F.col("n_users") - my * my
    se = F.sqrt((var_x - F.lit(2.0) * r * cov + r * r * var_y) / F.col("n_users")) / my
    return stats.select(
        "arm",
        "n_users",
        # exact integer-micro ratio: X/Y == sx/sy of
        # DECIMAL-exact sums, shipped as one truncating DECIMAL(38) div at
        # the 1e-6 scale every other *_micro column uses (one 1e6 factor,
        # not two);
        # se_delta keeps round() — its sqrt makes the value irrational a.e.
        F.expr("CAST(sx_micro div sy_int AS BIGINT)").alias("ratio_micro"),
        F.round(se, 6).alias("se_delta"),
    ).orderBy("arm")


_WELCH_ORACLE = f"""
WITH per_user AS (
    SELECT user_id, {hash_bucket_sql(["user_id"], 2, seed=7)} AS arm,
           CAST(sum(CAST(value AS DECIMAL(18,9))) AS DECIMAL(19,6)) AS x
    FROM events GROUP BY user_id
),
stats AS (
    SELECT arm,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS DOUBLE) AS sx,
           sum(CAST(x * 1000000 AS BIGINT)) AS sx_micro,
           CAST(sum(CAST(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6))
                         AS DECIMAL(38,6))) AS DOUBLE) AS sxx
    FROM per_user GROUP BY arm
),
w AS (
    SELECT
        max(CASE WHEN arm = 0 THEN sx / n END) AS m0,
        max(CASE WHEN arm = 1 THEN sx / n END) AS m1,
        max(CASE WHEN arm = 0 THEN sx_micro END) AS sm0,
        max(CASE WHEN arm = 1 THEN sx_micro END) AS sm1,
        max(CASE WHEN arm = 0 THEN (sxx - sx * sx / n) / (n - 1) / n END) AS v0,
        max(CASE WHEN arm = 1 THEN (sxx - sx * sx / n) / (n - 1) / n END) AS v1,
        max(CASE WHEN arm = 0 THEN n END) AS n0,
        max(CASE WHEN arm = 1 THEN n END) AS n1
    FROM stats
)
SELECT n0, n1,
       CAST(sm0 // n0 AS BIGINT) AS mean_arm0_micro,
       CAST(sm1 // n1 AS BIGINT) AS mean_arm1_micro,
       round((m0 - m1) / sqrt(v0 + v1), 6) AS t_stat,
       round((v0 + v1) * (v0 + v1)
             / (v0 * v0 / (n0 - 1) + v1 * v1 / (n1 - 1)), 6) AS df_welch
FROM w
"""


@register(
    "sample_ab_welch_ttest",
    oracle=_WELCH_ORACLE,
    description=(
        "Welch's t-test between experiment arms on the user-grain metric "
        "(per-user value sum — the correct randomization unit): t statistic "
        "and Welch-Satterthwaite degrees of freedom from DECIMAL-exact "
        "sufficient statistics (order-independent sums; width-19 squares "
        "recast to DECIMAL(38,6) as in sample_ab_delta_method), finished by "
        "one spelled-out IEEE chain in both engines. v0/v1 here are the "
        "squared standard errors s^2/n. Two map-side-combinable "
        "aggregations, then a 2-row pivot to one decision row"
    ),
    tags=("sampling", "statistics", "analytics"),
)
def sample_ab_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    per_user = (
        e.groupBy("user_id")
        .agg(F.sum(F.col("value").cast("decimal(18,9)")).cast("decimal(19,6)").alias("x"))
        .select(hash_bucket(["user_id"], 2, seed=7).alias("arm"), "x")
    )
    stats = per_user.groupBy("arm").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        # exact integer-micro arm sum: the published means ship as
        # truncating integral division (round(sx/n, 6)
        # can land on a round-half tie where the engines split)
        F.sum(F.expr("CAST(x * 1000000 AS BIGINT)")).alias("sx_micro"),
        F.sum((F.col("x").cast("decimal(19,6)") * F.col("x").cast("decimal(19,6)")).cast("decimal(38,6)"))
        .cast("double")
        .alias("sxx"),
    )
    pick = lambda arm, col: F.max(F.when(F.col("arm") == arm, col))  # noqa: E731
    se2 = lambda: (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (  # noqa: E731
        F.col("n") - 1
    ) / F.col("n")
    w = stats.agg(
        pick(0, F.col("sx") / F.col("n")).alias("m0"),
        pick(1, F.col("sx") / F.col("n")).alias("m1"),
        pick(0, F.col("sx_micro")).alias("sm0"),
        pick(1, F.col("sx_micro")).alias("sm1"),
        pick(0, se2()).alias("v0"),
        pick(1, se2()).alias("v1"),
        pick(0, F.col("n")).alias("n0"),
        pick(1, F.col("n")).alias("n1"),
    )
    return w.select(
        "n0",
        "n1",
        F.expr("sm0 div n0").alias("mean_arm0_micro"),
        F.expr("sm1 div n1").alias("mean_arm1_micro"),
        F.round((F.col("m0") - F.col("m1")) / F.sqrt(F.col("v0") + F.col("v1")), 6).alias("t_stat"),
        F.round(
            (F.col("v0") + F.col("v1"))
            * (F.col("v0") + F.col("v1"))
            / (
                F.col("v0") * F.col("v0") / (F.col("n0") - 1)
                + F.col("v1") * F.col("v1") / (F.col("n1") - 1)
            ),
            6,
        ).alias("df_welch"),
    )


_KS_B = 1000

_KS_ORACLE = f"""
WITH assign AS (
    SELECT {hash_bucket_sql(["user_id"], 2, seed=7)} AS arm, value FROM events
),
bounds AS (SELECT min(value) AS lo, max(value) AS hi FROM assign),
binned AS (
    SELECT arm,
           least(CAST(floor((value - lo) / ((hi - lo) / {_KS_B}.0)) AS INT), {_KS_B - 1}) AS bin
    FROM assign CROSS JOIN bounds
),
grid AS (
    SELECT bin,
           CAST(count(CASE WHEN arm = 0 THEN 1 END) AS BIGINT) AS c0,
           CAST(count(CASE WHEN arm = 1 THEN 1 END) AS BIGINT) AS c1
    FROM binned GROUP BY bin
),
cum AS (
    SELECT bin,
           sum(c0) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS k0,
           sum(c1) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS k1
    FROM grid
),
tot AS (SELECT CAST(sum(c0) AS BIGINT) AS n0, CAST(sum(c1) AS BIGINT) AS n1 FROM grid)
SELECT n0, n1,
       CAST(bin AS INT) AS ks_bin,
       CAST((abs(k0 * n1 - k1 * n0) * 1000000) // (n0 * n1) AS BIGINT) AS ks_d_micro
FROM cum CROSS JOIN tot
ORDER BY abs(k0 * n1 - k1 * n0) DESC, bin
LIMIT 1
"""


@register(
    "quality_ks_drift_bucketed",
    oracle=_KS_ORACLE,
    description=(
        f"two-sample Kolmogorov-Smirnov drift statistic between experiment "
        f"arms, computed on a {_KS_B}-bin equi-width grid: D = max |ECDF0 - "
        "ECDF1| evaluated at bin edges — the supremum is found by INTEGER "
        "cross-multiplication (|k0*n1 - k1*n0|, exact in int64), so the "
        "argmax is engine-deterministic and only the final reported D is a "
        "float. Bucketing bounds the understatement of exact KS by 1/bins "
        "and is what makes the statistic 100 TB-safe: the exact form needs "
        "a global sort of every observation, the bucketed form needs one "
        "map-side-combinable histogram + a cumulative pass over O(bins) "
        "rows. The nonparametric complement to quality_psi_drift"
    ),
    tags=("sampling", "quality", "statistics", "scale"),
)
def quality_ks_drift_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window  # noqa: PLC0415

    e = load_table(spark, sf_dir, "events")
    assign = e.select(hash_bucket(["user_id"], 2, seed=7).alias("arm"), "value")
    bounds = assign.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    width = (F.col("hi") - F.col("lo")) / F.lit(float(_KS_B))
    binned = assign.crossJoin(F.broadcast(bounds)).select(
        "arm",
        F.least(
            F.floor((F.col("value") - F.col("lo")) / width).cast("int"), F.lit(_KS_B - 1)
        ).alias("bin"),
    )
    grid = binned.groupBy("bin").agg(
        F.count(F.when(F.col("arm") == 0, 1)).cast("bigint").alias("c0"),
        F.count(F.when(F.col("arm") == 1, 1)).cast("bigint").alias("c1"),
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = grid.select(
        "bin", F.sum("c0").over(w).alias("k0"), F.sum("c1").over(w).alias("k1")
    )
    tot = grid.agg(
        F.sum("c0").cast("bigint").alias("n0"), F.sum("c1").cast("bigint").alias("n1")
    )
    num = F.abs(F.col("k0") * F.col("n1") - F.col("k1") * F.col("n0"))
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "n0",
            "n1",
            F.col("bin").cast("int").alias("ks_bin"),
            # exact integer-micro KS statistic
            F.expr(
                "(abs(k0 * n1 - k1 * n0) * CAST(1000000 AS BIGINT)) div (n0 * n1)"
            ).alias("ks_d_micro"),
            num.alias("_num"),
        )
        .orderBy(F.desc("_num"), "bin")
        .limit(1)
        .drop("_num")
    )


_NEYMAN_BUDGET = 1000

_NEYMAN_ORACLE = f"""
WITH strata AS (
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_avail,
           CAST(sum(n_chars) AS BIGINT) AS sx,
           CAST(sum(n_chars * n_chars) AS BIGINT) AS sxx
    FROM documents GROUP BY source
),
scored AS (
    SELECT source, n_avail,
           sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n_avail)
                / (n_avail - 1)) AS sd
    FROM strata
),
tot AS (SELECT sum(n_avail * sd) AS z FROM scored)
SELECT source, n_avail,
       round(sd, 6) AS sd,
       round({_NEYMAN_BUDGET} * n_avail * sd / tot.z, 6) AS alloc_neyman,
       CAST(floor({_NEYMAN_BUDGET} * n_avail * sd / tot.z) AS BIGINT) AS alloc_floor
FROM scored CROSS JOIN tot
ORDER BY source
"""


@register(
    "sample_neyman_allocation",
    oracle=_NEYMAN_ORACLE,
    description=(
        f"Neyman (optimal) stratified allocation of a {_NEYMAN_BUDGET}-row "
        "sample budget: stratum h gets budget * N_h*S_h / sum(N_h*S_h) — "
        "minimum-variance estimation concentrates samples where strata are "
        "BIG and VARIABLE, vs proportional allocation's size-only rule "
        "(sample_stratified). Per-stratum sufficient statistics are "
        "INTEGER-exact bigint sums (the metric is integral), so the SDs "
        "are bit-identical across engines; one G-row aggregate, one scalar "
        "normalizer broadcast back. The alloc_floor column is the integer "
        "allocation; largest-remainder top-up is a deterministic O(strata) "
        "post-step"
    ),
    tags=("sampling", "statistics", "scale"),
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    strata = d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_avail"),
        F.sum("n_chars").cast("bigint").alias("sx"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("bigint").alias("sxx"),
    )
    sd = F.sqrt(
        (F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx") / F.col("n_avail"))
        / (F.col("n_avail") - 1)
    )
    scored = strata.select("source", "n_avail", sd.alias("sd"))
    tot = scored.agg(F.sum(F.col("n_avail") * F.col("sd")).alias("z"))
    alloc = F.lit(_NEYMAN_BUDGET) * F.col("n_avail") * F.col("sd") / F.col("z")
    return (
        scored.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_avail",
            F.round("sd", 6).alias("sd"),
            F.round(alloc, 6).alias("alloc_neyman"),
            F.floor(alloc).cast("bigint").alias("alloc_floor"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# greedy k-center coreset (diverse subset selection over embeddings)
# ---------------------------------------------------------------------------

_KC_K = 8


def _kcenter_oracle(k: int) -> str:
    """Unrolled greedy k-center in SQL: step i's candidate distances join the
    cumulative selected set of step i-1; argmax by (rounded min-distance
    DESC, vec_id ASC). Feasible only at oracle scale (all-pairs distances) —
    which is the point of the incremental Spark plan."""
    parts = [
        """WITH e AS (SELECT vec_id, embedding FROM embeddings),
dist AS MATERIALIZED (
    SELECT a.vec_id AS a, b.vec_id AS b,
           list_sum(list_transform(list_zip(a.embedding, b.embedding),
                    p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                       * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) AS d2
    FROM e a JOIN e b ON a.vec_id <> b.vec_id
),
sel1 AS (SELECT min(vec_id) AS v FROM e),
cum1 AS (SELECT v FROM sel1)"""
    ]
    for i in range(2, k + 1):
        parts.append(
            f"""m{i} AS MATERIALIZED (
    SELECT d.a AS vec_id, round(min(d.d2), 6) AS md
    FROM dist d JOIN cum{i - 1} c ON d.b = c.v
    WHERE d.a NOT IN (SELECT v FROM cum{i - 1})
    GROUP BY d.a
),
pick{i} AS MATERIALIZED (SELECT vec_id AS v, md FROM m{i} ORDER BY md DESC, vec_id ASC LIMIT 1),
cum{i} AS MATERIALIZED (SELECT v FROM cum{i - 1} UNION ALL SELECT v FROM pick{i})"""
        )
    finals = ["SELECT 1 AS rank, v AS vec_id, CAST(NULL AS DOUBLE) AS dist2 FROM sel1"]
    finals += [f"SELECT {i} AS rank, v, md FROM pick{i}" for i in range(2, k + 1)]
    return ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(finals) + "\nORDER BY rank"


@register(
    "sample_coreset_kcenter",
    oracle=_kcenter_oracle(_KC_K),
    description=(
        "greedy k-center coreset: the diverse-subset selection used to seed "
        "annotation batches and balance training mixes — start from the min-id "
        "vector, then k-1 times add the point FARTHEST from the current set "
        "(squared-L2, rounded to 6dp with vec_id tie-break so cross-engine "
        "float summation order cannot flip an argmax). The Spark plan is the "
        "scale shape: per-vector min-distance state kept as a COLUMN and "
        "updated incrementally against only the newest center (broadcast as "
        "64 literals), so each of the k rounds is one narrow map + one "
        "TakeOrdered(1) — k passes total, never all-pairs, driver holds k "
        "rows. The oracle unrolls the same greedy over an all-pairs distance "
        "CTE, feasible only at oracle scale"
    ),
    tags=("sampling", "similarity", "north-star", "curation"),
)
def sample_coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def d2_to(vec) -> F.Column:
        from data_integration_and_processing_spark.operators.expr_sql import (  # noqa: PLC0415
            double_array_col,
        )

        arr = double_array_col(vec)
        return F.aggregate(
            F.zip_with(
                F.col("embedding").cast("array<double>"), arr, lambda x, y: (x - y) * (x - y)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    first = e.orderBy("vec_id").limit(1).collect()[0]  # bounded: 1 row
    picked = [(1, int(first["vec_id"]), None)]
    # The rolling min-distance state is persisted each round and the
    # predecessor unpersisted once its successor is materialized, so the k
    # rounds cost k narrow passes over cached state instead of O(k²)
    # lineage recompute from the parquet scan, and per-stage codegen stays
    # O(1) in k (each round's stage reads InMemoryTableScan, not the whole
    # chain).
    mind = (
        e.filter(F.col("vec_id") != first["vec_id"])
        .select("vec_id", "embedding", d2_to(first["embedding"]).alias("md"))
        .persist()
    )
    prev = None
    for rank in range(2, _KC_K + 1):
        top = (
            mind.select("vec_id", "embedding", F.round("md", 6).alias("md_r"))
            .orderBy(F.col("md_r").desc(), F.col("vec_id").asc())
            .limit(1)
            .collect()[0]  # bounded: 1 row per round, k rounds total
        )
        # this collect materialized `mind` from its (cached) predecessor —
        # the predecessor's blocks are now safe to drop
        if prev is not None:
            prev.unpersist()
        picked.append((rank, int(top["vec_id"]), float(top["md_r"])))
        nxt = (
            mind.filter(F.col("vec_id") != top["vec_id"])
            .select("vec_id", "embedding", F.least("md", d2_to(top["embedding"])).alias("md"))
            .persist()
        )
        prev, mind = mind, nxt
    if prev is not None:
        prev.unpersist()
    mind.unpersist()
    return tiny_local_df(spark, picked, "rank int, vec_id bigint, dist2 double")


# ---------------------------------------------------------------------------
# group-keyed k-fold cross-validation assignment (leak-proof folds)
# ---------------------------------------------------------------------------

_KFOLD_K = 5
_KFOLD_BUCKET = hash_bucket_sql(["o_custkey"], _KFOLD_K, seed=7)


@register(
    "sample_stratified_kfold",
    oracle=f"""
        WITH folds AS (
            SELECT o_orderkey, o_custkey, o_orderpriority,
                   {_KFOLD_BUCKET} AS fold
            FROM orders
        )
        SELECT fold, o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
        FROM folds GROUP BY fold, o_orderpriority
        ORDER BY fold, o_orderpriority
    """,
    description=(
        "leak-proof k-fold cross-validation assignment: the fold is a "
        "portable-hash bucket of the GROUP key (customer), never the row "
        "key, so all of an entity's rows land in one fold and eval never "
        "sees a training customer — the grouped-CV discipline that "
        "random row splits silently violate. Assignment is a pure map "
        "(no RNG, no shuffle, retry/backfill-stable); the per-(fold, "
        "stratum) census is one partial aggregate. Both halves derive "
        "from the same hash spec (hash_bucket / hash_bucket_sql), so "
        "there is no second implementation to drift"
    ),
    tags=("sampling", "north-star", "ids"),
)
def sample_stratified_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    fold = hash_bucket(["o_custkey"], _KFOLD_K, seed=7)
    return (
        o.select("o_custkey", "o_orderpriority", fold.alias("fold"))
        .groupBy("fold", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.count_distinct("o_custkey").alias("n_customers"),
        )
        .orderBy("fold", "o_orderpriority")
    )


# ---------------------------------------------------------------------------
# dedup-aware train/eval split (no near-trivial duplicate straddles splits)
# ---------------------------------------------------------------------------

_DSPLIT_BUCKET = hash_bucket_sql(["grp"], 10, seed=11)


@register(
    "sample_split_dedup_aware",
    oracle=f"""
        WITH u AS (
            SELECT doc_id AS id, text FROM documents
            UNION ALL
            -- case/punct variant copies, the leak vector this split closes
            SELECT doc_id + 10000, concat(upper(text), '  !!') FROM documents
        ),
        n AS (
            SELECT id,
                   md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                           ' +', ' ', 'g'))) AS fp
            FROM u
        ),
        g AS (SELECT id, fp, min(id) OVER (PARTITION BY fp) AS grp FROM n)
        SELECT id, grp,
               CASE WHEN {_DSPLIT_BUCKET} < 8 THEN 'train' ELSE 'eval' END AS split
        FROM g ORDER BY id
    """,
    description=(
        "dedup-aware 80/20 split: the split key is the duplicate-GROUP "
        "representative (min id over the normalized-content fingerprint), "
        "never the row id — a variant copy of a training document can "
        "therefore never land in eval (the contamination vector row-keyed "
        "splits leave open, and the reason serious corpora split AFTER "
        "dedup grouping). One fingerprint window + the portable hash on "
        "the representative; assignment stays deterministic under retries "
        "and backfills. Both halves derive from the shared hash spec"
    ),
    tags=("sampling", "dedup", "north-star", "curation"),
)
def sample_split_dedup_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.operators.dedup import normalize_for_dedup  # noqa: PLC0415

    d = load_table(spark, sf_dir, "documents")
    u = d.select(F.col("doc_id").alias("id"), "text").unionByName(
        d.select(
            (F.col("doc_id") + 10000).alias("id"),
            F.concat(F.upper("text"), F.lit("  !!")).alias("text"),
        )
    )
    n = u.select("id", F.md5(normalize_for_dedup(F.col("text")).cast("binary")).alias("fp"))
    # Group representative via map-side-combinable groupBy + join-back, NOT
    # min(id) OVER (PARTITION BY fp): the fingerprint is near-unique, so a
    # window means a full sort of the corpus on a high-cardinality key,
    # while the partial-aggregate shape combines before the (same-keyed)
    # shuffle and lets AQE split any pathological fp skew on the join.
    reps = n.groupBy("fp").agg(F.min("id").alias("grp"))
    g = n.join(reps, "fp").select("id", "grp")
    split = F.when(hash_bucket(["grp"], 10, seed=11) < 8, F.lit("train")).otherwise(
        F.lit("eval")
    )
    return g.select("id", "grp", split.alias("split")).orderBy("id")


# ---------------------------------------------------------------------------
# DSIR-style importance resampling toward a target domain
# ---------------------------------------------------------------------------

_DSIR_TARGETS = ("src0", "src1")  # proxy "high-quality target domain" sources
_DSIR_K = 100
_DSIR_GUMBEL_N = 1_000_000
_DSIR_SEED = 7

_DSIR_TARGET_SQL = ", ".join(f"'{s}'" for s in _DSIR_TARGETS)
_DSIR_BUCKET_SQL = hash_bucket_sql(["doc_id"], _DSIR_GUMBEL_N, seed=_DSIR_SEED)

_DSIR_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, source, unnest(string_split(text, ' ')) AS term FROM documents
),
stats AS (
    SELECT count(*) AS n_all,
           sum(CASE WHEN source IN ({_DSIR_TARGET_SQL}) THEN 1 ELSE 0 END) AS n_tgt
    FROM tok
),
vocab AS (
    SELECT term, count(*) AS tf_all,
           sum(CASE WHEN source IN ({_DSIR_TARGET_SQL}) THEN 1 ELSE 0 END) AS tf_tgt
    FROM tok GROUP BY term
),
vsize AS (SELECT count(*) AS v FROM vocab),
doc AS (
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           sum(ln((vb.tf_tgt + 1.0) / (s.n_tgt + vs.v))
               - ln((vb.tf_all + 1.0) / (s.n_all + vs.v))) AS logw
    FROM tok t JOIN vocab vb USING (term), stats s, vsize vs
    GROUP BY t.doc_id
)
SELECT doc_id, n_tokens,
       round(logw, 6) AS logweight,
       round(logw + (-ln(-ln((({_DSIR_BUCKET_SQL}) + 0.5) / {_DSIR_GUMBEL_N}.0))), 6)
           AS score
FROM doc
ORDER BY score DESC, doc_id
LIMIT {_DSIR_K}
"""


@register(
    "sample_dsir_importance",
    oracle=_DSIR_ORACLE,
    description=(
        "DSIR-style data selection (importance resampling toward a target "
        "domain, Xie et al. 2023): add-one-smoothed unigram LMs for the "
        "target sources and the full corpus share ONE vocabulary aggregate, "
        "each document's importance log-weight is the summed token "
        "log-likelihood ratio, and resampling-without-replacement is the "
        "Gumbel-top-k trick with DETERMINISTIC per-doc Gumbel noise derived "
        "from the engine's twinned integer hash (rand() would break on task "
        "retry). Plan: one token-explode shuffle builds the vocab, the "
        "O(vocab) frequency table broadcasts back onto the token stream, one "
        "doc-keyed aggregate scores, TakeOrdered selects k — the corpus "
        "never shuffles twice. At 100 TB the vocab aggregate swaps for "
        "DSIR's hashed n-gram buckets (fixed 2^16 feature space) and the "
        "plan is otherwise unchanged"
    ),
    tags=("sampling", "text", "north-star", "scale"),
)
def sample_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.operators.parallelism import (  # noqa: PLC0415
        fan_out_scan,
    )

    d = fan_out_scan(load_table(spark, sf_dir, "documents"))
    is_tgt = F.col("source").isin(*_DSIR_TARGETS)
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term"), is_tgt.alias("tgt")
    ).persist()
    row = tok.agg(
        F.count("*").alias("n_all"), F.sum(F.col("tgt").cast("long")).alias("n_tgt")
    ).first()
    n_all, n_tgt = int(row["n_all"]), int(row["n_tgt"])
    vocab = tok.groupBy("term").agg(
        F.count("*").alias("tf_all"),
        F.sum(F.col("tgt").cast("long")).alias("tf_tgt"),
    ).persist()
    v_size = vocab.count()

    logratio = F.log((F.col("tf_tgt") + 1.0) / F.lit(float(n_tgt + v_size))) - F.log(
        (F.col("tf_all") + 1.0) / F.lit(float(n_all + v_size))
    )
    per_doc = (
        tok.join(F.broadcast(vocab), "term")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tokens"), F.sum(logratio).alias("logw"))
    )
    bucket = hash_bucket(["doc_id"], _DSIR_GUMBEL_N, seed=_DSIR_SEED)
    u = (bucket.cast("double") + F.lit(0.5)) / F.lit(float(_DSIR_GUMBEL_N))
    gumbel = -F.log(-F.log(u))
    out = (
        per_doc.select(
            "doc_id",
            "n_tokens",
            F.round("logw", 6).alias("logweight"),
            # rounded BEFORE ranking (brute_force_topk discipline) so the
            # selection boundary is engine-stable; ties break on doc_id
            F.round(F.col("logw") + gumbel, 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(_DSIR_K)
    )
    tok.unpersist()
    vocab.unpersist()
    return out


# ---------------------------------------------------------------------------
# training-epoch global shuffle (shard-major, deterministic)
# ---------------------------------------------------------------------------

_EPOCH_SHARDS = 16
_EPOCHS = (0, 1)


@register(
    "sample_epoch_shuffle",
    oracle=f"""
        WITH s AS (
            {" UNION ALL ".join(
                f'''SELECT {epoch} AS epoch, doc_id,
                       md5('{epoch}:' || CAST(doc_id AS VARCHAR)) AS k,
                       CAST({hash_bucket_sql(["doc_id"], _EPOCH_SHARDS, seed=epoch)} AS BIGINT) AS shard
                FROM documents'''
                for epoch in _EPOCHS
            )}
        )
        SELECT epoch, shard, doc_id,
               CAST(row_number() OVER (
                   PARTITION BY epoch, shard ORDER BY k, doc_id
               ) AS BIGINT) AS pos
        FROM s
    """,
    description=(
        "deterministic training-epoch shuffle, shard-major (how epoch order "
        "is actually materialized at scale: readers consume shards in "
        "parallel, intra-shard order is a per-shard window — never a global "
        "row_number): shard = seeded integer hash of the key (epoch is the "
        "seed, so epochs reshuffle), within-shard rank = md5(epoch:id). "
        "Reproducible across retries/partitionings, and refinement-free: "
        "position is a pure function of (epoch, doc_id)"
    ),
    tags=("sampling", "north-star", "ids"),
)
def sample_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window  # noqa: PLC0415

    # single scan: epochs fan out as a generator, not a per-epoch UNION
    # branch (which would re-read the base table once per epoch)
    u = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .select(
            F.explode(F.array(*[F.lit(e) for e in _EPOCHS])).alias("epoch"),
            "doc_id",
        )
        .select(
            "epoch",
            "doc_id",
            F.md5(
                F.concat_ws(
                    ":", F.col("epoch").cast("string"), F.col("doc_id").cast("string")
                ).cast("binary")
            ).alias("k"),
            hash_bucket(["doc_id"], _EPOCH_SHARDS, seed=F.col("epoch")).alias("shard"),
        )
    )
    w = Window.partitionBy("epoch", "shard").orderBy("k", "doc_id")
    return u.select(
        "epoch",
        "shard",
        "doc_id",
        F.row_number().over(w).cast("long").alias("pos"),
    )


@register(
    "sample_ab_cuped_adjustment",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   user_id % 2 AS grp,
                   CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
                                 THEN CAST(value AS DECIMAL(18,9))
                                 ELSE CAST(0 AS DECIMAL(18,9)) END)
                        AS DECIMAL(19,6)) AS y_pre,
                   CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                                 THEN CAST(value AS DECIMAL(18,9))
                                 ELSE CAST(0 AS DECIMAL(18,9)) END)
                        AS DECIMAL(19,6)) AS y
            FROM events GROUP BY user_id
        ),
        g AS (
            SELECT grp,
                   CAST(count(*) AS BIGINT) AS n_g,
                   sum(y_pre) AS sp_g,
                   sum(y) AS sy_g,
                   sum(CAST(y_pre * y_pre AS DECIMAL(38,6))) AS spp_g,
                   sum(CAST(y_pre * y AS DECIMAL(38,6))) AS spy_g,
                   sum(CAST(y * y AS DECIMAL(38,6))) AS syy_g
            FROM per_user GROUP BY grp
        ),
        w AS (
            SELECT max(CASE WHEN grp = 0 THEN n_g END) AS n0,
                   max(CASE WHEN grp = 1 THEN n_g END) AS n1,
                   CAST(max(CASE WHEN grp = 0 THEN sp_g END) AS DOUBLE) AS sp0,
                   CAST(max(CASE WHEN grp = 1 THEN sp_g END) AS DOUBLE) AS sp1,
                   CAST(max(CASE WHEN grp = 0 THEN sy_g END) AS DOUBLE) AS sy0,
                   CAST(max(CASE WHEN grp = 1 THEN sy_g END) AS DOUBLE) AS sy1,
                   CAST(max(CASE WHEN grp = 0 THEN spp_g END) AS DOUBLE) AS spp0,
                   CAST(max(CASE WHEN grp = 1 THEN spp_g END) AS DOUBLE) AS spp1,
                   CAST(max(CASE WHEN grp = 0 THEN spy_g END) AS DOUBLE) AS spy0,
                   CAST(max(CASE WHEN grp = 1 THEN spy_g END) AS DOUBLE) AS spy1,
                   CAST(max(CASE WHEN grp = 0 THEN syy_g END) AS DOUBLE) AS syy0,
                   CAST(max(CASE WHEN grp = 1 THEN syy_g END) AS DOUBLE) AS syy1,
                   CAST(max(CASE WHEN grp = 0 THEN sy_g END) * 1000000 AS HUGEINT)
                       AS symi0,
                   CAST(max(CASE WHEN grp = 1 THEN sy_g END) * 1000000 AS HUGEINT)
                       AS symi1,
                   CAST((max(CASE WHEN grp = 0 THEN sp_g END)
                         + max(CASE WHEN grp = 1 THEN sp_g END)) * 100
                        AS HUGEINT) AS spe2,
                   CAST((max(CASE WHEN grp = 0 THEN sy_g END)
                         + max(CASE WHEN grp = 1 THEN sy_g END)) * 100
                        AS HUGEINT) AS sye2,
                   CAST((max(CASE WHEN grp = 0 THEN spp_g END)
                         + max(CASE WHEN grp = 1 THEN spp_g END)) * 10000
                        AS HUGEINT) AS sppe4,
                   CAST((max(CASE WHEN grp = 0 THEN spy_g END)
                         + max(CASE WHEN grp = 1 THEN spy_g END)) * 10000
                        AS HUGEINT) AS spye4
            FROM g
        ),
        d AS (
            SELECT CAST(n0 AS DOUBLE) AS dn0, CAST(n1 AS DOUBLE) AS dn1,
                   n0, n1, symi0, symi1, spe2, sye2, sppe4, spye4,
                   CAST(n0 + n1 AS DOUBLE) AS n,
                   sp0 + sp1 AS sp, sy0 + sy1 AS sy,
                   spp0 + spp1 AS spp, spy0 + spy1 AS spy, syy0 + syy1 AS syy,
                   sp0, sp1, sy0, sy1
            FROM w
        ),
        t AS (
            SELECT *,
                   sp / n AS mp,
                   (spy / n - (sp / n) * (sy / n))
                   / (spp / n - (sp / n) * (sp / n)) AS th,
                   syy / n - (sy / n) * (sy / n) AS var_y,
                   spp / n - (sp / n) * (sp / n) AS var_pre,
                   spy / n - (sp / n) * (sy / n) AS cov_py
            FROM d
        )
        SELECT CAST(((CAST(n0 AS HUGEINT) + n1) * spye4 - spe2 * sye2) * 1000000
                    // ((CAST(n0 AS HUGEINT) + n1) * sppe4 - spe2 * spe2)
                    AS BIGINT) AS theta_micro,
               CAST((symi1 * n0 - symi0 * n1) // (CAST(n0 AS HUGEINT) * n1)
                    AS BIGINT) AS lift_raw_micro,
               round((sy1 / dn1 - th * (sp1 / dn1 - mp))
                     - (sy0 / dn0 - th * (sp0 / dn0 - mp)), 6) AS lift_cuped,
               round(var_y, 4) AS var_raw,
               round(var_y - 2.0 * th * cov_py + th * th * var_pre, 4) AS var_cuped,
               round(var_y - 2.0 * th * cov_py + th * th * var_pre, 4)
                   <= round(var_y, 4) AS variance_reduced
        FROM t
    """,
    description=(
        "CUPED variance reduction for A/B readouts (the experimentation-"
        "platform staple): per-user pre-period covariate (first-half value "
        "sum) regresses out of the experiment metric (second-half sum) with "
        "theta = cov(pre, y)/var(pre), shrinking metric variance without "
        "biasing the lift. Everything reduces to one user-keyed aggregation "
        "plus closed-form moment arithmetic from DECIMAL-exact sufficient "
        "statistics (order-independent sums — raw double sums are partition-"
        "fold-order-sensitive); theta "
        "ships EXACT as theta_micro — one truncating integer div over "
        "cents-grid moments kept at e2/e4 scale (~19 digits at sf0.1, "
        "inside DECIMAL(38)) — while lift_cuped stays round()ed float "
        "(its cross product needs ~33 digits, the allowlisted "
        "rational-composite); var_cuped "
        "uses the residual-free identity var_y - 2*theta*cov + theta^2*"
        "var_pre, so no second table pass; the variance-reduced "
        "verdict compares rounded values. Treatment = user_id parity, a "
        "deterministic stand-in for the assignment column"
    ),
    tags=("sampling", "analytics", "quality", "north-star"),
)
def sample_ab_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Raw DOUBLE sums would be partition-fold-order-sensitive (a latent
    # hash mismatch), and a second per-row pass for residual variance is
    # unnecessary. Moments are DECIMAL-exact
    # (welch idiom), and var_cuped uses the closed form
    # var_y - 2*th*cov + th^2*var_pre — algebraically identical to the
    # residual-sum population variance, needs NO second table pass, and both
    # engines finish the identical IEEE chain from identical binary64 inputs.
    e = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    zero = F.lit(0).cast("decimal(18,9)")
    per_user = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cut, F.col("value").cast("decimal(18,9)")).otherwise(zero))
        .cast("decimal(19,6)")
        .alias("y_pre"),
        F.sum(F.when(F.col("ts") >= cut, F.col("value").cast("decimal(18,9)")).otherwise(zero))
        .cast("decimal(19,6)")
        .alias("y"),
    ).select((F.col("user_id") % 2).alias("grp"), "y_pre", "y")
    sq = lambda a, b: F.sum(  # noqa: E731
        (F.col(a).cast("decimal(19,6)") * F.col(b).cast("decimal(19,6)")).cast("decimal(38,6)")
    )
    g = per_user.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum("y_pre").alias("sp_g"),
        F.sum("y").alias("sy_g"),
        sq("y_pre", "y_pre").alias("spp_g"),
        sq("y_pre", "y").alias("spy_g"),
        sq("y", "y").alias("syy_g"),
    )
    pick = lambda arm, col: F.max(F.when(F.col("grp") == arm, F.col(col)))  # noqa: E731
    w = g.agg(
        pick(0, "n_g").alias("n0"),
        pick(1, "n_g").alias("n1"),
        (pick(0, "sy_g") * 1000000).cast("decimal(38,0)").alias("symi0"),
        (pick(1, "sy_g") * 1000000).cast("decimal(38,0)").alias("symi1"),
        # exact integer sufficient stats for theta: first moments at
        # cents scale, second moments at the 1e-4 product grid — value
        # lives on the cents grid so these casts are exact; keeping the
        # e2/e4 (not micro) scale buys ~16 digits of DECIMAL(38) headroom
        ((pick(0, "sp_g") + pick(1, "sp_g")) * 100).cast("decimal(38,0)").alias("spe2"),
        ((pick(0, "sy_g") + pick(1, "sy_g")) * 100).cast("decimal(38,0)").alias("sye2"),
        ((pick(0, "spp_g") + pick(1, "spp_g")) * 10000)
        .cast("decimal(38,0)")
        .alias("sppe4"),
        ((pick(0, "spy_g") + pick(1, "spy_g")) * 10000)
        .cast("decimal(38,0)")
        .alias("spye4"),
        *[
            pick(arm, f"{c}_g").cast("double").alias(f"{c}{arm}")
            for c in ("sp", "sy", "spp", "spy", "syy")
            for arm in (0, 1)
        ],
    )
    d = w.select(
        F.col("n0").cast("double").alias("dn0"),
        F.col("n1").cast("double").alias("dn1"),
        "n0",
        "n1",
        "symi0",
        "symi1",
        "spe2",
        "sye2",
        "sppe4",
        "spye4",
        (F.col("n0") + F.col("n1")).cast("double").alias("n"),
        (F.col("sp0") + F.col("sp1")).alias("sp"),
        (F.col("sy0") + F.col("sy1")).alias("sy"),
        (F.col("spp0") + F.col("spp1")).alias("spp"),
        (F.col("spy0") + F.col("spy1")).alias("spy"),
        (F.col("syy0") + F.col("syy1")).alias("syy"),
        "sp0", "sp1", "sy0", "sy1",
    )
    n, sp, sy = F.col("n"), F.col("sp"), F.col("sy")
    t = d.select(
        "*",
        (sp / n).alias("mp"),
        (
            (F.col("spy") / n - (sp / n) * (sy / n))
            / (F.col("spp") / n - (sp / n) * (sp / n))
        ).alias("th"),
        (F.col("syy") / n - (sy / n) * (sy / n)).alias("var_y"),
        (F.col("spp") / n - (sp / n) * (sp / n)).alias("var_pre"),
        (F.col("spy") / n - (sp / n) * (sy / n)).alias("cov_py"),
    )
    th, mp, var_y = F.col("th"), F.col("mp"), F.col("var_y")
    var_cuped = var_y - F.lit(2.0) * th * F.col("cov_py") + th * th * F.col("var_pre")
    return t.select(
        # exact integer-micro theta: theta =
        # (n*spy - sp*sy)/(n*spp - sp^2) over cents-grid sums needs only
        # ~19 digits at sf0.1 (~25 at 1000x) when the moments stay at the
        # e2/e4 grid scale, so theta is one truncating DECIMAL(38) div
        # rather than a round(th, 6) of a rational.
        # lift_cuped below is the one that genuinely can't: its cross
        # product (dy*B - A*dp) needs ~33 digits at sf0.1 growing ~n^3.
        F.expr(
            "CAST(((CAST(n0 AS DECIMAL(38,0)) + n1) * spye4 - spe2 * sye2)"
            " * 1000000"
            " div ((CAST(n0 AS DECIMAL(38,0)) + n1) * sppe4 - spe2 * spe2)"
            " AS BIGINT)"
        ).alias("theta_micro"),
        # exact integer-micro raw lift: a difference
        # of two DECIMAL-exact means ships as one cross-multiplied
        # truncating DECIMAL(38) div; lift_cuped keeps round() — see the
        # quantified ROUND_TIE_ALLOWLIST classification
        F.expr(
            "CAST((symi1 * n0 - symi0 * n1)"
            " div (CAST(n0 AS DECIMAL(38,0)) * n1) AS BIGINT)"
        ).alias("lift_raw_micro"),
        F.round(
            (F.col("sy1") / F.col("dn1") - th * (F.col("sp1") / F.col("dn1") - mp))
            - (F.col("sy0") / F.col("dn0") - th * (F.col("sp0") / F.col("dn0") - mp)),
            6,
        ).alias("lift_cuped"),
        F.round(var_y, 4).alias("var_raw"),
        F.round(var_cuped, 4).alias("var_cuped"),
        (F.round(var_cuped, 4) <= F.round(var_y, 4)).alias("variance_reduced"),
    )


@register(
    "sample_rolling_origin_cv",
    oracle="""
        WITH folds AS (SELECT unnest(generate_series(1, 4)) AS fold),
        bounds AS (
            SELECT fold,
                   TIMESTAMP '2024-01-01' + INTERVAL 5 DAY * fold AS train_end,
                   TIMESTAMP '2024-01-01' + INTERVAL 5 DAY * (fold + 1) AS test_end
            FROM folds
        ),
        assigned AS (
            SELECT b.fold, b.train_end, b.test_end,
                   CASE WHEN e.ts < b.train_end THEN 'train'
                        WHEN e.ts < b.test_end THEN 'test' END AS split,
                   e.event_id
            FROM events e JOIN bounds b
              ON e.ts < b.test_end
        )
        SELECT fold,
               CAST(CAST(train_end AS DATE) AS VARCHAR) AS train_end,
               CAST(CAST(test_end AS DATE) AS VARCHAR) AS test_end,
               CAST(count(*) FILTER (WHERE split = 'train') AS BIGINT) AS n_train,
               CAST(count(*) FILTER (WHERE split = 'test') AS BIGINT) AS n_test,
               count(*) FILTER (WHERE split = 'train') > 0
                   AND count(*) FILTER (WHERE split = 'test') > 0 AS fold_usable
        FROM assigned GROUP BY fold, train_end, test_end ORDER BY fold
    """,
    description=(
        "rolling-origin (expanding-window) time-series cross-validation "
        "assignment: fold k trains on everything before day 5k and tests on "
        "the next 5-day block — the CV scheme that never leaks the future "
        "into training (user-hash k-fold, sample_kfold_assignment, is the "
        "iid twin; this is the temporal one). One broadcast of the 4-row "
        "fold-bounds table against the events scan; per-fold counts and a "
        "usability verdict, all exact date arithmetic"
    ),
    tags=("sampling", "temporal", "north-star"),
)
def sample_rolling_origin_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    base = F.lit("2024-01-01").cast("timestamp")
    folds = spark.range(1, 5).select(F.col("id").cast("int").alias("fold"))
    bounds = folds.select(
        "fold",
        (base + F.make_interval(days=F.col("fold") * 5)).alias("train_end"),
        (base + F.make_interval(days=(F.col("fold") + 1) * 5)).alias("test_end"),
    )
    assigned = e.join(F.broadcast(bounds), F.col("ts") < F.col("test_end")).select(
        "fold",
        "train_end",
        "test_end",
        F.when(F.col("ts") < F.col("train_end"), "train")
        .when(F.col("ts") < F.col("test_end"), "test")
        .alias("split"),
    )
    return (
        assigned.groupBy("fold", "train_end", "test_end")
        .agg(
            F.count(F.when(F.col("split") == "train", 1)).cast("long").alias("n_train"),
            F.count(F.when(F.col("split") == "test", 1)).cast("long").alias("n_test"),
        )
        .select(
            "fold",
            F.col("train_end").cast("date").cast("string").alias("train_end"),
            F.col("test_end").cast("date").cast("string").alias("test_end"),
            "n_train",
            "n_test",
            ((F.col("n_train") > 0) & (F.col("n_test") > 0)).alias("fold_usable"),
        )
        .orderBy("fold")
    )


@register(
    "prep_target_encoding",
    oracle="""
        WITH joined AS (
            -- cent-exact integer base: every published statistic is an
            -- exact rational of integer cents and counts, emitted as
            -- integer-micro truncating division, because
            -- round(quotient, 6) can land on a round-half tie where the
            -- engines' rounding modes split
            SELECT c.c_mktsegment AS segment,
                   CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y_c
            FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        ),
        per_cat AS (
            SELECT segment,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(y_c) AS HUGEINT) AS s_c
            FROM joined GROUP BY segment
        ),
        g AS (
            SELECT CAST(sum(s_c) AS HUGEINT) AS t_c,
                   CAST(sum(n) AS HUGEINT) AS t_n
            FROM per_cat
        )
        SELECT per_cat.segment, per_cat.n,
               CAST((per_cat.s_c * 10000) // per_cat.n AS BIGINT) AS raw_mean_micro,
               CAST(((per_cat.s_c * g.t_n + 100 * g.t_c) * 10000)
                    // (g.t_n * (per_cat.n + 100)) AS BIGINT) AS smoothed_enc_micro,
               CAST((g.t_c * 10000) // g.t_n AS BIGINT) AS global_prior_micro
        FROM per_cat, g
        ORDER BY segment
    """,
    description=(
        "smoothed mean-target encoding of a categorical feature (market "
        "segment -> expected order value): enc = (sum_y + m*prior)/(n + m) "
        "with m = 100 — the empirical-Bayes shrinkage that keeps rare "
        "categories from memorizing their few labels (the leakage-safe "
        "alternative to raw per-category means in feature pipelines). One "
        "fact-dim broadcast join + one map-side-combinable aggregate + a "
        "1-row prior cross; at 100 TB the encoding table is O(categories) "
        "and applies back as a broadcast join"
    ),
    tags=("sampling", "analytics", "aggregation", "join"),
)
def prep_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    joined = o.join(
        F.broadcast(c.select("c_custkey", "c_mktsegment")),
        o.o_custkey == F.col("c_custkey"),
    ).select(
        F.col("c_mktsegment").alias("segment"),
        # cent-exact integer base (order-independent under any shuffle/AQE
        # partitioning); all published statistics are exact rationals of
        # cents and counts emitted as integer-micro truncating division —
        # no float rounding mode left to diverge
        F.expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").alias("y_c"),
    )
    per_cat = joined.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y_c").alias("s_c"),
    ).localCheckpoint(eager=True)
    # the global prior folds from the O(categories) table — no second
    # corpus pass; the smoothed encoding (s/100 + 100*prior)/(n+100)
    # expands over the common denominator to (s_c*t_n + 100*t_c)*1e4
    # div (t_n*(n+100)) — one exact integral division per category
    g = per_cat.agg(F.sum("s_c").alias("t_c"), F.sum("n").alias("t_n"))
    return (
        per_cat.crossJoin(F.broadcast(g))
        .select(
            "segment",
            "n",
            F.expr("(CAST(s_c AS DECIMAL(38,0)) * 10000) div n").alias("raw_mean_micro"),
            F.expr(
                "((CAST(s_c AS DECIMAL(38,0)) * t_n + 100 * CAST(t_c AS DECIMAL(38,0)))"
                " * 10000) div (CAST(t_n AS DECIMAL(38,0)) * (n + 100))"
            ).alias("smoothed_enc_micro"),
            F.expr("(CAST(t_c AS DECIMAL(38,0)) * 10000) div t_n").alias(
                "global_prior_micro"
            ),
        )
        .orderBy("segment")
    )
