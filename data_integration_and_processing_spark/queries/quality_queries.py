"""Data-quality audit queries: referential integrity, key uniqueness,
modal-value profiling, heavy hitters.

The reference loads tables blind (`SELECT *` transfers,
`/root/reference/PostgresDatabase.py:146`) and its roadmap lists
validation as an unimplemented idea (`/root/reference/md.md:43-49`); a
production pipeline runs these audits on every batch. Scale shapes:

- FK orphan checks are LEFT ANTI joins on the key column only — the child
  scan is pruned to one column, the parent side is a distinct key set
  (broadcast for dimension-sized parents, shuffle otherwise). No audit
  ever carries payload columns through a shuffle.
- Uniqueness audits are count vs count-distinct over the key column — one
  partial+final aggregate per table, no join at all.
- Mode / heavy hitters are two-level aggregations (count per value, then
  argmax / threshold filter) — both levels map-side-combinable, and the
  second level's input is value-cardinality-sized, not row-count-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_integration_and_processing_spark.queries.catalog import register
from data_integration_and_processing_spark.sources.tables import BROADCAST_DIMS, load_table

# ---------------------------------------------------------------------------
# referential integrity
# ---------------------------------------------------------------------------

_FKS = (
    # (fk label, child table, child key, parent table, parent key)
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
)

_FK_ORACLE = " UNION ALL ".join(
    f"""
    SELECT '{label}' AS fk_name,
           (SELECT count(*) FROM {child}) AS child_rows,
           (SELECT count(*) FROM {child} ch
             WHERE NOT EXISTS (SELECT 1 FROM {parent} p WHERE p.{pkey} = ch.{ckey})
           ) AS orphan_rows
    FROM (SELECT 1)
    """
    for label, child, ckey, parent, pkey in _FKS
)

_FK_ORACLE = f"""
WITH audit AS ({_FK_ORACLE})
SELECT fk_name, child_rows, orphan_rows,
       (orphan_rows * CAST(1000000 AS BIGINT)) // child_rows AS orphan_ratio_micro
FROM audit ORDER BY fk_name
"""


@register(
    "quality_fk_orphan_audit",
    oracle=_FK_ORACLE,
    description=(
        "referential-integrity audit: orphan counts for every FK edge of the star "
        "schema via LEFT ANTI joins on pruned key columns; dimension-sized parents "
        "broadcast, fact-sized parents shuffle on the key. One row per FK edge."
    ),
    tags=("quality", "join", "audit"),
)
def quality_fk_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for label, child, ckey, parent, pkey in _FKS:
        ch = load_table(spark, sf_dir, child).select(F.col(ckey).alias("_k"))
        par = load_table(spark, sf_dir, parent).select(F.col(pkey).alias("_k")).distinct()
        # Only constant-ish dimensions broadcast; customer/orders scale with SF
        # (~150k rows/SF => ~1.5B keys at the 100 TB target) and must shuffle.
        if parent in BROADCAST_DIMS:
            par = F.broadcast(par)
        orphans = ch.join(par, "_k", "left_anti").agg(F.count("*").alias("orphan_rows"))
        total = ch.agg(F.count("*").alias("child_rows"))
        row = (
            total.crossJoin(orphans)
            .select(
                F.lit(label).alias("fk_name"),
                "child_rows",
                "orphan_rows",
                # exact integer-micro
                F.expr("(orphan_rows * CAST(1000000 AS BIGINT)) div child_rows").alias(
                    "orphan_ratio_micro"
                ),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("fk_name")


# ---------------------------------------------------------------------------
# key uniqueness
# ---------------------------------------------------------------------------

_PKS = (
    ("customer", "c_custkey"),
    ("documents", "doc_id"),
    ("events", "event_id"),
    ("orders", "o_orderkey"),
    ("part", "p_partkey"),
    ("supplier", "s_suppkey"),
)

_PK_ORACLE = " UNION ALL ".join(
    f"""
    SELECT '{table}' AS table_name,
           count(*) AS total_rows,
           count(DISTINCT {key}) AS distinct_keys,
           count(*) - count(DISTINCT {key}) AS duplicate_rows
    FROM {table}
    """
    for table, key in _PKS
)
_PK_ORACLE = f"SELECT * FROM ({_PK_ORACLE}) ORDER BY table_name"


@register(
    "quality_pk_uniqueness_audit",
    oracle=_PK_ORACLE,
    description=(
        "primary-key uniqueness audit across six tables: total vs distinct key "
        "counts, one partial+final aggregate per table over the pruned key column — "
        "no joins, no payload through the shuffle"
    ),
    tags=("quality", "aggregation", "audit"),
)
def quality_pk_uniqueness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for table, key in _PKS:
        t = load_table(spark, sf_dir, table)
        row = t.agg(
            F.count("*").alias("total_rows"),
            F.countDistinct(key).alias("distinct_keys"),
        ).select(
            F.lit(table).alias("table_name"),
            "total_rows",
            "distinct_keys",
            (F.col("total_rows") - F.col("distinct_keys")).alias("duplicate_rows"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("table_name")


# ---------------------------------------------------------------------------
# modal value per group
# ---------------------------------------------------------------------------

_MODE_ORACLE = """
WITH byhour AS (
    SELECT event_type, CAST(hour(ts) AS INT) AS event_hour, count(*) AS n_events
    FROM events GROUP BY event_type, hour(ts)
),
ranked AS (
    SELECT event_type, event_hour, n_events,
           row_number() OVER (
               PARTITION BY event_type ORDER BY n_events DESC, event_hour ASC
           ) AS rn
    FROM byhour
)
SELECT event_type, event_hour AS modal_hour, n_events
FROM ranked WHERE rn = 1 ORDER BY event_type
"""


@register(
    "agg_mode_per_group",
    oracle=_MODE_ORACLE,
    description=(
        "exact mode (most frequent value, smallest-value tiebreak) per group: "
        "count per (group, value) with map-side combine, then a row_number window "
        "over the value-cardinality-sized intermediate — the second shuffle carries "
        "groups x values rows, not input rows"
    ),
    tags=("quality", "aggregation", "window"),
)
def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    byhour = (
        e.groupBy("event_type", F.hour("ts").cast("int").alias("event_hour"))
        .agg(F.count("*").alias("n_events"))
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("n_events").desc(), F.col("event_hour").asc()
    )
    return (
        byhour.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("event_hour").alias("modal_hour"), "n_events")
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# exact heavy hitters
# ---------------------------------------------------------------------------

# Support threshold 1/200 = 0.5%. Expressed as the integer comparison
# n_occurrences * 200 >= n_total in BOTH engines so no float/DECIMAL boundary
# disagreement is possible when a count lands exactly on the threshold.
_HH_SUPPORT_DENOM = 200

_HH_ORACLE = f"""
WITH toks AS (
    SELECT lower(unnest(string_split(text, ' '))) AS token FROM documents
),
counts AS (
    SELECT token, count(*) AS n_occurrences FROM toks GROUP BY token
),
total AS (SELECT sum(n_occurrences) AS n_total FROM counts)
SELECT token, n_occurrences,
       CAST((n_occurrences * 1000000) // n_total AS BIGINT) AS support_micro
FROM counts, total
WHERE n_occurrences * {_HH_SUPPORT_DENOM} >= n_total
ORDER BY n_occurrences DESC, token
"""


@register(
    "agg_heavy_hitters",
    oracle=_HH_ORACLE,
    description=(
        "exact heavy hitters: whitespace tokens with support >= 0.5% of all token "
        "occurrences. Explode -> count (map-side combinable, shuffle keyed by token) "
        "-> threshold against a broadcast scalar total. The candidate set after the "
        "first aggregate is vocabulary-sized; at 100 TB the same plan holds because "
        "only (token, count) pairs ever shuffle"
    ),
    tags=("quality", "text", "aggregation"),
)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .select(F.lower("w").alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n_occurrences"))
    )
    total = counts.agg(F.sum("n_occurrences").alias("n_total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("n_occurrences") * _HH_SUPPORT_DENOM >= F.col("n_total"))
        .select(
            "token",
            "n_occurrences",
            # exact integer-micro
            F.expr("(n_occurrences * CAST(1000000 AS BIGINT)) div n_total").alias(
                "support_micro"
            ),
        )
        .orderBy(F.col("n_occurrences").desc(), "token")
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit
# ---------------------------------------------------------------------------

# Leading digits come from the DECIMAL's string form (identical rendering in
# both engines) — never from log10, whose libm rounding at exact powers of
# ten differs across platforms.
_BENFORD_ORACLE = """
WITH vals AS (
    SELECT 'orders.o_totalprice' AS metric,
           substr(CAST(CAST(o_totalprice AS DECIMAL(14,2)) AS VARCHAR), 1, 1) AS d
    FROM orders WHERE o_totalprice >= 1
    UNION ALL
    SELECT 'lineitem.l_extendedprice',
           substr(CAST(CAST(l_extendedprice AS DECIMAL(14,2)) AS VARCHAR), 1, 1)
    FROM lineitem WHERE l_extendedprice >= 1
),
counts AS (
    SELECT metric, CAST(d AS INT) AS digit, count(*) AS n
    FROM vals GROUP BY metric, d
),
tot AS (SELECT metric, sum(n) AS n_total FROM counts GROUP BY metric)
SELECT c.metric, c.digit, c.n,
       CAST((c.n * 1000000) // t.n_total AS BIGINT) AS observed_freq_micro,
       round(log10(1.0 + 1.0 / c.digit), 6) AS benford_freq
FROM counts c JOIN tot t USING (metric)
ORDER BY c.metric, c.digit
"""


@register(
    "quality_benford_audit",
    oracle=_BENFORD_ORACLE,
    description=(
        "Benford first-digit audit of the monetary columns: leading digits "
        "extracted from the DECIMAL string form (engine-identical; log10-based "
        "extraction is unsafe at exact powers of ten), counted per metric, "
        "compared against the Benford expectation log10(1 + 1/d). Values "
        "below 1 are excluded: their decimal form leads with '0', whose "
        "Benford expectation log10(1+1/0) is undefined. Pure "
        "map + digit-cardinality aggregate — the fraud/quality screen a "
        "warehouse runs over every numeric feed"
    ),
    tags=("quality", "audit", "aggregation"),
)
def quality_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    def digits(table: str, col: str) -> DataFrame:
        t = load_table(spark, sf_dir, table)
        return t.filter(F.col(col) >= 1).select(
            F.lit(f"{table}.{col}").alias("metric"),
            F.substring(F.col(col).cast("decimal(14,2)").cast("string"), 1, 1).alias("d"),
        )

    vals = digits("orders", "o_totalprice").unionByName(
        digits("lineitem", "l_extendedprice")
    )
    counts = vals.groupBy("metric", F.col("d").cast("int").alias("digit")).agg(
        F.count("*").alias("n")
    )
    tot = counts.groupBy("metric").agg(F.sum("n").alias("n_total"))
    return (
        counts.join(F.broadcast(tot), "metric")
        .select(
            "metric",
            "digit",
            "n",
            # exact integer-micro; benford_freq keeps
            # round() — log10 output is irrational, no exact decimal tie
            F.expr("(n * CAST(1000000 AS BIGINT)) div n_total").alias(
                "observed_freq_micro"
            ),
            F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6).alias("benford_freq"),
        )
        .orderBy("metric", "digit")
    )


@register(
    "quality_psi_drift",
    oracle="""
        WITH ref AS (SELECT o_totalprice AS v FROM orders WHERE o_orderkey % 2 = 0),
        cur AS (
            SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice * 1.1
                        ELSE o_totalprice END AS v
            FROM orders WHERE o_orderkey % 2 = 1
        ),
        bounds AS (SELECT min(v) AS lo, max(v) AS hi FROM ref),
        rbin AS (
            SELECT least(CAST(floor((v - lo) / ((hi - lo) / 10.0)) AS INT), 9) AS bin
            FROM ref, bounds
        ),
        cbin AS (
            SELECT greatest(least(CAST(floor((v - lo) / ((hi - lo) / 10.0)) AS INT), 9), 0) AS bin
            FROM cur, bounds
        ),
        rc AS (SELECT bin, count(*) AS n_ref FROM rbin GROUP BY bin),
        cc AS (SELECT bin, count(*) AS n_cur FROM cbin GROUP BY bin),
        grid AS (SELECT unnest(range(0, 10)) AS bin),
        j AS (
            SELECT g.bin,
                   coalesce(rc.n_ref, 0) AS n_ref,
                   coalesce(cc.n_cur, 0) AS n_cur,
                   (SELECT count(*) FROM ref) AS t_ref,
                   (SELECT count(*) FROM cur) AS t_cur
            FROM grid g LEFT JOIN rc ON g.bin = rc.bin LEFT JOIN cc ON g.bin = cc.bin
        )
        SELECT CAST(bin AS INT) AS bin,
               CAST(n_ref AS BIGINT) AS n_ref,
               CAST(n_cur AS BIGINT) AS n_cur,
               CAST(((n_cur + 1) * (t_ref + 10) - (n_ref + 1) * (t_cur + 10)) * 1000000
                    // ((t_cur + 10) * (t_ref + 10)) AS BIGINT) AS p_delta_micro,
               round(((n_cur + 1.0) / (t_cur + 10.0) - (n_ref + 1.0) / (t_ref + 10.0))
                     * ln(((n_cur + 1.0) / (t_cur + 10.0)) / ((n_ref + 1.0) / (t_ref + 10.0))), 6)
                   AS psi_term
        FROM j ORDER BY bin
    """,
    description=(
        "population-stability-index drift audit between two snapshots (even "
        "orderkeys = reference, odd = current with urgent-priority prices "
        "shifted 10%): reference min/max fixes 10 equi-width bins, both "
        "sides histogram with one partial-agg shuffle each, Laplace-smoothed "
        "bin shares produce per-bin PSI terms (sum > 0.2 = actionable "
        "drift). The audit every recurring 100 TB feed runs before "
        "accepting a new snapshot; two scans, two tiny shuffles, broadcast "
        "grid join"
    ),
    tags=("quality", "audit", "histogram", "aggregation"),
)
def quality_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    ref = o.filter(F.col("o_orderkey") % 2 == 0).select(F.col("o_totalprice").alias("v"))
    cur = o.filter(F.col("o_orderkey") % 2 == 1).select(
        F.when(F.col("o_orderpriority") == "1-URGENT", F.col("o_totalprice") * 1.1)
        .otherwise(F.col("o_totalprice"))
        .alias("v")
    )
    lo, hi = ref.agg(F.min("v"), F.max("v")).first()
    width = (hi - lo) / 10.0
    t_ref = ref.count()
    t_cur = cur.count()
    rbin = ref.select(F.least(F.floor((F.col("v") - lo) / width).cast("int"), F.lit(9)).alias("bin"))
    cbin = cur.select(
        F.greatest(
            F.least(F.floor((F.col("v") - lo) / width).cast("int"), F.lit(9)), F.lit(0)
        ).alias("bin")
    )
    rc = rbin.groupBy("bin").agg(F.count("*").alias("n_ref"))
    cc = cbin.groupBy("bin").agg(F.count("*").alias("n_cur"))
    grid = o.sparkSession.range(10).select(F.col("id").cast("int").alias("bin"))
    j = (
        grid.join(F.broadcast(rc), "bin", "left")
        .join(F.broadcast(cc), "bin", "left")
        .select(
            "bin",
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
        )
    )
    p_ref = (F.col("n_ref") + 1.0) / (t_ref + 10.0)
    p_cur = (F.col("n_cur") + 1.0) / (t_cur + 10.0)
    return j.select(
        "bin",
        "n_ref",
        "n_cur",
        # exact integer-micro cross-multiplied delta;
        # psi_term keeps round() — the ln factor is irrational, no exact tie
        F.expr(
            f"(((n_cur + 1) * CAST({t_ref + 10} AS BIGINT)"
            f" - (n_ref + 1) * CAST({t_cur + 10} AS BIGINT)) * 1000000)"
            f" div (CAST({t_cur + 10} AS BIGINT) * {t_ref + 10})"
        ).alias("p_delta_micro"),
        F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6).alias("psi_term"),
    ).orderBy("bin")


# ---------------------------------------------------------------------------
# k-anonymity audit
# ---------------------------------------------------------------------------

_KANON_K = 4

_KANON_ORACLE = f"""
SELECT c_nationkey,
       c_mktsegment,
       CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
       count(*) AS group_size
FROM customer
GROUP BY 1, 2, 3
HAVING count(*) < {_KANON_K}
ORDER BY 1, 2, 3
"""


@register(
    "quality_k_anonymity",
    oracle=_KANON_ORACLE,
    description=(
        "privacy audit: quasi-identifier groups (nation x segment x coarse balance "
        "bucket) whose size is below k — the re-identifiable rows a training-data "
        "release must suppress or generalize. One partial-agg shuffle keyed by the "
        "quasi-identifier tuple; output is violation-groups-sized, not row-sized"
    ),
    tags=("quality", "audit", "privacy"),
)
def quality_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return (
        c.groupBy(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_bucket"),
        )
        .agg(F.count("*").alias("group_size"))
        .filter(F.col("group_size") < _KANON_K)
        .orderBy("c_nationkey", "c_mktsegment", "bal_bucket")
    )


# ---------------------------------------------------------------------------
# join-key skew profiler
# ---------------------------------------------------------------------------

_SKEW_KEYS = (
    ("lineitem.l_orderkey", "lineitem", "l_orderkey"),
    ("lineitem.l_partkey", "lineitem", "l_partkey"),
    ("lineitem.l_suppkey", "lineitem", "l_suppkey"),
    ("orders.o_custkey", "orders", "o_custkey"),
)

_SKEW_ORACLE = " UNION ALL ".join(
    f"""
    SELECT '{label}' AS join_key,
           count(*) AS n_groups,
           CAST(max(n) AS BIGINT) AS max_group,
           percentile_cont(0.5) WITHIN GROUP (ORDER BY CAST(n AS DOUBLE)) AS p50_group,
           percentile_cont(0.99) WITHIN GROUP (ORDER BY CAST(n AS DOUBLE)) AS p99_group,
           CAST((max(n) * count(*) * 1000000) // sum(n) AS BIGINT) AS skew_factor_micro
    FROM (SELECT {col} AS k, count(*) AS n FROM {table} GROUP BY {col}) g
    """
    for label, table, col in _SKEW_KEYS
)

_SKEW_ORACLE = f"SELECT * FROM ({_SKEW_ORACLE}) ORDER BY join_key"


@register(
    "profile_join_key_skew",
    oracle=_SKEW_ORACLE,
    description=(
        "pre-join skew diagnostic: per candidate join key, the group-size "
        "distribution (p50/p99/max) and the skew factor max*groups/rows — the "
        "number that predicts whether a shuffle join stalls on one reducer. Each "
        "key costs one partial-agg shuffle producing key-cardinality rows, then a "
        "single-row summary; the output is what decides between plain shuffle, "
        "salting (skew_salted_join), or AQE skew splitting BEFORE burning the "
        "cluster on the wrong plan"
    ),
    tags=("quality", "profiling", "skew", "scale"),
)
def profile_join_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for label, table, col in _SKEW_KEYS:
        t = load_table(spark, sf_dir, table)
        groups = t.groupBy(F.col(col).alias("k")).agg(F.count("*").alias("n"))
        summary = groups.agg(
            F.lit(label).alias("join_key"),
            F.count("*").alias("n_groups"),
            F.max("n").cast("bigint").alias("max_group"),
            # DOUBLE cast INSIDE the percentile on both engines: an
            # input-typed DuckDB build rounds BIGINT-ordered boundaries
            F.expr("percentile(CAST(n AS DOUBLE), 0.5)").alias("p50_group"),
            F.expr("percentile(CAST(n AS DOUBLE), 0.99)").alias("p99_group"),
            # exact integer-micro
            F.expr(
                "(max(n) * count(*) * CAST(1000000 AS BIGINT)) div sum(n)"
            ).alias("skew_factor_micro"),
        )
        out = summary if out is None else out.unionByName(summary)
    return out.orderBy("join_key")


@register(
    "etl_mask_columns",
    oracle="""
        SELECT c_custkey,
               md5(CAST(c_name AS VARCHAR)) AS c_name,
               'REDACTED' AS c_mktsegment,
               CAST(floor(c_acctbal / 1000) * 1000 AS DOUBLE) AS c_acctbal,
               c_nationkey
        FROM customer
    """,
    description=(
        "column-level masking policy (operators/validation.py::mask_columns): "
        "hash (referentially stable — joins on the masked key still work), "
        "redact, and generalize-to-multiple (k-anonymity's generalization move) "
        "as pure column expressions — one codegen'd projection, no shuffle, no "
        "UDF. The governance step between a raw table and a release"
    ),
    tags=("etl", "quality", "privacy", "projection"),
)
def etl_mask_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_integration_and_processing_spark.operators.validation import (  # noqa: PLC0415
        mask_columns,
    )

    c = load_table(spark, sf_dir, "customer")
    return mask_columns(
        c,
        {
            "c_custkey": "keep",
            "c_name": "hash",
            "c_mktsegment": "redact",
            "c_acctbal": "generalize:1000",
        },
    ).select("c_custkey", "c_name", "c_mktsegment", "c_acctbal", "c_nationkey")


# ---------------------------------------------------------------------------
# sequence-continuity audit (gaps / duplicates in an id column)
# ---------------------------------------------------------------------------

_SEQ_ORACLE = """
WITH ordered AS (
    SELECT o_orderkey AS k,
           lag(o_orderkey) OVER (ORDER BY o_orderkey) AS prev
    FROM orders
),
gaps AS (
    SELECT prev + 1 AS gap_start, k - 1 AS gap_end, k - prev - 1 AS missing
    FROM ordered WHERE prev IS NOT NULL AND k - prev > 1
),
dups AS (
    SELECT count(*) - count(DISTINCT o_orderkey) AS n_dups FROM orders
)
SELECT (SELECT count(*) FROM gaps) AS n_gaps,
       CAST((SELECT coalesce(sum(missing), 0) AS m FROM gaps) AS BIGINT) AS missing_ids,
       (SELECT n_dups FROM dups) AS duplicate_ids,
       (SELECT min(k) FROM ordered) AS min_id,
       (SELECT max(k) FROM ordered) AS max_id
"""


@register(
    "quality_sequence_audit",
    oracle=_SEQ_ORACLE,
    description=(
        "sequence-continuity audit for a supposedly-gapless id column: gap count "
        "and total missing ids, duplicate count via count vs count-distinct — the "
        "ingestion check that catches a dropped batch (gap) or a doubled one "
        "(dups) before reconciliation. Instead of a global lag window (every "
        "row through ONE reducer — flagged by scripts/plan_lint.py) it uses "
        "the assign_contiguous_ids pattern: range-repartition, per-partition "
        "lag in parallel, then cross-partition boundary gaps from the "
        "O(partitions) min/max table. Output is a single audit row"
    ),
    tags=("quality", "audit", "window", "ids", "scale"),
)
def quality_sequence_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("k"))
    # parallel within-partition gaps: range shuffle puts neighboring keys in
    # the same partition, so lag only needs a per-partition window
    ranged = o.repartitionByRange("k").withColumn("_pid", F.spark_partition_id())
    wp = Window.partitionBy("_pid").orderBy("k")
    inner = ranged.withColumn("prev", F.lag("k").over(wp))
    inner_gaps = inner.filter(
        F.col("prev").isNotNull() & (F.col("k") - F.col("prev") > 1)
    ).select((F.col("k") - F.col("prev") - 1).alias("missing"))
    # cross-partition boundary gaps: one row per partition, lag over O(parts)
    bounds = ranged.groupBy("_pid").agg(F.min("k").alias("mn"), F.max("k").alias("mx"))
    wb = Window.orderBy("_pid")
    boundary_gaps = (
        bounds.withColumn("prev_mx", F.lag("mx").over(wb))
        .filter(F.col("prev_mx").isNotNull() & (F.col("mn") - F.col("prev_mx") > 1))
        .select((F.col("mn") - F.col("prev_mx") - 1).alias("missing"))
    )
    gaps = inner_gaps.unionByName(boundary_gaps)
    gap_stats = gaps.agg(
        F.count("*").alias("n_gaps"), F.coalesce(F.sum("missing"), F.lit(0)).alias("missing_ids")
    )
    dup_stats = o.agg(
        (F.count("*") - F.count_distinct("k")).alias("duplicate_ids"),
        F.min("k").alias("min_id"),
        F.max("k").alias("max_id"),
    )
    return gap_stats.crossJoin(dup_stats).select(
        "n_gaps", "missing_ids", "duplicate_ids", "min_id", "max_id"
    )


@register(
    "quality_freshness_lag_audit",
    oracle="""
        WITH g AS (SELECT max(ts) AS global_max FROM events)
        SELECT event_type,
               count(*) AS n_events,
               CAST(floor(epoch(max(ts))) AS BIGINT) AS last_seen_epoch,
               CAST(floor(epoch((SELECT global_max FROM g)))
                    - floor(epoch(max(ts))) AS BIGINT) AS lag_seconds
        FROM events
        GROUP BY event_type ORDER BY event_type
    """,
    description=(
        "data-freshness SLA audit: per event type, seconds between its "
        "newest record and the stream's global high-watermark — the lag "
        "table a late-feed alert fires on. One aggregate; the global "
        "watermark is a broadcast scalar subquery"
    ),
    tags=("quality", "events", "aggregation", "temporal"),
)
def quality_freshness_lag_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    g = e.agg(F.max("ts").alias("global_max"))
    per = e.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.max("ts").alias("last_ts"),
    )
    return (
        per.crossJoin(F.broadcast(g))
        .select(
            "event_type",
            "n_events",
            F.floor(F.unix_timestamp("last_ts")).cast("bigint").alias("last_seen_epoch"),
            (
                F.floor(F.unix_timestamp("global_max")) - F.floor(F.unix_timestamp("last_ts"))
            ).cast("bigint").alias("lag_seconds"),
        )
        .orderBy("event_type")
    )


@register(
    "quality_l_diversity_audit",
    oracle="""
        WITH groups AS (
            SELECT c_nationkey,
                   CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_bucket,
                   count(*) AS group_size,
                   count(DISTINCT c_mktsegment) AS l_distinct
            FROM customer
            GROUP BY c_nationkey, floor(c_acctbal / 2000)
        )
        SELECT c_nationkey, bal_bucket, group_size, l_distinct,
               l_distinct < 3 AS violates_l3
        FROM groups
        ORDER BY c_nationkey, bal_bucket
    """,
    description=(
        "l-diversity audit, the k-anonymity companion: within each quasi-"
        "identifier group (nation x coarse balance bucket) count DISTINCT "
        "sensitive values (market segment) — a group can be large enough for "
        "k-anonymity yet leak the sensitive attribute when every member "
        "shares one value. Same single partial-agg shuffle shape as "
        "quality_k_anonymity; output is group-sized"
    ),
    tags=("quality", "audit", "privacy", "aggregation"),
)
def quality_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return (
        c.groupBy(
            "c_nationkey",
            F.floor(F.col("c_acctbal") / 2000).cast("bigint").alias("bal_bucket"),
        )
        .agg(
            F.count("*").alias("group_size"),
            F.count_distinct("c_mktsegment").alias("l_distinct"),
        )
        .withColumn("violates_l3", F.col("l_distinct") < 3)
        .orderBy("c_nationkey", "bal_bucket")
    )


_RULES_ORACLE = """
WITH j AS (
    SELECT o.o_orderstatus, o.o_orderdate, o.o_totalprice,
           l.l_linestatus, l.l_returnflag, l.l_shipdate
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
agg AS (
    SELECT
        CAST(count(*) AS BIGINT) AS n_rows,
        CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS n_f,
        CAST(count(CASE WHEN o_orderstatus = 'F' AND l_linestatus = 'O' THEN 1 END) AS BIGINT) AS v_f_open,
        CAST(count(CASE WHEN l_returnflag = 'R' THEN 1 END) AS BIGINT) AS n_r,
        CAST(count(CASE WHEN l_returnflag = 'R' AND l_linestatus = 'O' THEN 1 END) AS BIGINT) AS v_r_open,
        CAST(count(CASE WHEN l_shipdate < o_orderdate THEN 1 END) AS BIGINT) AS v_ship_before,
        CAST(count(CASE WHEN o_totalprice <= 0 THEN 1 END) AS BIGINT) AS v_nonpos
    FROM j
)
SELECT rule, n_checked, n_violations,
       (n_violations * CAST(1000000 AS BIGINT)) // n_checked AS violation_rate_micro
FROM (
    SELECT 'finished_order_has_open_lineitem' AS rule, n_f AS n_checked, v_f_open AS n_violations FROM agg
    UNION ALL
    SELECT 'returned_lineitem_still_open', n_r, v_r_open FROM agg
    UNION ALL
    SELECT 'shipped_before_ordered', n_rows, v_ship_before FROM agg
    UNION ALL
    SELECT 'nonpositive_order_total', n_rows, v_nonpos FROM agg
)
ORDER BY rule
"""


@register(
    "quality_conditional_rules",
    oracle=_RULES_ORACLE,
    description=(
        "cross-field conditional-dependency audit: four IF-condition-THEN-"
        "invariant rules spanning the order/lineitem join (finished orders "
        "must not carry open lineitems — the fixture actually violates this "
        "9,917 times at sf0.01, so the audit reports real signal, not "
        "zeros — returned-but-open lines, ship-before-order, non-positive "
        "totals), each reported with its own conditioned denominator. ONE "
        "orderkey join + ONE conditional-aggregation pass produces every "
        "rule's counters simultaneously (sum(CASE) columns, then a 4-row "
        "unpivot) — the naive rule engine re-joins per rule, O(rules) scans"
    ),
    tags=("quality", "join", "aggregation", "scale"),
)
def quality_conditional_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    j = o.join(li, o.o_orderkey == li.l_orderkey).select(
        "o_orderstatus", "o_orderdate", "o_totalprice", "l_linestatus", "l_returnflag", "l_shipdate"
    )
    c = lambda cond: F.count(F.when(cond, 1)).cast("bigint")  # noqa: E731
    agg = j.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        c(F.col("o_orderstatus") == "F").alias("n_f"),
        c((F.col("o_orderstatus") == "F") & (F.col("l_linestatus") == "O")).alias("v_f_open"),
        c(F.col("l_returnflag") == "R").alias("n_r"),
        c((F.col("l_returnflag") == "R") & (F.col("l_linestatus") == "O")).alias("v_r_open"),
        c(F.col("l_shipdate") < F.col("o_orderdate")).alias("v_ship_before"),
        c(F.col("o_totalprice") <= 0).alias("v_nonpos"),
    )
    rules = agg.select(
        F.expr(
            "stack(4, "
            "'finished_order_has_open_lineitem', n_f, v_f_open, "
            "'returned_lineitem_still_open', n_r, v_r_open, "
            "'shipped_before_ordered', n_rows, v_ship_before, "
            "'nonpositive_order_total', n_rows, v_nonpos) "
            "AS (rule, n_checked, n_violations)"
        )
    )
    return rules.select(
        "rule",
        "n_checked",
        "n_violations",
        # exact integer-micro
        F.expr("(n_violations * CAST(1000000 AS BIGINT)) div n_checked").alias(
            "violation_rate_micro"
        ),
    ).orderBy("rule")


# ---------------------------------------------------------------------------
# exact rank-AUC: how separable is a label under a scalar score
# ---------------------------------------------------------------------------


@register(
    "quality_auc_separability",
    oracle="""
        WITH s AS (
            SELECT n_chars AS score,
                   CAST(lang = 'en' AS INT) AS y
            FROM documents
        ),
        by_score AS (
            SELECT score,
                   CAST(sum(y) AS BIGINT) AS np_s,
                   CAST(sum(1 - y) AS BIGINT) AS nn_s
            FROM s GROUP BY score
        ),
        cum AS (
            SELECT np_s, nn_s,
                   COALESCE(sum(nn_s) OVER (
                       ORDER BY score
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS cum_nn
            FROM by_score
        ),
        tot AS (
            SELECT CAST(sum(y) AS BIGINT) AS n_pos,
                   CAST(sum(1 - y) AS BIGINT) AS n_neg
            FROM s
        )
        SELECT tot.n_pos, tot.n_neg,
               CAST((sum(np_s * (2 * cum_nn + nn_s)) * 500000)
                    // (tot.n_pos * tot.n_neg) AS BIGINT) AS auc_micro
        FROM cum, tot
        GROUP BY tot.n_pos, tot.n_neg
    """,
    description=(
        "exact tie-aware rank AUC (Mann-Whitney) of a candidate quality "
        "score against a label — the model-eval primitive behind every "
        "classifier-based corpus filter. Distinct scores collapse in a "
        "map-side-combined groupBy first, so the single-partition "
        "cumulative window sees |distinct scores| rows, not corpus rows; "
        "integer-exact until the final division"
    ),
    tags=("profiling", "analytics", "aggregation"),
)
def quality_auc_separability(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("score"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    by_score = d.groupBy("score").agg(
        F.sum("y").cast("long").alias("np_s"),
        F.sum(1 - F.col("y")).cast("long").alias("nn_s"),
    )
    cum = by_score.withColumn(
        "cum_nn",
        F.coalesce(
            F.sum("nn_s").over(
                Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0).cast("long"),
        ),
    )
    tot = d.agg(
        F.sum("y").cast("long").alias("n_pos"),
        F.sum(1 - F.col("y")).cast("long").alias("n_neg"),
    )
    return (
        cum.crossJoin(tot)  # 1-row totals frame
        .groupBy("n_pos", "n_neg")
        .agg(
            # exact integer-micro Mann-Whitney: the
            # tie-aware U statistic is integral after doubling, so the AUC
            # ships as a truncating quotient at half-micro scale
            F.expr(
                "(sum(np_s * (2 * cum_nn + nn_s)) * CAST(500000 AS BIGINT))"
                " div (n_pos * n_neg)"
            ).alias("auc_micro")
        )
    )


# ---------------------------------------------------------------------------
# chi-square categorical drift between two feed snapshots
# ---------------------------------------------------------------------------


@register(
    "quality_chi2_drift",
    oracle="""
        WITH halves AS (
            SELECT event_type,
                   CAST(count(*) FILTER (WHERE event_id % 2 = 0) AS BIGINT) AS n_a,
                   CAST(count(*) FILTER (WHERE event_id % 2 = 1) AS BIGINT) AS n_b
            FROM events GROUP BY event_type
        ),
        tot AS (
            SELECT CAST(sum(n_a) AS BIGINT) AS na,
                   CAST(sum(n_b) AS BIGINT) AS nb
            FROM halves
        )
        SELECT h.event_type, h.n_a, h.n_b,
               CAST((CAST(h.n_a * t.nb - h.n_b * t.na AS HUGEINT)
                     * (h.n_a * t.nb - h.n_b * t.na) * 1000000)
                    // (CAST(h.n_a + h.n_b AS HUGEINT) * t.na * t.nb)
                    AS BIGINT) AS chi2_term_micro
        FROM halves h, tot t
        ORDER BY h.event_type
    """,
    description=(
        "chi-square categorical-drift audit between two snapshots of a feed "
        "(deterministic even/odd event split): per-category observed counts "
        "vs pooled-expected, one chi2 contribution per category. The "
        "companion to quality_psi_drift for categorical columns; one "
        "map-side-combined groupBy + a broadcast 1-row totals join"
    ),
    tags=("profiling", "quality", "aggregation"),
)
def quality_chi2_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    halves = e.groupBy("event_type").agg(
        F.count(F.when(F.col("event_id") % 2 == 0, 1)).cast("long").alias("n_a"),
        F.count(F.when(F.col("event_id") % 2 == 1, 1)).cast("long").alias("n_b"),
    )
    tot = halves.agg(
        F.sum("n_a").cast("long").alias("na"), F.sum("n_b").cast("long").alias("nb")
    )
    # exact integer-micro chi2 contribution: the
    # two-cell term collapses algebraically to D^2 / ((n_a+n_b)*ta*tb)
    # with D = n_a*tb - n_b*ta — one truncating quotient over DECIMAL(38)
    # integers (D^2 exceeds BIGINT at bench scale; 38 digits hold to sf1+)
    term_micro = F.expr(
        "CAST((CAST(n_a * nb - n_b * na AS DECIMAL(38,0))"
        " * (n_a * nb - n_b * na) * 1000000)"
        " div (CAST(n_a + n_b AS DECIMAL(38,0)) * na * nb) AS BIGINT)"
    )
    return (
        halves.crossJoin(tot)  # 1-row totals frame
        .select("event_type", "n_a", "n_b", term_micro.alias("chi2_term_micro"))
        .orderBy("event_type")
    )


@register(
    "quality_t_closeness_audit",
    oracle="""
        WITH segs AS (
            SELECT c_mktsegment, count(*) AS gc FROM customer GROUP BY c_mktsegment
        ),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM customer),
        grp AS (
            SELECT c_nationkey,
                   CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_bucket,
                   c_mktsegment,
                   count(*) AS c
            FROM customer
            GROUP BY c_nationkey, floor(c_acctbal / 2000), c_mktsegment
        ),
        gsz AS (
            SELECT c_nationkey, bal_bucket, sum(c) AS group_size
            FROM grp GROUP BY c_nationkey, bal_bucket
        ),
        tvd AS (
            SELECT s.c_nationkey, s.bal_bucket, s.group_size,
                   0.5 * sum(abs(CAST(coalesce(g.c, 0) AS DOUBLE) / s.group_size
                                 - CAST(gl.gc AS DOUBLE) / t.n)) AS tv_dist
            FROM gsz s
            CROSS JOIN segs gl
            CROSS JOIN tot t
            LEFT JOIN grp g ON g.c_nationkey = s.c_nationkey
                           AND g.bal_bucket = s.bal_bucket
                           AND g.c_mktsegment = gl.c_mktsegment
            GROUP BY s.c_nationkey, s.bal_bucket, s.group_size, t.n
        )
        SELECT c_nationkey, bal_bucket, CAST(group_size AS BIGINT) AS group_size,
               round(tv_dist, 6) AS tv_dist,
               round(tv_dist, 6) > 0.2 AS violates_t02
        FROM tvd ORDER BY c_nationkey, bal_bucket
    """,
    description=(
        "t-closeness audit, completing the k-anonymity / l-diversity / "
        "t-closeness privacy trio: a quasi-identifier group can satisfy both "
        "k and l yet still leak by SKEW (one sensitive value dominating), so "
        "per group the audit computes total-variation distance between the "
        "group's sensitive-attribute distribution (market segment) and the "
        "corpus-global one, flagging groups past t=0.2. Plan: one global "
        "5-row distribution (broadcast) + the same single partial-agg "
        "shuffle shape as the k/l audits, then a per-group TVD fold over the "
        "group x segment counts — integer-ratio arithmetic, hash-exact"
    ),
    tags=("quality", "audit", "privacy", "aggregation", "north-star"),
)
def quality_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    glob = c.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("gc"))
    tot = c.agg(F.count(F.lit(1)).cast("long").alias("n"))
    grp = c.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 2000).cast("bigint").alias("bal_bucket"),
        "c_mktsegment",
    ).agg(F.count(F.lit(1)).alias("c"))
    gsz = grp.groupBy("c_nationkey", "bal_bucket").agg(F.sum("c").alias("group_size"))
    # every group crossed with the bounded global segment table (broadcast;
    # |segments| rows) so zero-count segments still contribute |0 - p_glob|
    tvd = (
        gsz.crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(tot))
        .join(grp, ["c_nationkey", "bal_bucket", "c_mktsegment"], "left")
        .groupBy("c_nationkey", "bal_bucket", "group_size", "n")
        .agg(
            (
                0.5
                * F.sum(
                    F.abs(
                        F.coalesce(F.col("c"), F.lit(0)).cast("double") / F.col("group_size")
                        - F.col("gc").cast("double") / F.col("n")
                    )
                )
            ).alias("tv_dist")
        )
    )
    return tvd.select(
        "c_nationkey",
        "bal_bucket",
        F.col("group_size").cast("long").alias("group_size"),
        F.round("tv_dist", 6).alias("tv_dist"),
        # threshold compares the ROUNDED value: the unrounded sum differs at
        # ulp level between engines (5-term float add order), and one fixture
        # group sits exactly on 0.2
        (F.round("tv_dist", 6) > 0.2).alias("violates_t02"),
    ).orderBy("c_nationkey", "bal_bucket")


_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
_CORR_PAIRS = [
    (a, b) for i, a in enumerate(_CORR_COLS) for b in _CORR_COLS[i + 1 :]
]


def _corr_oracle() -> str:
    """One moment-aggregation pass, then the closed-form Pearson r per
    unordered column pair — built programmatically so the Spark projection
    and the SQL cannot drift column-by-column."""
    sums = ["CAST(count(*) AS DOUBLE) AS n"]
    for c in _CORR_COLS:
        sums.append(f"sum({c}) AS s_{c}")
        sums.append(f"sum({c} * {c}) AS s_{c}_{c}")
    for a, b in _CORR_PAIRS:
        sums.append(f"sum({a} * {b}) AS s_{a}_{b}")
    arms = []
    for a, b in _CORR_PAIRS:
        arms.append(
            f"SELECT '{a}' AS col_a, '{b}' AS col_b, CAST(n AS BIGINT) AS n,"
            f" round((s_{a}_{b} / n - (s_{a} / n) * (s_{b} / n))"
            f" / (sqrt(s_{a}_{a} / n - (s_{a} / n) * (s_{a} / n))"
            f" * sqrt(s_{b}_{b} / n - (s_{b} / n) * (s_{b} / n))), 6) AS pearson_r"
            " FROM m"
        )
    return (
        "WITH m AS (SELECT " + ", ".join(sums) + " FROM lineitem) "
        + " UNION ALL ".join(arms)
        + " ORDER BY col_a, col_b"
    )


@register(
    "profile_numeric_correlations",
    oracle=_corr_oracle(),
    description=(
        "numeric-column Pearson correlation matrix over lineitem "
        "(quantity/extendedprice/discount/tax, all 6 unordered pairs) in "
        "ONE moment-aggregation pass: 15 map-side-combinable sums (count, "
        "4 sums, 4 squares, 6 cross-products) reduce to a single row, and "
        "every pairwise r is closed-form arithmetic on that row — the "
        "feature-redundancy profile read before training (|r| ~ 1 pairs "
        "are leakage or duplicated features). Explicit moment sums rather "
        "than corr built-ins (engine accumulation strategies differ at ulp "
        "— the temporal_autocorrelation contract), rounded to 6. At 100 TB "
        "this is the same plan: one combinable pass, O(k^2) scalars, no "
        "second scan however many column pairs"
    ),
    tags=("quality", "profiling", "aggregation", "analytics"),
)
def profile_numeric_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    for c in _CORR_COLS:
        aggs.append(F.sum(F.col(c)).alias(f"s_{c}"))
        aggs.append(F.sum(F.col(c) * F.col(c)).alias(f"s_{c}_{c}"))
    for a, b in _CORR_PAIRS:
        aggs.append(F.sum(F.col(a) * F.col(b)).alias(f"s_{a}_{b}"))
    m = li.agg(*aggs)

    def _r(a: str, b: str):
        n = F.col("n")
        cov = F.col(f"s_{a}_{b}") / n - (F.col(f"s_{a}") / n) * (F.col(f"s_{b}") / n)
        va = F.col(f"s_{a}_{a}") / n - (F.col(f"s_{a}") / n) * (F.col(f"s_{a}") / n)
        vb = F.col(f"s_{b}_{b}") / n - (F.col(f"s_{b}") / n) * (F.col(f"s_{b}") / n)
        return F.round(cov / (F.sqrt(va) * F.sqrt(vb)), 6)

    # ONE scan: the 6 pair rows unfold from the single moment row via
    # inline(array(struct...)) — a unionByName of per-pair selects would
    # re-aggregate lineitem once per pair (measured: 6 parquet scans)
    out = m.select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(a).alias("col_a"),
                        F.lit(b).alias("col_b"),
                        F.col("n").cast("long").alias("n"),
                        _r(a, b).alias("pearson_r"),
                    )
                    for a, b in _CORR_PAIRS
                ]
            )
        )
    )
    return out.orderBy("col_a", "col_b")


@register(
    "quality_js_divergence_drift",
    oracle="""
        WITH halves AS (
            SELECT event_type,
                   CAST(count(*) FILTER (WHERE event_id % 2 = 0) AS BIGINT) AS n_a,
                   CAST(count(*) FILTER (WHERE event_id % 2 = 1) AS BIGINT) AS n_b
            FROM events GROUP BY event_type
        ),
        tot AS (
            SELECT CAST(sum(n_a) AS DOUBLE) AS na,
                   CAST(sum(n_b) AS DOUBLE) AS nb
            FROM halves
        ),
        terms AS (
            SELECT h.event_type, h.n_a, h.n_b,
                   h.n_a / t.na AS p, h.n_b / t.nb AS q
            FROM halves h, tot t
        ),
        contrib AS (
            SELECT event_type, n_a, n_b,
                   CASE WHEN p > 0 THEN 0.5 * p * ln(p / ((p + q) / 2))
                        ELSE 0.0 END
                 + CASE WHEN q > 0 THEN 0.5 * q * ln(q / ((p + q) / 2))
                        ELSE 0.0 END AS js_term
            FROM terms
        )
        SELECT event_type, n_a, n_b,
               round(js_term, 6) AS js_term,
               round(sum(js_term) OVER (), 6) AS js_divergence,
               round(sum(js_term) OVER (), 6) > 0.01 AS drift_flagged
        FROM contrib
        ORDER BY event_type
    """,
    description=(
        "Jensen-Shannon divergence drift audit between two snapshots of a "
        "feed (the same deterministic even/odd split as quality_chi2_drift "
        "and the PSI/KS audits — JS completes the drift family: symmetric, "
        "bounded by ln 2, defined even when a category vanishes from one "
        "side, which chi2 and PSI both blow up on): per-category "
        "contribution 0.5*p*ln(p/m) + 0.5*q*ln(q/m) with m the mixture, "
        "plus the corpus total and a 0.01-nat flag. One map-side-combined "
        "groupBy + a 1-row totals cross; the global-sum window runs over "
        "O(categories) rows"
    ),
    tags=("profiling", "quality", "aggregation", "analytics"),
)
def quality_js_divergence_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window  # noqa: PLC0415

    e = load_table(spark, sf_dir, "events")
    halves = e.groupBy("event_type").agg(
        F.count(F.when(F.col("event_id") % 2 == 0, 1)).cast("long").alias("n_a"),
        F.count(F.when(F.col("event_id") % 2 == 1, 1)).cast("long").alias("n_b"),
    )
    tot = halves.agg(
        F.sum("n_a").cast("double").alias("na"), F.sum("n_b").cast("double").alias("nb")
    )
    p = F.col("n_a") / F.col("na")
    q = F.col("n_b") / F.col("nb")
    m = (p + q) / 2
    js = F.when(p > 0, 0.5 * p * F.log(p / m)).otherwise(F.lit(0.0)) + F.when(
        q > 0, 0.5 * q * F.log(q / m)
    ).otherwise(F.lit(0.0))
    contrib = halves.crossJoin(F.broadcast(tot)).select(
        "event_type", "n_a", "n_b", js.alias("js_term")
    )
    w = Window.partitionBy()
    total = F.round(F.sum("js_term").over(w), 6)
    return contrib.select(
        "event_type",
        "n_a",
        "n_b",
        F.round("js_term", 6).alias("js_term"),
        total.alias("js_divergence"),
        (total > 0.01).alias("drift_flagged"),
    ).orderBy("event_type")
