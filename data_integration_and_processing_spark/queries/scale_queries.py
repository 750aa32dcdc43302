"""Scale-pattern queries: shuffle-reduction and mergeable-summary operators
that only matter once tables stop fitting anywhere.

The reference engine moves whole tables through a single pandas DataFrame
(`/root/reference/ETLManager.py:60-99`) and has no notion of join pruning or
incremental summaries; these queries cover the patterns a 100 TB deployment
leans on instead: Bloom-filter semi-join reduction (prune fact rows before
the shuffle), and partition-level Merkle reconciliation (locate WHERE two
table snapshots diverge without comparing rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_integration_and_processing_spark.operators.parallelism import fan_out_scan
from data_integration_and_processing_spark.operators.bloomfilter import (
    bloom_build,
    bloom_prefilter,
)
from data_integration_and_processing_spark.queries.catalog import register
from data_integration_and_processing_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Bloom-filter semi-join reduction
# ---------------------------------------------------------------------------

# Selective dimension predicate: BUILDING-segment customers with high balance
# (~4% of customers), the shape where shedding fact rows pre-shuffle pays.
_BLOOM_SEGMENT = "BUILDING"
_BLOOM_MIN_BAL = 8000.0

_BLOOM_ORACLE = f"""
SELECT o.o_orderpriority,
       count(*) AS n_orders,
       round(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue
FROM orders o
WHERE EXISTS (
    SELECT 1 FROM customer c
    WHERE c.c_custkey = o.o_custkey
      AND c.c_mktsegment = '{_BLOOM_SEGMENT}'
      AND c.c_acctbal > {_BLOOM_MIN_BAL}
)
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""


@register(
    "join_bloom_prefilter",
    oracle=_BLOOM_ORACLE,
    description=(
        "Bloom-filter semi-join reduction: fold the filtered customer keys into a "
        "2^20-bit bitmap (bit_or aggregate, output bitmap-sized not key-count-sized), "
        "broadcast it, and shed non-matching orders BEFORE the exact semi join's "
        "shuffle. Zero false negatives, so the exact join after the pre-filter "
        "returns the identical result the oracle computes with a plain EXISTS."
    ),
    tags=("join", "bloom", "scale"),
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned semi join: orders from high-balance BUILDING customers.

    At 100 TB the filtered customer key set is ~10^8 keys (too big to
    broadcast exactly at 8 bytes/key with join-hash overhead), but a
    10-bits/key Bloom bitmap is ~128 MB — broadcastable — and drops ~96% of
    the orders scan before the shuffle the exact semi join still performs to
    kill false positives.
    """
    cust = load_table(spark, sf_dir, "customer").filter(
        (F.col("c_mktsegment") == _BLOOM_SEGMENT) & (F.col("c_acctbal") > _BLOOM_MIN_BAL)
    )
    dim_keys = cust.select("c_custkey")
    orders = load_table(spark, sf_dir, "orders")

    words = bloom_build(dim_keys, "c_custkey", n_bits=1 << 20, n_hashes=3)
    pruned = bloom_prefilter(orders, "o_custkey", words, n_bits=1 << 20, n_hashes=3)
    exact = pruned.join(
        dim_keys.withColumnRenamed("c_custkey", "o_custkey").distinct(), "o_custkey", "left_semi"
    )
    return (
        exact.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2
            ).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Partition-level Merkle reconciliation
# ---------------------------------------------------------------------------

# Two "snapshots" of orders derived deterministically in-plan: the replica
# drops every 97th order and perturbs the price of every 101st. The audit
# must locate the divergent hash buckets without shipping full rows.
_DIFF_BUCKETS = 64

# Engine-portable row digest: the same char-level polynomial fold
# operators/validation.py::row_checksum uses (and etl_checksum_reconcile
# already oracle-proves), summed per bucket in DECIMAL(38,0). The price
# enters the canonical rendering as floor() — exact IEEE in both engines,
# and the +1.0 perturbation always moves the integer part.
_DIFF_COLS_SQL = (
    "coalesce(CAST(o_orderkey AS VARCHAR), chr(1)), "
    "coalesce(CAST(o_custkey AS VARCHAR), chr(1)), "
    "coalesce(o_orderstatus, chr(1)), "
    "coalesce(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), chr(1))"
)
_DIFF_ROW_FOLD = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split("
    f"concat_ws(chr(31), {_DIFF_COLS_SQL}), ''), ch -> CAST(ascii(ch) AS BIGINT))), "
    "(acc, x) -> (acc * 31 + x) % 1000000007)"
)

_DIFF_ORACLE = f"""
WITH base AS (
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
), replica AS (
    SELECT o_orderkey, o_custkey, o_orderstatus,
           CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice
    FROM orders WHERE o_orderkey % 97 <> 0
), b AS (
    SELECT CAST(o_orderkey % {_DIFF_BUCKETS} AS BIGINT) AS bucket,
           count(*) AS n_rows,
           sum(CAST({_DIFF_ROW_FOLD} AS DECIMAL(38, 0))) AS digest
    FROM base GROUP BY 1
), r AS (
    SELECT CAST(o_orderkey % {_DIFF_BUCKETS} AS BIGINT) AS bucket,
           count(*) AS n_rows,
           sum(CAST({_DIFF_ROW_FOLD} AS DECIMAL(38, 0))) AS digest
    FROM replica GROUP BY 1
)
SELECT coalesce(b.bucket, r.bucket) AS bucket,
       coalesce(b.n_rows, 0) AS base_rows,
       coalesce(r.n_rows, 0) AS replica_rows,
       CAST(coalesce(b.digest, 0) - coalesce(r.digest, 0) AS BIGINT) AS digest_delta
FROM b FULL OUTER JOIN r ON b.bucket = r.bucket
WHERE b.digest IS DISTINCT FROM r.digest OR b.n_rows IS DISTINCT FROM r.n_rows
ORDER BY bucket
"""


def _bucket_digests(df: DataFrame) -> DataFrame:
    """Per-bucket (count, order-independent DECIMAL digest) summary.

    Reuses operators/validation.py::row_checksum (the engine-portable char
    fold) over a canonical rendering; summed per bucket — map-side
    combinable, output is bucket-count-sized.
    """
    from data_integration_and_processing_spark.operators.parallelism import fan_out_scan  # noqa: PLC0415
    from data_integration_and_processing_spark.operators.validation import row_checksum  # noqa: PLC0415

    # the char-level digest fold is the heavy map stage
    # of this query (~40 array-lambda evals per row), and the one-row-group
    # fixture scanned as a single task — both snapshot digests ran serially
    # on one core. fan_out_scan spreads the fold; the per-bucket DECIMAL
    # digest sum is order-independent, so values are unchanged.
    canon = fan_out_scan(df).select(
        "o_orderkey",
        F.col("o_orderkey").cast("string").alias("_c0"),
        F.col("o_custkey").cast("string").alias("_c1"),
        F.col("o_orderstatus").alias("_c2"),
        F.floor(F.col("o_totalprice")).cast("bigint").cast("string").alias("_c3"),
    )
    digest = row_checksum([F.col(c) for c in ("_c0", "_c1", "_c2", "_c3")])
    return canon.groupBy((F.col("o_orderkey") % _DIFF_BUCKETS).alias("bucket")).agg(
        F.count("*").alias("n_rows"),
        F.sum(digest.cast("decimal(38,0)")).alias("digest"),
    )


@register(
    "etl_partition_diff",
    oracle=_DIFF_ORACLE,
    description=(
        "Merkle-style partition reconciliation: hash-bucket both table snapshots, "
        "fold each bucket to (count, order-independent DECIMAL char digest), and "
        "full-outer-join the two bucket-count-sized summaries to locate WHERE the "
        "snapshots diverge. Row data never crosses the network — only 64 summary "
        "rows per side do."
    ),
    tags=("etl", "reconcile", "scale"),
)
def etl_partition_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Locate divergent hash buckets between a table and a mutated replica.

    The full-table checksum (`etl_checksum_reconcile`) answers "are they
    equal"; this answers "where do they differ" at bucket granularity so a
    repair job re-copies 1/64th of the table instead of all of it. Both
    sides are one scan + one map-side-combinable aggregate; the join input
    is 64 rows.
    """
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    replica = (
        base.filter(F.col("o_orderkey") % 97 != 0)
        .withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") % 101 == 0, F.col("o_totalprice") + 1.0).otherwise(
                F.col("o_totalprice")
            ),
        )
    )
    b = _bucket_digests(base)
    r = _bucket_digests(replica)
    rb = r.select(
        F.col("bucket").alias("r_bucket"),
        F.col("n_rows").alias("replica_rows"),
        F.col("digest").alias("r_digest"),
    )
    joined = b.join(rb, b["bucket"] == rb["r_bucket"], "full_outer")
    return (
        joined.filter(
            ~(F.col("digest").eqNullSafe(F.col("r_digest")))
            | ~(F.col("n_rows").eqNullSafe(F.col("replica_rows")))
        )
        .select(
            F.coalesce(F.col("bucket"), F.col("r_bucket")).alias("bucket"),
            F.coalesce(F.col("n_rows"), F.lit(0)).alias("base_rows"),
            F.coalesce(F.col("replica_rows"), F.lit(0)).alias("replica_rows"),
            # surface as BIGINT: per-bucket digest sums are < rows*1e9 — far
            # under 2^63 for any per-bucket row count below ~9e9 (and pandas
            # round-trips BIGINT exactly, where DECIMAL becomes float)
            (F.coalesce(F.col("digest"), F.lit(0)) - F.coalesce(F.col("r_digest"), F.lit(0)))
            .cast("bigint")
            .alias("digest_delta"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Mergeable quantile-digest rollup (third sketch family after HLL + CMS)
# ---------------------------------------------------------------------------

_QD_B = 64  # mass chunks per day summary — rank error of the merge <= 1/B
_QD_ACCURACY = 10000  # percentile_approx accuracy => +1/accuracy rank error
_QD_TARGETS = (0.5, 0.9, 0.99)
# merge rank error <= 1/B, build error <= 1/accuracy per day; generous slack
# on top because the audit is a hard raise_error, not a soft metric
_QD_RANK_TOL = 1.0 / _QD_B + 0.01


@register(
    "agg_quantile_digest_rollup",
    # The day summaries are engine-specific sketches (percentile_approx's
    # deterministic GK summary), so the driver-checked output is the EXACT
    # per-type percentiles (Spark F.percentile and DuckDB quantile_cont
    # share the p*(n-1) interpolation) plus the merged estimate's 1/B
    # rank-error bound as a boolean; merge-consistency
    # and tolerance stay pinned in tests/test_quantile_digest.py.
    oracle="""
        SELECT event_type, CAST(0.5 AS DOUBLE) AS p,
               round(quantile_cont(value, 0.5), 6) AS exact_value, true AS rank_ok
        FROM events GROUP BY event_type
        UNION ALL
        SELECT event_type, CAST(0.9 AS DOUBLE) AS p,
               round(quantile_cont(value, 0.9), 6) AS exact_value, true AS rank_ok
        FROM events GROUP BY event_type
        UNION ALL
        SELECT event_type, CAST(0.99 AS DOUBLE) AS p,
               round(quantile_cont(value, 0.99), 6) AS exact_value, true AS rank_ok
        FROM events GROUP BY event_type
        ORDER BY event_type, p
    """,
    description=(
        "mergeable quantile rollup: per-(event_type, day) equi-depth summaries "
        f"({_QD_B} cutpoints + a count) merged upward to per-event_type p50/p90/p99 "
        "WITHOUT re-scanning events — each day summary contributes B equal-mass "
        "chunks and the month-level quantile is read off the weighted cumulative "
        "distribution of day*B tiny rows. State per group is O(B); the shuffle "
        "carries summaries, never values. The exact-percentile audit columns and "
        "the raise_error rank-bound exist for the verification harness; a "
        "production rollup drops them (they are the O(rows) cost the digest avoids)"
    ),
    tags=("analytics", "aggregation", "sketch", "scale"),
)
def agg_quantile_digest_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    curve = quantile_digest_curve(spark, sf_dir)
    # exact percentiles for the driver-checked output (audit-only scan; a
    # production rollup reports the digest estimates and drops this)
    targets = F.array(*[F.lit(t) for t in _QD_TARGETS])
    exact = (
        e.groupBy("event_type")
        .agg(F.percentile("value", targets).alias("ex"))
        .select("event_type", F.posexplode("ex").alias("pos", "exact_value"))
        .select(
            "event_type",
            F.element_at(targets, F.col("pos").cast("int") + 1).alias("p"),
            "exact_value",
        )
    )
    return (
        curve.select("event_type", "p", (F.col("rank_err") <= _QD_RANK_TOL).alias("rank_ok"))
        .join(exact, ["event_type", "p"])
        .select("event_type", "p", F.round("exact_value", 6).alias("exact_value"), "rank_ok")
        .orderBy("event_type", "p")
    )


def quantile_digest_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full digest readout (event_type, p, est_value, rank_err) — tests pin
    the rank-error budget and determinism on this; the registered rollup
    query projects the driver-checkable exact values + rank_ok boolean."""
    from pyspark.sql.window import Window  # noqa: PLC0415

    e = load_table(spark, sf_dir, "events")
    # chunk representatives at the B mass-midpoints (2i+1)/2B: each stands
    # for exactly 1/B of the day's mass in the reconstruction
    probs = [(2 * i + 1) / (2 * _QD_B) for i in range(_QD_B)]
    daily = e.groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.percentile_approx("value", F.array(*[F.lit(p) for p in probs]), F.lit(_QD_ACCURACY)).alias(
            "cuts"
        ),
        F.count("*").alias("n_events"),
    )
    chunks = daily.select(
        "event_type",
        F.explode("cuts").alias("v"),
        (F.col("n_events").cast("double") / _QD_B).alias("w"),
    )
    part = Window.partitionBy("event_type")
    ordered = part.orderBy("v", "w").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = chunks.select(
        "event_type",
        "v",
        F.sum("w").over(ordered).alias("cum_w"),
        F.sum("w").over(part).alias("total_w"),
    )
    # one row per (event_type, target): smallest v whose cumulative mass
    # reaches t * total — the weighted-quantile read-off
    est = None
    for t in _QD_TARGETS:
        got = cum.groupBy("event_type").agg(
            F.lit(t).alias("p"),
            F.min(F.when(F.col("cum_w") >= F.lit(t) * F.col("total_w"), F.col("v"))).alias(
                "est_value"
            ),
        )
        est = got if est is None else est.unionByName(got)

    # exact audit: true CDF position of each estimate (one extra events scan,
    # dropped in production where the digest IS the answer)
    audited = (
        e.select("event_type", "value")
        .join(F.broadcast(est), "event_type")
        .groupBy("event_type", "p")
        .agg(
            F.first("est_value").alias("est_value"),
            F.avg(F.when(F.col("value") <= F.col("est_value"), 1.0).otherwise(0.0)).alias(
                "frac_le"
            ),
        )
    )
    rank_err = F.abs(F.col("frac_le") - F.col("p"))
    return audited.select(
        "event_type",
        "p",
        F.round("est_value", 6).alias("est_value"),
        F.round(rank_err, 6).alias("rank_err"),
    ).orderBy("event_type", "p")


# ---------------------------------------------------------------------------
# snapshot changelog extraction (inverse of etl_cdc_apply)
# ---------------------------------------------------------------------------

_CDC_EXTRACT_ORACLE = """
WITH base AS (
    SELECT o_orderkey, o_totalprice FROM orders
), replica AS (
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice
    FROM orders WHERE o_orderkey % 97 <> 0
)
SELECT CASE WHEN r.o_orderkey IS NULL THEN 'D'
            WHEN b.o_orderkey IS NULL THEN 'I'
            ELSE 'U' END AS op,
       coalesce(b.o_orderkey, r.o_orderkey) AS o_orderkey,
       round(b.o_totalprice, 2) AS old_totalprice,
       round(r.o_totalprice, 2) AS new_totalprice
FROM base b FULL OUTER JOIN replica r ON b.o_orderkey = r.o_orderkey
WHERE b.o_orderkey IS NULL OR r.o_orderkey IS NULL
   OR b.o_totalprice <> r.o_totalprice
ORDER BY o_orderkey
"""


@register(
    "etl_snapshot_cdc_extract",
    oracle=_CDC_EXTRACT_ORACLE,
    description=(
        "changelog EXTRACTION between two table snapshots — the inverse of "
        "etl_cdc_apply: key-joined full outer compare emitting I/U/D rows with "
        "old/new values, the feed a downstream CDC consumer replays. One shuffle "
        "per side keyed by the primary key; value compare is column-local. Pairs "
        "with etl_partition_diff at 100 TB: the Merkle diff locates divergent "
        "buckets first, and this extraction then runs on ~1/n_buckets of the data"
    ),
    tags=("etl", "cdc", "reconcile", "scale"),
)
def etl_snapshot_cdc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    replica = (
        base.filter(F.col("o_orderkey") % 97 != 0)
        .withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") % 101 == 0, F.col("o_totalprice") + 1.0).otherwise(
                F.col("o_totalprice")
            ),
        )
    )
    b = base.select(F.col("o_orderkey").alias("b_key"), F.col("o_totalprice").alias("b_price"))
    r = replica.select(F.col("o_orderkey").alias("r_key"), F.col("o_totalprice").alias("r_price"))
    joined = b.join(r, b["b_key"] == r["r_key"], "full_outer")
    op = (
        F.when(F.col("r_key").isNull(), F.lit("D"))
        .when(F.col("b_key").isNull(), F.lit("I"))
        .otherwise(F.lit("U"))
    )
    return (
        joined.filter(
            F.col("b_key").isNull()
            | F.col("r_key").isNull()
            | (F.col("b_price") != F.col("r_price"))
        )
        .select(
            op.alias("op"),
            F.coalesce(F.col("b_key"), F.col("r_key")).alias("o_orderkey"),
            F.round("b_price", 2).alias("old_totalprice"),
            F.round("r_price", 2).alias("new_totalprice"),
        )
        .orderBy("o_orderkey")
    )
