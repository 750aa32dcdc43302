"""Time-series operators: time-weighted averages, OHLC bars, interval
merging (gaps-and-islands), EWMA, and ordered deltas.

The reference engine has no time-series surface at all (its `events`-style
tables are transferred blind, `/root/reference/PostgresDatabase.py:146`);
these are the TimescaleDB/kdb-style primitives an analytics engine is asked
for the moment a timestamp column exists. All operators are pure DataFrame
compositions — window functions and declarative aggregates, zero UDFs — so
Catalyst plans them as one shuffle keyed by the series' natural grouping
key, which is exactly the partitioning a 100 TB event store already has.

Cross-engine float discipline (matches `analytics_queries.py`):

- Work in epoch **microseconds as BIGINT** — integer arithmetic is exact
  and timezone-proof in both Spark and DuckDB.
- Sums of ``value × duration`` products go through DECIMAL so the partial
  aggregation order Spark picks cannot perturb the result; the ONE
  division that produces a ratio happens once per group on the final
  exact operands, then rounds.
- Sequential folds (EWMA) run left-to-right over an explicitly sorted
  array in both engines — identical operation order gives bit-identical
  IEEE results.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = [
    "event_deltas",
    "ewma_fold",
    "merge_intervals",
    "ohlc_bars",
    "time_weighted_avg",
]


def _us(ts_col: str) -> Column:
    """Epoch microseconds of a timestamp column, as BIGINT.

    Fixture timestamps surface as TIMESTAMP or TIMESTAMP_NTZ depending on
    the parquet writer's unit; with the session timezone pinned to UTC
    (session.py) the cast is a wall-clock identity either way, matching
    DuckDB's naive ``epoch_us``.
    """
    return F.unix_micros(F.col(ts_col).cast("timestamp"))


def time_weighted_avg(
    df: DataFrame,
    group_cols: Sequence[str],
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """LOCF time-weighted average of ``value_col`` per group.

    Each observation "holds" its value until the next observation in the
    same group, so its weight is the duration to that successor; the last
    observation contributes nothing (zero remaining span). Groups with a
    single observation (no span) yield NULL.

    Plan shape: one window (``lead`` over the group's time order) and one
    aggregate — a single shuffle keyed by ``group_cols``, carrying only
    ``(group, ts_us, value)``. The weighted sum accumulates as DECIMAL
    (value quantized to 6 decimal places × exact integer microseconds), so
    Spark's partial-aggregation order cannot move the result; the one
    IEEE division per group happens on exact operands.
    """
    staged = df.select(
        *group_cols,
        _us(ts_col).alias("_us"),
        F.col(value_col).cast("decimal(14,6)").alias("_v"),
        *([F.col(tiebreak_col).alias("_tb")] if tiebreak_col else []),
    )
    order = [F.col("_us").asc()] + ([F.col("_tb").asc()] if tiebreak_col else [])
    w = Window.partitionBy(*group_cols).orderBy(*order)
    staged = staged.withColumn("_next_us", F.lead("_us").over(w))
    return (
        staged.groupBy(*group_cols)
        .agg(
            F.sum(F.col("_v") * (F.col("_next_us") - F.col("_us"))).alias("_wsum"),
            (F.max("_us") - F.min("_us")).alias("span_us"),
            F.count("*").alias("n_obs"),
        )
        .select(
            *group_cols,
            "n_obs",
            "span_us",
            # exact integer-micro: wsum*1e6 is an
            # integer (6-decimal DECIMAL x integer microseconds), so the
            # average ships as one truncating DECIMAL(38) quotient
            F.expr(
                "CAST((CAST(_wsum * 1000000 AS DECIMAL(38,0)))"
                " div (CASE WHEN span_us > 0 THEN span_us END) AS BIGINT)"
            ).alias("time_weighted_avg_micro"),
        )
    )


def ohlc_bars(
    df: DataFrame,
    group_cols: Sequence[str],
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
    bucket_seconds: int = 86_400,
) -> DataFrame:
    """Downsample a value series to open/high/low/close bars per group per
    time bucket.

    One declarative aggregate: ``min_by``/``max_by`` keyed on the total
    order ``(ts_us, tiebreak)`` pick open/close without a window pass.
    Struct-keyed min_by forces Spark's SortAggregate rather than
    HashAggregate, but the shape that matters for scale is intact: partial
    (map-side combined) + final around ONE shuffle that carries one row
    per (group, bucket) per map task — versus the window-function
    formulation, which shuffles every input row and sorts twice. Bucket
    ids are integer epoch-bucket ordinals (timezone-proof across engines),
    computed with exact integer arithmetic — ``us % d`` then the exact-
    multiple division — never a double quotient that could round across a
    bucket boundary.

    ``sum_value`` accumulates as DECIMAL then finishes as one rounded cast
    so aggregation order can't drift the float.
    """
    us = _us(ts_col)
    key = F.struct(F.col("_us"), F.col(tiebreak_col))
    bucket_us = F.lit(1_000_000 * bucket_seconds)
    staged = df.select(
        *group_cols,
        us.alias("_us"),
        F.col(tiebreak_col),
        F.col(value_col).alias("_v"),
        ((us - us % bucket_us) / bucket_us).cast("bigint").alias("bucket_id"),
    )
    return (
        staged.groupBy(*group_cols, "bucket_id")
        .agg(
            F.min_by("_v", key).alias("open"),
            F.max("_v").alias("high"),
            F.min("_v").alias("low"),
            F.max_by("_v", key).alias("close"),
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("_v").cast("decimal(14,6)")).cast("double"), 6).alias(
                "sum_value"
            ),
        )
    )


def merge_intervals(
    df: DataFrame,
    group_cols: Sequence[str],
    start_col: str,
    end_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Merge overlapping/touching intervals per group into islands
    (classic gaps-and-islands).

    ``start_col``/``end_col`` must be integer columns (e.g. epoch
    microseconds). An interval starts a new island iff its start exceeds
    the running maximum end of all earlier intervals in the group; island
    ids are the running count of such breaks. Two window passes over the
    SAME partitioning + one aggregate — Catalyst plans a single shuffle
    keyed by ``group_cols``, and at 100 TB that key (user/device/series
    id) is high-cardinality, so partitions stay balanced.
    """
    order = [F.col(start_col).asc(), F.col(end_col).asc()] + (
        [F.col(tiebreak_col).asc()] if tiebreak_col else []
    )
    w = Window.partitionBy(*group_cols).orderBy(*order)
    prev_max_end = F.max(end_col).over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = df.withColumn(
        "_new_island",
        F.when(prev_max_end.isNull() | (F.col(start_col) > prev_max_end), 1).otherwise(0),
    ).withColumn("island_id", F.sum("_new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return (
        flagged.groupBy(*group_cols, "island_id")
        .agg(
            F.min(start_col).alias("island_start"),
            F.max(end_col).alias("island_end"),
            F.count("*").alias("n_intervals"),
        )
        .withColumn("island_span", F.col("island_end") - F.col("island_start"))
    )


def ewma_fold(
    df: DataFrame,
    group_cols: Sequence[str],
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
    alpha: float = 0.3,
) -> DataFrame:
    """Final exponentially-weighted moving average per group,
    ``ewma_i = alpha*x_i + (1-alpha)*ewma_{i-1}``, seeded with the first
    observation.

    A sequential recurrence is not a window function, but it IS a
    left-fold — so: ``collect_list(struct(ts_us, tiebreak, value))`` per
    group, ``sort_array`` for a deterministic total order, then
    ``F.aggregate`` folds entirely inside whole-stage codegen. No UDF, no
    Python boundary, identical operation order to any other engine's
    left-fold (DuckDB ``list_reduce``) — bit-identical IEEE doubles.

    Scale note: per-group state is the group's full (ts, value) sequence,
    fine for bounded series (a user's events, a device's day). For
    unbounded series, bucket the fold by coarse time windows and chain
    bucket results, or stream it via ``applyInPandasWithState`` — the
    recurrence itself carries O(1) state.
    """
    us = _us(ts_col)
    staged = df.select(
        *group_cols,
        F.struct(
            us.alias("u"),
            F.col(tiebreak_col).alias("t"),
            F.col(value_col).cast("double").alias("v"),
        ).alias("_obs"),
    )
    arr = F.array_sort(F.collect_list("_obs"))
    vals = F.transform(arr, lambda o: o["v"])
    ewma = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda acc, x: F.lit(alpha) * x + F.lit(1.0 - alpha) * acc,
    )
    return staged.groupBy(*group_cols).agg(
        F.size(arr).cast("bigint").alias("n_obs"),
        F.round(ewma, 6).alias("ewma"),
        F.round(F.element_at(vals, -1), 6).alias("last_value"),
    )


def event_deltas(
    df: DataFrame,
    group_cols: Sequence[str],
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Per-row deltas against the previous observation in the group's time
    order: gap microseconds, value delta, and rate per second.

    One window pass (two ``lag``s over the same sort), one shuffle keyed
    by ``group_cols``. Row-local arithmetic only — subtraction and a
    single division per row are order-independent, so no decimal staging
    is needed. Rows without a predecessor are dropped (a delta needs two
    points).
    """
    w = Window.partitionBy(*group_cols).orderBy(
        F.col("_us").asc(), F.col(tiebreak_col).asc()
    )
    staged = df.select(
        *group_cols, F.col(tiebreak_col), _us(ts_col).alias("_us"), F.col(value_col).alias("_v")
    )
    return (
        staged.withColumn("_prev_us", F.lag("_us").over(w))
        .withColumn("_prev_v", F.lag("_v").over(w))
        .filter(F.col("_prev_us").isNotNull())
        .select(
            *group_cols,
            F.col(tiebreak_col),
            (F.col("_us") - F.col("_prev_us")).alias("gap_us"),
            F.round(F.col("_v") - F.col("_prev_v"), 6).alias("delta_value"),
            # exact integer-micro rate: the e4-grid
            # value delta times 1e8 over integer microseconds, truncating
            F.expr(
                "((CAST(round(_v * 10000, 0) AS BIGINT)"
                " - CAST(round(_prev_v * 10000, 0) AS BIGINT))"
                " * CAST(100000000 AS BIGINT)) div (_us - _prev_us)"
            ).alias("rate_per_sec_micro"),
        )
    )
