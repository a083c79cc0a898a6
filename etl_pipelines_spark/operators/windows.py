"""Window-function operators (SURVEY.md §2.6).

All running windows use explicit rowsBetween frames on per-day-unique
keys — semantics identical to BigQuery's default RANGE frame here
because keys are unique per day (SURVEY.md W1 note), and ROWS frames
avoid the range-computation overhead.

Scale note: every helper shares one partitioning (the group keys), so
stacked window columns over the same keys compile to a single shuffle +
sort in the physical plan.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F


def ordered_window(keys: Sequence[str], order: Sequence[str | Column]) -> WindowSpec:
    return Window.partitionBy(*keys).orderBy(*order)


def cumulative_window(keys: Sequence[str], order: Sequence[str | Column]) -> WindowSpec:
    return ordered_window(keys, order).rowsBetween(Window.unboundedPreceding, Window.currentRow)


def with_running_sum(
    df: DataFrame, keys: Sequence[str], order: Sequence[str], value: str, out: str
) -> DataFrame:
    """Running per-group sum — the balance kernel (W1/W9; reference:
    core_coin_wallet_transfers.py:186-188 ``sum(amount) over (partition
    by token,wallet order by date)``)."""
    return df.withColumn(out, F.sum(value).over(cumulative_window(keys, order)))


def with_running_count(
    df: DataFrame, keys: Sequence[str], order: Sequence[str], out: str
) -> DataFrame:
    """Running per-group count — transfer_sequence (W2; reference:
    core_coin_wallet_transfers.py:187-188)."""
    return df.withColumn(out, F.row_number().over(ordered_window(keys, order)).cast("long"))


def with_lag_lead(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[str],
    col: str,
    lag_out: str | None = None,
    lead_out: str | None = None,
) -> DataFrame:
    """prev/next columns (W6/W7; reference shift(1)/shift(-1) at
    core_coin_market_data.py:157-158)."""
    w = ordered_window(keys, order)
    if lag_out:
        df = df.withColumn(lag_out, F.lag(col, 1).over(w))
    if lead_out:
        df = df.withColumn(lead_out, F.lead(col, 1).over(w))
    return df


def forward_fill(
    df: DataFrame, keys: Sequence[str], order: Sequence[str], cols: Sequence[str]
) -> DataFrame:
    """Per-group ffill (W12; reference: core_coin_market_data.py:259-262)
    via last(ignorenulls) over an unbounded-preceding frame."""
    w = cumulative_window(keys, order)
    for c in cols:
        df = df.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return df


def global_running_sum(
    df: DataFrame,
    order: Sequence[str],
    value: Column,
    out: str = "running_total",
) -> DataFrame:
    """Running sum over a GLOBAL total order without the single-
    partition window (W3; reference: batch sizing
    retrieve_dune_transfer_data.py:194,241) — the distributed two-pass
    prefix sum:

    1. range-partition on the order columns, so partition p holds a
       contiguous slice of the total order;
    2. partition-local cumulative sum (one window, no cross-partition
       data movement);
    3. per-partition totals -> exclusive prefix offsets (one tiny
       frame, one row per partition) broadcast back and added.

    EXACT only for order-independent sums — DECIMAL and integer
    values, which is why the caller keeps the decimal cast on the
    value column. Float sums would drift with the fold regrouping;
    keep those on the single-partition form and bound the input.
    `order` must be a total order (include a tiebreak key) or rows
    that compare equal could land in either slice with an ambiguous
    running value.

    The slice id is a PURE FUNCTION of the row (count of driver-
    collected quantile boundaries below the leading order column),
    NOT spark_partition_id() over a range exchange: partition ids
    are only consistent between the window branch and the offsets
    branch if the optimizer happens to reuse the exchange — range
    boundaries re-sample per exchange instance, so a missed
    ReusedExchange would silently mis-assign offsets. Data-derived
    buckets stay correct under ANY plan. The double cast used for
    bucketing is monotone w.r.t. the native ordering and boundary
    ties share a bucket, so buckets are contiguous slices of the
    total order; nulls land in bucket 0, where ascending NULLS FIRST
    ordering puts them anyway. approxQuantile is one extra pass
    collecting <= n_buckets doubles — the legitimate driver scalar
    of the algorithm (same class as k-means centroids)."""
    from pyspark.sql.types import DateType, NumericType, TimestampType

    n = df.sparkSession.sparkContext.defaultParallelism
    lead_type = df.schema[order[0]].dataType
    if isinstance(lead_type, NumericType):
        lead = F.col(order[0]).cast("double")
    elif isinstance(lead_type, (DateType, TimestampType)):
        # epoch seconds: monotone w.r.t. temporal ordering
        lead = F.col(order[0]).cast("timestamp").cast("double")
    else:
        # a string '10' < '2' lexicographically but 10.0 > 2.0 as
        # doubles — the bucket boundaries would not be contiguous
        # slices of the total order and running totals silently wrong
        raise TypeError(
            "global_running_sum: leading order column must be numeric/"
            f"date/timestamp (got {lead_type.simpleString()} for "
            f"{order[0]!r}); double-cast bucketing is not monotone for "
            "other types"
        )
    qs = df.select(lead.alias("_v")).approxQuantile(
        "_v", [i / n for i in range(1, n)], 0.001
    )
    bucket = F.lit(0)
    for b in sorted(set(qs)):
        bucket = bucket + F.when(lead > F.lit(b), 1).otherwise(0)
    keyed = df.withColumn("_bkt", bucket)
    w_local = Window.partitionBy("_bkt").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    local = keyed.withColumn("_local", F.sum(value).over(w_local))
    sizes = keyed.groupBy("_bkt").agg(F.sum(value).alias("_tot"))
    w_prefix = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    prefixes = sizes.select(
        "_bkt", F.coalesce(F.sum("_tot").over(w_prefix), F.lit(0)).alias("_before")
    )
    return (
        local.join(F.broadcast(prefixes), "_bkt")
        .withColumn(out, F.col("_local") + F.col("_before"))
        .drop("_bkt", "_local", "_before")
    )
