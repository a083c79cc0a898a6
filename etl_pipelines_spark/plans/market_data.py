"""core.coin_market_data — every stage of the curated market-data
table (reference:
cloud_functions/core_coin_market_data/core_coin_market_data.py).

`daily_prices_from` and `dense_market_data` are the two stages the
warehouse refresh composes (plans/refresh.py) and the catalog calls
(q21 and the daily-price consumers in queries/timeseries.py):
1. daily prices: quantity-weighted average unit price per (coin, day)
2. densify + forward fill with days_imputed lineage (D1/D2,
   reference :194-270 — the per-coin Python loop becomes one
   sequence/explode)

The reference's source-normalization stages live here too:
non-positive market caps nulled and bad-data rows dropped (:66,75-85),
the source-priority union (:94-116), and the gap fill over the full
market-data schema (price, market_cap, data_source, volume).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_pipelines_spark.operators.densify import densify_daily, with_days_imputed
from etl_pipelines_spark.operators.windows import forward_fill


def daily_prices_from(lineitem: DataFrame) -> DataFrame:
    """Daily quantity-weighted average unit price per part, over an
    explicit lineitem frame (lets tests and skew fixtures feed
    remapped variants through the real plan).

    One explicit shuffle on coin_id serves the whole family of
    consumers: hash(coin_id) satisfies the (coin_id, date) groupBy
    clustering here AND every downstream per-coin window (dip
    removal, ffill, trailing frames), so Catalyst inserts no further
    exchanges — two implicit shuffles collapse into one, and the
    single-file scan fans out across cores before the heavy agg."""
    li = lineitem.select(
        "l_partkey", "l_shipdate", "l_extendedprice", "l_quantity"
    ).repartition("l_partkey")
    return li.groupBy(
        F.col("l_partkey").alias("coin_id"), F.to_date("l_shipdate").alias("date")
    ).agg(
        (
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            / F.sum("l_quantity").cast("double")
        )
        .cast("double")
        .alias("price")
    )


def dense_market_data(md: DataFrame, end_date=None) -> DataFrame:
    """coin_market_data from a daily-prices frame: densify + ffill
    (D1/D2) with the days_imputed provenance column. `end_date`
    overrides the scaffold horizon — the incremental driver MUST pass
    the true global max date here, because its `md` frame is the
    affected-coin subset whose own max may trail the corpus max (an
    affected coin densified only to the subset max would diverge from
    a full rebuild under uneven per-coin arrival)."""
    dense = forward_fill(
        with_days_imputed(
            densify_daily(md, ["coin_id"], "date", end_date=end_date),
            ["coin_id"],
            presence_col="price",
            date_col="date",
        ),
        ["coin_id"],
        ["date"],
        ["price"],
    )
    return dense.select("coin_id", "date", "price", "days_imputed")


def normalize_market_data(raw: DataFrame) -> DataFrame:
    """CASE WHEN market_cap > 0 guard + volume > 0 filter
    (reference :66,84)."""
    return raw.withColumn(
        "market_cap", F.when(F.col("market_cap") > 0, F.col("market_cap"))
    ).filter(F.col("volume") > 0)


def union_with_source_priority(
    primary: DataFrame, secondary: DataFrame, keys: Sequence[str] = ("coin_id", "date")
) -> DataFrame:
    """UNION ALL where the secondary source only contributes keys absent
    from the primary (reference :107-116 left-join-null filter)."""
    keys = list(keys)
    secondary_only = secondary.join(primary.select(*keys), keys, "left_anti")
    return primary.unionByName(secondary_only, allowMissingColumns=True)


def fill_market_data_gaps(market_data: DataFrame) -> DataFrame:
    """Densify each coin from its min(date) through the global max(date);
    ffill price/market_cap/data_source, volume -> 0, updated_at stays
    null on imputed rows, days_imputed counts streak position
    (reference :194-270)."""
    dense = densify_daily(market_data, ["coin_id"], "date")
    dense = with_days_imputed(dense, ["coin_id"], presence_col="price", date_col="date")
    dense = forward_fill(dense, ["coin_id"], ["date"], ["price", "market_cap", "data_source"])
    return dense.withColumn("volume", F.coalesce(F.col("volume"), F.lit(0).cast("long")))
