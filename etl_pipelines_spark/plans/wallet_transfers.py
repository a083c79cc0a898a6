"""core.coin_wallet_transfers — every stage of the curated wallet
transfers table (reference:
cloud_functions/core_coin_wallet_transfers/core_coin_wallet_transfers.py:173-405).

`transfers_from` and `with_balance` are the two stages the warehouse
refresh composes (plans/refresh.py) and the catalog calls (q22, q75
and the transfer consumers in queries/timeseries.py):
1. daily signed net transfers per (coin, wallet, day), from the
   per-lineitem event stream `transfers_base_from`
2. the running balance window (W1/W2, reference :186-203)

`normalize_addresses` is the reference's conditional lowercase of
wallet addresses on case-insensitive chains (P3, :228-231).

Scale: the only big shuffle is the one coin-keyed exchange placed
before the join, which every later (coin, wallet) window reuses.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_pipelines_spark.operators.windows import cumulative_window


def transfers_from(
    lineitem: DataFrame, orders: DataFrame, shuffle_on=("l_partkey",)
) -> DataFrame:
    """Daily signed net transfers per (part, customer), over explicit
    lineitem/orders frames (lets tests and skew fixtures feed remapped
    variants through the real plan).

    One shuffle, placed BEFORE the join, serves the whole downstream
    pipeline: hash(coin_id) satisfies this groupBy's (coin, wallet,
    date) clustering, every later (coin, wallet) window/groupBy, and
    co-partitions the (coin, date) join against daily prices — no
    further exchanges (pinned by test_plan_audits). Repartitioning the
    scan side first also fans a single-file test corpus out across
    cores before the join+agg CPU; the orders side broadcasts under
    AQE at this size and falls back to a shuffle join at scale. Hot
    coins are the skew risk of keying on coin alone — AQE skew-join
    handles them (session default).

    `shuffle_on=None` drops the explicit coin-keyed exchange and lets
    the daily aggregation's OWN shuffle key on the full (coin, wallet,
    date) composite: consumers that never reuse coin clustering
    (the sketch builds — they re-aggregate to their own grains) would
    otherwise funnel a Zipf-hot coin's third-of-the-corpus through ONE
    task before their first aggregation (the q72 lesson)."""
    base = transfers_base_from(lineitem, orders, shuffle_on=shuffle_on)
    return base.groupBy("coin_id", "wallet_address", "date").agg(
        F.sum("_sq").cast("double").alias("net_transfers")
    )


def transfers_base_from(
    lineitem: DataFrame, orders: DataFrame, shuffle_on=("l_partkey",)
) -> DataFrame:
    """The PRE-AGGREGATION transfer event stream: one row per lineitem
    with (coin_id, wallet_address, date, _sq signed quantity),
    coin_id-clustered by the same single up-front exchange as
    `transfers_from`. Consumers that don't need the daily net grain
    (the sketch suite's KMV distinct-wallet and HLL register builds —
    they hash wallets, so the (coin, wallet, date) pre-agg is pure
    wasted CPU for them) read this and skip the 6M-row hash
    aggregation; summing `_sq` per (coin, wallet, date) reproduces
    `transfers_from` exactly (quantities are integers in doubles, so
    the sum is order-independent). `shuffle_on=None` skips the
    up-front exchange for consumers that plan their own (q72 keys its
    one shuffle on the (coin, wallet) pair to stay balanced under
    hot-coin skew)."""
    li = lineitem.select(
        "l_orderkey", "l_partkey", "l_shipdate", "l_returnflag", "l_quantity"
    )
    if shuffle_on:
        li = li.repartition(*shuffle_on)
    o = orders.select("o_orderkey", "o_custkey")
    signed = F.when(F.col("l_returnflag") == "R", -F.col("l_quantity")).otherwise(
        F.col("l_quantity")
    )
    return li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("l_partkey").alias("coin_id"),
        F.col("o_custkey").alias("wallet_address"),
        F.to_date("l_shipdate").alias("date"),
        signed.alias("_sq"),
    )


def with_balance(x: DataFrame) -> DataFrame:
    """coin_wallet_transfers from a daily-net frame: the W1/W2 running
    balance."""
    return x.withColumn(
        "balance",
        F.sum("net_transfers")
        .over(cumulative_window(["coin_id", "wallet_address"], ["date"]))
        .cast("double"),
    )


def normalize_addresses(
    df: DataFrame, chains: DataFrame, address_cols: Sequence[str] = ("wallet_address",)
) -> DataFrame:
    """lower() addresses on case-insensitive chains only (reference
    :228-231; core_coins.py:101-104)."""
    df = df.join(F.broadcast(chains.select("chain_id", "is_case_sensitive")), "chain_id", "left")
    for c in address_cols:
        df = df.withColumn(
            c,
            F.when(F.col("is_case_sensitive") == False, F.lower(F.col(c))).otherwise(  # noqa: E712
                F.col(c)
            ),
        )
    return df.drop("is_case_sensitive")
