"""coin_wallet_profits pipeline — the reference's computational heart.

Per (coin, wallet, day): cumulative USD profitability derived from
transfers x prices. Semantics ported stage-by-stage from
cloud_functions/core_coin_wallet_profits/core_coin_wallet_profits.py
(merge :235-311, first-price :321-349, imputation :352-440,
splice :443-478, pre-inflow trim :482-523, kernel :527-634).

Spark shape (replaces the reference's whole batch orchestration,
SURVEY.md §3.2): every stage partitions on (coin_id, wallet_address) or
coin_id — Catalyst reuses the pair-key shuffle across the stacked
windows, and AQE's skew-join handling covers hot coins. No driver-side
batching, temp tables, or retry loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_pipelines_spark.operators.windows import cumulative_window, ordered_window

PAIR = ["coin_id", "wallet_address"]
# cumulative metrics accumulate in units of 1/QUANTUM (see the kernel)
QUANTUM = 1e6


def merge_prices_and_transfers(transfers: DataFrame, prices: DataFrame) -> DataFrame:
    """Left join preserving all transfer rows; price null where missing
    (reference :235-311)."""
    return transfers.join(
        prices.select("coin_id", "date", "price"), ["coin_id", "date"], "left"
    )


def first_price_info(prices: DataFrame) -> DataFrame:
    """Per coin: first_price_date = min(date), first_price = price at
    that date (reference :321-349, groupby agg {'date':'min',
    'price':'first'} on a date-sorted frame)."""
    return prices.groupBy("coin_id").agg(
        F.min("date").alias("first_price_date"),
        F.min_by("price", "date").alias("first_price"),
    )


def add_first_price_info(profits: DataFrame, prices: DataFrame) -> DataFrame:
    return profits.join(F.broadcast(first_price_info(prices)), "coin_id", "left")


def create_imputed_records(profits: DataFrame) -> DataFrame:
    """Wallets with activity before their coin's first price date get one
    synthetic row at first_price_date carrying the last pre-price balance
    as a transfer-in — skipped when real activity exists on that date
    (reference :352-440).

    ONE pair-level aggregate replaces the reference's four derived
    frames (pre / has_pre / active_first / pre_balances) and their
    joins: has_pre is "any pre-price row" (the struct-max is non-null),
    the carried balance is the struct-max's payload (date-latest pre
    row), active-on-first is a conditional max, and the per-coin
    first-price columns are constant within the pair group. One
    exchange instead of four subtrees over the merged frame."""
    is_pre = F.col("date") < F.col("first_price_date")
    agg = profits.groupBy(*PAIR).agg(
        F.max(F.when(is_pre, F.struct("date", "balance"))).alias("_pre"),
        F.max(
            F.when(F.col("date") == F.col("first_price_date"), F.lit(1))
        ).alias("_act"),
        F.min("first_price_date").alias("first_price_date"),
        F.min("first_price").alias("first_price"),
    )
    return agg.filter(F.col("_pre").isNotNull() & F.col("_act").isNull()).select(
        "coin_id",
        "wallet_address",
        F.col("first_price_date").alias("date"),
        F.col("_pre.balance").alias("net_transfers"),
        F.col("_pre.balance").alias("balance"),
        F.col("first_price").alias("price"),
        "first_price_date",
        "first_price",
    )


def splice_imputed_records(profits: DataFrame, imputed: DataFrame) -> DataFrame:
    """Drop priceless rows, add imputed rows, then rewrite each pair's
    earliest surviving row to show its full balance as transfer-in
    (reference :443-478). Imputed rows never collide with kept rows on
    date (imputation is skipped when activity exists on first_price_date),
    so row_number order is well-defined."""
    kept = profits.filter(F.col("price").isNotNull())
    combined = kept.select(*imputed.columns).unionByName(imputed)
    w = ordered_window(PAIR, ["date"])
    return (
        combined.withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "net_transfers",
            F.when(F.col("_rn") == 1, F.col("balance")).otherwise(F.col("net_transfers")),
        )
        .drop("_rn")
    )


def splice_with_imputation(profits: DataFrame) -> DataFrame:
    """Fused imputation + splice: the single-window-pass form of
    create_imputed_records -> splice_imputed_records (reference
    :352-478), used by build_wallet_profits.

    Key observation: the synthetic row a needs-imputation pair gains at
    first_price_date carries exactly the payload of the row the splice
    DROPS (the pair's date-latest pre-price row: its balance becomes
    both balance and net_transfers, only date and price are rewritten
    to the coin's first-price values). So instead of aggregating
    imputed rows into a separate frame and unioning it back, REWRITE
    that row in place and never drop it. Imputation flags come from
    whole-partition window aggregates over the same (coin, wallet)
    exchange the splice row_number needs — the merged frame is scanned
    once, with no persist, no anti-join, no union, and no extra
    exchange. Row-set equivalence with the staged path is pinned in
    test_wallet_profits."""
    wp = Window.partitionBy(*PAIR)
    is_pre = F.col("date") < F.col("first_price_date")
    flagged = (
        profits.withColumn(
            "_pre", F.max(F.when(is_pre, F.struct("date", "balance"))).over(wp)
        )
        .withColumn(
            "_act",
            F.max(
                F.when(F.col("date") == F.col("first_price_date"), F.lit(1))
            ).over(wp),
        )
        .withColumn(
            "_imp",
            F.coalesce(
                F.col("_pre").isNotNull()
                & F.col("_act").isNull()
                & is_pre
                # null-safe: a NULL balance on the latest pre-price row
                # must still match its own struct (plain == yields NULL
                # and the pair's imputed row would silently vanish,
                # diverging from the staged path)
                & F.struct("date", "balance").eqNullSafe(F.col("_pre")),
                F.lit(False),
            ),
        )
    )
    kept = flagged.filter(F.col("price").isNotNull() | F.col("_imp")).select(
        "coin_id",
        "wallet_address",
        F.when(F.col("_imp"), F.col("first_price_date")).otherwise(F.col("date")).alias("date"),
        F.when(F.col("_imp"), F.col("balance")).otherwise(F.col("net_transfers")).alias(
            "net_transfers"
        ),
        "balance",
        F.when(F.col("_imp"), F.col("first_price")).otherwise(F.col("price")).alias("price"),
        "first_price_date",
        "first_price",
    )
    w = ordered_window(PAIR, ["date"])
    return (
        kept.withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "net_transfers",
            F.when(F.col("_rn") == 1, F.col("balance")).otherwise(F.col("net_transfers")),
        )
        .drop("_rn")
    )


def filter_pre_inflow_records(profits: DataFrame) -> DataFrame:
    """Drop rows before each pair's first positive cumulative token
    inflow and drop the helper columns (reference :482-523)."""
    cum = cumulative_window(PAIR, ["date"])
    inflows = F.greatest(F.col("net_transfers"), F.lit(0.0))
    return (
        profits.withColumn("_cum_inflows", F.sum(inflows).over(cum))
        .filter(F.col("_cum_inflows") > 0)
        .drop("_cum_inflows", "first_price_date", "first_price")
    )


def calculate_wallet_profitability(profits: DataFrame) -> DataFrame:
    """The profitability kernel (reference :527-634):
    profits_change = (price - prev_price) * prev_balance with
    prev_price defaulting to price (first row) and prev_balance to 0;
    cumulative sums per pair; USD valuations.

    The cumulative metrics accumulate as floor-scaled BIGINTs at
    1/QUANTUM instead of raw double sums — exact in any order, so the
    result is bit-identical across engines and plans (the catalog's
    cross-engine float discipline, which the warehouse shares)."""
    w = ordered_window(PAIR, ["date"])
    cum = cumulative_window(PAIR, ["date"])
    prev_price = F.coalesce(F.lag("price").over(w), F.col("price"))
    prev_balance = F.coalesce(F.lag("balance").over(w), F.lit(0.0))
    usd_net = F.col("net_transfers") * F.col("price")
    changes = profits.select(
        *PAIR,
        "date",
        ((F.col("price") - prev_price) * prev_balance).cast("double").alias("profits_change"),
        (F.col("balance") * F.col("price")).cast("double").alias("usd_balance"),
        usd_net.cast("double").alias("usd_net_transfers"),
        F.when(usd_net > 0, usd_net).otherwise(F.lit(0.0)).cast("double").alias("usd_inflows"),
    )

    def cumsum(col: str) -> F.Column:
        scaled = F.floor(F.col(col) * F.lit(QUANTUM)).cast("long")
        return F.sum(scaled).over(cum).cast("double") / F.lit(QUANTUM)

    return changes.select(
        *PAIR,
        "date",
        "profits_change",
        cumsum("profits_change").alias("profits_cumulative"),
        "usd_balance",
        "usd_net_transfers",
        "usd_inflows",
        cumsum("usd_inflows").alias("usd_inflows_cumulative"),
    )


def wallet_profits_kernel_from(balances: DataFrame, prices: DataFrame) -> DataFrame:
    """The kernel over explicit (balance-augmented transfers, prices)
    frames, inner-joined on (coin_id, date) — q22's shape, and the
    warehouse refresh's, which feeds its already-LANDED
    coin_wallet_transfers table back through instead of re-deriving
    transfers from the raw scans."""
    merged = balances.select(
        *PAIR, "date", "net_transfers", "balance"
    ).join(prices.select("coin_id", "date", "price"), ["coin_id", "date"])
    return calculate_wallet_profitability(merged)


def build_wallet_profits(transfers: DataFrame, prices: DataFrame) -> DataFrame:
    """Full five-stage pipeline: merge -> first-price -> impute ->
    splice -> trim -> kernel.

    The impute+splice stages run fused (`splice_with_imputation`): the
    merged frame is consumed exactly once, so the pipeline is one
    linear plan — scan, (coin,date) price join, one (coin,wallet)
    exchange carrying the imputation window aggregates + splice
    row_number + trim cumsum + kernel lag/cumsums. The r1/r2 shape
    persisted the merged frame because five branches (pre-price rows,
    first-day activity, pre-balances, per-coin firsts, kept rows)
    re-read it; the fused rewrite is the SCALE.md
    restructure-over-persist rule finishing the job — those branches
    were one window pass in disguise. The staged functions remain for
    per-stage use and tests."""
    merged = merge_prices_and_transfers(transfers, prices)
    with_first = add_first_price_info(merged, prices)
    spliced = splice_with_imputation(with_first)
    trimmed = filter_pre_inflow_records(spliced)
    return calculate_wallet_profitability(trimmed)


def recomputation_audit(
    profits: DataFrame,
    transfers: DataFrame,
    prices: DataFrame,
    n_coins: int = 300,
    seed: str = "seed42",
    abs_tol: float = 1.0,
    rel_tol: float = 0.01,
) -> DataFrame:
    """The reference's flagship data-quality audit
    (dbt test_cCoinWalletProfits_transfers_and_profits_math.sql:1-125):
    deterministically sample coins, independently re-derive
    profits_change and usd_balance from transfers x prices with lag
    windows, and flag rows off by more than $1 AND more than 1%.

    Sampling uses xxhash64('seed42'||coin_id) standing in for BigQuery
    farm_fingerprint (same determinism role, different sampled set —
    SURVEY.md §7.3). Returns the violations frame (empty = audit green).
    """
    sampled = (
        profits.select("coin_id")
        .distinct()
        .orderBy(F.xxhash64(F.concat(F.lit(seed), F.col("coin_id").cast("string"))))
        .limit(n_coins)
    )
    p = profits.join(F.broadcast(sampled), "coin_id", "left_semi")

    joined = (
        p.join(
            transfers.select("coin_id", "wallet_address", "date", "balance"),
            ["coin_id", "wallet_address", "date"],
            "left",
        )
        .join(prices.select("coin_id", "date", "price"), ["coin_id", "date"], "left")
        # imputed rows have no transfer row; reconstruct their balance
        # from the USD valuation so lag chains stay intact
        .withColumn(
            "_bal", F.coalesce(F.col("balance"), F.try_divide("usd_balance", "price"))
        )
    )
    w = ordered_window(PAIR, ["date"])
    prev_price = F.coalesce(F.lag("price").over(w), F.col("price"))
    prev_balance = F.coalesce(F.lag("_bal").over(w), F.lit(0.0))
    checked = (
        joined.withColumn("_expected_change", (F.col("price") - prev_price) * prev_balance)
        .withColumn("_expected_usd_balance", F.col("_bal") * F.col("price"))
    )

    def mismatch(actual: str, expected: str):
        diff = F.abs(F.col(actual) - F.col(expected))
        return (diff > abs_tol) & (
            F.try_divide(diff, F.abs(F.col(expected))) > rel_tol
        )

    return checked.filter(
        mismatch("profits_change", "_expected_change")
        | mismatch("usd_balance", "_expected_usd_balance")
    ).select(
        "coin_id",
        "wallet_address",
        "date",
        "profits_change",
        "_expected_change",
        "usd_balance",
        "_expected_usd_balance",
    )
