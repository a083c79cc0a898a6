"""Wallet-profits pipeline tests.

Scenario coverage mirrors the reference's fixtures
(tests/core_coin_wallet_profits/test_profits_df_generation.py:1248-1355
and test_profits_df_logic.py): pre-price activity (imputation path),
post-price-only wallets, exit-and-reentry, same-day offsetting
transfers, activity on the first price date.
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from etl_pipelines_spark.plans.wallet_profits import (
    add_first_price_info,
    build_wallet_profits,
    calculate_wallet_profitability,
    create_imputed_records,
    filter_pre_inflow_records,
    merge_prices_and_transfers,
    splice_imputed_records,
)

D = dt.date


def make_transfers(spark, rows):
    return spark.createDataFrame(
        rows, "coin_id string, wallet_address string, date date, net_transfers double, balance double"
    )


def make_prices(spark, rows):
    return spark.createDataFrame(rows, "coin_id string, date date, price double")


@pytest.fixture(scope="module")
def sample_transfers(spark):
    rows = [
        # w1/c1: simple post-price buy then partial sell
        ("c1", "w1", D(2024, 1, 1), 100.0, 100.0),
        ("c1", "w1", D(2024, 1, 3), -50.0, 50.0),
        # w2/c1: pre-price activity, nothing on first price date -> imputed
        ("c1", "w2", D(2023, 12, 20), 10.0, 10.0),
        ("c1", "w2", D(2023, 12, 25), 5.0, 15.0),
        ("c1", "w2", D(2024, 1, 4), -5.0, 10.0),
        # w3/c1: pre-price activity AND activity on first price date
        ("c1", "w3", D(2023, 12, 30), 20.0, 20.0),
        ("c1", "w3", D(2024, 1, 1), 5.0, 25.0),
        # w4/c1: exit and re-entry
        ("c1", "w4", D(2024, 1, 1), 40.0, 40.0),
        ("c1", "w4", D(2024, 1, 2), -40.0, 0.0),
        ("c1", "w4", D(2024, 1, 4), 30.0, 30.0),
        # w5/c2: same-day offsetting transfers (net 0 first row)
        ("c2", "w5", D(2024, 1, 2), 0.0, 0.0),
        ("c2", "w5", D(2024, 1, 3), 25.0, 25.0),
    ]
    return rows


@pytest.fixture(scope="module")
def sample_prices(spark):
    return [
        ("c1", D(2024, 1, 1), 1.0),
        ("c1", D(2024, 1, 2), 2.0),
        ("c1", D(2024, 1, 3), 3.0),
        ("c1", D(2024, 1, 4), 2.0),
        # c2 prices start later (staggered first price dates)
        ("c2", D(2024, 1, 2), 10.0),
        ("c2", D(2024, 1, 3), 12.0),
    ]


@pytest.fixture(scope="module")
def pipeline_result(spark, sample_transfers, sample_prices):
    transfers = make_transfers(spark, sample_transfers)
    prices = make_prices(spark, sample_prices)
    df = build_wallet_profits(transfers, prices)
    rows = df.orderBy("coin_id", "wallet_address", "date").collect()
    return {(r.coin_id, r.wallet_address, r.date): r for r in rows}, rows


def test_merge_preserves_all_transfers(spark, sample_transfers, sample_prices):
    transfers = make_transfers(spark, sample_transfers)
    prices = make_prices(spark, sample_prices)
    merged = merge_prices_and_transfers(transfers, prices)
    assert merged.count() == transfers.count()
    # pre-price rows have null price
    null_prices = merged.filter(F.col("price").isNull()).count()
    assert null_prices == 3  # w2 x2 + w3 x1


def test_first_price_info(spark, sample_transfers, sample_prices):
    transfers = make_transfers(spark, sample_transfers)
    prices = make_prices(spark, sample_prices)
    merged = add_first_price_info(merge_prices_and_transfers(transfers, prices), prices)
    info = {
        r.coin_id: (r.first_price_date, r.first_price)
        for r in merged.select("coin_id", "first_price_date", "first_price").distinct().collect()
    }
    assert info["c1"] == (D(2024, 1, 1), 1.0)
    assert info["c2"] == (D(2024, 1, 2), 10.0)


def test_imputed_records_only_for_pre_price_inactive_wallets(
    spark, sample_transfers, sample_prices
):
    transfers = make_transfers(spark, sample_transfers)
    prices = make_prices(spark, sample_prices)
    merged = add_first_price_info(merge_prices_and_transfers(transfers, prices), prices)
    imputed = create_imputed_records(merged).collect()
    # only w2 qualifies: w3 has activity on the first price date
    assert len(imputed) == 1
    r = imputed[0]
    assert (r.coin_id, r.wallet_address) == ("c1", "w2")
    assert r.date == D(2024, 1, 1)
    assert r.net_transfers == 15.0  # last pre-price balance carried as transfer-in
    assert r.balance == 15.0
    assert r.price == 1.0


def test_splice_rewrites_earliest_rows(spark, sample_transfers, sample_prices):
    transfers = make_transfers(spark, sample_transfers)
    prices = make_prices(spark, sample_prices)
    merged = add_first_price_info(merge_prices_and_transfers(transfers, prices), prices)
    spliced = splice_imputed_records(merged, create_imputed_records(merged))
    rows = {(r.coin_id, r.wallet_address, r.date): r for r in spliced.collect()}
    # w3's pre-price row dropped; its first-price-date row shows full balance in
    assert ("c1", "w3", D(2023, 12, 30)) not in rows
    assert rows[("c1", "w3", D(2024, 1, 1))].net_transfers == 25.0
    # w2's imputed row is its earliest
    assert rows[("c1", "w2", D(2024, 1, 1))].net_transfers == 15.0
    # w1 earliest row unchanged (net already == balance)
    assert rows[("c1", "w1", D(2024, 1, 1))].net_transfers == 100.0


def test_fused_splice_matches_staged(spark, sample_transfers, sample_prices):
    """The single-window-pass splice_with_imputation must produce the
    exact row set of the staged impute -> splice path on a fixture that
    exercises every branch (imputed, skip-imputation, plain)."""
    from etl_pipelines_spark.plans.wallet_profits import splice_with_imputation

    transfers = make_transfers(spark, sample_transfers)
    prices = make_prices(spark, sample_prices)
    merged = add_first_price_info(merge_prices_and_transfers(transfers, prices), prices)
    staged = splice_imputed_records(merged, create_imputed_records(merged))
    fused = splice_with_imputation(merged).select(*staged.columns)
    assert fused.exceptAll(staged).count() == 0
    assert staged.exceptAll(fused).count() == 0


def test_fused_splice_handles_null_balance_pre_row(spark):
    """A NULL balance on the pair's latest pre-price row must not make
    the imputed row vanish from the fused path (plain struct equality
    yields NULL on NULL fields; the flag is null-safe)."""
    from etl_pipelines_spark.plans.wallet_profits import splice_with_imputation

    transfers = make_transfers(
        spark,
        [
            ("c1", "wn", D(2023, 12, 20), 10.0, None),  # pre-price, NULL balance
            ("c1", "wn", D(2024, 1, 4), -5.0, 5.0),
        ],
    )
    prices = make_prices(spark, [("c1", D(2024, 1, 1), 1.0), ("c1", D(2024, 1, 4), 2.0)])
    merged = add_first_price_info(merge_prices_and_transfers(transfers, prices), prices)
    staged = splice_imputed_records(merged, create_imputed_records(merged))
    fused = splice_with_imputation(merged).select(*staged.columns)
    assert fused.exceptAll(staged).count() == 0
    assert staged.exceptAll(fused).count() == 0
    # the imputed row is present (with NULL carried balance), not dropped
    assert fused.filter(F.col("date") == D(2024, 1, 1)).count() == 1


def test_pre_inflow_trim_drops_offsetting_first_day(spark):
    transfers = make_transfers(
        spark,
        [
            ("c9", "w9", D(2024, 1, 1), 0.0, 0.0),
            ("c9", "w9", D(2024, 1, 2), 10.0, 10.0),
        ],
    )
    prices = make_prices(spark, [("c9", D(2024, 1, 1), 1.0), ("c9", D(2024, 1, 2), 1.5)])
    merged = add_first_price_info(merge_prices_and_transfers(transfers, prices), prices)
    spliced = splice_imputed_records(merged, create_imputed_records(merged))
    trimmed = filter_pre_inflow_records(spliced).collect()
    assert [r.date for r in trimmed] == [D(2024, 1, 2)]


def test_kernel_math_basic(spark):
    """Manually verified arithmetic (mirrors test_profits_df_logic.py:51-159)."""
    merged = spark.createDataFrame(
        [
            ("c1", "w1", D(2024, 1, 1), 100.0, 100.0, 1.0),
            ("c1", "w1", D(2024, 1, 3), -50.0, 50.0, 3.0),
            ("c1", "w1", D(2024, 1, 4), 0.0, 50.0, 2.0),
        ],
        "coin_id string, wallet_address string, date date, net_transfers double, balance double, price double",
    )
    out = {r.date: r for r in calculate_wallet_profitability(merged).collect()}
    assert out[D(2024, 1, 1)].profits_change == 0.0
    assert out[D(2024, 1, 1)].usd_balance == 100.0
    assert out[D(2024, 1, 1)].usd_inflows == 100.0
    # (3-1)*100 = 200
    assert out[D(2024, 1, 3)].profits_change == 200.0
    assert out[D(2024, 1, 3)].profits_cumulative == 200.0
    assert out[D(2024, 1, 3)].usd_balance == 150.0
    assert out[D(2024, 1, 3)].usd_net_transfers == -150.0
    assert out[D(2024, 1, 3)].usd_inflows == 0.0
    # (2-3)*50 = -50
    assert out[D(2024, 1, 4)].profits_change == -50.0
    assert out[D(2024, 1, 4)].profits_cumulative == 150.0
    assert out[D(2024, 1, 4)].usd_inflows_cumulative == 100.0


def test_full_pipeline_end_to_end(pipeline_result):
    rows_by_key, rows = pipeline_result
    # w2: imputed row at first price date with balance 15 @ $1
    r = rows_by_key[("c1", "w2", D(2024, 1, 1))]
    assert r.usd_balance == 15.0
    assert r.usd_inflows == 15.0
    assert r.profits_change == 0.0
    # w2 sells 5 on 1/4 at $2: profits_change = (2-1)*15 = 15
    r = rows_by_key[("c1", "w2", D(2024, 1, 4))]
    assert r.profits_change == 15.0
    assert r.usd_balance == 20.0
    # w4 re-entry: day-2 exit locks (2-1)*40 = 40 profit; day-4 change is 0
    assert rows_by_key[("c1", "w4", D(2024, 1, 2))].profits_change == 40.0
    assert rows_by_key[("c1", "w4", D(2024, 1, 4))].profits_change == 0.0
    assert rows_by_key[("c1", "w4", D(2024, 1, 4))].profits_cumulative == 40.0
    # w5 same-day offset row dropped
    assert ("c2", "w5", D(2024, 1, 2)) not in rows_by_key
    assert rows_by_key[("c2", "w5", D(2024, 1, 3))].usd_balance == 300.0
    # monotone cumulative inflows per pair (dbt usd_inflows_increasing)
    by_pair = {}
    for r in rows:
        key = (r.coin_id, r.wallet_address)
        prev = by_pair.get(key, 0.0)
        assert r.usd_inflows_cumulative >= prev
        by_pair[key] = r.usd_inflows_cumulative
    # unique key (coin, wallet, date)
    assert len(rows_by_key) == len(rows)


# ------------------------------------------------------------------
# Hot-coin skew: the reference's real-world failure mode (one coin =
# 30% of all transfer rows). Correctness pinned against the per-coin
# slice oracle (the pipeline is coin-local by construction, so
# slicing the input by coin is an exact independent recomputation);
# the AQE skew-split assertion runs on the REAL pipeline plan, not a
# synthetic join.


def _skewed_inputs(spark, sf_dir, hot_coin=1, hot_tenths=3):
    """Pipeline inputs with ~hot_tenths/10 of lineitem rows remapped
    onto one coin — deterministic (hash of the row key), so repeated
    runs see the identical skewed corpus."""
    from etl_pipelines_spark.plans.market_data import daily_prices_from
    from etl_pipelines_spark.plans.wallet_transfers import transfers_from
    from etl_pipelines_spark.sources.registry import load_table

    li = load_table(spark, sf_dir, "lineitem")
    hot = (
        F.abs(F.xxhash64("l_orderkey", "l_linenumber")) % 10 < hot_tenths
    )
    li = li.withColumn(
        "l_partkey", F.when(hot, F.lit(hot_coin)).otherwise(F.col("l_partkey"))
    )
    o = load_table(spark, sf_dir, "orders")
    return transfers_from(li, o), daily_prices_from(li)


def _run_pipeline(x, p):
    from etl_pipelines_spark.operators.windows import cumulative_window

    xb = x.withColumn(
        "balance",
        F.sum("net_transfers")
        .over(cumulative_window(["coin_id", "wallet_address"], ["date"]))
        .cast("double"),
    )
    return build_wallet_profits(xb, p)


def test_skewed_hot_coin_matches_slice_oracle(spark):
    sf = "/root/testdata/sf0.001"
    x, p = _skewed_inputs(spark, sf)
    # the skew is real: the hot coin owns >= 25% of transfer rows
    total = x.count()
    hot_rows = x.filter(F.col("coin_id") == 1).count()
    assert hot_rows / total > 0.25, (hot_rows, total)

    full = _run_pipeline(x, p).collect()
    hot = _run_pipeline(
        x.filter(F.col("coin_id") == 1), p.filter(F.col("coin_id") == 1)
    ).collect()
    rest = _run_pipeline(
        x.filter(F.col("coin_id") != 1), p.filter(F.col("coin_id") != 1)
    ).collect()
    assert sorted(map(tuple, full)) == sorted(map(tuple, hot + rest))


def _airdrop_inputs(spark, n_airdrop=400_000, n_tail=5_000):
    """Transfers with an airdrop day: one (coin, date) cell fans out to
    n_airdrop wallets — the distribution where the price join's OWN
    shuffle (an external caller's frame carries no friendly
    pre-partitioning) concentrates one partition. Hot coins spread by
    date and hot wallets are the finest window key, so the airdrop
    cell is the one real-pipeline shape AQE skew-split can and must
    rescue. Values vary per row: constant columns compress so well
    that the skew detector's (compressed) partition bytes stay under
    threshold — as they would in any real corpus."""
    air = spark.range(n_airdrop).select(
        F.lit(1).alias("coin_id"),
        (F.col("id") + 1_000_000).alias("wallet_address"),
        F.lit(dt.date(2024, 3, 1)).alias("date"),
        (F.col("id") % 997 + 1).cast("double").alias("net_transfers"),
    )
    tail = spark.range(n_tail).select(
        (F.col("id") % 50 + 2).alias("coin_id"),
        (F.col("id") % 500).alias("wallet_address"),
        F.date_add(F.lit(dt.date(2024, 1, 1)), (F.col("id") % 90).cast("int")).alias("date"),
        (F.col("id") % 7 + 1).cast("double").alias("net_transfers"),
    ).groupBy("coin_id", "wallet_address", "date").agg(
        F.sum("net_transfers").alias("net_transfers")
    )
    x = air.unionByName(tail)
    p = (
        spark.range(51)
        .select((F.col("id") + 1).alias("coin_id"))
        .crossJoin(
            spark.range(91).select(
                F.date_add(F.lit(dt.date(2024, 1, 1)), F.col("id").cast("int")).alias("date")
            )
        )
        .select("coin_id", "date", (F.col("coin_id") * 1.5).alias("price"))
    )
    return x, p


def test_airdrop_day_fires_aqe_skew_split_in_real_pipeline_join(spark):
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        x, p = _airdrop_inputs(spark)
        out = _run_pipeline(x, p)
        out._jdf.queryExecution().executedPlan().executeCollect()
        final = out._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final, final[:3000]

        # the split must not change results: same rows with the
        # optimization forced off
        agg = out.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("profits_cumulative") * 100)).alias("s"),
        ).collect()[0]
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        x2, p2 = _airdrop_inputs(spark)
        agg2 = _run_pipeline(x2, p2).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("profits_cumulative") * 100)).alias("s"),
        ).collect()[0]
        assert (agg["n"], agg["s"]) == (agg2["n"], agg2["s"])
    finally:
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
