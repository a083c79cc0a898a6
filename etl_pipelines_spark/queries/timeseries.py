"""Time-series specialty queries (SURVEY.md §2.6-2.7, §2.11, §3.2-3.3):
catalog entries for the wallet-profits kernel, gap fill/densify, dip
removal, whale buckets. The curated-table stages these entries call —
daily prices, densify, transfers, running balance, the profits
kernel — live in plans/ (market_data, wallet_transfers,
wallet_profits), shared with the warehouse refresh.

Mapping of the reference's domain onto the testdata star schema:
coin_id -> l_partkey, wallet_address -> o_custkey, transfer -> lineitem
(quantity signed by returnflag: 'R' = outflow), price -> daily
quantity-weighted average unit price per part.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_pipelines_spark.operators.outliers import remove_single_day_dips
from etl_pipelines_spark.operators.windows import cumulative_window, ordered_window
from etl_pipelines_spark.plans.market_data import daily_prices_from, dense_market_data
from etl_pipelines_spark.plans.wallet_profits import (
    build_wallet_profits,
    wallet_profits_kernel_from,
)
from etl_pipelines_spark.plans.wallet_transfers import (
    transfers_base_from,
    transfers_from,
    with_balance,
)
from etl_pipelines_spark.queries.catalog import register, t
from etl_pipelines_spark.sources.registry import footer_stats

# ---------------------------------------------------------------- shared

DAILY_PRICES_SQL = """
    SELECT l_partkey AS coin_id, CAST(l_shipdate AS DATE) AS date,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                / CAST(SUM(l_quantity) AS DOUBLE) AS DOUBLE) AS price
    FROM lineitem
    GROUP BY l_partkey, CAST(l_shipdate AS DATE)
"""

TRANSFERS_SQL = """
    SELECT l.l_partkey AS coin_id, o.o_custkey AS wallet_address,
           CAST(l.l_shipdate AS DATE) AS date,
           CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN -l.l_quantity
                         ELSE l.l_quantity END) AS DOUBLE) AS net_transfers
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY 1, 2, 3
"""


def daily_prices(spark: SparkSession, sf: str) -> DataFrame:
    """Daily quantity-weighted average unit price per part
    (plans.market_data.daily_prices_from over the lineitem table)."""
    return daily_prices_from(t(spark, sf, "lineitem"))


def transfers(spark: SparkSession, sf: str) -> DataFrame:
    """Daily signed net transfers per (part, customer)
    (plans.wallet_transfers.transfers_from over lineitem x orders)."""
    return transfers_from(t(spark, sf, "lineitem"), t(spark, sf, "orders"))


# --------------------------------------------------------------------- q20
@register(
    "q20_lag_lead_dip_removal",
    f"""
    WITH daily AS ({DAILY_PRICES_SQL}),
    flagged AS (
        SELECT coin_id, date, price,
               LAG(price) OVER w AS prev_price,
               LEAD(price) OVER w AS next_price
        FROM daily
        WINDOW w AS (PARTITION BY coin_id ORDER BY date)
    )
    SELECT coin_id, date, price FROM flagged
    WHERE NOT COALESCE(
        (price / prev_price < 0.8 AND next_price / prev_price > 0.9)
        OR (price = 0 AND prev_price > 0 AND next_price > 0
            AND next_price / prev_price > 0.9),
        FALSE)
    """,
    description="Q4/W7 single-day dip removal via lag/lead "
    "(reference core_coin_market_data.py:140-190)",
    tags=("window", "quality"),
)
def q20(spark: SparkSession, sf: str) -> DataFrame:
    return remove_single_day_dips(daily_prices(spark, sf)).select("coin_id", "date", "price")


# --------------------------------------------------------------------- q21
@register(
    "q21_gap_fill_densify",
    f"""
    WITH daily AS ({DAILY_PRICES_SQL}),
    sub AS (SELECT * FROM daily WHERE coin_id < 25),
    bounds AS (SELECT coin_id, MIN(date) AS min_d FROM sub GROUP BY coin_id),
    gmax AS (SELECT MAX(date) AS max_d FROM sub),
    scaffold AS (
        SELECT b.coin_id, CAST(UNNEST(generate_series(b.min_d, g.max_d, INTERVAL 1 DAY)) AS DATE) AS date
        FROM bounds b CROSS JOIN gmax g
    ),
    joined AS (
        SELECT s.coin_id, s.date, d.price
        FROM scaffold s LEFT JOIN sub d ON d.coin_id = s.coin_id AND d.date = s.date
    ),
    lagged AS (
        SELECT *, CASE WHEN price IS NOT NULL
                       OR LAG(price) OVER (PARTITION BY coin_id ORDER BY date) IS NOT NULL
                  THEN 1 ELSE 0 END AS new_grp
        FROM joined
    ),
    grouped AS (
        SELECT *, SUM(new_grp) OVER (PARTITION BY coin_id ORDER BY date
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        FROM lagged
    )
    SELECT coin_id, date,
           LAST_VALUE(price IGNORE NULLS)
               OVER (PARTITION BY coin_id ORDER BY date
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS price,
           CASE WHEN price IS NULL
                THEN CAST(ROW_NUMBER() OVER (PARTITION BY coin_id, grp ORDER BY date) AS BIGINT)
           END AS days_imputed
    FROM grouped
    """,
    description="D1/D2/W10-W12 set-based densify + ffill + days_imputed "
    "(reference per-coin loop core_coin_market_data.py:194-270, "
    "re-expressed as sequence/explode)",
    tags=("densify", "window"),
)
def q21(spark: SparkSession, sf: str) -> DataFrame:
    return dense_market_data(daily_prices(spark, sf).filter(F.col("coin_id") < 25))


# --------------------------------------------------------------------- q22
@register(
    "q22_wallet_profits_kernel",
    f"""
    WITH prices AS ({DAILY_PRICES_SQL}),
    xfers AS ({TRANSFERS_SQL}),
    merged AS (
        SELECT x.coin_id, x.wallet_address, x.date, x.net_transfers,
               CAST(SUM(x.net_transfers) OVER (PARTITION BY x.coin_id, x.wallet_address
                    ORDER BY x.date ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS balance,
               p.price
        FROM xfers x
        JOIN prices p ON p.coin_id = x.coin_id AND p.date = x.date
    ),
    kernel AS (
        SELECT coin_id, wallet_address, date, net_transfers, balance, price,
               COALESCE(LAG(price) OVER w, price) AS prev_price,
               COALESCE(LAG(balance) OVER w, 0.0) AS prev_balance
        FROM merged
        WINDOW w AS (PARTITION BY coin_id, wallet_address ORDER BY date)
    ),
    changes AS (
        SELECT coin_id, wallet_address, date,
               CAST((price - prev_price) * prev_balance AS DOUBLE) AS profits_change,
               CAST(balance * price AS DOUBLE) AS usd_balance,
               CAST(net_transfers * price AS DOUBLE) AS usd_net_transfers,
               CAST(CASE WHEN net_transfers * price > 0
                         THEN net_transfers * price ELSE 0.0 END AS DOUBLE) AS usd_inflows
        FROM kernel
    )
    -- cumulative metrics quantized at 1e-6 via floor-scaled BIGINT sums:
    -- exact in any order, bit-identical across engines
    SELECT coin_id, wallet_address, date, profits_change,
           CAST(SUM(CAST(FLOOR(profits_change * 1e6) AS BIGINT)) OVER cum AS DOUBLE) / 1e6
               AS profits_cumulative,
           usd_balance, usd_net_transfers, usd_inflows,
           CAST(SUM(CAST(FLOOR(usd_inflows * 1e6) AS BIGINT)) OVER cum AS DOUBLE) / 1e6
               AS usd_inflows_cumulative
    FROM changes
    WINDOW cum AS (PARTITION BY coin_id, wallet_address ORDER BY date
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    description="The flagship W8/W9 profitability kernel (reference "
    "core_coin_wallet_profits.py:527-634) on testdata: coin=part, "
    "wallet=customer, price=daily weighted avg unit price",
    tags=("window", "kernel", "flagship"),
)
def q22(spark: SparkSession, sf: str) -> DataFrame:
    return wallet_profits_kernel_from(
        with_balance(transfers(spark, sf)), daily_prices(spark, sf)
    )


# --------------------------------------------------------------------- q75
@register(
    "q75_wallet_profits_pipeline",
    f"""
    WITH prices0 AS ({DAILY_PRICES_SQL}),
    prices AS (
        SELECT coin_id, date, price FROM (
            SELECT *, MIN(date) OVER (PARTITION BY coin_id) AS _m FROM prices0
        ) WHERE date >= _m + INTERVAL 30 DAY
    ),
    xfers AS ({TRANSFERS_SQL}),
    xb AS (
        SELECT *, CAST(SUM(net_transfers) OVER (
            PARTITION BY coin_id, wallet_address ORDER BY date
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS balance
        FROM xfers
    ),
    fp AS (
        SELECT coin_id, MIN(date) AS first_price_date,
               arg_min(price, date) AS first_price
        FROM prices GROUP BY 1
    ),
    wf AS (
        SELECT x.coin_id, x.wallet_address, x.date, x.net_transfers,
               x.balance, p.price, f.first_price_date, f.first_price
        FROM xb x
        LEFT JOIN prices p ON p.coin_id = x.coin_id AND p.date = x.date
        LEFT JOIN fp f ON f.coin_id = x.coin_id
    ),
    pre AS (SELECT * FROM wf WHERE date < first_price_date),
    has_pre AS (SELECT DISTINCT coin_id, wallet_address FROM pre),
    active_first AS (
        SELECT DISTINCT coin_id, wallet_address FROM wf
        WHERE date = first_price_date
    ),
    needs AS (
        SELECT h.coin_id, h.wallet_address FROM has_pre h
        LEFT JOIN active_first a
          ON a.coin_id = h.coin_id AND a.wallet_address = h.wallet_address
        WHERE a.coin_id IS NULL
    ),
    pre_bal AS (
        SELECT coin_id, wallet_address, arg_max(balance, date) AS balance
        FROM pre GROUP BY 1, 2
    ),
    coin_first AS (
        SELECT DISTINCT coin_id, first_price_date, first_price FROM wf
    ),
    imputed AS (
        SELECT n.coin_id, n.wallet_address, c.first_price_date AS date,
               b.balance AS net_transfers, b.balance, c.first_price AS price
        FROM needs n
        JOIN pre_bal b
          ON b.coin_id = n.coin_id AND b.wallet_address = n.wallet_address
        JOIN coin_first c ON c.coin_id = n.coin_id
    ),
    kept AS (
        SELECT coin_id, wallet_address, date, net_transfers, balance, price
        FROM wf WHERE price IS NOT NULL
    ),
    combined AS (SELECT * FROM kept UNION ALL SELECT * FROM imputed),
    spliced AS (
        SELECT coin_id, wallet_address, date,
               CASE WHEN ROW_NUMBER() OVER (
                        PARTITION BY coin_id, wallet_address ORDER BY date) = 1
                    THEN balance ELSE net_transfers END AS net_transfers,
               balance, price
        FROM combined
    ),
    trimmed AS (
        SELECT coin_id, wallet_address, date, net_transfers, balance, price
        FROM (
            SELECT *, SUM(GREATEST(net_transfers, 0.0)) OVER (
                PARTITION BY coin_id, wallet_address ORDER BY date
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _ci
            FROM spliced
        ) WHERE _ci > 0
    ),
    kernel AS (
        SELECT coin_id, wallet_address, date, net_transfers, balance, price,
               COALESCE(LAG(price) OVER w, price) AS prev_price,
               COALESCE(LAG(balance) OVER w, 0.0) AS prev_balance
        FROM trimmed
        WINDOW w AS (PARTITION BY coin_id, wallet_address ORDER BY date)
    ),
    changes AS (
        SELECT coin_id, wallet_address, date,
               CAST((price - prev_price) * prev_balance AS DOUBLE) AS profits_change,
               CAST(balance * price AS DOUBLE) AS usd_balance,
               CAST(net_transfers * price AS DOUBLE) AS usd_net_transfers,
               CAST(CASE WHEN net_transfers * price > 0
                         THEN net_transfers * price ELSE 0.0 END AS DOUBLE) AS usd_inflows
        FROM kernel
    )
    SELECT coin_id, wallet_address, date, profits_change,
           CAST(SUM(CAST(FLOOR(profits_change * 1e6) AS BIGINT)) OVER cum AS DOUBLE) / 1e6
               AS profits_cumulative,
           usd_balance, usd_net_transfers, usd_inflows,
           CAST(SUM(CAST(FLOOR(usd_inflows * 1e6) AS BIGINT)) OVER cum AS DOUBLE) / 1e6
               AS usd_inflows_cumulative
    FROM changes
    WINDOW cum AS (PARTITION BY coin_id, wallet_address ORDER BY date
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    description="The FULL five-stage wallet-profits pipeline (reference "
    "core_coin_wallet_profits.py:235-634) as a driver-checked query: "
    "merge -> first-price -> pre-price imputation (D3) -> splice (D4) "
    "-> pre-inflow trim (D5) -> profitability kernel, via "
    "plans.wallet_profits.build_wallet_profits. Each coin's price "
    "series starts 30 days late so pre-price wallet activity REALLY "
    "exists — the imputation and splice branches process live rows, "
    "not an empty frame (the q69 vacuity lesson). Cumulative metrics "
    "quantize at 1e-6 via floor-scaled BIGINT sums (exact in any "
    "order, bit-identical across engines); every per-row metric is a "
    "single product of identically-derived doubles. All five stages "
    "cluster on (coin, wallet) or coin, so the pair shuffle is reused "
    "end-to-end",
    tags=("window", "kernel", "pipeline", "flagship"),
)
def q75(spark: SparkSession, sf: str) -> DataFrame:
    x = transfers(spark, sf)
    p = daily_prices(spark, sf)
    # delay each coin's price series 30 days -> real pre-price activity
    wmin = Window.partitionBy("coin_id")
    p = (
        p.withColumn("_m", F.min("date").over(wmin))
        .filter(F.col("date") >= F.date_add("_m", 30))
        .drop("_m")
    )
    return build_wallet_profits(with_balance(x), p)


# --------------------------------------------------------------------- q23
@register(
    "q23_whale_bucket_counts",
    """
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS date,
               SUM(CAST(value AS DECIMAL(18,2))) AS net
        FROM events GROUP BY 1, 2
    ),
    balances AS (
        SELECT user_id, date,
               CAST(SUM(net) OVER (PARTITION BY user_id ORDER BY date
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS balance
        FROM daily
    ),
    bounds AS (SELECT user_id, MIN(date) AS min_d FROM balances GROUP BY user_id),
    gmax AS (SELECT MAX(date) AS max_d FROM balances),
    scaffold AS (
        SELECT b.user_id, CAST(UNNEST(generate_series(b.min_d, g.max_d, INTERVAL 1 DAY)) AS DATE) AS date
        FROM bounds b CROSS JOIN gmax g
    ),
    filled AS (
        SELECT s.user_id, s.date,
               LAST_VALUE(bal.balance IGNORE NULLS)
                   OVER (PARTITION BY s.user_id ORDER BY s.date
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS balance
        FROM scaffold s
        LEFT JOIN balances bal ON bal.user_id = s.user_id AND bal.date = s.date
    )
    SELECT date,
           COUNT(CASE WHEN balance < 100 THEN 1 END) AS small,
           COUNT(CASE WHEN balance >= 100 AND balance < 500 THEN 1 END) AS medium,
           COUNT(CASE WHEN balance >= 500 THEN 1 END) AS whale
    FROM filled
    GROUP BY date
    """,
    description="A10/D6 whale-count query: cumsum -> densify -> ffill -> "
    "bucket -> per-date counts, no wide pivot "
    "(reference dreambot_whale_chart.py:370-434)",
    tags=("densify", "window", "serving"),
)
def q23(spark: SparkSession, sf: str) -> DataFrame:
    # Delta-events form of the dense cumsum -> densify -> ffill ->
    # bucket-count chain (round 11): between event days a user's
    # ffilled balance — hence bucket — is constant, so the per-date
    # census only moves when a user's bucket changes. Emit +1/-1
    # bucket deltas at change days (O(events) rows, computed inside
    # the same user-partitioned window pass as the cumsum), aggregate
    # per date, and run one cumulative sum over the calendar scaffold
    # (output-sized: one row per day, so the single-partition window
    # is over the query's own result). The users x days dense matrix
    # — its scaffold join and its forward-fill window exchange — is
    # gone; value-identical because a user enters the census at their
    # first event day and holds their last bucket through the global
    # max day, exactly what scaffold+ffill materialized.
    ev = t(spark, sf, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("date")).agg(
        F.sum(F.col("value").cast("decimal(18,2)")).alias("net")
    )
    cum = cumulative_window(["user_id"], ["date"])
    balances = daily.withColumn(
        "balance", F.sum("net").over(cum).cast("double")
    ).drop("net")
    # bucket is null while the running balance is null (all-null nets
    # so far) — those rows count in NO bucket, matching the dense
    # plan's count(CASE ...) null semantics
    bucket = (
        F.when(F.col("balance") < 100, F.lit(0))
        .when(F.col("balance") < 500, F.lit(1))
        .when(F.col("balance") >= 500, F.lit(2))
    )
    w = ordered_window(["user_id"], ["date"])
    marked = balances.withColumn("_b", bucket).withColumn(
        "_pb", F.lag("_b", 1).over(w)
    )

    def _delta(idx: int) -> F.Column:
        now = F.when(F.col("_b") == idx, F.lit(1)).otherwise(F.lit(0))
        before = F.when(F.col("_pb") == idx, F.lit(1)).otherwise(F.lit(0))
        return (now - before).cast("long")

    deltas = (
        marked.filter(~F.col("_b").eqNullSafe(F.col("_pb")))
        .groupBy("date")
        .agg(
            F.sum(_delta(0)).alias("_ds"),
            F.sum(_delta(1)).alias("_dm"),
            F.sum(_delta(2)).alias("_dw"),
        )
    )
    # calendar scaffold bounds: its min/max dates equal the daily
    # aggregate's by construction. Round 12 (verdict item 3): read
    # them from the parquet footer statistics driver-side instead of
    # a second full events scan just for min/max(ts) — one whole job
    # removed; the aggregation stays as the fallback for inputs
    # without exact footer stats.
    bounds = footer_stats(sf, "events", ts_col="ts").ts_dates
    if bounds is not None:
        dates = spark.range(1).select(
            F.explode(
                F.sequence(
                    F.lit(bounds[0]), F.lit(bounds[1]), F.expr("interval 1 day")
                )
            ).alias("date")
        )
    else:
        dates = (
            ev.agg(
                F.min(F.to_date("ts")).alias("_lo"),
                F.max(F.to_date("ts")).alias("_hi"),
            )
            .select(
                F.explode(
                    F.sequence(F.col("_lo"), F.col("_hi"), F.expr("interval 1 day"))
                ).alias("date")
            )
        )
    run = Window.orderBy("date").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        dates.join(deltas, "date", "left")
        .select(
            "date",
            F.coalesce(F.col("_ds"), F.lit(0)).alias("_ds"),
            F.coalesce(F.col("_dm"), F.lit(0)).alias("_dm"),
            F.coalesce(F.col("_dw"), F.lit(0)).alias("_dw"),
        )
        .select(
            "date",
            # coalesce keeps the non-nullable long schema count() had
            # (the sum is never null: every frame holds >= 1 row)
            F.coalesce(F.sum("_ds").over(run), F.lit(0).cast("long")).alias("small"),
            F.coalesce(F.sum("_dm").over(run), F.lit(0).cast("long")).alias("medium"),
            F.coalesce(F.sum("_dw").over(run), F.lit(0).cast("long")).alias("whale"),
        )
    )


# --------------------------------------------------------------------- q24
@register(
    "q24_rank_within_group",
    """
    SELECT s_nationkey, s_suppkey, s_name,
           CAST(RANK() OVER (PARTITION BY s_nationkey
                             ORDER BY s_acctbal DESC) AS BIGINT) AS bal_rank
    FROM supplier
    """,
    description="A11/W5 rank within group (reference tvl rank "
    "defillama_protocols.py:44)",
    tags=("window",),
)
def q24(spark: SparkSession, sf: str) -> DataFrame:
    s = t(spark, sf, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(F.col("s_acctbal").desc())
    return s.select(
        "s_nationkey", "s_suppkey", "s_name", F.rank().over(w).cast("long").alias("bal_rank")
    )


# --------------------------------------------------------------------- q25
@register(
    "q25_global_running_total",
    """
    SELECT o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (ORDER BY o_totalprice, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS running_total
    FROM orders
    QUALIFY running_total <= 1000000
    """,
    description="W3 global-order running total + band filter (reference "
    "batch sizing retrieve_dune_transfer_data.py:194,241). Distributed "
    "two-pass prefix sum (range partition -> local cumsum -> broadcast "
    "partition offsets) — exact because the DECIMAL sum is "
    "order-independent; no single-partition window at any input size",
    tags=("window",),
)
def q25(spark: SparkSession, sf: str) -> DataFrame:
    from etl_pipelines_spark.operators.windows import global_running_sum

    o = t(spark, sf, "orders")
    return (
        global_running_sum(
            o.select("o_orderkey", "o_totalprice"),
            order=["o_totalprice", "o_orderkey"],
            value=F.col("o_totalprice").cast("decimal(18,2)"),
        )
        .select(
            "o_orderkey",
            F.col("running_total").cast("double").alias("running_total"),
        )
        .filter(F.col("running_total") <= 1000000)
    )


# --------------------------------------------------------------------- q26
@register(
    "q26_date_functions",
    """
    SELECT CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS order_month,
           COUNT(*) AS n_orders,
           CAST(MIN(o_orderdate) AS DATE) AS first_order,
           CAST(MAX(o_orderdate) AS DATE) AS last_order,
           DATEDIFF('day', CAST(MIN(o_orderdate) AS DATE), CAST(MAX(o_orderdate) AS DATE)) AS span_days
    FROM orders
    GROUP BY 1
    """,
    description="F2 date/time functions: date_trunc, datediff "
    "(reference retrieve_dune_transfer_data.py:418-446, dbt "
    "test_cCoinMarketData_no_date_gaps.sql:12-16)",
    tags=("scalar", "agg"),
)
def q26(spark: SparkSession, sf: str) -> DataFrame:
    o = t(spark, sf, "orders")
    return (
        o.groupBy(F.date_trunc("month", "o_orderdate").cast("date").alias("order_month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min(F.to_date("o_orderdate")).alias("first_order"),
            F.max(F.to_date("o_orderdate")).alias("last_order"),
            F.datediff(
                F.max(F.to_date("o_orderdate")), F.min(F.to_date("o_orderdate"))
            ).alias("span_days"),
        )
    )


# --------------------------------------------------------------------- q27
@register(
    "q27_sessionization",
    """
    WITH ordered AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us,
               LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                   PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
               ) AS prev_us
        FROM events
    ),
    flagged AS (
        SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                       THEN 1 ELSE 0 END AS is_new
        FROM ordered
    ),
    sessions AS (
        SELECT *, SUM(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_no
        FROM flagged
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS total_value
    FROM sessions
    GROUP BY user_id, session_no
    """,
    description="Sessionization: gaps-and-islands with a 30-min "
    "inactivity gap (lag + running-sum session ids), per-session stats. "
    "Batch twin of F.session_window",
    tags=("streaming", "window"),
)
def q27(spark: SparkSession, sf: str) -> DataFrame:
    ev = t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # events.ts is TIMESTAMP_NTZ in parquet; unix_micros requires TIMESTAMP.
    # Only gap *differences* feed the session rule, so the tz attach is neutral.
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    flagged = ev.withColumn(
        "is_new",
        F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), F.lit(1)).otherwise(F.lit(0)),
    )
    sessions = flagged.withColumn(
        "session_no",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )
    return sessions.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.sum(F.col("value").cast("decimal(38,4)")).cast("double").alias("total_value"),
    )


# --------------------------------------------------------------------- q28
@register(
    "q28_incremental_hwm",
    """
    WITH hwm AS (
        SELECT user_id, MAX(CAST(ts AS TIMESTAMP)) AS hwm
        FROM events
        WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-20 00:00:00'
        GROUP BY user_id
    )
    SELECT e.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_new,
           MIN(CAST(e.ts AS TIMESTAMP)) AS first_new,
           MAX(CAST(e.ts AS TIMESTAMP)) AS last_new
    FROM events e
    LEFT JOIN hwm h ON h.user_id = e.user_id
    WHERE h.hwm IS NULL OR CAST(e.ts AS TIMESTAMP) > h.hwm
    GROUP BY e.user_id
    """,
    description="Incremental high-water-mark pull (I1): per-key "
    "max(ts) freshness state, broadcast against the incoming scan so "
    "only the small state table shuffles",
    tags=("streaming", "incremental"),
)
def q28(spark: SparkSession, sf: str) -> DataFrame:
    from etl_pipelines_spark.streaming.incremental import (
        high_water_marks,
        newer_than_hwm,
    )

    ev = t(spark, sf, "events")
    existing = ev.filter(F.col("ts") < F.lit("2024-01-20 00:00:00").cast("timestamp"))
    hwm = high_water_marks(existing, ["user_id"], "ts")
    fresh = newer_than_hwm(ev, hwm, ["user_id"], "ts")
    return fresh.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_new"),
        F.min("ts").alias("first_new"),
        F.max("ts").alias("last_new"),
    )


# --------------------------------------------------------------------- q42
_STREAM_SEQ = [0]


import contextlib


@contextlib.contextmanager
def _stream_state_partitions(spark: SparkSession, n: str | None = None):
    """Scope spark.sql.shuffle.partitions around a streaming query
    start. Stateful streaming pins its state-store count to this conf
    at FIRST start (it rides the checkpoint thereafter), and every
    store pays per-micro-batch maintenance — at this corpus size 32
    stores are pure overhead (measured 7s -> 2.8s on q68 at 8; the
    round-11 interleaved A/B read mins q68 9.1/5.1/3.1 s and q42
    2.1/1.9/1.5 s at 8/4/2 stores, so the local default drops to 4 —
    2 saves little more and starves the join of parallelism the
    moment state grows). Parameterized via
    SPARK_GRAFT_STREAM_STATE_PARTITIONS: on a real cluster size it to
    key cardinality x executors BEFORE the first run; it cannot be
    changed later without a new checkpoint."""
    import os

    n = n or os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "4")
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


@register(
    "q42_streaming_daily_rollup",
    """
    SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS date, user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    description="Structured Streaming watermarked tumbling daily rollup "
    "(I4) run with an availableNow trigger and verified against the "
    "batch SQL oracle - stream and batch answers are bit-identical "
    "because the aggregation is decimal-exact",
    tags=("streaming",),
)
def q42(spark: SparkSession, sf: str) -> DataFrame:
    import os
    import tempfile

    from etl_pipelines_spark.streaming.jobs import daily_event_rollup

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf, "events.parquet")
    # the file stream source requires a directory; stage a symlink
    stage = tempfile.mkdtemp(prefix="q42_stream_")
    # abspath: the link resolves from the STAGE dir, so a relative
    # sf_dir (a legal harness input) would dangle -> a silently EMPTY
    # file stream (zero rows, no error) — exactly what an sf1 parity
    # run caught
    os.symlink(os.path.abspath(path), os.path.join(stage, "events.parquet"))
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(stage)
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # withWatermark requires TIMESTAMP; session tz is UTC so the
        # attach is value-identical to the NTZ wall-clock.
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    _STREAM_SEQ[0] += 1
    name = f"q42_rollup_{_STREAM_SEQ[0]}"
    with _stream_state_partitions(spark):
        q = (
            daily_event_rollup(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    return spark.table(name)


# --------------------------------------------------------------------- q43
@register(
    "q43_asof_price_join",
    f"""
    WITH daily AS ({DAILY_PRICES_SQL}),
    quotes AS (SELECT * FROM daily WHERE day(date) % 3 = 0),
    probes AS (SELECT DISTINCT coin_id, date FROM daily WHERE coin_id < 30)
    SELECT p.coin_id, p.date, q.price AS asof_price
    FROM probes p ASOF LEFT JOIN quotes q
      ON p.coin_id = q.coin_id AND p.date >= q.date
    """,
    description="As-of backward join (J13): most recent quote on or "
    "before each probe date, via union + tagged forward-fill window - "
    "one shuffle, no densified scaffold, no range-join blowup. Oracle "
    "is DuckDB's native ASOF JOIN",
    tags=("join", "timeseries"),
)
def q43(spark: SparkSession, sf: str) -> DataFrame:
    from etl_pipelines_spark.operators.asof import asof_join_backward

    daily = daily_prices(spark, sf)
    quotes = daily.filter(F.dayofmonth("date") % 3 == 0)
    probes = daily.filter(F.col("coin_id") < 30).select("coin_id", "date").distinct()
    out = asof_join_backward(
        probes, quotes.select("coin_id", "date", "price"), ["coin_id"], "date", ["price"]
    )
    return out.select("coin_id", "date", F.col("price").alias("asof_price"))


# --------------------------------------------------------------------- q78
@register(
    "q78_asof_tolerance",
    f"""
    WITH daily AS ({DAILY_PRICES_SQL}),
    quotes AS (SELECT * FROM daily WHERE day(date) % 3 = 0),
    probes AS (SELECT DISTINCT coin_id, date FROM daily WHERE coin_id < 30)
    SELECT p.coin_id, p.date,
           CASE WHEN date_diff('day', q.date, p.date) <= 4 THEN q.price END
               AS asof_price
    FROM probes p ASOF LEFT JOIN quotes q
      ON p.coin_id = q.coin_id AND p.date >= q.date
    """,
    description="As-of backward join with a staleness tolerance "
    "(operators/asof.py tolerance guard, beyond the reference's J13): "
    "quotes older than 4 days null out — the guard that stops a "
    "week-old price valuing today's balance. Same one-shuffle "
    "union-and-fill plan; the tolerance check is a map-side filter on "
    "the forward-filled quote timestamp",
    tags=("join", "timeseries"),
)
def q78(spark: SparkSession, sf: str) -> DataFrame:
    from etl_pipelines_spark.operators.asof import asof_join_backward

    daily = daily_prices(spark, sf)
    epoch = F.lit("1970-01-01").cast("date")
    quotes = (
        daily.filter(F.dayofmonth("date") % 3 == 0)
        .select("coin_id", F.datediff("date", epoch).alias("d"), "price")
    )
    probes = (
        daily.filter(F.col("coin_id") < 30)
        .select("coin_id", "date", F.datediff("date", epoch).alias("d"))
        .distinct()
    )
    out = asof_join_backward(probes, quotes, ["coin_id"], "d", ["price"], tolerance=4)
    return out.select("coin_id", "date", F.col("price").alias("asof_price"))


# --------------------------------------------------------------------- q79
_OHLC_BUCKET_US = 6 * 3600 * 1_000_000  # 6-hour buckets


@register(
    "q79_ohlc_resample",
    f"""
    WITH ticks AS (
        -- micro-price ticks: the 1e-6 fixed-point convention keeps
        -- every price an exact integer-valued double in both engines
        SELECT event_type, CAST(ts AS TIMESTAMP) AS ts,
               CAST(SUM(CAST(FLOOR(value * 1e6) AS BIGINT)) AS DOUBLE) AS price,
               CAST(COUNT(*) AS BIGINT) AS vol
        FROM events GROUP BY 1, 2
    ),
    b AS (SELECT *, epoch_us(ts) AS us FROM ticks)
    SELECT event_type,
           make_timestamp(us - us % {_OHLC_BUCKET_US}) AS bucket_start,
           arg_min(price, ts) AS open,
           MAX(price) AS high,
           MIN(price) AS low,
           arg_max(price, ts) AS close,
           CAST(COUNT(*) AS BIGINT) AS n_trades,
           CAST(SUM(vol) AS DOUBLE) AS volume,
           CAST(CAST(SUM(CAST(price AS BIGINT) * vol) AS DOUBLE)
                / CAST(SUM(vol) AS DOUBLE) AS DOUBLE) AS vwap
    FROM b GROUP BY 1, 2
    """,
    description="OHLC/VWAP resampling (operators/resample.py): the "
    "canonical tick->bar pre-aggregation, one groupBy per grain with "
    "open/close as min_by/max_by on the timestamp (no window, no "
    "sort), 6-hour epoch-aligned buckets. Ticks pre-aggregate to "
    "unique (key, ts) so open/close ties cannot exist, and prices ride "
    "the 1e-6 fixed-point convention so every sum is exact in any "
    "order and VWAP is one division of exact integers",
    tags=("agg", "timeseries"),
)
def q79(spark: SparkSession, sf: str) -> DataFrame:
    from etl_pipelines_spark.operators.resample import resample_ohlc

    ev = t(spark, sf, "events")
    ticks = (
        ev.groupBy("event_type", F.col("ts").cast("timestamp").alias("ts"))
        .agg(
            F.sum(F.floor(F.col("value") * F.lit(1e6)).cast("long"))
            .cast("double")
            .alias("price"),
            F.count(F.lit(1)).alias("vol"),
        )
    )
    return resample_ohlc(
        ticks, ["event_type"], "ts", "price", volume_col="vol", grain="6 hours"
    )


# --------------------------------------------------------------------- q80
def _hll_oracle() -> str:
    from etl_pipelines_spark.operators.sketches import (
        HLL_C,
        HLL_M,
        HLL_POW,
        HLL_REG_SQL,
        HLL_RHO_SQL,
    )

    return f"""
    WITH x AS ({TRANSFERS_SQL}),
    hashed AS (
        SELECT coin_id, MD5(CAST(wallet_address AS VARCHAR)) AS _h FROM x
    ),
    rr AS (SELECT coin_id, {HLL_REG_SQL} AS reg, {HLL_RHO_SQL} AS rho FROM hashed),
    regs AS (SELECT coin_id, reg, MAX(rho) AS rho FROM rr GROUP BY 1, 2),
    agg AS (
        SELECT coin_id, CAST(COUNT(*) AS BIGINT) AS n_present,
               SUM(CAST(POW(2.0, 49 - rho) AS BIGINT)) AS _s
        FROM regs GROUP BY 1
    )
    SELECT coin_id, n_present,
           CAST({HLL_C!r} / CAST(_s + ({HLL_M} - n_present) * {HLL_POW}
                AS DOUBLE) AS DOUBLE) AS hll_estimate
    FROM agg
    """


@register(
    "q80_portable_hll_rollup",
    _hll_oracle(),
    description="Mergeable HLL distinct-wallet rollup, CROSS-ENGINE "
    "EXACT (operators/sketches.py portable HLL): per-coin register "
    "tables built at month grain, max-merged to coin grain, then the "
    "harmonic estimate — the stored-rollup pattern that answers "
    "distinct-count questions from kilobytes of sketch rows instead "
    "of a raw re-scan. The oracle recomputes registers straight from "
    "the raw stream; equality holds because register max is "
    "associative and the estimate is one division of exact integers",
    tags=("agg", "sketch"),
)
def q80(spark: SparkSession, sf: str) -> DataFrame:
    from etl_pipelines_spark.operators.sketches import (
        merge_hll_registers,
        portable_hll_estimate,
        portable_hll_registers,
    )

    x = transfers(spark, sf)
    fine = portable_hll_registers(
        x.withColumn("_m", F.month("date")), ["coin_id", "_m"], "wallet_address"
    )
    coarse = merge_hll_registers(fine, ["coin_id"])
    return portable_hll_estimate(coarse, ["coin_id"])


# --------------------------------------------------------------------- q95
def _quantile_sketch_oracle() -> str:
    from etl_pipelines_spark.operators.sketches import QS_K, kmv_hash_sql

    ident = (
        "concat_ws('|', CAST(coin_id AS VARCHAR), "
        "CAST(wallet_address AS VARCHAR), CAST(date AS VARCHAR))"
    )
    qs = (0.25, 0.5, 0.9)
    picks = ",\n               ".join(
        f"MAX(CASE WHEN vr = CAST(FLOOR({q} * (n - 1)) AS INT) + 1 "
        f"THEN value END) AS _q{i}"
        for i, q in enumerate(qs)
    )
    unions = "\n    UNION ALL ".join(
        f"SELECT coin_id, '{q:.2f}' AS q, n_sample, "
        f"CAST(_q{i} AS DOUBLE) AS quantile_value FROM picks"
        for i, q in enumerate(qs)
    )
    return f"""
    WITH x AS ({TRANSFERS_SQL}),
    hashed AS (
        SELECT coin_id, month(date) AS m, {kmv_hash_sql(ident)} AS _h,
               CAST(net_transfers AS DOUBLE) AS value
        FROM x
    ),
    fine AS (
        SELECT coin_id, m, _h, value FROM hashed
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY coin_id, m ORDER BY _h, value) <= {QS_K}
    ),
    merged AS (
        SELECT coin_id, _h, value FROM fine
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY coin_id ORDER BY _h, value) <= {QS_K}
    ),
    ranked AS (
        SELECT coin_id, value, _h,
               ROW_NUMBER() OVER (PARTITION BY coin_id
                   ORDER BY value, _h) AS vr,
               COUNT(*) OVER (PARTITION BY coin_id) AS n
        FROM merged
    ),
    picks AS (
        SELECT coin_id, CAST(MAX(n) AS BIGINT) AS n_sample,
               {picks}
        FROM ranked GROUP BY coin_id
    )
    {unions}
    """


@register(
    "q95_quantile_sketch_rollup",
    _quantile_sketch_oracle(),
    description="Mergeable quantile sketch, CROSS-ENGINE EXACT "
    "(operators/sketches.py bottom-k uniform row sample, Cohen & "
    "Kaplan): per-(coin, month) bottom-32 sample tables of daily net "
    "transfers re-ranked to coin grain, then percentile_disc-style "
    "p25/p50/p90 off the merged sample — the fourth mergeable-state "
    "flavor (top-k selection) next to HLL max, Bloom OR, count-min "
    "sum. Merge is closed (a row in the global bottom-k is in its "
    "slice's bottom-k), so stored per-grain samples answer quantile "
    "questions at any coarser grain without raw re-scans; the oracle "
    "recomputes the identical pipeline from the raw stream",
    tags=("agg", "sketch"),
)
def q95(spark: SparkSession, sf: str) -> DataFrame:
    from etl_pipelines_spark.operators.sketches import (
        quantile_sketch_build,
        quantile_sketch_estimate,
        quantile_sketch_merge,
    )

    x = transfers(spark, sf)
    fine = quantile_sketch_build(
        x.withColumn("_m", F.month("date")),
        ["coin_id", "_m"],
        "net_transfers",
        ["coin_id", "wallet_address", "date"],
    )
    merged = quantile_sketch_merge(fine, ["coin_id"])
    return quantile_sketch_estimate(merged, ["coin_id"], qs=(0.25, 0.5, 0.9))


# --------------------------------------------------------------------- q45
@register(
    "q45_trailing_window_frames",
    f"""
    WITH daily AS ({DAILY_PRICES_SQL})
    SELECT coin_id, date,
           CAST(CAST(SUM(CAST(FLOOR(price * 1000000.0) AS BIGINT)) OVER w7
                AS DOUBLE) / 1000000.0
                / COUNT(*) OVER w7 AS DOUBLE) AS avg_price_7d,
           CAST(COUNT(*) OVER w7 AS BIGINT) AS n_obs_7d
    FROM daily
    WINDOW w7 AS (
        PARTITION BY coin_id ORDER BY date
        RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)
    """,
    description="W13 extension: explicit RANGE frame - trailing 7-day "
    "average price per coin (event-time range frame, not row frame, so "
    "gaps in the series shrink the window correctly)",
    tags=("window",),
)
def q45(spark: SparkSession, sf: str) -> DataFrame:
    daily = daily_prices(spark, sf)
    # Spark rangeBetween needs a numeric ordering column: days since epoch
    days = F.datediff(F.col("date"), F.lit("1970-01-01").cast("date"))
    w = (
        Window.partitionBy("coin_id")
        .orderBy(days)
        .rangeBetween(-6, 0)
    )
    scaled = F.floor(F.col("price") * F.lit(1e6)).cast("long")
    return daily.select(
        "coin_id",
        "date",
        ((F.sum(scaled).over(w).cast("double") / F.lit(1e6)) / F.count(F.lit(1)).over(w))
        .cast("double")
        .alias("avg_price_7d"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_obs_7d"),
    )


# --------------------------------------------------------------------- q48
@register(
    "q48_range_bucket_join",
    f"""
    WITH daily AS ({DAILY_PRICES_SQL}),
    points AS (SELECT DISTINCT coin_id, date FROM daily WHERE coin_id < 40),
    intervals AS (
        SELECT l_partkey AS coin_id, CAST(l_shipdate AS DATE) AS lo,
               CAST(l_shipdate AS DATE)
                   + ((l_linenumber % 7) + 1) * INTERVAL 1 DAY AS hi
        FROM lineitem WHERE l_partkey < 40
    )
    SELECT p.coin_id, p.date, CAST(COUNT(*) AS BIGINT) AS n_in_flight
    FROM points p
    JOIN intervals i ON i.coin_id = p.coin_id AND p.date BETWEEN i.lo AND i.hi
    GROUP BY p.coin_id, p.date
    """,
    description="Range join (point-in-interval) via interval "
    "bucketization: explode bounded [ship, ship+k] windows into day "
    "buckets -> plain equi join, no broadcast-nested-loop. Counts "
    "in-flight shipments per (part, day)",
    tags=("join", "timeseries"),
)
def q48(spark: SparkSession, sf: str) -> DataFrame:
    from etl_pipelines_spark.operators.range_join import point_in_interval_join

    li = t(spark, sf, "lineitem").filter(F.col("l_partkey") < 40)
    intervals = li.select(
        F.col("l_partkey").alias("coin_id"),
        F.to_date("l_shipdate").alias("lo"),
        F.date_add(F.to_date("l_shipdate"), (F.col("l_linenumber") % 7) + 1).alias("hi"),
    )
    # COUNT-WEIGHTED interval dedupe before the bucket explode: the
    # count distributes over identical (coin, lo, hi) triples, so the
    # explode + join see only DISTINCT intervals and the final agg
    # sums weights. Algebraically exact, and the lever that keeps a
    # hot key sane: a Zipf coin carrying a third of the corpus has
    # ~2.9M interval rows but only ~17k distinct (lo, hi) windows —
    # without the pre-agg the explode pays the duplication x bucket
    # factor (measured 12.4 s -> ~1 s at skewed-sf1, plans unchanged
    # on uniform corpora where intervals are near-distinct).
    distinct_iv = intervals.groupBy("coin_id", "lo", "hi").agg(
        F.count(F.lit(1)).alias("_w")
    )
    points = (
        daily_prices(spark, sf).filter(F.col("coin_id") < 40).select("coin_id", "date").distinct()
    )
    joined = point_in_interval_join(points, distinct_iv, ["coin_id"], "date", "lo", "hi")
    return joined.groupBy("coin_id", "date").agg(
        F.sum("_w").cast("long").alias("n_in_flight")
    )


# --------------------------------------------------------------------- q51
from etl_pipelines_spark.operators.sketches import kmv_distinct, kmv_hash_sql  # noqa: E402

_KMV_K = 16

@register(
    "q51_kmv_distinct_sketch",
    f"""
    WITH x AS ({TRANSFERS_SQL}),
    hashed AS (
        SELECT DISTINCT coin_id,
               {kmv_hash_sql("CAST(wallet_address AS VARCHAR)")} AS h
        FROM x
    ),
    ranked AS (
        SELECT coin_id, h,
               ROW_NUMBER() OVER (PARTITION BY coin_id ORDER BY h) AS rn
        FROM hashed
    ),
    sketch AS (
        SELECT coin_id, CAST(COUNT(*) AS BIGINT) AS n_min, MAX(h) AS hk
        FROM ranked WHERE rn <= {_KMV_K} GROUP BY coin_id
    )
    SELECT coin_id, n_min,
           CAST(CASE WHEN n_min < {_KMV_K} THEN CAST(n_min AS DOUBLE)
                ELSE {float(_KMV_K - 1)} / (CAST(hk AS DOUBLE) / 281474976710656.0)
           END AS DOUBLE) AS kmv_estimate
    FROM sketch
    """,
    description="A13 approximate aggregates: K-minimum-values distinct "
    "wallets per coin. Deliberately engine-portable (md5-based, exact "
    "division) so the estimate itself is oracle-diffable — the "
    "production path at 100 TB is the built-in HLL++ "
    "approx_count_distinct (see operators/sketches.py)",
    tags=("agg", "sketch"),
)
def q51(spark: SparkSession, sf: str) -> DataFrame:
    # salt_groups=32 (2k): bound the hot coin's bottom-k buffer via the
    # two-level cascade (value-identical, see kmv_distinct)
    return kmv_distinct(
        transfers(spark, sf), ["coin_id"], "wallet_address", k=_KMV_K, salt_groups=32
    )


# --------------------------------------------------------------------- q61
_HOP_SLIDE_US = 12 * 3600 * 1_000_000  # 12h slide, 24h window -> 2 windows/event


@register(
    "q61_hopping_windows",
    f"""
    WITH ev AS (
        SELECT user_id, CAST(value AS DECIMAL(38,4)) AS value,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us,
               UNNEST([0, 1]) AS i
        FROM events
    )
    SELECT make_timestamp(us - us % {_HOP_SLIDE_US} - i * {_HOP_SLIDE_US})
               AS window_start,
           make_timestamp(us - us % {_HOP_SLIDE_US} - i * {_HOP_SLIDE_US}
               + {2 * _HOP_SLIDE_US}) AS window_end,
           user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(value) AS DOUBLE) AS total_value
    FROM ev
    GROUP BY 1, 2, 3
    """,
    description="Hopping event-time windows (24h window, 12h slide — "
    "every event lands in exactly 2 windows): F.window's generate + "
    "one (window, user) aggregation, epoch-aligned exactly as Spark "
    "aligns (floor to slide multiples since 1970 UTC), mirrored in "
    "the oracle. The identical expression runs under readStream + "
    "withWatermark for the streaming path (I6)",
    tags=("window", "streaming"),
)
def q61(spark: SparkSession, sf: str) -> DataFrame:
    ev = t(spark, sf, "events")
    win = F.window("ts", "1 day", "12 hours")
    return (
        ev.groupBy(win.alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,4)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


# --------------------------------------------------------------------- q68
@register(
    "q68_stream_stream_attribution",
    """
    SELECT a.user_id,
           a.event_id AS click_id,
           b.event_id AS purchase_id,
           CAST(a.ts AS TIMESTAMP) AS click_ts,
           CAST(b.ts AS TIMESTAMP) AS purchase_ts,
           (epoch_us(CAST(b.ts AS TIMESTAMP))
            - epoch_us(CAST(a.ts AS TIMESTAMP))) // 1000000
               AS secs_to_purchase
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'purchase'
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 24 HOUR
    """,
    description="Stream-stream interval join (conversion attribution): "
    "clicks joined to same-user purchases within 24h, executed as an "
    "actual Structured Streaming join (two watermarked file streams, "
    "availableNow trigger) and gated against the batch SQL oracle — "
    "stream == batch exactly for inner interval joins. The time-bound "
    "condition is what lets Spark expire buffered state (a click "
    "leaves the store once the purchase watermark passes click_ts + "
    "24h), so state is horizon-bounded at any scale; the type "
    "predicates prune each side before the join buffers anything",
    tags=("streaming", "join"),
)
def q68(spark: SparkSession, sf: str) -> DataFrame:
    import os
    import tempfile

    from etl_pipelines_spark.streaming.jobs import attribution_interval_join

    path = os.path.join(sf, "events.parquet")
    stage = tempfile.mkdtemp(prefix="q68_stream_")
    # abspath: the link resolves from the STAGE dir, so a relative
    # sf_dir (a legal harness input) would dangle -> a silently EMPTY
    # file stream (zero rows, no error) — exactly what an sf1 parity
    # run caught
    os.symlink(os.path.abspath(path), os.path.join(stage, "events.parquet"))
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(stage)
    clicks = stream.filter(F.col("event_type") == "click")
    purchases = stream.filter(F.col("event_type") == "purchase")
    joined = attribution_interval_join(clicks, purchases)
    _STREAM_SEQ[0] += 1
    name = f"q68_attr_{_STREAM_SEQ[0]}"
    with _stream_state_partitions(spark):
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    return spark.table(name)


# --------------------------------------------------------------------- q72
@register(
    "q72_quality_audit",
    f"""
    WITH xfers AS ({TRANSFERS_SQL}),
    bal AS (
        SELECT coin_id, wallet_address, date,
               CAST(SUM(net_transfers) OVER (
                   PARTITION BY coin_id, wallet_address ORDER BY date
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS DOUBLE) AS balance
        FROM xfers
    ),
    gaps AS (
        SELECT coin_id, wallet_address
        FROM bal GROUP BY 1, 2
        HAVING COUNT(DISTINCT date)
               <> date_diff('day', MIN(date), MAX(date)) + 1
    )
    SELECT 'negative_balance(tol=0.1)' AS rule,
           CAST((SELECT COUNT(*) FROM bal WHERE balance < -0.1) AS BIGINT)
               AS n_violations
    UNION ALL
    SELECT 'no_date_gaps', CAST((SELECT COUNT(*) FROM gaps) AS BIGINT)
    UNION ALL
    SELECT 'unique(coin, wallet, date)',
           CAST((SELECT COUNT(*) FROM (
               SELECT coin_id, wallet_address, date FROM bal
               GROUP BY 1, 2, 3 HAVING COUNT(*) > 1)) AS BIGINT)
    UNION ALL
    SELECT 'not_null(keys)',
           CAST((SELECT COUNT(*) FROM bal
                 WHERE coin_id IS NULL OR wallet_address IS NULL
                    OR date IS NULL) AS BIGINT)
    """,
    description="The dbt-style data-quality audit materialized as a "
    "query: per-rule violation counts over the running-balance table — "
    "negative balances beyond the Q1 tolerance and per-pair date gaps "
    "are REAL violations in this corpus; uniqueness and not-null pass "
    "by construction. All four rules collapse into ONE aggregation "
    "cascade (quality.fused_balance_audit): a triple-level partial and "
    "a pair-level rollup, both partition-local on the window's own "
    "hash partitioning, then a single global 1-row aggregate — one "
    "scan, two real exchanges end-to-end, no persist",
    tags=("quality", "agg"),
)
def q72(spark: SparkSession, sf: str) -> DataFrame:
    from etl_pipelines_spark.quality import fused_balance_audit

    pair = ["coin_id", "wallet_address"]
    # q72 never joins back on coin alone, so unlike the q22/q75 family
    # it owes nothing to coin-grain clustering — shuffle once on the
    # (coin, wallet) PAIR instead. Under a Zipf corpus a coin-keyed
    # exchange puts the hot coin's third-of-the-corpus in ONE task
    # while 31 cores idle through the agg + window; pair-keying caps a
    # task at the hottest (coin, wallet) cell (~5% here), the same
    # work in 1/6 the wall (measured at skewed-sf1: 7.6 s -> ~2 s;
    # uniform corpora see the identical plan shape, one exchange).
    base = transfers_base_from(
        t(spark, sf, "lineitem"), t(spark, sf, "orders"), shuffle_on=None
    ).repartition(*pair)
    x = base.groupBy(*pair, "date").agg(
        F.sum("_sq").cast("double").alias("net_transfers")
    )
    bal = x.select(
        *pair,
        "date",
        F.sum("net_transfers")
        .over(cumulative_window(pair, ["date"]))
        .cast("double")
        .alias("balance"),
    )
    return fused_balance_audit(
        bal,
        pair,
        tolerance=0.1,
        labels=(
            "negative_balance(tol=0.1)",
            "no_date_gaps",
            "unique(coin, wallet, date)",
            "not_null(keys)",
        ),
    )


# --------------------------------------------------------------------- q71
@register(
    "q71_event_funnel",
    """
    WITH v AS (
        SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS view_ts
        FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    c AS (
        SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS click_ts
        FROM events e JOIN v ON v.user_id = e.user_id
        WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) >= v.view_ts
        GROUP BY 1
    ),
    p AS (
        SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS purchase_ts
        FROM events e JOIN c ON c.user_id = e.user_id
        WHERE e.event_type = 'purchase'
          AND CAST(e.ts AS TIMESTAMP) >= c.click_ts
        GROUP BY 1
    )
    SELECT v.user_id, v.view_ts, c.click_ts, p.purchase_ts,
           (c.user_id IS NOT NULL) AS reached_click,
           (p.user_id IS NOT NULL) AS reached_purchase
    FROM v
    LEFT JOIN c ON c.user_id = v.user_id
    LEFT JOIN p ON p.user_id = v.user_id
    """,
    description="Ordered event funnel (view -> click -> purchase): per "
    "user, the first view, the first click AT OR AFTER that view, and "
    "the first purchase at or after that click — order-sensitive "
    "conversion, not mere event presence. Three stage aggregations, "
    "each keyed on user_id: one shuffle establishes the partitioning "
    "and every later stage (join + min-agg) is partition-local on it; "
    "stage N's state is one timestamp per surviving user, so the "
    "funnel narrows the data monotonically",
    tags=("window", "serving"),
)
def q71(spark: SparkSession, sf: str) -> DataFrame:
    ev = (
        t(spark, sf, "events")
        .select("user_id", "event_type", F.col("ts").cast("timestamp").alias("ts"))
        .repartition("user_id")
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("view_ts"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("view_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") >= F.col("click_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            "view_ts",
            "click_ts",
            "purchase_ts",
            F.col("click_ts").isNotNull().alias("reached_click"),
            F.col("purchase_ts").isNotNull().alias("reached_purchase"),
        )
    )


# --------------------------------------------------------------------- q73
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "q73_pivot_unpivot",
    """
    WITH counts AS (
        SELECT user_id,
               CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
               CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
               CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
               CAST(COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
               CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
        FROM events GROUP BY user_id
    )
    SELECT user_id, event_type, n FROM (
        SELECT user_id, 'click' AS event_type, click AS n FROM counts
        UNION ALL SELECT user_id, 'error', error FROM counts
        UNION ALL SELECT user_id, 'purchase', purchase FROM counts
        UNION ALL SELECT user_id, 'signup', signup FROM counts
        UNION ALL SELECT user_id, 'view', view FROM counts
    ) WHERE n > 0
    """,
    description="Literal pivot + unpivot round trip: per-user event "
    "counts pivoted to one column per type (values list PINNED — an "
    "unpinned pivot runs an extra distinct-values job and makes the "
    "output schema data-dependent, both wrong at scale), then melted "
    "back to long form with F.stack, dropping the zero fill. One "
    "shuffle on user_id; the pivot agg is map-side combinable and the "
    "unpivot is a Generate fused above it. The A10 whale census (q23) "
    "deliberately avoids the wide pivot — this entry is the literal "
    "operator for catalogs that want it",
    tags=("agg", "setop"),
)
def q73(spark: SparkSession, sf: str) -> DataFrame:
    ev = t(spark, sf, "events")
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, _EVENT_TYPES)
    )
    stack_expr = "stack({n}, {args}) as (event_type, n)".format(
        n=len(_EVENT_TYPES),
        args=", ".join(f"'{t}', `{t}`" for t in _EVENT_TYPES),
    )
    return (
        wide.select("user_id", F.expr(stack_expr))
        .filter(F.col("n") > 0)
        .select("user_id", "event_type", F.col("n").cast("long").alias("n"))
    )


# --------------------------------------------------------------------- q91
@register(
    "q91_cohort_retention",
    """
    WITH activity AS (
        SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS aday
        FROM events
    ),
    cohorts AS (
        SELECT user_id, aday,
               MIN(aday) OVER (PARTITION BY user_id) AS cohort_day
        FROM activity
    )
    SELECT cohort_day,
           CAST(datediff('day', cohort_day, aday) AS BIGINT) AS days_since,
           CAST(COUNT(*) AS BIGINT) AS active_users
    FROM cohorts
    GROUP BY 1, 2
    """,
    description="Cohort retention matrix (the classic warehouse "
    "activity analysis, beyond the reference): cohort = day of each "
    "user's first event via a window MIN over the per-user distinct "
    "activity days — ONE shuffle on user_id serves the distinct, the "
    "window, and (as a subset-key clustering) feeds the final "
    "(cohort, days_since) rollup. No self-join of the events table, "
    "which is the naive formulation's scale-killer",
    tags=("window", "agg", "timeseries"),
)
def q91(spark: SparkSession, sf: str) -> DataFrame:
    ev = t(spark, sf, "events")
    activity = ev.select(
        "user_id", F.col("ts").cast("date").alias("aday")
    ).distinct()
    w = Window.partitionBy("user_id")
    cohorts = activity.withColumn("cohort_day", F.min("aday").over(w))
    return cohorts.groupBy(
        "cohort_day",
        F.datediff("aday", "cohort_day").cast("long").alias("days_since"),
    ).agg(F.count(F.lit(1)).cast("long").alias("active_users"))


# --------------------------------------------------------------------- q93
@register(
    "q93_rolling_zscore_anomaly",
    f"""
    WITH daily AS ({DAILY_PRICES_SQL}),
    milli AS (
        SELECT coin_id, date,
               CAST(round(price * 1000) AS BIGINT) AS p
        FROM daily
    ),
    stats AS (
        SELECT coin_id, date, p,
               CAST(COUNT(*) OVER w AS BIGINT) AS n,
               CAST(SUM(p) OVER w AS BIGINT) AS sp,
               CAST(SUM(p * p) OVER w AS BIGINT) AS spp
        FROM milli
        WINDOW w AS (PARTITION BY coin_id ORDER BY date
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT coin_id, date, p AS price_milli, n AS trail_n,
           CAST(CAST(sp AS DOUBLE) / n AS DOUBLE) AS trail_mean,
           CAST(CAST(n * spp - sp * sp AS DOUBLE) / (n * n) AS DOUBLE)
               AS trail_var,
           CAST(n = 7 AND
                CAST(abs(n * p - sp) AS DOUBLE)
                    > 2 * n * sqrt(CAST(n * spp - sp * sp AS DOUBLE)
                                   / (n * n))
                AS BIGINT) AS is_anomaly
    FROM stats
    """,
    description="Rolling z-score anomaly flag (the Q-series outlier "
    "family generalized to a trailing statistical gate, beyond the "
    "reference's fixed rules): per coin, |price - trailing-7 mean| > "
    "2 sigma. Cross-engine exact by construction — prices quantize to "
    "milli-integers so the trailing sums and the variance numerator "
    "n*Sxx - Sx^2 are exact BIGINTs inside one ordered ROWS frame, "
    "then ONE division and an IEEE sqrt on each side of the "
    "comparison (the flag compares an exact integer |n*x - Sx| "
    "against the sigma expression, never chained roundings). One "
    "coin_id shuffle serves the daily aggregate and the window",
    tags=("window", "quality", "timeseries"),
)
def q93(spark: SparkSession, sf: str) -> DataFrame:
    daily = daily_prices(spark, sf)
    milli = daily.select(
        "coin_id", "date", F.round(F.col("price") * 1000).cast("long").alias("p")
    )
    w = (
        Window.partitionBy("coin_id")
        .orderBy("date")
        .rowsBetween(-6, Window.currentRow)
    )
    stats = milli.select(
        "coin_id",
        "date",
        "p",
        F.count(F.lit(1)).over(w).cast("long").alias("n"),
        F.sum("p").over(w).cast("long").alias("sp"),
        F.sum(F.col("p") * F.col("p")).over(w).cast("long").alias("spp"),
    )
    var = (F.col("n") * F.col("spp") - F.col("sp") * F.col("sp")).cast(
        "double"
    ) / (F.col("n") * F.col("n"))
    return stats.select(
        "coin_id",
        "date",
        F.col("p").alias("price_milli"),
        F.col("n").alias("trail_n"),
        (F.col("sp").cast("double") / F.col("n")).alias("trail_mean"),
        var.alias("trail_var"),
        (
            (F.col("n") == 7)
            & (
                F.abs(F.col("n") * F.col("p") - F.col("sp")).cast("double")
                > 2 * F.col("n") * F.sqrt(var)
            )
        ).cast("long").alias("is_anomaly"),
    )


# --------------------------------------------------------------------- q94
@register(
    "q94_scd2_from_change_log",
    """
    WITH log AS (
        SELECT user_id, event_id, CAST(value AS DOUBLE) AS value,
               CAST(ts AS TIMESTAMP) AS ts,
               event_type = 'error' AS is_delete
        FROM events
    ),
    versions AS (
        SELECT user_id, event_id, value, is_delete,
               epoch_us(ts) AS valid_from_us,
               epoch_us(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts))
                   AS valid_to_us
        FROM log
    )
    SELECT user_id, event_id, value, valid_from_us, valid_to_us
    FROM versions WHERE NOT is_delete
    """,
    description="SCD2 history from a CDC change log (operators/scd2.py "
    "scd2_from_events): each change becomes a version valid [its ts, "
    "next change's ts) via ONE lead() window per key — no join, no "
    "snapshot diffing; 'error' events are tombstones that bound the "
    "previous version but open none (the delete filter runs AFTER the "
    "window so the bound survives). Validity rides epoch-microsecond "
    "BIGINTs for cross-engine exactness",
    tags=("window", "mutation", "timeseries"),
)
def q94(spark: SparkSession, sf: str) -> DataFrame:
    from etl_pipelines_spark.operators.scd2 import scd2_from_events

    ev = t(spark, sf, "events").select(
        "user_id",
        "event_id",
        F.col("value").cast("double").alias("value"),
        "ts",
        (F.col("event_type") == "error").alias("is_delete"),
    )
    out = scd2_from_events(
        ev, ["user_id"], ["event_id", "value"], "ts", delete_col="is_delete",
        valid_from="_vf", valid_to="_vt2",
    )
    return out.select(
        "user_id",
        "event_id",
        "value",
        # ts loads as TIMESTAMP_NTZ; the UTC session makes the LTZ
        # cast wall-clock-identical, matching DuckDB's epoch_us
        F.unix_micros(F.col("_vf").cast("timestamp")).alias("valid_from_us"),
        F.unix_micros(F.col("_vt2").cast("timestamp")).alias("valid_to_us"),
    )


# --------------------------------------------------------------------- q101
@register(
    "q101_iqr_price_outliers",
    f"""
    WITH daily AS ({DAILY_PRICES_SQL}),
    milli AS (
        SELECT coin_id, date, CAST(ROUND(price * 1000) AS BIGINT) AS p
        FROM daily
    ),
    ranked AS (
        SELECT coin_id, p,
               ROW_NUMBER() OVER (PARTITION BY coin_id ORDER BY p) AS rn,
               COUNT(*) OVER (PARTITION BY coin_id) AS n
        FROM milli
    ),
    qs AS (
        SELECT coin_id,
               MAX(CASE WHEN rn = CEIL(0.25 * n) THEN p END) AS q1,
               MAX(CASE WHEN rn = CEIL(0.75 * n) THEN p END) AS q3
        FROM ranked GROUP BY coin_id
    )
    SELECT m.coin_id, m.date, CAST(m.p AS BIGINT) AS price_milli,
           CAST(q.q1 AS BIGINT) AS q1, CAST(q.q3 AS BIGINT) AS q3,
           COALESCE(m.p < q.q1 - 1.5 * (q.q3 - q.q1)
                    OR m.p > q.q3 + 1.5 * (q.q3 - q.q1),
                    FALSE) AS is_outlier
    FROM milli m LEFT JOIN qs q ON q.coin_id = m.coin_id
    """,
    description="Tukey IQR outlier fences per coin "
    "(operators/outliers.py iqr_outliers): q1/q3 as exact "
    "rank-position quantiles over milli-integer prices, flag days "
    "outside [q1 - 1.5*IQR, q3 + 1.5*IQR] — the distribution-adaptive "
    "outlier rule next to the fixed-threshold family (Q1-Q4) and the "
    "rolling z-score (q93). The keys-sized quantile table broadcasts "
    "back onto the stream; 1.5*IQR over exact ints is deterministic "
    "IEEE in both engines",
    tags=("outlier", "timeseries"),
)
def q101(spark: SparkSession, sf: str) -> DataFrame:
    from etl_pipelines_spark.operators.outliers import iqr_outliers

    daily = daily_prices(spark, sf)
    milli = daily.select(
        "coin_id", "date", F.round(F.col("price") * 1000).cast("long").alias("p")
    )
    return iqr_outliers(milli, ["coin_id"], "p").select(
        "coin_id",
        "date",
        F.col("p").alias("price_milli"),
        F.col("q1").cast("long").alias("q1"),
        F.col("q3").cast("long").alias("q3"),
        "is_outlier",
    )
