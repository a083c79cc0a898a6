"""The daily-net transfer kernel (SURVEY.md §2.5 A2).

Reference semantics (ethereum_transfers_updates.py:224-249; Dune mirror
retrieve_dune_transfer_data.py:337-380): explode each raw transfer into
(+receiver, -sender) rows, aggregate SUM(value) per (date, wallet,
token), keep HAVING SUM <> 0, then scale by token decimals
(amount / pow(10, decimals), ethereum_transfers_updates.py:373).

Spark shape: one generator projection (explode of a 2-struct array —
stays inside whole-stage codegen) + one hash aggregate. The explode
doubles rows map-side but partial aggregation collapses them before the
shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def daily_net_transfers(
    raw: DataFrame,
    ts_col: str = "block_timestamp",
    token_col: str = "token_address",
    from_col: str = "from_address",
    to_col: str = "to_address",
    value_col: str = "value",
) -> DataFrame:
    """raw transfer events -> (date, wallet_address, token_address, amount)
    daily nets with zero-net rows dropped."""
    sides = F.array(
        F.struct(F.col(to_col).alias("wallet_address"), F.col(value_col).alias("signed")),
        F.struct(F.col(from_col).alias("wallet_address"), (-F.col(value_col)).alias("signed")),
    )
    exploded = raw.select(
        F.to_date(F.col(ts_col)).alias("date"),
        F.col(token_col).alias("token_address"),
        F.inline(sides),
    )
    return (
        exploded.groupBy("date", "wallet_address", "token_address")
        .agg(F.sum("signed").alias("amount"))
        .filter(F.col("amount") != 0)
    )
