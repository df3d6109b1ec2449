"""W6/W7 — the stateful ordered fold: running weighted-average cost
(GAV) with clamped sells + realized PnL (reference
app/services/portfolio.py:18-41 `running_avg_costs` and :74-110
`realized_pnl_avgcost`, shared as one kernel per SURVEY §7 tier D).

Semantics per (user, ticker), trades scanned in (ts, id) order
(portfolio.py:23,87), state (q, avg, realized) starting (0, 0, 0):
  BUY:  avg ← (q·avg + qty·price + fee) / (q + qty);  q ← q + qty
  SELL: if q ≤ 0 → skipped entirely (portfolio.py:104-105)
        else sell = min(qty, q) (clamp, portfolio.py:37,106);
             realized ← realized + (price − avg)·sell;  q ← q − sell

Not expressible as closed-form window algebra (the sell clamp makes
the recurrence non-linear) → Python fold over Arrow batches.

Physical design (measured, not guessed): groupBy().applyInPandas
costs ~10 ms *per group* in scheduling/FFI overhead — 8-10 s for 750
keys at sf0.1 even with a no-op kernel. Instead: at most one shuffle
(`cluster_by_key`), one sort within partitions (key, ts, id), then
`mapInPandas` streaming whole Arrow batches through a single Python
loop that detects key boundaries and carries state across batch
boundaries. Same float semantics (sequential left-associated IEEE ops
per key — bit-identical to the reference Python loop and the DuckDB
recursive-CTE oracle), 15× faster. The shuffle is conditional: an
input whose planned output is already one partition (the
session-memoized ledger, `derive.trades`) holds every key in that
partition and is folded in place; any other input (a raw scan, the
`record_trades` union) is repartitioned on the key, so at 100 TB it is
exactly one exchange + one external sort, with keys spread across all
executors.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ..functions.partitioning import one_partition, one_partition_join

FOLD_SCHEMA = T.StructType([
    T.StructField("user", T.StringType()),
    T.StructField("ticker", T.StringType()),
    T.StructField("qty", T.DoubleType()),
    T.StructField("avg_cost", T.DoubleType()),
    T.StructField("realized", T.DoubleType()),
])


def _fold_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Fold a stream of Arrow batches whose rows arrive sorted by
    (user, ticker, ts, id) with all rows of a key in this partition.
    Keys may span batch boundaries — state carries over."""
    cur = None
    q = avg = realized = 0.0
    out: list[tuple] = []
    for pdf in batches:
        for user, ticker, side, qty, price, fee in zip(
                pdf["user"].values, pdf["ticker"].values, pdf["side"].values,
                pdf["qty"].values, pdf["price"].values, pdf["fee"].values):
            key = (user, ticker)
            if key != cur:
                if cur is not None:
                    out.append((cur[0], cur[1], q, avg, realized))
                cur = key
                q = avg = realized = 0.0
            qty = float(qty)
            price = float(price)
            fee = float(fee)
            if side == "BUY":
                avg = (q * avg + qty * price + fee) / (q + qty)
                q = q + qty
            else:  # SELL
                if q <= 0:
                    continue  # sell-when-flat skipped (portfolio.py:104-105)
                sell = qty if qty < q else q  # min(qty, q) clamp
                realized = realized + (price - avg) * sell
                q = q - sell
    if cur is not None:
        out.append((cur[0], cur[1], q, avg, realized))
    yield pd.DataFrame(out, columns=["user", "ticker", "qty", "avg_cost",
                                     "realized"])


def cluster_by_key(df: DataFrame, *keys: str) -> DataFrame:
    """`df` with all rows of each `keys` value in one partition: as is
    when its planned physical output is already one partition
    (`one_partition`), else repartitioned on `keys` (an explicit
    repartition always shuffles, even a one-partition input)."""
    if one_partition(df):
        return df
    return df.repartition(*keys)


def portfolio_fold(trades: DataFrame) -> DataFrame:
    """Final (qty, avg_cost, realized) per (user, ticker)."""
    cols = trades.select("user", "ticker", "ts", "id", "side", "qty",
                         "price", "fee")
    return (cluster_by_key(cols, "user", "ticker")
            .sortWithinPartitions("user", "ticker", "ts", "id")
            .mapInPandas(_fold_batches, schema=FOLD_SCHEMA))


def avg_costs(trades: DataFrame) -> DataFrame:
    """W6 emission — reference `running_avg_costs` keeps qty > 0
    (portfolio.py:40)."""
    return (portfolio_fold(trades)
            .filter(F.col("qty") > 0)
            .select("user", "ticker", "qty",
                    F.col("avg_cost").alias("avg_buy_price")))


def realized_pnl(trades: DataFrame) -> DataFrame:
    """W7 emission — per-user total realized PnL (portfolio.py:74-110).
    Per-ticker finals are deterministic doubles; the cross-ticker sum
    goes through DECIMAL for order-insensitivity, rounded to 4dp
    because double→decimal conversion itself carries 1-ulp noise at
    scale 10 across engines."""
    from ..derive import dsum
    return (portfolio_fold(trades)
            .groupBy("user")
            .agg(F.round(dsum(F.col("realized")), 4)
                 .cast("double").alias("realized_pnl")))


def overview_full(trades: DataFrame, prices: DataFrame) -> DataFrame:
    """The flagship domain query (portfolio.py:113-127): positions (A1)
    ⟕ avg_costs (fold) ⟕ latest_prices (J1) + market_value / invested /
    unreal_pnl / pnl_pct with division guard (F13/F14).

    Join inputs are all bounded by |users|×|tickers|; the only
    fact-sized work is the two upstream aggregations. Over the
    one-partition session memos both joins run inside the query's one
    task (`one_partition_join`); otherwise the small sides broadcast.
    """
    from .relational import latest_prices, positions
    pos = positions(trades)
    costs = avg_costs(trades)
    last = latest_prices(prices)
    invested = F.col("qty") * F.col("avg_buy_price")
    unreal = (F.col("last_close") - F.col("avg_buy_price")) * F.col("qty")
    with_cost = one_partition_join(
        pos, costs.select("user", "ticker", "avg_buy_price"),
        ["user", "ticker"], "left")
    return (one_partition_join(with_cost, last, "ticker", "left")
            .withColumn("market_value", F.col("qty") * F.col("last_close"))
            .withColumn("invested", invested)
            .withColumn("unreal_pnl", unreal)
            .withColumn("pnl_pct",
                        F.when(invested > 0, unreal / invested * 100))
            .select("user", "ticker", "qty", "avg_buy_price", "last_close",
                    "market_value", "invested", "unreal_pnl", "pnl_pct"))
