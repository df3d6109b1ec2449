"""Relational core: aggregations A1-A4/A8, joins J1-J3, predicates
P3-P5, sorts O1-O2 (SURVEY §2.2-§2.4, §2.6).

Scale notes per operator are inline; the common theme: everything is a
single shuffle on the natural key with map-side partial aggregation,
and every dimension-side join input is small enough to broadcast
(positions/latest-prices are bounded by |tickers|, not |fact rows|).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..derive import DEC, dsum
from ..functions.partitioning import one_partition_join

START_CASH = 1_000_000.0  # reference app/config.py:18


def signed_qty(side_col="side", qty_col="qty"):
    """F1 CASE: BUY → +qty, SELL → −qty (portfolio.py:9)."""
    return F.when(F.col(side_col) == "BUY", F.col(qty_col)).otherwise(-F.col(qty_col))


def positions(trades: DataFrame) -> DataFrame:
    """A1 — per (user, ticker) net position, HAVING qty != 0
    (portfolio.py:5-16). One shuffle on the group key; partial
    (map-side) sums make this scale linearly in input size."""
    return (trades
            .groupBy("user", "ticker")
            .agg(F.sum(signed_qty()).alias("qty"))
            .filter(F.col("qty") != 0))


def current_qty(trades: DataFrame, user: str, ticker: str) -> DataFrame:
    """A2 — scalar holding for one (user, ticker) (trades.py:28-38).
    Over the session-memoized ledger (`derive.trades`) the equality
    filter runs on the one-partition cached scan, where the in-memory
    column statistics can skip batches; nothing reaches parquet. Over
    an unmemoized `derive.trades_projection` of events, the `ticker`
    equality pushes to the parquet scan (`user` is derived, so its
    equality cannot)."""
    return (trades.filter((F.col("user") == user) & (F.col("ticker") == ticker))
            .agg(F.coalesce(F.sum(signed_qty()), F.lit(0.0)).alias("qty")))


def cash_balance(trades: DataFrame, start_cash: float = START_CASH) -> DataFrame:
    """A3 — per-user cash: START + Σ(SELL qty·price) − Σ(BUY qty·price)
    − Σ fee (portfolio.py:61-72). Money sums go through DECIMAL so the
    result is order-insensitive (parallel-safe)."""
    gross = F.col("qty") * F.col("price")
    return (trades.groupBy("user").agg(
        (F.lit(start_cash).cast(DEC)
         + F.coalesce(dsum(F.when(F.col("side") == "SELL", gross).otherwise(F.lit(0.0))), F.lit(0).cast(DEC))
         - F.coalesce(dsum(F.when(F.col("side") == "BUY", gross).otherwise(F.lit(0.0))), F.lit(0).cast(DEC))
         - F.coalesce(dsum(F.col("fee")), F.lit(0).cast(DEC))
         ).cast("double").alias("cash")))


def latest_prices(prices: DataFrame) -> DataFrame:
    """J1 — latest close per ticker (portfolio.py:43-59).

    The reference needs a CTE self-join; Spark needs neither a self-join
    nor a window shuffle-sort: max_by/max is a single hash aggregate
    with map-side combine — the cheapest possible plan at scale.
    """
    return (prices.groupBy("ticker")
            .agg(F.max_by("close", "ts").alias("last_close"),
                 F.max("ts").alias("last_ts")))


def asof_prices(prices: DataFrame, anchor: str) -> DataFrame:
    """J2 — last close per ticker on or before `anchor`
    (1_Dashboard.py:163-174). Identical aggregate after a pruning
    filter (partition-pruned when prices are date-partitioned)."""
    return latest_prices(prices.filter(F.col("ts") <= F.lit(anchor)))


def overview(trades: DataFrame, prices: DataFrame, user: str | None = None) -> DataFrame:
    """J3 + F13 — positions ⟕ latest_prices with market_value
    (portfolio.py:113-127, sans the avg-cost fold which lives in
    operators/fold.py).

    Both join inputs are aggregates bounded by |tickers|, so no
    repartition of anything fact-sized happens here: over the
    one-partition session memos the join runs inside the query's one
    task (`one_partition_join`), otherwise Catalyst broadcast-joins the
    price side under the default threshold.
    """
    pos = positions(trades)
    if user is not None:
        pos = pos.filter(F.col("user") == user)
    last = latest_prices(prices)
    return (one_partition_join(pos, last, "ticker", "left")
            .withColumn("market_value",
                        (F.col("qty") * F.col("last_close")).cast("double"))
            .select("user", "ticker", "qty", "last_close", "last_ts", "market_value"))


def trades_list(trades: DataFrame, user: str) -> DataFrame:
    """P3 + O1 — a user's trades in deterministic replay order
    (trades.py:66-85: ORDER BY ts, id)."""
    return (trades.filter(F.col("user") == user)
            .select("id", "ticker", "ts", "side", "qty", "price", "fee")
            .orderBy("ts", "id"))


def max_ts_anchor(prices: DataFrame) -> DataFrame:
    """A4 — global max ts (the dashboard anchor, 1_Dashboard.py:53-61)."""
    return prices.agg(F.max("ts").alias("anchor"))


def price_range_scan(prices: DataFrame, start: str, end: str) -> DataFrame:
    """P5 — time-range scan; the predicate that must reach the parquet
    scan (partition pruning at scale). Returned aggregated per ticker
    to keep the result small."""
    return (prices.filter((F.col("ts") >= F.lit(start)) & (F.col("ts") <= F.lit(end)))
            .groupBy("ticker")
            .agg(F.count("*").alias("n_days"),
                 F.min("close").alias("min_close"),
                 F.max("close").alias("max_close")))


def positions_state(trades: DataFrame) -> DataFrame:
    """UNFILTERED per-(user, ticker) net-position aggregate — the
    stored state of incremental view maintenance. The HAVING qty != 0
    cut must NOT live in the state: a key netted to zero still needs
    its row, or a later delta would resurrect it from the wrong
    baseline (the classic IVM pitfall)."""
    return (trades.groupBy("user", "ticker")
            .agg(F.sum(signed_qty()).alias("qty")))


def merge_positions_state(state: DataFrame,
                          delta_trades: DataFrame) -> DataFrame:
    """Incremental maintenance step: aggregate ONLY the delta batch,
    then full-outer coalesce-sum into the stored state — the
    O(|delta| + |touched keys|) path that replaces an O(|ledger|)
    recompute. SUM is self-maintainable, which is why this merge is
    exact; MIN/MAX-style aggregates would need auxiliary state.

    At 100 TB the state lives partitioned by (user, ticker); the
    delta's partial aggregate hash-joins into it touching only the
    affected partitions (a Delta MERGE in production)."""
    delta = (delta_trades.groupBy("user", "ticker")
             .agg(F.sum(signed_qty()).alias("_dq")))
    return (state.join(delta, ["user", "ticker"], "full_outer")
            .select("user", "ticker",
                    (F.coalesce(F.col("qty"), F.lit(0.0))
                     + F.coalesce(F.col("_dq"), F.lit(0.0))).alias("qty")))


def positions_from_state(state: DataFrame) -> DataFrame:
    """Read-side of the maintained view: apply the A1 HAVING cut."""
    return state.filter(F.col("qty") != 0)
