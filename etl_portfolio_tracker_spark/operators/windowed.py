"""Ordered/windowed analytics — SURVEY §2.5 (W1-W5, W8, W11) and the
TWR pipeline of the reference Dashboard (1_Dashboard.py:302-356).

Long-format + window functions everywhere: the reference pivots to a
wide ts×ticker matrix only because pandas lacks partitionBy; in Spark
the long form keeps the data partitionable by key at any scale (a
window partitioned by ticker shuffles once and parallelizes across
tickers; a wide matrix would serialize on one node).

Float determinism: daily group-sums go through DECIMAL (order-
insensitive); running/prefix sums accumulate in frame order, which is
identical in any engine given the same total ordering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from ..derive import DEC, dsum
from ..functions.partitioning import one_partition_join
from .relational import START_CASH, signed_qty


def daily_position_series(trades: DataFrame) -> DataFrame:
    """W1/A5 — running share count per (user, ticker) over trade days
    (1_Dashboard.py:115-116: pivot_table sum + cumsum, kept long).
    qty is integer-valued → prefix sums are exact in double."""
    daily = (trades
             .groupBy("user", "ticker", F.to_date("ts").alias("d"))
             .agg(F.sum(signed_qty()).alias("qty_delta")))
    w = (W.partitionBy("user", "ticker").orderBy("d")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    return daily.select("user", "ticker", "d",
                        F.sum("qty_delta").over(w).alias("cum_qty"))


def cash_series(trades: DataFrame, start_cash: float = START_CASH) -> DataFrame:
    """W2/A6 — daily net cash flow per user + running cash
    (1_Dashboard.py:94-127). Daily flow is an order-insensitive decimal
    sum; the running sum then accumulates decimals in date order."""
    flow = (F.when(F.col("side") == "SELL", F.col("qty") * F.col("price"))
            .otherwise(-F.col("qty") * F.col("price")) - F.col("fee"))
    daily = (trades
             .groupBy("user", F.to_date("ts").alias("d"))
             .agg(dsum(flow).alias("flow_dec")))
    w = (W.partitionBy("user").orderBy("d")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    return daily.select(
        "user", "d",
        F.col("flow_dec").cast("double").alias("cash_flow"),
        (F.lit(start_cash).cast(DEC) + F.sum("flow_dec").over(w))
        .cast("double").alias("cash"))


def daily_returns(prices: DataFrame) -> DataFrame:
    """W3/W4 — lag + pct-change per ticker with ±inf/NaN→0 cleanup
    (1_Dashboard.py:312: pct_change().replace([inf,-inf],nan).fillna(0))."""
    w = W.partitionBy("ticker").orderBy("ts")
    prev = F.lag("close", 1).over(w)
    ret = F.when(prev.isNull() | (prev == 0), F.lit(0.0)) \
           .otherwise(F.col("close") / prev - 1)
    return prices.select("ticker", "ts",
                         prev.alias("prev_close"),
                         ret.alias("ret"))


def twr_index(prices: DataFrame) -> DataFrame:
    """W5 — time-weighted-return index per ticker:
    cumprod(1+ret)·100 via exp(sum(ln(1+ret))) (no native cumprod;
    1_Dashboard.py:329). Rounded to 6dp — ln/exp may differ in the
    last ulp across libm implementations."""
    rets = daily_returns(prices)
    w = (W.partitionBy("ticker").orderBy("ts")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    # total loss (ret <= -1, treated as exactly -100%): the reference's
    # cumprod picks up a 0 factor and the index is 0 from that day
    # FORWARD. ln is undefined there, so the dead state is carried by a
    # cumulative flag instead of the log-sum (which skips the day).
    safe = F.when(F.col("ret") <= -1, F.lit(None)).otherwise(F.log(F.lit(1.0) + F.col("ret")))
    dead = F.max((F.col("ret") <= -1).cast("int")).over(w)
    return rets.select(
        "ticker", "ts", "ret",
        F.when(dead == 1, F.lit(0.0))
         .otherwise(F.round(F.exp(F.sum(safe).over(w)) * 100, 6))
         .alias("twr_index"))


def normalize_to_100(prices: DataFrame) -> DataFrame:
    """W11 — series / first value · 100 (1_Dashboard.py:24-25, 341)."""
    w = W.partitionBy("ticker").orderBy("ts") \
         .rowsBetween(W.unboundedPreceding, W.currentRow)
    base = F.first("close", ignorenulls=True).over(w)
    return prices.select(
        "ticker", "ts",
        F.when(base == 0, F.lit(None))
         .otherwise(F.round(F.col("close") / base * 100, 6)).alias("idx"))


def first_holding_day(trades: DataFrame) -> DataFrame:
    """W8 — first day any holdings exist per user
    (1_Dashboard.py:316-324: have_any.idxmax())."""
    daily = (trades
             .groupBy("user", F.to_date("ts").alias("d"))
             .agg(F.sum(signed_qty()).alias("qty_delta")))
    w = (W.partitionBy("user").orderBy("d")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    cum = daily.select("user", "d", F.sum("qty_delta").over(w).alias("cum"))
    return (cum.filter(F.col("cum") > 0)
            .groupBy("user").agg(F.min("d").alias("first_day")))


def benchmark_overlay(port: DataFrame, bench: DataFrame) -> DataFrame:
    """J4 + W9 + W11 — the Dashboard's OMXSPI overlay
    (1_Dashboard.py:349-356): left-join a benchmark close series onto
    the portfolio calendar, forward-fill the benchmark's gaps, and
    normalize BOTH series to 100 at their first observation.

    Inputs are single series (ts, close) — the Dashboard overlays one
    portfolio against one index. At scale this runs per portfolio: add
    the key to both sides and swap the global orderBy windows for
    partitionBy(key).orderBy(ts) — every expression below is already
    key-local. Normalization is close/first·100 in one IEEE divide +
    multiply; the benchmark index stays null before its first
    observation (the reference's NaN rows). Two series read from the
    one-partition price memo join inside its one task
    (`one_partition_join`)."""
    b = bench.select(F.col("ts").alias("b_ts"),
                     F.col("close").alias("bench_close"))
    joined = one_partition_join(port, b, port.ts == b.b_ts,
                                "left").drop("b_ts")
    w = W.orderBy("ts").rowsBetween(W.unboundedPreceding, W.currentRow)
    filled = F.last("bench_close", ignorenulls=True).over(w)
    port_base = F.first("close", ignorenulls=True).over(w)
    bench_base = F.first("bench_close", ignorenulls=True).over(
        W.orderBy("ts").rowsBetween(W.unboundedPreceding,
                                    W.unboundedFollowing))
    # bench_base uses the FULL frame first: rows before the benchmark's
    # first print still normalize against it once filled is non-null
    return joined.select(
        "ts",
        F.round(F.col("close") / port_base * 100, 6).alias("port_idx"),
        F.when(filled.isNotNull(),
               F.round(filled / bench_base * 100, 6)).alias("bench_idx"))


def user_price_panel(trades: DataFrame, prices: DataFrame) -> DataFrame:
    """The reference's per-user price panel, long-form
    (1_Dashboard.py:64-83, 302-309): for each user, the grid is every
    date on which ANY of the user's traded tickers has a price; every
    (user, ticker, grid-date) cell is filled by per-series linear
    interpolation with nearest-edge fill (the reference's
    ``pivot(...).interpolate(limit_direction="both")``, our W10 kernel
    generalized to ("user", "ticker") — interpolation runs on the
    USER's grid, exactly like the reference's per-user pivot).

    Returns (user, ticker, ts, qty, close_i): qty is the end-of-day
    cumulative signed share count as-of each grid date (the
    reference's ``qty.cumsum().reindex(price_index, ffill).fillna(0)``
    at 1_Dashboard.py:106-118 — trades on non-grid days take effect at
    the next grid date, via a cumulative sum over the UNION of grid
    and trade days, grid rows kept).

    Documented divergence (found by the parity property test): the
    reference's pandas pipeline leaves a pivot_table NaN HOLE in
    ticker T's column on a day where only some other ticker traded;
    cumsum propagates it, reindex-ffill copies it, and fillna(0)
    silently RESETS T's running position to zero from that day — a
    multi-ticker-ledger artifact contradicting the function's own
    stated intent ("kumulera … fyll sedan framåt", running count
    forward-filled). This engine computes the stated intent: the
    cumulative sum never forgets prior trades
    (tests/test_portfolio_twr_parity.py pins equality against the
    intent-realized pandas form).

    Physical shape — one linear, user-partitioned pipeline:

      trades ─▶ Exchange hash(user) ─▶ one row per user (trade list)
        ─▶ explode trades + one probe per held ticker
        ─▶ ⋈ broadcast (ticker, ts, close)      [probes only]
        ─▶ (user, ts) aggregate: grid flag, that day's cells
        ─▶ explode over the user's ticker set
        ─▶ cumulative-qty window, grid filter, interpolate

    The trade side has exactly ONE exchange, hash(user); the price
    dimension is broadcast once; everything after the exchange is a
    user-keyed aggregate or window, a generator or a broadcast join,
    all of which keep hash(user). A caller whose windows and
    aggregates stay on user / (user, ts) / (user, ticker) keys
    inherits the same single exchange. Over the one-partition session
    memos (`derive.trades`, `derive.tick_prices`) there is no exchange
    at all: the probe join runs inside the one task as a shuffle-hash
    join (`one_partition_join`) and no broadcast stage runs. The
    hash(user) shape depends on these Spark rules (checked on Spark
    4.1.2, default confs):

      * a shuffled join keeps hash(user) only when joined on `user`
        ALONE (spark.sql.requireAllClusterKeysForCoPartition is true,
        so a (user, ticker, ts) join re-shuffles both sides);
      * a full-outer sort-merge join outputs UnknownPartitioning;
      * two branches of one DataFrame that prune to different columns
        plan their own exchange instead of reusing one; a Union of
        same-partitioned children does keep the partitioning.

    So the panel has no self-join and no fork: trades and grid days
    meet in one (user, ts) aggregate instead of a full-outer join, and
    the spine comes from a generator over the user's ticker set
    instead of a join. tests/test_plan_audit.py pins the exchange
    count, the absence of sort-merge joins and the job count.

    Scale: |users|·|their tickers|·|grid ∪ trade days| rows — the
    honest cost of per-user panels — spread over hash(user); a user's
    trade list and ticker set are held in one row. The probe join is a
    broadcast of the price dimension unless both of its inputs plan as
    one partition, when it runs inside that partition's task.
    """
    from .calendar import interpolate

    trade = F.struct("ticker", F.to_date("ts").alias("ts"),
                     signed_qty().alias("q"))
    # null users never join a grid (the reference's per-user panel)
    users = (trades.filter(F.col("user").isNotNull())
             .groupBy("user").agg(F.collect_list(trade).alias("_tr")))
    tks = F.array_distinct(F.col("_tr.ticker"))
    probes = F.transform(tks, lambda t: F.struct(
        t.alias("ticker"), F.lit(None).cast("date").alias("ts"),
        F.lit(None).cast("double").alias("q")))
    events = users.select("user", tks.alias("_tks"),
                          F.inline(F.concat("_tr", probes)))
    # a probe (q null) fans out to every priced day of its ticker; a
    # trade row has a null key and passes through. An unpriced probe
    # lands on a null day, which is never a grid day.
    px = prices.select(F.col("ticker").alias("_pt"),
                       F.col("ts").alias("_pts"), "close")
    key = F.when(F.col("q").isNull(), F.col("ticker"))
    days = (one_partition_join(events, px, key == F.col("_pt"), "left",
                               broadcast=True)
            .groupBy("user", F.coalesce("ts", "_pts").alias("ts"))
            .agg(F.first("_tks").alias("_tks"),
                 F.max(F.col("close").isNotNull()).alias("_grid"),
                 F.collect_list(F.struct("ticker", "q", "close"))
                 .alias("_c")))

    def ticker_cell(t):
        mine = F.filter("_c", lambda c: c.ticker.eqNullSafe(t))
        return F.struct(
            t.alias("ticker"),
            F.aggregate(mine, F.lit(0.0),
                        lambda a, c: a + F.coalesce(c.q, F.lit(0.0)))
            .alias("_delta"),
            F.array_max(F.transform(mine, lambda c: c.close)).alias("close"))

    cells = days.select("user", "ts", "_grid",
                        F.inline(F.transform("_tks", ticker_cell)))
    w_cum = (W.partitionBy("user", "ticker").orderBy("ts")
             .rowsBetween(W.unboundedPreceding, W.currentRow))
    on_grid = (cells.withColumn("qty", F.sum("_delta").over(w_cum))
               .filter(F.col("_grid"))
               .select("user", "ticker", "ts", "close", "qty"))
    return (interpolate(on_grid, "close", "close_i",
                        keys=("user", "ticker"))
            .select("user", "ticker", "ts", "qty", "close_i"))


def portfolio_twr(trades: DataFrame, prices: DataFrame) -> DataFrame:
    """The reference Dashboard's flagship composite — the portfolio-
    level time-weighted-return index (1_Dashboard.py:311-331):

      ret       = per-cell pct_change, inf/NaN→0            (:312)
      hold_val  = qty.shift(1) · close.shift(1)             (:313)
      tot_val   = Σ_tickers hold_val per day                (:314)
      trim from the first day tot_val > 0                   (:316-324)
      port_ret  = Σ (hold_val/tot_val)·ret  ≡ Σ(hold_val·ret)/tot_val
                                                            (:326-327)
      twr_idx   = cumprod(1+port_ret)·100                   (:329)

    Long-form per-user over user_price_panel; the weighted sum is
    computed as Σ(hold_val·ret)/tot_val with both sums in exact
    DECIMAL (order-insensitive — Spark's partial aggregation and
    DuckDB's sequential sum agree bitwise), then ONE double division.
    Days where tot_val = 0 emit port_ret = 0 (the reference's
    weights.fillna(0) handles only the 0/0 case; the synthetic ledger
    can oversell into tot_val = 0 with nonzero hold_val, where the
    reference would produce ±inf — we define it as 0, documented
    divergence on pathological rows only). cumprod is exp∘sum∘ln with
    the twr_index total-loss rule (a port_ret ≤ −1 day pins the index
    at 0 thereafter — the cumprod 0 factor); final index rounded 6dp
    (libm last-ulp).

    Scale: aggregates key on (user, d); windows on (user[, ticker]),
    the first-held-day trim included — all satisfied by the panel's
    single hash(user) exchange, so the query adds none; no global
    window.
    """
    panel = user_price_panel(trades, prices)
    w = W.partitionBy("user", "ticker").orderBy("ts")
    prev_c = F.lag("close_i").over(w)
    prev_q = F.lag("qty").over(w)
    ret = (F.when(prev_c.isNull() | (prev_c == 0), F.lit(0.0))
           .otherwise(F.col("close_i") / prev_c - 1))
    cells = panel.select(
        "user", "ts",
        (prev_q * prev_c).alias("_hv"),
        ret.alias("_ret"))
    daily = (cells.groupBy("user", "ts")
             .agg(dsum(F.col("_hv")).alias("_tot"),
                  dsum(F.col("_hv") * F.col("_ret")).alias("_num")))
    # first held day per user as a window, not a self-join: a join
    # back onto `daily` would re-plan the whole panel a second time
    fh = F.min(F.when(F.col("_tot") > 0, F.col("ts"))).over(
        W.partitionBy("user"))
    port_ret = (F.when(F.col("_tot") == 0, F.lit(0.0))
                .otherwise(F.col("_num").cast("double")
                           / F.col("_tot").cast("double")))
    trimmed = (daily.select("user", "ts", port_ret.alias("_pr"),
                            fh.alias("_fh"))
               .filter(F.col("ts") >= F.col("_fh"))
               .select("user", "ts", "_pr"))
    w_idx = (W.partitionBy("user").orderBy("ts")
             .rowsBetween(W.unboundedPreceding, W.currentRow))
    # twr_index's total-loss rule: a day with port_ret <= -1 pins the
    # index at 0 from that day forward (cumprod's 0 factor)
    safe = (F.when(F.col("_pr") <= -1, F.lit(None))
            .otherwise(F.log(F.lit(1.0) + F.col("_pr"))))
    dead = F.max((F.col("_pr") <= -1).cast("int")).over(w_idx)
    return trimmed.select(
        "user", F.col("ts").alias("d"),
        F.round("_pr", 6).alias("port_ret"),
        F.when(dead == 1, F.lit(0.0))
         .otherwise(F.round(F.exp(F.sum(safe).over(w_idx)) * 100, 6))
         .alias("twr_idx"))


def portfolio_value_series(trades: DataFrame,
                           prices: DataFrame) -> DataFrame:
    """Daily holdings market value per user — Σ_tickers qty_eod ·
    close over the per-user panel: the unshifted form of
    portfolio_twr's tot_val, and the series the reference surfaces as
    the Portfölj_SEK tooltip (1_Dashboard.py:359-366, there derived as
    index/100·base_val — identical when cash is excluded). One
    (user, d) aggregate over user_price_panel; exact decimal sum,
    rounded 2dp like the reference's SEK display."""
    panel = user_price_panel(trades, prices)
    return (panel.groupBy("user", "ts")
            .agg(F.round(dsum(F.col("qty") * F.col("close_i")), 2)
                 .cast("double").alias("market_value"))
            .select("user", F.col("ts").alias("d"), "market_value")
            .orderBy("user", "d"))


def basket_index(trades: DataFrame, prices: DataFrame,
                 qty_now: DataFrame) -> DataFrame:
    """The Dashboard's static-basket fallback series
    (1_Dashboard.py:336-346), used whenever the TWR history is too
    short: TODAY's position quantities (``df_pos`` — the GAV fold's
    finals with qty > 0, portfolio.overview) dot-product with the
    per-user price panel, days with pv ≤ 0 dropped, normalized to 100
    at the first remaining day.

    `qty_now` is (user, ticker, qty) — pass fold.avg_costs-style
    finals (clamped-sell fold, qty > 0) to match the reference's
    df_pos exactly. pv is an exact decimal Σ qty·close per (user, d);
    the index is one double division, rounded 6dp.

    Scale: same per-user panel shape as portfolio_twr; qty_now is a
    per-key fold final (|users|·|tickers| — broadcast-sized join).
    """
    panel = user_price_panel(trades, prices)
    pv = (panel.join(qty_now.select("user", "ticker", "qty")
                     .withColumnRenamed("qty", "_qnow"),
                     ["user", "ticker"], "left")
          .groupBy("user", "ts")
          .agg(dsum(F.coalesce("_qnow", F.lit(0.0)) * F.col("close_i"))
               .alias("_pv"))
          .filter(F.col("_pv") > 0))
    w = (W.partitionBy("user").orderBy("ts")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    base = F.first("_pv").over(w)
    return pv.select(
        "user", F.col("ts").alias("d"),
        F.round(F.col("_pv"), 2).cast("double").alias("pv"),
        F.round(F.col("_pv").cast("double") / base.cast("double") * 100, 6)
         .alias("basket_idx"))


def twr_with_benchmark(trades: DataFrame, prices: DataFrame,
                       bench: DataFrame) -> DataFrame:
    """The Dashboard's final CHART FRAME, end-to-end
    (1_Dashboard.py:349-356 + :378-384): per-user TWR index
    (portfolio_twr) left-joined to the benchmark close on the user's
    TWR calendar, benchmark forward-filled and normalized to 100
    (benchmark_overlay's convention keyed per user: the base is the
    user's FIRST benchmark print, rows before it stay null — the
    reference's NaN rows), then melted to the long (d, serie, idx)
    frame the chart consumes (``melt(id_vars=['Datum'],
    value_vars=['Portfölj', '^OMXSPI'])``).

    Composition of three externally-verified parts (portfolio_twr,
    benchmark_overlay, unpivot_panel) as ONE registered query — the
    reference's flagship page reference-complete end-to-end.

    Scale: portfolio_twr's single hash(user) exchange, then a
    broadcast benchmark join (one row per calendar day) and two
    per-user windows that keep that partitioning; the melt is a
    row-local stack. The only other exchange over the panel is the
    final orderBy's range shuffle of the chart frame. Over the
    one-partition session memos the benchmark join runs inside the
    one task (`one_partition_join`) while Catalyst's size estimate of
    the TWR frame stays under spark.sql.maxSinglePartitionBytes; the
    estimate grows far faster than the frame (the panel's generators
    inflate it), and above the cap the join keeps its broadcast.
    """
    twr = portfolio_twr(trades, prices).select("user", "d", "twr_idx")
    b = bench.select(F.col("ts").alias("_bts"),
                     F.col("close").alias("_bc"))
    j = one_partition_join(twr, b, twr.d == F.col("_bts"), "left",
                           broadcast=True).drop("_bts")
    wc = (W.partitionBy("user").orderBy("d")
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    wf = (W.partitionBy("user").orderBy("d")
          .rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
    filled = F.last("_bc", ignorenulls=True).over(wc)
    base = F.first("_bc", ignorenulls=True).over(wf)
    wide = j.select(
        "user", "d", "twr_idx",
        F.when(filled.isNotNull(),
               F.round(filled / base * 100, 6)).alias("_bidx"))
    return (wide
            .select("user", "d",
                    F.expr("stack(2, 'Portfölj', twr_idx,"
                           " '^OMXSPI', _bidx) as (serie, idx)"))
            .orderBy("user", "d", "serie"))


def price_with_fallback(primary: DataFrame, fallback: DataFrame) -> DataFrame:
    """§2.11 source-fallback chain (2_Trades.py:30-42, 115-117:
    yfinance → yf.download → DB-latest) as a relation: per-ticker
    latest close from the primary source COALESCEd with the fallback
    source's latest, with provenance. Full-outer join of two tiny
    per-ticker aggregates — broadcast-able both ways; at 100 TB each
    side is one map-side-combined aggregate of its fact."""
    p = primary.groupBy("ticker").agg(
        F.max_by("close", "ts").alias("p_close"), F.max("ts").alias("p_ts"))
    fb = fallback.groupBy("ticker").agg(
        F.max_by("close", "ts").alias("f_close"), F.max("ts").alias("f_ts"))
    return (p.join(fb, "ticker", "full_outer")
            .select("ticker",
                    F.coalesce("p_close", "f_close").alias("close"),
                    F.coalesce("p_ts", "f_ts").alias("ts"),
                    F.when(F.col("p_close").isNotNull(), F.lit("primary"))
                     .otherwise(F.lit("fallback")).alias("source")))


# --- EWMA (recursive exponential smoothing) --------------------------------

EWMA_ALPHA = 0.25  # 2^-2: alpha and 1-alpha are both exact binary
#                    fractions, so each fold step is two correctly-
#                    rounded IEEE multiplies + one add — bit-identical
#                    in any engine that evaluates the same expression.

def ewma_prices(prices: DataFrame, alpha: float = EWMA_ALPHA) -> DataFrame:
    """Per-ticker exponentially weighted moving average of close:
    s_1 = x_1;  s_t = alpha*x_t + (1-alpha)*s_{t-1}.

    Why a Python fold and not window algebra: the closed form
    s_t = alpha*sum((1-alpha)^(t-i) x_i) (+ boundary term) needs
    (1-alpha)^(-i) factors that overflow/underflow doubles for series
    longer than a few thousand rows, and its re-associated float sums
    are NOT bit-identical to the recursion the definition states. So
    we run the literal recursion, with the W6 fold kernel's physical
    shape (fold.py module docstring): ONE exchange on the series key +
    one sort within partitions + `mapInPandas` streaming Arrow batches
    through a sequential loop with state carried across batch
    boundaries. At 100 TB that is a single shuffle keyed by ticker;
    the per-key scan is inherently sequential (the recursion is), and
    keys spread across all executors.

    Bit-exactness vs the DuckDB recursive-CTE oracle: both engines
    evaluate `alpha*x + (1-alpha)*s` left to right on the same doubles
    (alpha = 0.25 exactly representable), so every intermediate state
    is bit-identical; the final ROUND(.,6) is the repo's display
    convention (twr_index precedent).
    """
    import numpy as np
    import pandas as pd

    def _ewma_batches(batches):
        # Vectorized per-run kernel: the recursion s_t = a*x_t +
        # (1-a)*s_{t-1} IS pandas ewm(adjust=False) (both multiplies
        # and the add are single correctly-rounded IEEE ops — the
        # bit-equality is pinned by test_ewma_matches_pandas_ewm_
        # bitwise), so each same-ticker RUN inside an Arrow batch
        # folds through the C ewm kernel instead of a per-row Python
        # loop (~50× on the hot path). State carries across batch
        # boundaries by prepending the carried value as a synthetic
        # x_0 (s_1' = a*x_1 + (1-a)*s_0 — the exact next fold step)
        # and dropping it from the output.
        cur = None
        s = 0.0
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                yield pdf.assign(ewma=np.empty(0, dtype="float64"))
                continue
            t = pdf["ticker"].to_numpy()
            x = pdf["close"].to_numpy(dtype="float64")
            starts = np.flatnonzero(
                np.r_[True, t[1:] != t[:-1]]).tolist() + [n]
            ew = np.empty(n, dtype="float64")
            for a, b in zip(starts[:-1], starts[1:]):
                if a == 0 and t[0] == cur:
                    seeded = pd.Series(np.r_[s, x[:b]]).ewm(
                        alpha=alpha, adjust=False).mean()
                    ew[:b] = seeded.to_numpy()[1:]
                else:
                    ew[a:b] = pd.Series(x[a:b]).ewm(
                        alpha=alpha, adjust=False).mean().to_numpy()
            cur = t[-1]
            s = float(ew[-1])
            yield pd.DataFrame({"ticker": t, "ts": pdf["ts"].to_numpy(),
                                "close": x, "ewma": ew})

    return (prices
            .select("ticker", "ts", "close")
            .repartition("ticker")
            .sortWithinPartitions("ticker", "ts")
            .mapInPandas(_ewma_batches, schema=_ewma_schema())
            .withColumn("ewma", F.round("ewma", 6)))


def _ewma_schema():
    from pyspark.sql import types as T
    return T.StructType([
        T.StructField("ticker", T.StringType()),
        T.StructField("ts", T.DateType()),
        T.StructField("close", T.DoubleType()),
        T.StructField("ewma", T.DoubleType()),
    ])


HOLT_ALPHA = 0.5   # 2^-1: level gain — alpha and 1-alpha exact
HOLT_BETA = 0.25   # 2^-2: trend gain — beta and 1-beta exact


def holt_winters(prices: DataFrame, alpha: float = HOLT_ALPHA,
                 beta: float = HOLT_BETA) -> DataFrame:
    """Per-ticker Holt double-exponential smoothing (level + trend) —
    the trend-aware member of the EWMA family (Holt 1957; the
    standard ops forecast for drifting series):

      l_1 = x_1, b_1 = 0
      l_t = α·x_t + (1−α)·(l_{t−1} + b_{t−1})
      b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
      forecast (one-step-ahead) = l_t + b_t

    Physical shape: identical to ewma_prices (the W6 fold kernel's) —
    ONE exchange keyed by ticker, sortWithinPartitions, mapInPandas
    streaming Arrow batches through the sequential recursion with
    (level, trend) state carried across batch boundaries. At 100 TB:
    one shuffle, keys spread across executors, per-key scan is
    inherently sequential because the recursion is.

    Bit-exactness vs the DuckDB recursive-CTE oracle: α = 0.5 and
    β = 0.25 (and their complements) are exact binary fractions, and
    both engines evaluate the SAME IEEE op tree per step —
    l' = (α·x) + ((1−α)·(l+b)), b' = (β·(l'−l)) + ((1−β)·b) — so
    every intermediate state is bit-identical; ROUND(.,6) is the
    display convention (ewma_prices precedent). The smoothing gains
    stay column-free constants, so the whole recursion is three
    correctly-rounded ops per state component per row."""
    import numpy as np
    import pandas as pd

    def _holt_batches(batches):
        cur = None
        lv = tr = 0.0
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                e = np.empty(0, dtype="float64")
                yield pdf.assign(level=e, trend=e, forecast=e)
                continue
            t = pdf["ticker"].to_numpy()
            x = pdf["close"].to_numpy(dtype="float64")
            lvs = np.empty(n, dtype="float64")
            trs = np.empty(n, dtype="float64")
            for i in range(n):
                if i == 0 and t[0] == cur:
                    l_new = alpha * x[0] + (1 - alpha) * (lv + tr)
                    trs[0] = beta * (l_new - lv) + (1 - beta) * tr
                    lvs[0] = l_new
                elif i == 0 or t[i] != t[i - 1]:
                    lvs[i], trs[i] = x[i], 0.0
                else:
                    l_new = (alpha * x[i]
                             + (1 - alpha) * (lvs[i - 1] + trs[i - 1]))
                    trs[i] = (beta * (l_new - lvs[i - 1])
                              + (1 - beta) * trs[i - 1])
                    lvs[i] = l_new
            cur = t[-1]
            lv, tr = float(lvs[-1]), float(trs[-1])
            yield pd.DataFrame({"ticker": t,
                                "ts": pdf["ts"].to_numpy(),
                                "close": x, "level": lvs, "trend": trs,
                                "forecast": lvs + trs})

    from pyspark.sql import types as T
    schema = T.StructType([
        T.StructField("ticker", T.StringType()),
        T.StructField("ts", T.DateType()),
        T.StructField("close", T.DoubleType()),
        T.StructField("level", T.DoubleType()),
        T.StructField("trend", T.DoubleType()),
        T.StructField("forecast", T.DoubleType()),
    ])
    return (prices
            .select("ticker", "ts", "close")
            .repartition("ticker")
            .sortWithinPartitions("ticker", "ts")
            .mapInPandas(_holt_batches, schema=schema)
            .select("ticker", "ts", "close",
                    F.round("level", 6).alias("level"),
                    F.round("trend", 6).alias("trend"),
                    F.round("forecast", 6).alias("forecast")))
