"""Deterministic derivation of the reference domain tables
(prices / trades / universe — SURVEY §1.1, FIXTURES.md §3) from the
driver's harness tables.

Every derivation here has a character-for-character-specified SQL twin
in `oracle.py`; the two must stay in lock-step because the driver
hash-compares Spark output against the DuckDB oracle.

Float-determinism rules (apply to every query in this engine):
  * per-row arithmetic stays in DOUBLE — IEEE ops on identical inputs
    are bit-identical across engines;
  * any SUM/AVG whose result is emitted goes through
    CAST(x AS DECIMAL(38,10)) first — decimal addition is exact and
    order-insensitive, so Spark's parallel partial aggregation and
    DuckDB's sequential sum produce identical results;
  * emitted decimals are rounded and cast back to DOUBLE so the output
    schema is stable.

Session-memoized derived tables. The reference stores `prices` and
`trades` as tables that every Dashboard query reads (src/etl.py:24-65,
app/services/portfolio.py, trades.py); here `prices(spark, sf_dir)`
(without `max_partkey`), `tick_prices` and `trades` each return ONE
persisted frame per session and input version, through
`memo.session_memo`:
  * key: (sf_dir, derived table name) within the session's
    applicationId;
  * version: the size and mtime of every source parquet file
    (`io.table_stamp`, read with os.stat on each call) — a rewritten
    input supersedes the entry, which unpersists the old frame
    before the new one is built;
  * layout: ONE partition — the (ticker, ts) min-aggregates with
    their map-side combine kept, the trade ledger as its per-row
    projection of `events`;
  * lazy: `.persist()` runs no job; the first query that reads the
    frame builds the cache, later ones scan it.
Why one partition: every price consumer windows or aggregates per
ticker, every ledger consumer groups, windows or sorts per user, per
(user, ticker) or globally. Spark keeps a cached plan's output
partitioning (with
spark.sql.optimizer.canChangeCachedPlanOutputPartitioning at its
default, false), and a single partition satisfies any clustering or
ordering, so those operators plan no shuffle over the cached scan and
a warm consumer runs as one job. The two ledger folds see the same
layout and skip their repartition (`fold.cluster_by_key`). A join
between two frames computed from the memos runs inside their one
task too (`partitioning.one_partition_join`): a shuffle-hash join,
whose one-partition children EnsureRequirements leaves unshuffled,
in place of the broadcast Catalyst would plan, which runs as a job
of its own.
Two caveats: the planner keeps those children unshuffled only while
Catalyst's size estimate of each is at most
spark.sql.maxSinglePartitionBytes, an estimate that can run orders
of magnitude above the real size (generators and windows inflate
it), so the helper falls back to the broadcast above it; and a price
memo plans an unknown partitioning until its first reader has built
it (its build runs a shuffle), so a join constructed before that
broadcasts. The layout
is measured, not sized by a rule: `tick_prices` is 150 rows over 5
tickers at every sf, the four `prices` consumers ran as fast from one
partition as from hash(ticker) into 4 at sf0.1 (596k rows; 4-core
host, local[4]), and the ledger is 100k rows at sf0.1 (its consumers'
timings are in CHANGES.md). A hash layout waits for a workload whose
table needs it (ROADMAP item 2). Not memoized: `prices(...,
max_partkey=k)`, whose bound must reach the parquet scan;
`trades_projection`, which also maps streaming frames; and
`raw_trades`, which one query reads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .io import read_table, table_stamp
from .memo import session_memo

DEC = "decimal(38,10)"


def dsum(col):
    """Order-insensitive exact sum of a double expression (see module
    docstring). Returns a decimal column — caller rounds + casts."""
    return F.sum(col.cast(DEC))


def _session_table(spark: SparkSession, sf_dir: str, name: str,
                   table: str, derivation) -> DataFrame:
    """The session's persisted, single-partition `derivation` of
    `table`, memoized as `name` (module docstring: "Session-memoized
    derived tables")."""
    def build():
        # repartitioning into one partition is a gather, which Spark
        # plans as a SinglePartition shuffle; coalesce(1) gives the
        # same layout without writing the table to a second shuffle
        frame = derivation(read_table(spark, sf_dir, table))
        return frame.coalesce(1).persist()

    return session_memo(spark, ("derived", sf_dir, name), build,
                        stamp=table_stamp(sf_dir, table))


def prices(spark: SparkSession, sf_dir: str,
           max_partkey: int | None = None) -> DataFrame:
    """prices(ticker, ts, close) from lineitem.

    ticker = 'P' || l_partkey, ts = date(l_shipdate),
    close = min(l_extendedprice) per (ticker, ts)  [min: exact,
    order-insensitive — no float accumulation].
    Sparse per ticker by construction → exercises ffill/interpolation
    (reference 1_Dashboard.py:82,117).

    Without `max_partkey` this is the session-memoized table; with it,
    a lazy derivation whose bound is applied to l_partkey BEFORE
    deriving ticker, so the predicate reaches the parquet scan (a
    filter on the derived 'P'||key string cannot push down).
    """
    if max_partkey is None:
        return _session_table(spark, sf_dir, "prices", "lineitem",
                              _prices_of)
    li = read_table(spark, sf_dir, "lineitem")
    return _prices_of(li.filter((F.col("l_partkey") >= 1)
                                & (F.col("l_partkey") <= max_partkey)))


def _prices_of(li: DataFrame) -> DataFrame:
    return (li.select(
                F.concat(F.lit("P"), F.col("l_partkey")).alias("ticker"),
                F.to_date("l_shipdate").alias("ts"),
                F.col("l_extendedprice"))
            .groupBy("ticker", "ts")
            .agg(F.min("l_extendedprice").alias("close")))


def trades_projection(ev: DataFrame) -> DataFrame:
    """The events→trades per-row mapping, applicable to a batch OR
    streaming events frame (pure projection, no aggregation)."""
    return ev.select(
        F.col("event_id").alias("id"),
        F.concat(F.lit("u"), F.col("user_id")).alias("user"),
        F.col("event_type").alias("ticker"),
        F.col("ts"),
        F.when(F.col("event_id") % 3 == 0, F.lit("SELL"))
         .otherwise(F.lit("BUY")).alias("side"),
        (F.lit(1.0) + (F.col("event_id") % 10).cast("double")).alias("qty"),
        (F.abs(F.col("value")) + F.lit(1.0)).alias("price"),
        ((F.col("event_id") % 5).cast("double") * F.lit(0.25)).alias("fee"),
    )


def trades(spark: SparkSession, sf_dir: str) -> DataFrame:
    """trades(id, user, ticker, ts, side, qty, price, fee) from events.

    Deterministic per-row mapping (no aggregation → bit-exact):
      id = event_id (monotone, replay tiebreak — SURVEY §2.9)
      user = 'u' || user_id, ticker = event_type
      side = SELL when event_id % 3 = 0 else BUY
      qty = 1 + (event_id % 10), price = abs(value) + 1, fee = (event_id % 5) * 0.25
    The ledger may oversell — the reference fold clamps sells
    (portfolio.py:37,106), so any ledger is valid fold input.
    Session-memoized in one partition (module docstring).
    """
    return _session_table(spark, sf_dir, "trades", "events",
                          trades_projection)


def raw_trades(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A deliberately dirty trade batch (validation-rule fixture):
    qty can be 0, side can be 'HOLD', price/fee can go non-positive,
    user can be blank — exercises every P9 constraint
    (trades.py:14-26)."""
    ev = read_table(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").alias("id"),
        F.when(F.col("user_id") % 50 == 0, F.lit(""))
         .otherwise(F.concat(F.lit("u"), F.col("user_id"))).alias("user"),
        F.col("event_type").alias("ticker"),
        F.col("ts"),
        F.when(F.col("event_id") % 3 == 0, F.lit("SELL"))
         .when(F.col("event_id") % 3 == 1, F.lit("BUY"))
         .otherwise(F.lit("HOLD")).alias("side"),
        (F.col("event_id") % 10).cast("double").alias("qty"),
        (F.col("value") - F.lit(50.0)).alias("price"),
        (F.col("value") - F.lit(100.0)).alias("fee"),
    )


def tick_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily close series for the *traded* tickers (event types), so
    trades ⟕ prices joins have matching keys: close = min(value) per
    (event_type, date). min: exact, order-insensitive.
    Session-memoized (module docstring)."""
    return _session_table(spark, sf_dir, "tick_prices", "events",
                          _tick_prices_of)


def _tick_prices_of(ev: DataFrame) -> DataFrame:
    return (ev.select(F.col("event_type").alias("ticker"),
                      F.to_date("ts").alias("ts"),
                      F.col("value"))
            .groupBy("ticker", "ts")
            .agg(F.min("value").alias("close")))


def universe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """universe(name_display, yf_symbol, segment, search_blob, display)
    from part — the searchable securities master
    (app/services/universe.py:25-60).

    search_blob = lower(name ' ' symbol ' ' symbol-without-'.ST');
    display = name || ' (' || symbol || ')' — mirrors universe.py:50-57.
    """
    part = read_table(spark, sf_dir, "part")
    name = F.regexp_replace(F.trim(F.col("p_name")), r"\s+", " ")
    sym = F.col("p_brand")
    return part.select(
        name.alias("name_display"),
        sym.alias("yf_symbol"),
        F.col("p_type").alias("segment"),
        F.lower(F.concat_ws(" ", name, sym,
                            F.regexp_replace(sym, r"\.ST$", ""))).alias("search_blob"),
        F.concat(name, F.lit(" ("), sym, F.lit(")")).alias("display"),
    )
