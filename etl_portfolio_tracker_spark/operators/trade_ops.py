"""Trade write-path operators (reference app/services/trades.py):
P9 row-validity constraints, P10 oversell guard, S6 append sink.

The reference validates one trade at a time before an INSERT
(trades.py:14-26, 40-64); the engine validates whole batches as
DataFrame predicates — same rules, set-at-a-time, so ingest at scale
is one scan producing (valid, violations) splits. The oversell guard
is the read-before-write aggregate compare (trades.py:51-54), batch
form; the per-event streaming form lives in streaming/stateful.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .fold import cluster_by_key


EPS = 1e-12  # trades.py:53


def _rules() -> dict[str, F.Column]:
    """P9 constraints (trades.py:14-26): each rule is True when VIOLATED."""
    return {
        "bad_user": F.col("user").isNull() | (F.trim(F.col("user")) == ""),
        "bad_ticker": F.col("ticker").isNull() | (F.trim(F.col("ticker")) == ""),
        "bad_side": ~F.upper(F.trim(F.col("side"))).isin("BUY", "SELL"),
        "bad_qty": F.col("qty").isNull() | (F.col("qty") <= 0),
        "bad_price": F.col("price").isNull() | (F.col("price") <= 0),
        "bad_fee": F.col("fee").isNull() | (F.col("fee") < 0),
        "bad_ts": F.col("ts").isNull(),
    }


def validate_trades(trades: DataFrame) -> DataFrame:
    """Row-level rule flags + overall validity. Pure map stage."""
    df = trades
    rules = _rules()
    for name, cond in rules.items():
        df = df.withColumn(name, cond)
    valid = None
    for name in rules:
        bad = F.col(name)
        valid = bad if valid is None else (valid | bad)
    return df.withColumn("is_valid", ~valid)


def violation_counts(trades: DataFrame) -> DataFrame:
    """Per-rule violation totals — the batch QA report."""
    rules = _rules()
    return trades.agg(
        F.count("*").alias("n_rows"),
        *[F.sum(cond.cast("long")).alias(name) for name, cond in rules.items()])


def reject_oversells(trades: DataFrame) -> DataFrame:
    """P10 batch form: a SELL is rejected when its qty exceeds the
    holding accumulated from *accepted prior* trades of the same
    (user, ticker) in (ts, id) order.

    NOTE semantics: the reference applies the guard at write time, so
    each rejection changes the base for subsequent sells — a
    sequential fold, not a window (a rejected sell must not decrease
    the running position). Implemented on the same sorted-partition
    mapInPandas chassis as operators/fold.py; returns trades with an
    `accepted` flag.
    """
    import pandas as pd
    from collections.abc import Iterator
    from pyspark.sql import types as T

    cols = trades.select("id", "user", "ticker", "ts", "side", "qty",
                         "price", "fee")
    out_schema = T.StructType(
        cols.schema.fields + [T.StructField("accepted", T.BooleanType())])

    def _guard(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cur = None
        held = 0.0
        for pdf in batches:
            acc = []
            for user, ticker, side, qty in zip(
                    pdf["user"].values, pdf["ticker"].values,
                    pdf["side"].values, pdf["qty"].values):
                key = (user, ticker)
                if key != cur:
                    cur = key
                    held = 0.0
                qty = float(qty)
                if side == "BUY":
                    held += qty
                    acc.append(True)
                elif qty > held + EPS:   # oversell → rejected, no state change
                    acc.append(False)
                else:
                    held -= qty
                    acc.append(True)
            pdf = pdf.copy()
            pdf["accepted"] = acc
            yield pdf

    return (cluster_by_key(cols, "user", "ticker")
            .sortWithinPartitions("user", "ticker", "ts", "id")
            .mapInPandas(_guard, schema=out_schema))


def record_trades(ledger: DataFrame, batch: DataFrame) -> DataFrame:
    """S6 append path: validate (P9), guard oversells against the
    combined ledger (P10), and return the new ledger. The driver-side
    single-row `record_trade` of the reference becomes an idempotent
    batch append."""
    combined = ledger.unionByName(batch)
    guarded = reject_oversells(combined)
    return guarded.filter(F.col("accepted")).drop("accepted")
