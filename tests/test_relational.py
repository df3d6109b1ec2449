"""Golden-scenario tests from FIXTURES.md §2 for the relational core
(the reference's own self-test sequences, portfolio.py:130-165)."""

import datetime as dt

from etl_portfolio_tracker_spark import schemas
from etl_portfolio_tracker_spark.operators import relational as R


def ledger(spark, rows):
    data = [
        (i + 1, "demo", "TICK", dt.datetime(2025, 1, 1) + dt.timedelta(minutes=i),
         side, float(qty), float(price), float(fee))
        for i, (side, qty, price, fee) in enumerate(rows)
    ]
    return spark.createDataFrame(data, schema=schemas.TRADES)


def test_positions_scenario_a(spark):
    # BUY 10@200, SELL 4@220, BUY 6@210 → qty 12 (FIXTURES §2.1)
    t = ledger(spark, [("BUY", 10, 200, 0), ("SELL", 4, 220, 0), ("BUY", 6, 210, 0)])
    rows = R.positions(t).collect()
    assert len(rows) == 1 and rows[0]["qty"] == 12.0


def test_positions_drops_flat(spark):
    t = ledger(spark, [("BUY", 5, 100, 0), ("SELL", 5, 110, 0)])
    assert R.positions(t).count() == 0


def test_cash_scenario_a(spark):
    # cash = 1_000_000 − 2000 + 880 − 1260 = 997620 (FIXTURES §2.1)
    t = ledger(spark, [("BUY", 10, 200, 0), ("SELL", 4, 220, 0), ("BUY", 6, 210, 0)])
    rows = R.cash_balance(t).collect()
    assert rows[0]["cash"] == 997620.0


def test_current_qty(spark):
    t = ledger(spark, [("BUY", 10, 200, 0), ("SELL", 5, 210, 0)])
    assert R.current_qty(t, "demo", "TICK").collect()[0]["qty"] == 5.0
    assert R.current_qty(t, "demo", "NOPE").collect()[0]["qty"] == 0.0


def test_latest_and_asof_prices(spark):
    p = spark.createDataFrame(
        [("A", dt.date(2025, 1, 1), 10.0), ("A", dt.date(2025, 1, 5), 12.0),
         ("B", dt.date(2025, 1, 3), 7.0)],
        schema=schemas.PRICES)
    last = {r["ticker"]: (r["last_close"], r["last_ts"]) for r in R.latest_prices(p).collect()}
    assert last == {"A": (12.0, dt.date(2025, 1, 5)), "B": (7.0, dt.date(2025, 1, 3))}
    asof = {r["ticker"]: r["last_close"] for r in R.asof_prices(p, "2025-01-03").collect()}
    assert asof == {"A": 10.0, "B": 7.0}


def test_overview_market_value(spark):
    t = ledger(spark, [("BUY", 12, 205, 0)])
    p = spark.createDataFrame([("TICK", dt.date(2025, 1, 2), 230.0)], schema=schemas.PRICES)
    row = R.overview(t, p).collect()[0]
    assert row["market_value"] == 12 * 230.0


def test_trades_list_order(spark):
    t = ledger(spark, [("BUY", 1, 10, 0), ("SELL", 1, 11, 0), ("BUY", 2, 12, 0)])
    ids = [r["id"] for r in R.trades_list(t, "demo").collect()]
    assert ids == [1, 2, 3]


def test_idempotent_append(spark, tmp_path):
    from etl_portfolio_tracker_spark.jobs import run_price_etl
    tgt = str(tmp_path / "prices")

    def load(name, rows):
        src = str(tmp_path / name)
        spark.createDataFrame(rows, schema=schemas.PRICES) \
            .coalesce(1).write.parquet(src)
        run_price_etl(spark, src, tgt)

    load("p", [("A", dt.date(2025, 1, 1), 10.0)])
    load("batch",
         [("A", dt.date(2025, 1, 1), 99.0),   # duplicate key → ignored
          ("A", dt.date(2025, 1, 2), 11.0),
          ("A", dt.date(2025, 1, 2), 11.5)])  # in-batch dup → min wins
    out = {(r["ticker"], r["ts"]): r["close"]
           for r in spark.read.parquet(tgt).collect()}
    assert out == {("A", dt.date(2025, 1, 1)): 10.0,
                   ("A", dt.date(2025, 1, 2)): 11.0}


def test_incremental_positions_resurrects_zeroed_key(spark):
    # the IVM pitfall positions_state exists to avoid: a key netted to
    # ZERO in the base must still merge correctly with a later delta
    import datetime as dt
    from etl_portfolio_tracker_spark import schemas
    from etl_portfolio_tracker_spark.operators import relational as R
    rows = [(1, "u", "T", dt.datetime(2025, 1, 1), "BUY", 5.0, 10.0, 0.0),
            (2, "u", "T", dt.datetime(2025, 1, 2), "SELL", 5.0, 11.0, 0.0)]
    base = spark.createDataFrame(rows, schema=schemas.TRADES)
    delta = spark.createDataFrame(
        [(3, "u", "T", dt.datetime(2025, 1, 3), "BUY", 2.0, 12.0, 0.0)],
        schema=schemas.TRADES)
    state = R.positions_state(base)
    out = R.positions_from_state(
        R.merge_positions_state(state, delta)).collect()
    assert [(r["user"], r["ticker"], r["qty"]) for r in out] == [("u", "T", 2.0)]
    # and the naive filtered-positions baseline would have gotten it
    # right here too ONLY because full_outer resurrects the key; the
    # stored state must still be the unfiltered aggregate:
    assert R.positions_state(base).filter("qty = 0").count() == 1


def test_merge_positions_state_is_associative(spark):
    # merging deltas one at a time == merging their union: the property
    # that makes the maintenance correct under any batching
    import datetime as dt
    import random
    from etl_portfolio_tracker_spark import schemas
    from etl_portfolio_tracker_spark.operators import relational as R
    rng = random.Random(3)
    def trades(ids):
        rows = [(i, f"u{rng.randint(0, 3)}", f"T{rng.randint(0, 2)}",
                 dt.datetime(2025, 1, 1) + dt.timedelta(minutes=i),
                 rng.choice(["BUY", "SELL"]), float(rng.randint(1, 9)),
                 10.0, 0.0) for i in ids]
        return spark.createDataFrame(rows, schema=schemas.TRADES)
    base = trades(range(0, 30))
    d1, d2 = trades(range(30, 40)), trades(range(40, 50))
    s = R.positions_state(base)
    stepwise = R.merge_positions_state(R.merge_positions_state(s, d1), d2)
    atonce = R.merge_positions_state(s, d1.unionByName(d2))
    a = stepwise.orderBy("user", "ticker").toPandas()
    b = atonce.orderBy("user", "ticker").toPandas()
    assert a.equals(b)


def test_scd2_history_islands_and_current_flag(spark, tmp_path):
    # user 1: A,A,B,A -> three runs; user 2: single run, current.
    import datetime as dt
    rows = [(i, dt.datetime(2024, 1, 1, 0, i), u, t, 0.0, "{}")
            for i, (u, t) in enumerate(
                [(1, "A"), (1, "A"), (1, "B"), (1, "A"), (2, "C")])]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long,"
              " event_type string, value double, props string")
    p = str(tmp_path / "events.parquet")
    df.coalesce(1).write.parquet(p)
    # read_table expects <dir>/events.parquet
    import shutil, glob, os
    part = glob.glob(p + "/part-*.parquet")[0]
    shutil.move(part, str(tmp_path / "events.parquet.tmp"))
    shutil.rmtree(p)
    os.rename(str(tmp_path / "events.parquet.tmp"),
              str(tmp_path / "events.parquet"))
    from etl_portfolio_tracker_spark.operators import warehouse as WH
    out = WH.scd2_history(spark, str(tmp_path)).collect()
    u1 = [r for r in out if r["user_id"] == 1]
    assert [(r["run_seq"], r["event_type"], r["n_events"]) for r in u1] \
        == [(1, "A", 2), (2, "B", 1), (3, "A", 1)]
    # intervals chain: valid_to of run k == valid_from of run k+1
    assert u1[0]["valid_to"] == u1[1]["valid_from"]
    assert u1[1]["valid_to"] == u1[2]["valid_from"]
    assert u1[2]["is_current"] and u1[2]["valid_to"] is None
    u2 = [r for r in out if r["user_id"] == 2]
    assert len(u2) == 1 and u2[0]["is_current"]


def test_event_transitions_counts_and_rows_normalize(spark, tmp_path):
    import datetime as dt
    rows = [(i, dt.datetime(2024, 1, 1, 0, i), u, t, 0.0, "{}")
            for i, (u, t) in enumerate(
                [(1, "A"), (1, "B"), (1, "A"), (1, "B"),
                 (2, "A"), (2, "A")])]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long,"
              " event_type string, value double, props string")
    import glob, os, shutil
    p = str(tmp_path / "ev")
    df.coalesce(1).write.parquet(p)
    part = glob.glob(p + "/part-*.parquet")[0]
    shutil.move(part, str(tmp_path / "events.parquet"))
    shutil.rmtree(p)
    from etl_portfolio_tracker_spark.operators import warehouse as WH
    out = {(r["prev_type"], r["next_type"]): r
           for r in WH.event_transitions(spark, str(tmp_path)).collect()}
    # user1: A->B, B->A, A->B; user2: A->A
    assert out[("A", "B")]["n"] == 2
    assert out[("A", "A")]["n"] == 1
    assert out[("B", "A")]["n"] == 1 and out[("B", "A")]["p"] == 1.0
    # row A normalizes: 2/3 + 1/3
    assert out[("A", "B")]["p"] == round(2 / 3, 6)
    assert out[("A", "A")]["p"] == round(1 / 3, 6)


def test_order_backlog_sweep_line_invariants(spark):
    from etl_portfolio_tracker_spark.operators import warehouse as WH
    out = WH.order_backlog(spark, "/root/testdata/sf0.001").collect()
    # running sum of net changes ends at zero (every order closes)
    assert sum(r["net_change"] for r in out) == 0
    assert out[-1]["open_orders"] == 0
    # backlog is never negative and the series is week-ordered
    assert all(r["open_orders"] >= 0 for r in out)
    weeks = [r["week"] for r in out]
    assert weeks == sorted(weeks)
    # peak backlog is positive on real data
    assert max(r["open_orders"] for r in out) > 0
