"""The benchmark's workloads.

Each workload exposes ``ops(seed)`` (the seeded operation order of one
iteration), ``generate(sf, seed)`` (its seeded inputs, made before the
session starts), ``warmup(ctx)``, ``iteration(ctx, seed, i)`` and
``skips``, the prefixes of the layer metrics of the layers it never
calls. An iteration appends one record per operation to ``ctx.ops`` and keeps
every fetched result in ``ctx.results`` for the oracle check, which
runs after the timed window.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from collections import defaultdict
from dataclasses import dataclass, field

# The Dashboard and Trades page queries of the reference app; one page
# cycle issues each of them once.
DASHBOARD_QUERIES = (
    "positions", "avg_costs", "cash_balance", "realized_pnl",
    "latest_prices", "overview", "overview_full", "trades_list",
    "trade_validation", "oversell_guard", "universe_search",
    "price_range_scan", "asof_prices", "daily_returns", "drawdown",
    "twr_index", "benchmark_overlay", "portfolio_twr",
    "twr_with_benchmark", "portfolio_value_series", "cum_position_series",
    "cash_series", "first_holding_day", "current_qty")

# Consumers of the shared curation state: the two dedup verify kernels
# and two plain readers. The others are left out to fit the run budget
# (README.md, "Why two workloads").
CURATION_CONSUMERS = (
    "minhash_verified", "tfidf_cosine_verified", "corpus_prune",
    "leakage_safe_split")

OP_TIMEOUT_S = 60.0  # an op slower than this counts as timed out


@dataclass
class Ctx:
    spark: object
    E: object               # the __spark_entry__ module
    sf: str                 # input directory
    work: str               # scratch directory inside the checkout
    tracer: object
    ops: list = field(default_factory=list)
    results: list = field(default_factory=list)  # (op index, kind, payload)
    layer: dict = field(default_factory=lambda: defaultdict(float))

    def record(self, op, kind, seconds, error=None):
        self.ops.append({"op": op, "kind": kind, "s": seconds,
                         "error": error,
                         "timeout": seconds > OP_TIMEOUT_S})
        return len(self.ops) - 1


def _seeded(names, seed, salt):
    order = list(names)
    random.Random(f"{salt}:{seed}").shuffle(order)
    return order


def run_query(ctx: Ctx, name: str):
    """One request: ``queries()[name](spark, sf)`` plus its Arrow
    ``toPandas()``."""
    tr = ctx.tracer
    t0 = time.perf_counter()
    pdf = err = None
    try:
        with tr.request(name, len(ctx.ops)):
            with tr.span("construct"):
                df = ctx.E.queries()[name](ctx.spark, ctx.sf)
            tr.frame(df)
            with tr.span("execute_fetch"):
                pdf = df.toPandas()
    except Exception as ex:  # counted, never dropped
        err = f"{type(ex).__name__}: {ex}"[:300]
    i = ctx.record(name, "query", time.perf_counter() - t0, err)
    if pdf is not None:
        tr.fetched(pdf)
        ctx.results.append((i, "oracle", (name, pdf)))


class Dashboard:
    name = "dashboard"
    queries = DASHBOARD_QUERIES
    # layers this workload never calls; they report 0 in traced runs
    skips = ("curation_state.", "etl.", "streaming.")

    @staticmethod
    def ops(seed):
        return _seeded(DASHBOARD_QUERIES, seed, "dashboard")

    def generate(self, sf, seed):
        pass

    def warmup(self, ctx):
        for name in DASHBOARD_QUERIES:
            run_query(ctx, name)

    def iteration(self, ctx, seed, i):
        for name in self.ops(f"{seed}:{i}"):
            run_query(ctx, name)


class Curation:
    """One curation batch, then the day's new prices landed: reset and
    rebuild the shared near-dup state, fetch its consumers in seeded
    order, then run the write path (``PriceIngest``)."""

    name = "curation"
    queries = CURATION_CONSUMERS
    # the Python stages of the curation kernels run behind eager
    # checkpoints, so the fetched plans carry no Python-worker metrics
    skips = ("python_worker.",)

    def __init__(self):
        self.ingest = PriceIngest()

    @staticmethod
    def ops(seed):
        return (["build"] + _seeded(CURATION_CONSUMERS, seed, "curation")
                + list(PriceIngest.OPS))

    def generate(self, sf, seed):
        self.ingest.generate(sf, seed)

    def build(self, ctx):
        """Reset the shared near-dup state and rebuild it."""
        tr = ctx.tracer
        t0 = time.perf_counter()
        err = None
        try:
            with tr.request("build", len(ctx.ops)):
                ctx.E._curation_reset(ctx.spark)
                with tr.span("build"):
                    ctx.E._curation(ctx.spark, ctx.sf)
        except Exception as ex:
            err = f"{type(ex).__name__}: {ex}"[:300]
        ctx.record("build", "build", time.perf_counter() - t0, err)

    def warmup(self, ctx):
        self.iteration(ctx, "warmup", 0)

    def iteration(self, ctx, seed, i):
        for name in self.ops(f"{seed}:{i}"):
            if name == "build":
                self.build(ctx)
            elif name in CURATION_CONSUMERS:
                run_query(ctx, name)
        self.ingest.run(ctx, os.path.join(ctx.work, f"ingest_{i}_{seed}"))


class PriceIngest:
    """The write path: two seeded price batches through the batch ETL
    (``jobs.run_price_etl``) with a read-back after each
    (``io.read_prices_range``), then the same batches drained one by one
    through the streaming ingest (``read_price_stream`` ->
    ``dedup_stream`` -> ``write_idempotent``)."""

    n_batches = 2
    redeliver_share = 0.2
    OPS = ("etl_batch_0", "etl_batch_1", "etl_target",
           "drain_batch_0", "drain_batch_1", "stream_sink")

    def generate(self, sf, seed):
        """Price batches from ``lineitem`` (DuckDB, not the engine): two
        contiguous ship-date slices split at a seeded day; the second
        re-delivers a seeded share of the first's keys, half of them
        with a changed close; a seeded one of the two arrives in the
        wide layout."""
        import duckdb
        rng = random.Random(f"ingest:{seed}")
        rows = duckdb.sql(f"""
            SELECT 'P' || lpad(CAST(l_partkey AS VARCHAR), 6, '0') AS ticker,
                   CAST(l_shipdate AS DATE) AS ts,
                   round(min(l_extendedprice / l_quantity), 2) AS close
            FROM read_parquet('{sf}/lineitem.parquet')
            GROUP BY 1, 2 ORDER BY 2, 1""").fetchall()
        days = sorted({r[1] for r in rows})
        n = self.n_batches
        cuts = [0] + sorted(
            int(len(days) * (k + rng.uniform(-0.2, 0.2)) / n)
            for k in range(1, n)) + [len(days)]
        wide = rng.randrange(n)
        batches, prev = [], []
        for b in range(n):
            lo, hi = days[cuts[b]], days[cuts[b + 1] - 1]
            new = [r for r in rows if lo <= r[1] <= hi]
            again = rng.sample(prev, int(len(prev) * self.redeliver_share))
            again = [(t, d, c + 1.0 if k % 2 else c)
                     for k, (t, d, c) in enumerate(again)]
            batches.append({"rows": new + again, "new": new,
                            "lo": lo, "hi": hi, "wide": b == wide})
            prev = new
        self.batches = batches
        self.expected = {(t, d): c for t, d, c in rows}

    @staticmethod
    def _write(rows, path, wide):
        import datetime as dt
        import pyarrow as pa
        import pyarrow.parquet as pq
        ts = [dt.datetime.combine(d, dt.time()) for _, d, _ in rows]
        if wide:
            days = sorted(set(ts))
            pos = {d: i for i, d in enumerate(days)}
            cols = {}
            for (t, _, c), d in zip(rows, ts):
                cols.setdefault(t, [None] * len(days))[pos[d]] = c
            table = pa.table({"ts": pa.array(days, pa.timestamp("us")),
                              **{t: pa.array(v, pa.float64())
                                 for t, v in sorted(cols.items())}})
        else:
            table = pa.table({
                "ticker": pa.array([r[0] for r in rows], pa.string()),
                "ts": pa.array(ts, pa.timestamp("us")),
                "close": pa.array([r[2] for r in rows], pa.float64())})
        pq.write_table(table, path)

    def run(self, ctx, base):
        from etl_portfolio_tracker_spark import io as eio
        from etl_portfolio_tracker_spark import jobs
        from etl_portfolio_tracker_spark.streaming import ingest as sing
        tr = ctx.tracer
        shutil.rmtree(base, ignore_errors=True)
        target = os.path.join(base, "prices")
        stream_src = os.path.join(base, "stream_src")
        os.makedirs(stream_src)
        srcs = []
        for b, batch in enumerate(self.batches):
            src = os.path.join(base, f"batch_{b}.parquet")
            self._write(batch["rows"], src, batch["wide"])
            long_src = os.path.join(base, f"long_{b}.parquet")
            self._write(batch["rows"], long_src, False)
            srcs.append((src, long_src))
        written = 0
        for b, batch in enumerate(self.batches):
            t0 = time.perf_counter()
            err = pdf = None
            try:
                with tr.request(f"etl_batch_{b}", len(ctx.ops)):
                    with tr.span("upsert"):
                        counts = jobs.run_price_etl(
                            ctx.spark, srcs[b][0], target, wide=batch["wide"])
                    with tr.span("read_back"):
                        pdf = eio.read_prices_range(
                            ctx.spark, target, str(batch["lo"]),
                            str(batch["hi"])).toPandas()
            except Exception as ex:
                err = f"{type(ex).__name__}: {ex}"[:300]
            k = ctx.record(f"etl_batch_{b}", "etl",
                           time.perf_counter() - t0, err)
            if pdf is not None:
                written += dir_size(target)[0]  # the whole target is rewritten
                ctx.results.append((k, "rows", (pdf, {
                    (t, d): c for t, d, c in batch["new"]})))
                ctx.layer["etl.rows_offered"] += len(batch["rows"])
                ctx.layer["etl.rows_inserted"] += counts["inserted"]
        size, files = dir_size(target)
        ctx.layer["etl.bytes_written"] += written
        ctx.layer["etl.files"] += files
        ctx.layer["etl.target_bytes"] += size
        ctx.layer["etl.landed_rows"] += len(self.expected)
        k = ctx.record("etl_target", "check", 0.0)
        ctx.results.append((k, "target", (target, self.expected)))
        sink = os.path.join(base, "sink")
        for b in range(len(self.batches)):
            shutil.copy(srcs[b][1], os.path.join(stream_src, f"b{b}.parquet"))
            t0 = time.perf_counter()
            err = None
            try:
                with tr.request(f"drain_batch_{b}", len(ctx.ops)):
                    with tr.span("drain"):
                        q = sing.write_idempotent(
                            sing.dedup_stream(sing.read_price_stream(
                                ctx.spark, stream_src)),
                            sink, os.path.join(base, "ckpt"))
                        if not q.awaitTermination(OP_TIMEOUT_S * 2):
                            q.stop()
                            raise TimeoutError("stream drain did not finish")
                        if q.exception() is not None:
                            raise RuntimeError(str(q.exception()))
            except Exception as ex:
                err = f"{type(ex).__name__}: {ex}"[:300]
            ctx.record(f"drain_batch_{b}", "drain",
                       time.perf_counter() - t0, err)
        k = ctx.record("stream_sink", "check", 0.0)
        ctx.results.append((k, "target", (sink, self.expected)))


def dir_size(path):
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


WORKLOADS = {w.name: w for w in (Dashboard, Curation)}
