"""Round-4 cost attribution for the streaming replay family: how much
of streaming_fold_replay's wall time is FIXED Structured-Streaming
engine overhead (query planning, state-store setup/commit per
partition, memory-sink bookkeeping) vs actual state processing?

Method: run the IDENTICAL stateful pipeline (same trades_projection →
applyInPandasWithState → memory sink, same STATE_PARTITIONS) twice —
once over the real events table, once over the same stream filtered
to zero rows upstream of the stateful operator (the engine still
plans, opens and commits every state-store partition). The delta is
the data-dependent part; the empty run is the floor any streaming
query pays per replay.

Feeds the BASELINE.md streaming-overhead note; re-run when bumping
Spark or STATE_PARTITIONS.

Usage: python tools/streaming_overhead_probe.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from etl_portfolio_tracker_spark.session import get_spark  # noqa: E402
from etl_portfolio_tracker_spark.streaming import replay as RP  # noqa: E402
from etl_portfolio_tracker_spark.streaming.stateful import (  # noqa: E402
    streaming_portfolio_state, trades_projection)


def run_once(spark, sf_dir: str, empty: bool) -> float:
    name = "probe_" + uuid.uuid4().hex[:8]
    ev = RP._events_stream(spark, sf_dir)
    if empty:
        ev = ev.filter(F.lit(False))
    out = streaming_portfolio_state(trades_projection(ev))
    t0 = time.time()
    RP._run_to_completion(
        out.writeStream.format("memory").queryName(name)
           .outputMode("update").trigger(availableNow=True), name, 300)
    wall = time.time() - t0
    spark.sql(f"select count(*) from {name}").collect()
    return wall


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark()
    # one throwaway warm-up so JVM/classloading cost doesn't land on
    # the first measured run
    run_once(spark, sf_dir, empty=True)
    empty = min(run_once(spark, sf_dir, empty=True) for _ in range(3))
    full = min(run_once(spark, sf_dir, empty=False) for _ in range(3))
    print({"empty_stream_s": round(empty, 2),
           "full_stream_s": round(full, 2),
           "fixed_overhead_pct": round(100 * empty / full, 1),
           "state_partitions": RP.STATE_PARTITIONS}, flush=True)


if __name__ == "__main__":
    main()
