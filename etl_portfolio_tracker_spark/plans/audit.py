"""Plan-string extractors used by tests and the PLANS.md audit.

All functions take a DataFrame and parse the *executed* (adaptive-
final where applicable) physical plan. String parsing is the only
stable public surface for this in PySpark; each regex targets the
formatted-plan vocabulary that has been stable across Spark 3.x/4.x
(`PushedFilters:`, `PartitionFilters:`, `ReadSchema:`, `Exchange`,
`BroadcastHashJoin`).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """The executed physical plan as text (pre-execution: the initial
    adaptive plan; after an action: the final one)."""
    return df._jdf.queryExecution().executedPlan().toString()


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters that reached the parquet scan (predicate pushdown)."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", physical_plan(df)):
        out.extend(s.strip() for s in m.group(1).split(",") if s.strip())
    return out


def partition_filters(df: DataFrame) -> list[str]:
    """Partition-pruning predicates on the scan."""
    out: list[str] = []
    for m in re.finditer(r"PartitionFilters: \[([^\]]*)\]", physical_plan(df)):
        out.extend(s.strip() for s in m.group(1).split(",") if s.strip())
    return out


def scan_columns(df: DataFrame) -> list[list[str]]:
    """Column names each scan actually reads (column pruning): one
    list per scan in plan order."""
    plans = re.findall(r"ReadSchema: struct<([^>]*)>", physical_plan(df))
    return [[c.split(":")[0].strip() for c in p.split(",") if c.strip()]
            for p in plans]


def exchanges(df: DataFrame, key: str | None = None) -> list[str]:
    """Exchange (shuffle) lines in the plan; optionally only those
    whose partitioning mentions `key`."""
    lines = [ln.strip() for ln in physical_plan(df).splitlines()
             if "Exchange" in ln and "BroadcastExchange" not in ln]
    if key is not None:
        lines = [ln for ln in lines if key in ln]
    return lines


def broadcast_joins(df: DataFrame) -> int:
    """Number of broadcast hash joins in the plan."""
    return len(re.findall(r"BroadcastHashJoin", physical_plan(df)))


def single_partition_rows(df: DataFrame) -> list[int]:
    """Rows actually written into each ``Exchange SinglePartition`` of
    the FINAL executed adaptive plan (call after an action, e.g.
    ``df.collect()``) — the measured form of the scale-killer check.

    A SinglePartition exchange funnels its whole input through ONE
    task; that is fine for O(model) frames (scalar counts, per-
    partition offset tables, top-k heads) and fatal for fact-sized
    input (the round-5 ``ntile``/``percent_rank`` global windows).
    Structural plan inspection cannot tell the two apart — a
    HashAggregate child may reduce to 32 rows or to |customers| — so
    this reads the ``shuffleRecordsWritten`` metric off each exchange
    instead and lets the caller threshold it. Reused exchanges /
    AQE query stages are unwrapped and deduped by plan node id."""
    out: list[int] = []
    seen: set[int] = set()
    for node in _executed_nodes(df):
        if node.getClass().getSimpleName() != "ShuffleExchangeExec":
            continue
        nid = node.id()
        if nid in seen:
            continue
        seen.add(nid)
        if node.outputPartitioning().toString() == "SinglePartition":
            it = node.metrics().iterator()
            written = 0
            while it.hasNext():
                kv = it.next()
                if kv._1() == "shuffleRecordsWritten":
                    written = kv._2().value()
            out.append(int(written))
    return out


def single_partition_cache_scans(df: DataFrame) -> list[int]:
    """Row count of each in-memory table scan in the executed plan
    whose output is ONE partition (call after an action, so the cache
    is built and its row count known).

    A session-memoized table laid out by ``coalesce(1)`` funnels its
    readers through one task as surely as an ``Exchange
    SinglePartition`` does, yet plans no exchange, so
    `single_partition_rows` cannot see it. This is a report, not a
    check: a one-partition memo is a deliberate layout, and its row
    count says when it stops being a cheap one. Scans are deduped by
    cached relation."""
    out: list[int] = []
    seen: set[int] = set()
    for node in _executed_nodes(df):
        if node.getClass().getSimpleName() != "InMemoryTableScanExec":
            continue
        # the scan's partitioning, which is what its readers plan
        # against (an adaptive cached plan reports an unknown one)
        builder = node.relation().cacheBuilder()
        cached = builder.cachedPlan().id()
        if node.outputPartitioning().numPartitions() == 1 \
                and cached not in seen:
            seen.add(cached)
            out.append(int(builder.rowCountStats().value()))
    return out


def _executed_nodes(df: DataFrame):
    """The nodes of the executed plan in pre-order, with AQE's
    wrappers unwrapped: an adaptive plan yields its current plan's
    nodes, a query stage or reused exchange its plan's."""
    def walk(node):
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            yield from walk(node.executedPlan())
            return
        if "QueryStageExec" in cls or cls == "ReusedExchangeExec":
            try:
                inner = node.plan()
            except Exception:
                inner = None  # no plan(): walk its children instead
            if inner is not None:
                yield from walk(inner)
                return
        yield node
        ch = node.children()
        for i in range(ch.size()):
            yield from walk(ch.apply(i))

    return walk(df._jdf.queryExecution().executedPlan())
