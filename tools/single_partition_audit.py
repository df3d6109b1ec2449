"""Registry-wide SinglePartition scale-killer audit (round-6,
VERDICT r5 item 4).

Executes every ``queries()`` entry at the given sf, then reads the
``shuffleRecordsWritten`` metric off every ``Exchange SinglePartition``
in the FINAL adaptive plan (plans.single_partition_rows). A query
FAILS if any single-partition exchange received more than THRESHOLD
rows and is not allowlisted with a justification below.

Why measured, not structural: a SinglePartition exchange fed by a
HashAggregate may hold 32 rows (ranged_cumsum's O(parts) offset
table — fine) or |customers| rows (the round-5 percent_rank window —
fatal at 100 TB); the plan string cannot tell them apart, the runtime
metric can. THRESHOLD=1000 at sf0.01 sits an order of magnitude above
every legitimate O(model) frame in the repo (32-partition offset
tables, k<=100 top-k heads, d<=64 model states, 9-digit Benford
rows) and well below the smallest fact-scaling cardinality
(|customers| = 1500 at sf0.01).

A session-memoized table laid out by ``coalesce(1)`` is a one-
partition input too, but plans no ``Exchange SinglePartition``. Each
line therefore also lists, as ``cached_1p``, the row count of every
one-partition in-memory table scan the query reads
(plans.single_partition_cache_scans), and the summary names the
largest. That column is a report, never a failure: the layout is
deliberate (derive.py docstring), and the row counts show when a memo
outgrows it.

Usage: python tools/single_partition_audit.py [sf_dir] [query ...]
Exit code 1 if any non-allowlisted query exceeds the threshold.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

THRESHOLD = 1000

# name -> justification for an above-threshold SinglePartition feed.
# Every entry must say why the frame is O(model)/bounded, not
# fact-scaling. (Empty after the round-6 rank rewrites — kept as the
# mechanism so the next violation needs an explicit, reviewable row.)
ALLOWLIST: dict[str, str] = {}


def main() -> int:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.01"
    if args and "/" in args[0]:
        sf_dir, args = args[0], args[1:]

    import __spark_entry__ as E
    from etl_portfolio_tracker_spark.plans import (
        single_partition_cache_scans, single_partition_rows)
    from etl_portfolio_tracker_spark.session import get_spark

    spark = get_spark("sp_audit")
    qs = E.queries()
    names = args or list(qs)
    failures = []
    cached_1p: dict[str, int] = {}  # query -> largest one-partition cache
    for name in names:
        t0 = time.time()
        try:
            df = qs[name](spark, sf_dir)
            df.collect()
            rows = single_partition_rows(df)
            cached = single_partition_cache_scans(df)
        except Exception as ex:  # noqa: BLE001
            print(f"ERR  {name}: {str(ex)[:120]}")
            failures.append(name)
            continue
        worst = max(rows, default=0)
        status = "ok"
        if worst > THRESHOLD:
            if name in ALLOWLIST:
                status = f"allow ({ALLOWLIST[name]})"
            else:
                status = "FAIL"
                failures.append(name)
        if cached:
            cached_1p[name] = max(cached)
        print(f"{status:5s} {name}: sp_exchanges={rows} worst={worst} "
              f"cached_1p={cached} [{time.time()-t0:.1f}s]")
    print(f"\n{len(names) - len(failures)} ok / {len(failures)} fail "
          f"(threshold {THRESHOLD} rows into any SinglePartition)")
    if cached_1p:
        top = max(cached_1p, key=cached_1p.get)
        print(f"report: {len(cached_1p)} queries read a one-partition "
              f"cached scan; largest {cached_1p[top]} rows ({top})")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
