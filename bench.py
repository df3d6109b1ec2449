"""Benchmark harness: runs every registered query at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is timed end-to-end (plan + execute + full result fetch).
The fetch is Arrow-batched toPandas(), the path a real client (or a
parquet sink) would take — row-based collect() serializes wide results
one py4j object at a time and was costing 10× the query itself on
million-row outputs (7.9 s vs 0.7 s measured for minhash_lsh at
sf0.1). A warmup run of the flagship amortizes JVM/codegen startup so
numbers reflect steady-state throughput.

Noise handling: the bench host shows intermittent external load
spikes (same query measured 2.6 s and 53 s minutes apart with zero
CPU steal and no full GCs — host-level neighbor noise), so a single
sample conflates engine cost with machine weather. After the first
full pass, any query slower than max(1.5 s, 2× the pass median) is
re-timed once and the MIN is reported — the standard min-of-N
estimator, but bounded: the retry pass only touches the outliers, so
total wall stays ~1.5× a single pass even when the host is loaded
(an unconditional best-of-2 doubled exposure and could crawl past
30 min under contention).

Output contract: full per-query timings are written to
BENCH_FULL.json; the printed one-line JSON keeps the headline fields
plus as many per-query entries as fit under ~1.8 kB (failures and
slowest queries first), because the harness records only the last
2 kB of output — round 1's all-inline line was truncated there and
recorded as unparseable. Both carry `n_failed` and the `failed` query
names; a run with any failure exits 1.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as E  # noqa: E402
from etl_portfolio_tracker_spark.session import get_spark  # noqa: E402


def _calibrate(spark) -> dict:
    """Fixed-workload host-weather probe (VERDICT r7 item 2): one
    single-threaded Python spin loop and one single-task Spark job,
    timed before AND after the suite and recorded in the artifact.
    Identical code every run → the ratio between two artifacts'
    calibration fields IS the host-load ratio, so a per-query
    regression scan can mechanically discount machine weather instead
    of guessing (the r7 canonical was a loaded-host run and every
    diff against it was noise). ~1 s total on a quiet host."""
    t0 = time.perf_counter()
    x = 0
    for i in range(5_000_000):
        x += i * i
    py = time.perf_counter() - t0
    # one partition → one task: measures a single executor-thread's
    # effective speed under whatever else the host is running. One
    # untimed pass first: the probe's own codegen costs ~3 s cold,
    # which would make cal_before incomparable to cal_after.
    probe = lambda: (spark.range(0, 30_000_000, 1, 1)  # noqa: E731
                     .selectExpr("sum(id % 9999) AS s")  # ANSI-safe sum
                     .collect())
    probe()
    t0 = time.perf_counter()
    probe()
    jvm = time.perf_counter() - t0
    # 32-task parallel leg (VERDICT r8 item 2): the single-task probe
    # is blind to MULTI-core contention — the r8 canonical and driver
    # runs were both "quiet" by it yet disagreed 2.7x on a 32-core
    # query. A fixed 32-partition aggregation saturates every core at
    # once, so its wall is the effective parallel throughput under
    # whatever else the host runs; the band rule pins BOTH legs.
    probe32 = lambda: (spark.range(0, 960_000_000, 1, 32)  # noqa: E731
                       .selectExpr("sum(id % 9999) AS s")
                       .collect())
    probe32()
    t0 = time.perf_counter()
    probe32()
    jvm32 = time.perf_counter() - t0
    return {"python_spin_sec": round(py, 3),
            "spark_1task_sec": round(jvm, 3),
            "spark_32task_sec": round(jvm32, 3)}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench")

    qs = E.queries()
    # warmup: run the flagship once (JVM JIT, codegen cache, FS cache)
    try:
        qs["pricing_summary"](spark, sf_dir).toPandas()
    except Exception:
        pass
    cal_before = _calibrate(spark)

    def time_one(name: str, fn) -> float:
        t0 = time.time()
        try:
            fn(spark, sf_dir).toPandas()
            return time.time() - t0
        except Exception as ex:  # pragma: no cover
            print(f"bench error {name}: {ex!r}"[:300], file=sys.stderr)
            return -1.0

    # One-time shared curation state (the LSH+CC+verify pipeline that
    # leakage_safe_split/corpus_prune/... consume) is materialized and
    # timed as its OWN line item, so consumer queries report honest
    # warm numbers instead of whichever consumer runs first absorbing
    # the ~20 s build in a cold sample and losing it in the min-of-2
    # retry (the r5 driver-vs-canonical gap on minhash_estimate_error).
    timings: dict[str, float] = {}
    t0 = time.time()
    try:
        for frame in E._curation(spark, sf_dir).values():
            # the state dict also carries the persisted band-key
            # index PATH (r9, curation_serve) — only count frames
            if hasattr(frame, "count") and not isinstance(frame, str):
                frame.count()
        timings["_curation_build"] = time.time() - t0
    except Exception as ex:  # pragma: no cover
        print(f"bench error _curation_build: {ex!r}"[:300], file=sys.stderr)
        timings["_curation_build"] = -1.0

    # Periodic MID-RUN calibration leg (r9 finding: two
    # endpoint-quiet runs of the same code differed by a uniform
    # +55 s smear — background load DURING the suite is invisible to
    # probes taken only at the ends). Every 30th query, one 32-task
    # probe (~0.3 s quiet, pre-warmed by cal_before) records the
    # host's effective parallel throughput AT THAT POINT of the run;
    # a loaded stretch shows up as elevated samples bracketing the
    # inflated queries, making intra-run weather mechanically
    # attributable. ~9 samples ≈ +3 s total cost.
    probe32 = lambda: (spark.range(0, 960_000_000, 1, 32)  # noqa: E731
                       .selectExpr("sum(id % 9999) AS s").collect())
    cal_mid: list[list] = []
    for i, (name, fn) in enumerate(qs.items()):
        timings[name] = time_one(name, fn)
        if i % 30 == 29:
            t0 = time.perf_counter()
            probe32()
            cal_mid.append([i + 1, round(time.perf_counter() - t0, 3)])
    ok = sorted(t for t in timings.values() if t >= 0)
    if ok:
        median = ok[len(ok) // 2]
        cutoff = max(1.5, 2 * median)
        for name in [n for n, t in timings.items()
                     if t > cutoff and n in qs]:
            retry = time_one(name, qs[name])
            if retry >= 0:
                timings[name] = min(timings[name], retry)
        # r10 (VERDICT r9 items 3+8): _curation_build now gets the
        # same bounded best-of-2 as outlier queries — it is the
        # single largest line item and was exempt, so one loaded
        # sample dominated the driver total (35.8 s vs 18.5 s quiet
        # in r9). The retry DROPS the session state and re-runs the
        # whole build from parquet (E._curation_reset unpersists
        # every shared frame first) — no result reuse between the
        # two samples. It runs AFTER the query retries so consumer
        # retries keep their warm-state semantics.
        if timings.get("_curation_build", -1.0) > cutoff:
            try:
                E._curation_reset(spark)
                t0 = time.time()
                for frame in E._curation(spark, sf_dir).values():
                    if hasattr(frame, "count") and not isinstance(frame, str):
                        frame.count()
                timings["_curation_build"] = min(
                    timings["_curation_build"], time.time() - t0)
            except Exception as ex:  # pragma: no cover
                print(f"bench error _curation_build retry: {ex!r}"[:300],
                      file=sys.stderr)
    timings = {n: round(t, 2) for n, t in timings.items()}

    cal_after = _calibrate(spark)
    # a failed query is timed as -1 and left out of the total, so the
    # run reports its failures and exits non-zero: a total with a hole
    # in it must never read as a speedup
    failed = sorted(n for n, t in timings.items() if t < 0)
    total = round(sum(t for t in timings.values() if t >= 0), 2)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    # Full per-query detail goes to a file; the printed line must fit
    # the harness's 2 kB tail capture (r1's ~2.4 kB line with all
    # queries inline was truncated and recorded as unparseable).
    full = {"metric": "total_query_wall_time", "value": total,
            "unit": "sec", "queries": timings, "sf": sf_val,
            "n_failed": len(failed), "failed": failed,
            "calibration_before": cal_before,
            "calibration_after": cal_after,
            "calibration_midrun": cal_mid}
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_FULL.json"), "w") as fh:
            json.dump(full, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except OSError:
        pass

    # Printed line: failures first (always visible), then slowest-first
    # per-query entries while the serialized line stays under budget;
    # the remainder is folded into other_sec/other_n.
    budget = 1800
    ordered = sorted(timings.items(), key=lambda kv: (kv[1] >= 0, -kv[1]))
    line_qs: dict[str, float] = {}
    # r10 (VERDICT r9 item 8): mechanical quiet/loaded verdict in the
    # printed line, so a PERF comparison can discount weather without
    # re-deriving it. Band: both 1-task legs <= 0.15 s, both 32-task
    # legs <= 0.25 s, every mid-run 32-task sample <= 0.45 s (the
    # quiet floors measured across r8-r10 are ~0.09-0.14 / 0.19-0.21 /
    # 0.29-0.42).
    mid_max = max((s for _, s in cal_mid), default=0.0)
    cal_quiet = (cal_before["spark_1task_sec"] <= 0.15
                 and cal_after["spark_1task_sec"] <= 0.15
                 and cal_before["spark_32task_sec"] <= 0.25
                 and cal_after["spark_32task_sec"] <= 0.25
                 and mid_max <= 0.45)
    out = {"metric": "total_query_wall_time", "value": total, "unit": "sec",
           "queries": line_qs, "sf": sf_val, "n_queries": len(timings),
           "n_failed": len(failed), "failed": failed,
           "other_sec": 0.0, "other_n": 0, "full": "BENCH_FULL.json",
           "cal": [cal_before["spark_1task_sec"],
                   cal_after["spark_1task_sec"],
                   cal_before["spark_32task_sec"],
                   cal_after["spark_32task_sec"]],
           "cal_mid_max": mid_max, "cal_quiet": cal_quiet}
    dumps = lambda: json.dumps(out, separators=(",", ":"))  # noqa: E731
    for name, t in ordered:
        line_qs[name] = t
        if len(dumps()) > budget:
            del line_qs[name]
            break
    rest = [t for n, t in timings.items() if n not in line_qs]
    out["other_sec"] = round(sum(t for t in rest if t >= 0), 2)
    out["other_n"] = len(rest)
    print(dumps())
    if failed:
        sys.exit(1)


if __name__ == "__main__":
    main()
