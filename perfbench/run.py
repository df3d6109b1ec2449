"""Benchmark runner for the portfolio engine.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Runs one workload in this process against the package in the checkout
that holds this file, checks every result, and prints one JSON object
as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics named in BENCHMARK.json,
``--trace 1`` the per-layer metrics. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.001")
CACHE = os.path.join(HERE, ".cache", "oracle")
OUT = os.path.join(HERE, "out")
DRIVER_MEM = "2g"


def pin_settings(work: str) -> dict:
    """Engine settings, identical on both sides of any comparison. The
    package reads them when it creates the session; Python UDF workers
    inherit PYTHONPATH, so they import the package from this checkout
    whatever directory the benchmark runs from."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS":
            f"--driver-java-options '-Djava.io.tmpdir={tmp}"
            " -XX:-UseDynamicNumberOfCompilerThreads' pyspark-shell",
    }
    for k in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SCHEDULER"):
        os.environ.pop(k, None)  # the package defaults apply
    os.environ.update(pinned)
    return pinned


def _stat(path):
    """Fields of a /proc stat file after the command name, so that
    index i is field i + 3 of proc(5)."""
    with open(path) as f:
        return f.read().rsplit(")", 1)[1].split()


def process_tree() -> dict[int, list[str]]:
    """pid -> stat fields of this process and all its descendants (the
    driver JVM and the Python workers it forks)."""
    stats, children = {}, {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                stats[int(d)] = fields = _stat(f"/proc/{d}/stat")
            except OSError:
                continue
            children.setdefault(int(fields[1]), []).append(int(d))
    tree, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        if pid in stats:
            tree[pid] = stats[pid]
    return tree


def cpu_ticks() -> dict[int, dict]:
    """pid -> CPU clock ticks (user + system) of each process in the
    tree: its own (``own``), its reaped children's (``reaped``), and
    for the driver JVM those of its JIT compiler and garbage collector
    threads. The compiler threads are counted exactly because
    ``pin_settings`` keeps them alive for the JVM's whole life."""
    out = {}
    for pid, fields in process_tree().items():
        rec = out[pid] = {"own": int(fields[11]) + int(fields[12]),
                          "reaped": int(fields[13]) + int(fields[14]),
                          "jit": 0, "gc": 0}
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() != "java":
                    continue
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    comm = f.read()
                kind = ("jit" if comm.startswith(("C1 Compiler", "C2 Compiler"))
                        else "gc" if comm.startswith(("GC Thread", "G1 "))
                        else None)
                if kind:
                    fl = _stat(f"/proc/{pid}/task/{tid}/stat")
                    rec[kind] += int(fl[11]) + int(fl[12])
            except OSError:
                pass
    return out


def cpu_since_start() -> float:
    """CPU seconds the process tree has used since this process
    started, the processes that already exited included."""
    return (sum(r["own"] + r["reaped"] for r in cpu_ticks().values())
            / os.sysconf("SC_CLK_TCK"))


def cpu_between(t0: dict, t1: dict) -> dict:
    """CPU seconds used between two ``cpu_ticks`` samples by the
    processes alive at the second. A Python worker that Spark retires
    as idle is left out: its whole lifetime would otherwise land in its
    parent's reaped-children time at whatever moment it is reaped."""
    out = {"total": 0, "jit": 0, "gc": 0}
    for pid, rec in t1.items():
        before = t0.get(pid, {"own": 0, "jit": 0, "gc": 0})
        out["total"] += rec["own"] - before["own"]
        out["jit"] += rec["jit"] - before["jit"]
        out["gc"] += rec["gc"] - before["gc"]
    tck = os.sysconf("SC_CLK_TCK")
    return {k: v / tck for k, v in out.items()}


class RssSampler(threading.Thread):
    """Peak resident memory of the process tree, sampled from /proc."""

    def __init__(self, every_s: float = 0.2):
        super().__init__(daemon=True)
        self.every_s = every_s
        self.peak = 0
        self._stop_evt = threading.Event()

    def _sample(self):
        rss = sum(int(f[21]) for f in process_tree().values())
        self.peak = max(self.peak, rss * os.sysconf("SC_PAGE_SIZE"))

    def run(self):
        while not self._stop_evt.is_set():
            self._sample()
            self._stop_evt.wait(self.every_s)

    def stop(self):
        self._stop_evt.set()
        self.join()
        self._sample()


def check_results(ctx, oracle) -> dict[int, str]:
    """Index of every op whose result is wrong -> why. Runs after the
    timed window."""
    from oracle import compare
    sql = ctx.E.oracle_sql()
    wrong = {}
    for i, kind, payload in ctx.results:
        if kind == "oracle":
            name, pdf = payload
            why = compare(pdf, oracle.answer(sql[name]))
        elif kind == "rows":
            pdf, expected = payload
            got = {(t, d.date() if hasattr(d, "date") else d): c
                   for t, d, c in pdf[["ticker", "ts", "close"]]
                   .itertuples(index=False, name=None)}
            why = None if got == expected else \
                f"read-back has {len(got)} rows, expected {len(expected)}" \
                f" ({len(set(got.items()) ^ set(expected.items()))} differ)"
        else:  # "target": a parquet directory must hold exactly `expected`
            path, expected = payload
            rows = oracle.con.execute(
                "SELECT ticker, CAST(ts AS DATE), close FROM read_parquet("
                f"'{path}/**/*.parquet', hive_partitioning = false)"
            ).fetchall()
            got = {(t, d): c for t, d, c in rows}
            why = None if len(rows) == len(got) == len(expected) and \
                got == expected else \
                f"{len(rows)} rows / {len(got)} keys, expected {len(expected)}"
        if why:
            wrong[i] = why
    return wrong


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__ as E
    except ImportError as ex:
        print(f"engine not found in {ROOT}: {ex}", file=sys.stderr)
        return 2
    if os.path.dirname(os.path.abspath(E.__file__)) != ROOT:
        print(f"engine imported from {E.__file__}, not {ROOT}",
              file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{os.getpid()}")
    settings = pin_settings(work)
    try:
        return run(args, spec, E, work, settings)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, spec, E, work, settings) -> int:
    """One benchmark run: set up, warm up, time whole iterations, then
    check every result and print the metrics."""
    from etl_portfolio_tracker_spark.session import get_spark
    from layers import NullTracer, ProgressListener, Tracer, WorkCounter
    from oracle import Oracle
    from workloads import WORKLOADS, Ctx

    rss = RssSampler()
    rss.start()
    wl = WORKLOADS[args.workload]()
    t_gen, c_gen = time.perf_counter(), cpu_since_start()
    wl.generate(DATA, args.seed)
    gen_s = time.perf_counter() - t_gen
    gen_cpu_s = cpu_since_start() - c_gen

    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        get_spark_s = time.perf_counter() - t0
        ctx = Ctx(spark=spark, E=E, sf=DATA, work=work, tracer=NullTracer())
        t0 = time.perf_counter()
        wl.warmup(ctx)
        warmup_s = time.perf_counter() - t0
        setup_s = time.perf_counter() - T_START - gen_s
        setup_cpu_s = cpu_since_start() - gen_cpu_s
        warm_ops, warm_results = ctx.ops, ctx.results

        # -- timed window ---------------------------------------------
        if args.trace:
            ctx.tracer = Tracer(spark)
            listener = ProgressListener(spark)
        else:
            counter = WorkCounter(spark)
        ctx.ops, ctx.results = [], []
        ctx.layer.clear()
        walls, cpus, work_per_it = [], [], []
        w0 = time.perf_counter()
        while True:
            c0, i0 = cpu_ticks(), time.time()
            wl.iteration(ctx, args.seed, len(walls))
            i1 = time.time()
            walls.append(i1 - i0)
            cpus.append(cpu_between(c0, cpu_ticks()))
            if not args.trace:  # read after the iteration's clock stopped
                work_per_it.append(counter.since_last(i0 * 1e3, i1 * 1e3))
            elapsed = time.perf_counter() - w0
            if elapsed + statistics.mean(walls) > args.seconds:
                break
        window_s = time.perf_counter() - w0
        if args.trace:
            listener.settle()
            listener.close()
    finally:
        rss.stop()
        _shutdown(spark)  # results are pandas frames; Spark is done

    # -- checks (outside every timed window) ----------------------------
    oracle = Oracle(DATA, CACHE)
    measured_ops = ctx.ops
    ctx.ops = warm_ops + measured_ops
    ctx.results = warm_results + [(i + len(warm_ops), k, p)
                                  for i, k, p in ctx.results]
    wrong = check_results(ctx, oracle)
    # the first run in a checkout answers every workload's oracles, so
    # that no later run pays for them
    sql = E.oracle_sql()
    for w in WORKLOADS.values():
        for name in w.queries:
            oracle.answer(sql[name])
    failed = {i: op["error"] for i, op in enumerate(ctx.ops) if op["error"]}
    timed_out = {i for i, op in enumerate(ctx.ops) if op["timeout"]}
    bad = set(failed) | set(wrong) | timed_out
    attempted = len(ctx.ops)

    lat = [op["s"] for op in measured_ops if op["kind"] != "check"]
    timings = {
        "iteration_s": statistics.median(walls),
        "latency_p50_s": statistics.median(lat),
        # the highest percentile with ten samples beyond it (the maximum
        # when a run holds fewer than eleven)
        "latency_tail_s": (sorted(lat)[-11] if len(lat) > 10 else max(lat)),
        "latency_tail_pct": (100 * (len(lat) - 10) / len(lat)
                             if len(lat) > 10 else 100.0),
        "latency_samples": len(lat),
        "peak_rss_mb": rss.peak / 2**20,
        "cpu_s": statistics.median(c["total"] for c in cpus),
        # the iteration's CPU net of the JVM's JIT compiler, which is
        # still compiling after a single warm-up pass, and of its garbage
        # collector, whose cycles fall in a window by chance (README.md)
        "work_cpu_s": statistics.median(c["total"] - c["jit"] - c["gc"]
                                        for c in cpus),
        "jit_cpu_s": statistics.median(c["jit"] for c in cpus),
        "gc_cpu_s": statistics.median(c["gc"] for c in cpus),
        "setup_cpu_s": setup_cpu_s,
    }

    print("settings: " + json.dumps(settings, sort_keys=True))
    mix = {}
    for op in measured_ops:
        mix[op["op"]] = mix.get(op["op"], 0) + 1
    print(f"workload {args.workload} seed {args.seed}: {len(walls)} "
          f"iteration(s) in {window_s:.2f} s, {len(lat)} timed ops; "
          f"warm-up {len(warm_ops)} ops in {warmup_s:.2f} s; "
          f"session {get_spark_s:.2f} s; inputs {gen_s:.2f} s")
    print("mix: " + json.dumps(dict(sorted(mix.items()))))
    print("warm-up ops (s): " + json.dumps(
        {op["op"]: round(op["s"], 3) for op in warm_ops}))
    print("timings: " + json.dumps(timings))
    print("iterations: " + json.dumps(
        [{"wall_s": round(w, 3), **{f"{k}_cpu_s": v for k, v in c.items()}}
         for w, c in zip(walls, cpus)]))
    print(f"ops attempted {attempted}, failed {len(failed)}, "
          f"timed out {len(timed_out)}, wrong {len(wrong)}; "
          f"error_rate {len(bad) / attempted:.4f}")
    for i in sorted(bad):
        op = ctx.ops[i]
        why = failed.get(i) or wrong.get(i) or f"took {op['s']:.1f} s"
        print(f"  FAILED {op['op']} ({'warm-up' if i < len(warm_ops) else 'timed'}): {why}")

    if args.trace:
        tr = ctx.tracer
        n = len(walls)
        wall = sum(walls)
        layer = {k: v / n for k, v in tr.totals.items()}
        layer.update({k: v / n for k, v in ctx.layer.items()})
        layer.update({k: v / n for k, v in listener.totals.items()})
        selft = tr.self_times()
        layer.update({
            "session.get_spark_s": get_spark_s,
            "session.warmup_s": warmup_s,
            "request.latency_p50_s": timings["latency_p50_s"],
            "request.latency_tail_s": timings["latency_tail_s"],
            "request.samples": timings["latency_samples"],
            "fetch.execute_s": selft["execute_fetch"] / n,
            "executor.busy_share":
                layer["executor.run_s"] * n / (wall * tr.cores),
            "cpu.setup_s": setup_cpu_s,
            "cpu.work_s": timings["work_cpu_s"],
            "jvm.jit_cpu_s": timings["jit_cpu_s"],
            "jvm.gc_cpu_s": timings["gc_cpu_s"],
            "memory.peak_rss_mb": timings["peak_rss_mb"],
            "trace.iteration_s": timings["iteration_s"],
            "trace.overhead_s": tr.overhead_s / n,
            "trace.overhead_share": tr.overhead_s / wall,
            "trace.request_self_s": selft["request"] / n,
            "trace.spans": len(tr.spans) / n,
        })
        if "curation_state.build_s" in layer:
            layer["curation_state.build_share"] = (
                layer["curation_state.build_s"] * n / wall)
        if "etl.target_bytes" in layer:
            layer["etl.write_amplification"] = (
                layer["etl.bytes_written"] / layer["etl.target_bytes"])
            layer["etl.stored_bytes_per_row"] = (
                layer["etl.target_bytes"] / layer["etl.landed_rows"])
        os.makedirs(OUT, exist_ok=True)
        tr.dump(os.path.join(OUT, f"trace-{args.workload}-{args.seed}.json"))
        print("layers: " + json.dumps(dict(sorted(layer.items()))))
        # a layer this workload never calls reports 0; any other name
        # the tracer did not produce is an error, not a zero
        for m in spec["per_layer"]:
            if m["name"].startswith(wl.skips):
                layer.setdefault(m["name"], 0.0)
        missing = [m["name"] for m in spec["per_layer"]
                   if m["name"] not in layer]
        if missing:
            print(f"per-layer metrics not measured: {missing}",
                  file=sys.stderr)
            return 1
        names, values = spec["per_layer"], layer
    else:
        work_med = {k: statistics.median(w[k] for w in work_per_it)
                    for k in work_per_it[0]}
        e2e = {"setup_s": setup_s,
               "spark_jobs": work_med["scheduler.jobs"],
               "spark_tasks": work_med["scheduler.tasks"],
               "shuffle_write_bytes": work_med["executor.shuffle_write_bytes"]}
        print("work: " + json.dumps(work_med))
        names, values = spec["end_to_end"], e2e

    print(json.dumps({
        "correct": not bad,
        "attempted": attempted,
        "failed": len(bad),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in names},
    }))
    return 0


def _shutdown(spark):
    """Stop the session and wait for the driver JVM to exit; it exits
    when its standard input closes."""
    if spark is None:
        return
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


if __name__ == "__main__":
    sys.exit(main())
