"""Per-layer measurement for the traced run.

Everything here reads Spark's public monitoring surfaces from outside
the package: the status tracker and status store (jobs, stages, task
metrics), a Dataset's ``queryExecution().tracker()`` (Catalyst phase
times), the executed plan's SQL metrics (Python-worker traffic) and a
``StreamingQueryListener`` (micro-batch progress). Jobs are attributed
to an operation by job-id range, not by job group: jobs launched from
the curation build's thread pool and from streaming queries do not
inherit the caller's job group.

A ``Tracer`` records one span per layer call (name, start, end, parent,
request id). Spans stay in memory and are written out when the run
ends. The untraced run uses ``NullTracer``, which does none of this.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# span name -> layer metric prefix for its time, jobs and stages
SPAN_LAYER = {"construct": "entry.construct",
              "build": "curation_state.build",
              "upsert": "etl.upsert",
              "read_back": "etl.read_back",
              "drain": "streaming.drain"}

PY_METRICS = {"pythonDataSent": "python_worker.bytes_sent",
              "pythonNumRowsReceived": "python_worker.rows_returned"}


class NullTracer:
    """Tracer of the timed runs: records nothing."""

    @contextmanager
    def span(self, name, **_):
        yield None

    def request(self, *_a, **_k):
        return self.span("request")

    def frame(self, *_a, **_k):
        pass

    def fetched(self, *_a, **_k):
        pass


class WorkCounter:
    """Spark work (jobs, stages, tasks, task metrics) launched since the
    last call, read from the status tracker and status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self._drain()
        jobs = self.store.jobsList(None)  # sorted by job id
        self._next_job = (max(jobs.head().jobId(), jobs.last().jobId()) + 1
                          if jobs.nonEmpty() else 0)

    def since_last(self, t0_ms, t1_ms) -> dict:
        """Work of the jobs started since the previous call, with
        stage-time intervals clipped to the [t0_ms, t1_ms] window."""
        jobs, self._next_job = self._scan_jobs(self._next_job)
        st = self._job_stats(jobs, t0_ms, t1_ms)
        st.pop("_last_stage_end_ms")
        return st

    def _scan_jobs(self, start: int):
        """Job ids from ``start`` up to the first ids the status tracker
        does not know yet; returns (ids, next id to scan from)."""
        self._drain()
        tracker = self.sc.statusTracker()
        ids, j, misses = [], start, 0
        while misses < 3:  # ids are dense; tolerate a short gap
            if tracker.getJobInfo(j) is None:
                misses += 1
            else:
                ids.append(j)
                misses = 0
            j += 1
        return ids, (ids[-1] + 1 if ids else start)

    def _drain(self):
        # listener events are delivered asynchronously; wait until the
        # status store has seen every event posted so far
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _job_stats(self, job_ids, t0_ms, t1_ms) -> dict:
        tracker = self.sc.statusTracker()
        stages = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        s = defaultdict(float)
        s["scheduler.jobs"] = len(job_ids)
        intervals = []
        last_end = None
        for sid in sorted(stages):
            try:
                sd = self.store.lastStageAttempt(sid)
            except Py4JJavaError:  # no longer retained by the store
                continue
            status = sd.status().toString()
            if status in ("SKIPPED", "PENDING"):
                continue
            s["scheduler.stages"] += 1
            s["scheduler.tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            s["executor.run_s"] += sd.executorRunTime() / 1e3
            s["executor.cpu_s"] += sd.executorCpuTime() / 1e9
            s["executor.gc_s"] += sd.jvmGcTime() / 1e3
            s["executor.shuffle_read_bytes"] += sd.shuffleReadBytes()
            s["executor.shuffle_write_bytes"] += sd.shuffleWriteBytes()
            s["executor.spill_bytes"] += (sd.memoryBytesSpilled()
                                          + sd.diskBytesSpilled())
            sub, end = sd.submissionTime(), sd.completionTime()
            if sub.isDefined():
                a = sub.get().getTime()
                b = end.get().getTime() if end.isDefined() else t1_ms
                intervals.append((max(a, t0_ms), min(b, t1_ms)))
                last_end = b if last_end is None else max(last_end, b)
        busy = 0.0
        cur_a = cur_b = None
        for a, b in sorted(intervals):
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    busy += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            busy += cur_b - cur_a
        s["scheduler.no_stage_s"] = max(0.0, (t1_ms - t0_ms) - busy) / 1e3
        s["_last_stage_end_ms"] = last_end or 0
        return s

class Tracer(WorkCounter):
    """Span recorder plus per-span job attribution."""

    def __init__(self, spark):
        super().__init__(spark)
        self.cores = int(self.sc.defaultParallelism)
        self.spans: list[dict] = []
        self.totals: dict[str, float] = defaultdict(float)
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._req = None
        self._frame_jdf = None

    @contextmanager
    def span(self, name, **attrs):
        first_job = self._next_job
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": parent,
               "request": self._req, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            c0 = time.perf_counter()
            # a request's own jobs were already attributed to its children
            jobs, self._next_job = self._scan_jobs(
                self._next_job if name == "request" else first_job)
            if name != "request":
                st = self._job_stats(jobs, rec["start"] * 1e3, rec["end"] * 1e3)
                last_end = st.pop("_last_stage_end_ms")
                rec["jobs"] = len(jobs)
                rec["stages"] = int(st["scheduler.stages"])
                for k, v in st.items():
                    self.totals[k] += v
                layer = SPAN_LAYER.get(name)
                if layer:
                    self.totals[f"{layer}_s"] += rec["end"] - rec["start"]
                    self.totals[f"{layer}_jobs"] += len(jobs)
                    self.totals[f"{layer}_stages"] += rec["stages"]
                if name == "execute_fetch" and last_end:
                    tail = rec["end"] * 1e3 - last_end
                    self.totals["fetch.tail_s"] += max(0.0, tail) / 1e3
            self.overhead_s += time.perf_counter() - c0

    @contextmanager
    def request(self, op: str, rid: int):
        self._req = rid
        with self.span("request", op=op) as rec:
            yield rec
        self._req = None

    def frame(self, df):
        """Remember the frame whose plan the next ``fetched`` reads."""
        self._frame_jdf = df._jdf

    def fetched(self, pdf):
        c0 = time.perf_counter()
        self.totals["fetch.rows"] += len(pdf)
        self.totals["fetch.bytes"] += int(pdf.memory_usage(deep=True).sum())
        jdf, self._frame_jdf = self._frame_jdf, None
        if jdf is not None:
            qe = jdf.queryExecution()
            phases = qe.tracker().phases()
            for ph in ("analysis", "optimization", "planning"):
                opt = phases.get(ph)
                if opt.isDefined():
                    self.totals[f"catalyst.{ph}_ms"] += opt.get().durationMs()
            for k, v in plan_python_metrics(qe.executedPlan()).items():
                self.totals[k] += v
        self.overhead_s += time.perf_counter() - c0

    def self_times(self) -> dict:
        """Self time per span name (own duration minus children)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += (s["end"] - s["start"]) - child[s["id"]]
        return dict(out)

    def dump(self, path: str):
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


def plan_python_metrics(plan) -> dict:
    """Python-worker SQL metrics summed over the executed plan,
    unwrapping adaptive plans and query stages. A reused exchange is a
    leaf here, so shared subplans count once."""
    out: dict[str, float] = defaultdict(float)
    seen: set[int] = set()

    def visit(node):
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            visit(node.executedPlan())
            return
        if "QueryStageExec" in cls:
            visit(node.plan())
            return
        nid = node.id()
        if nid in seen:
            return
        seen.add(nid)
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            name = PY_METRICS.get(kv._1())
            if name:
                out[name] += kv._2().value()
        ch = node.children()
        for i in range(ch.size()):
            visit(ch.apply(i))

    visit(plan)
    return dict(out)


class ProgressListener:
    """Collects streaming progress through a StreamingQueryListener."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener
        self.totals: dict[str, float] = defaultdict(float)
        self.started = 0
        self.terminated = 0
        self._lock = threading.Lock()
        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                with outer._lock:
                    outer.started += 1

            def onQueryProgress(self, event):
                outer._progress(event.progress)

            def onQueryTerminated(self, event):
                with outer._lock:
                    outer.terminated += 1

        self._listener = _L()
        spark.streams.addListener(self._listener)
        self.spark = spark

    def _progress(self, p):
        d = p.durationMs or {}
        with self._lock:
            t = self.totals
            t["streaming.micro_batches"] += 1
            t["streaming.input_rows"] += p.numInputRows or 0
            t["streaming.add_batch_ms"] += d.get("addBatch", 0)
            t["streaming.query_planning_ms"] += d.get("queryPlanning", 0)
            t["streaming.wal_commit_ms"] += d.get("walCommit", 0)
            t["streaming.commit_offsets_ms"] += d.get("commitOffsets", 0)
            for so in p.stateOperators or []:
                t["streaming.state_rows"] += so.numRowsTotal or 0
                t["streaming.state_memory_bytes"] += so.memoryUsedBytes or 0
                t["streaming.state_commit_ms"] += so.commitTimeMs or 0

    def settle(self, timeout_s: float = 10.0):
        """Wait until every started query's termination was seen."""
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            with self._lock:
                if self.terminated >= self.started:
                    return
            time.sleep(0.02)

    def close(self):
        self.spark.streams.removeListener(self._listener)
