"""Smoke test of the benchmark itself, at the sf0.001 data it ships.

    python3 -m pytest perfbench/test_smoke.py -q

Each workload runs one short iteration untraced and traced. The test
checks that every metric BENCHMARK.json names is printed with its unit,
that every operation succeeded and matched its oracle, and that the
seed changes the request order but not the operation mix. A traced
run reports every per-layer metric, and each is nonzero on the workload
that does most of that layer's work (README.md).
"""

import functools
import json
import os
import subprocess
import sys
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

# layer -> the workload that does most of its work
HOME = {"session": "dashboard", "entry": "curation",
        "catalyst": "dashboard", "scheduler": "dashboard",
        "executor": "curation", "python_worker": "dashboard",
        "fetch": "dashboard", "curation_state": "curation",
        "etl": "curation", "streaming": "curation",
        "request": "dashboard", "cpu": "dashboard", "jvm": "dashboard",
        "memory": "dashboard", "trace": "dashboard"}


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_seed_changes_order_not_mix(name):
    ops = WORKLOADS[name].ops
    orders = [ops(seed) for seed in range(1, 6)]
    assert orders[0] == ops(1)
    assert all(sorted(o) == sorted(orders[0]) for o in orders)
    assert len({tuple(o) for o in orders}) > 1


@functools.lru_cache(maxsize=None)
def _run(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), tuple(lines)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_run_prints_every_metric_and_no_errors(workload, trace):
    result, lines = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, "\n".join(lines[-12:])
    assert result["failed"] == 0 and result["attempted"] > 0
    assert any(line.endswith("error_rate 0.0000") for line in lines)
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    mix = json.loads(next(x for x in lines if x.startswith("mix: "))[5:])
    assert mix == dict(Counter(WORKLOADS[workload].ops(7)))


@pytest.mark.parametrize("metric", [m["name"] for m in SPEC["per_layer"]])
def test_layer_metric_nonzero_on_its_home_workload(metric):
    result, _ = _run(HOME[metric.split(".")[0]], 1)
    assert result["metrics"][metric]["value"] > 0
