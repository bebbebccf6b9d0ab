"""Smoke test of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

Runs every workload at a tiny input size, once untraced and once traced,
and feeds the event-log parser a small log captured from Spark 4.1.2, so
a Spark upgrade that renames a metric fails here instead of reporting 0.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import eventlog  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

FIXTURE = os.path.join(HERE, "eventlogs", "spark-4.1.2-extract.jsonl")
GROUP = "bench-span-0"     # the job group the capture ran its jobs under


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_eventlog_fixture_reports_python_metrics():
    with open(FIXTURE) as f:
        log = eventlog.parse(f)
    s = log.summary({GROUP}, wall_s=10.0, slots=4)
    assert s["jobs"] > 0 and s["tasks"] > 0
    for k in ("python_run_s", "python_init_s", "python_bytes_sent",
              "python_bytes_returned", "task_run_s", "task_cpu_s"):
        assert s[k] > 0, k
    assert s["udf_stage_skew"] >= 1.0
    assert log.summary({"no-such-group"}, 10.0, 4)["tasks"] == 0


def test_eventlog_renamed_metric_fails_loudly():
    with open(FIXTURE) as f:
        lines = [ln.replace('"time to run Python workers"',
                            '"python worker run time"') for ln in f]
    with pytest.raises(ValueError, match="python_run_s"):
        eventlog.parse(lines)


def test_union_of_intervals():
    assert eventlog.union_s([(0, 2), (1, 3), (5, 6)]) == 4
    assert eventlog.union_s([]) == 0


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--scale", "0.02"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


# every workload, also extract_large_pages, which BENCHMARK.json leaves
# out of its runs for time
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_tiny_untraced(workload):
    out = _run(workload, 0)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in _bench()["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_workload_tiny_traced():
    out = _run("ingest_recrawl", 1)
    assert out["correct"]
    want = {m["name"] for m in _bench()["per_layer"]}
    assert set(out["metrics"]) == want
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["spark.python_run_s"] > 0 and m["dedup.mask_s"] > 0
    assert m["io.commits"] >= 1 and m["core.docs"] > 0
    assert abs(m["trace.unattributed_frac"]) < 0.1
