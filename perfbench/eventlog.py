"""Task and job metrics from an uncompressed, non-rolling Spark event log.

Only the fields below are read.  ``PYTHON_METRICS`` are the SQL metric
names Spark 4.1's ArrowEvalPython node reports per task; if an upgrade
renames one, :func:`parse` raises instead of reporting 0 (the smoke test
feeds it a captured log for exactly this reason).
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"

# benchmark metric -> Spark SQL metric name (values: ms for times)
PYTHON_METRICS = {
    "python_run_s": "time to run Python workers",
    "python_start_s": "time to start Python workers",
    "python_init_s": "time to initialize Python workers",
    "python_bytes_sent": "data sent to Python workers",
    "python_bytes_returned": "data returned from Python workers",
}


@dataclass
class Task:
    stage: int
    job: int
    launch_ms: int
    finish_ms: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_write: int
    spill: int
    python: dict = field(default_factory=dict)


@dataclass
class Job:
    id: int
    group: str | None
    submit_ms: int
    end_ms: int = 0
    stages: tuple = ()


@dataclass
class EventLog:
    jobs: dict
    tasks: list

    def summary(self, groups: set[str], wall_s: float, slots: int) -> dict:
        """The ``spark.*`` metrics over the jobs of ``groups``."""
        jobs = {j.id for j in self.jobs.values() if j.group in groups}
        tasks = [t for t in self.tasks if t.job in jobs]
        out = {"jobs": len(jobs), "tasks": len(tasks)}
        for k in PYTHON_METRICS:
            scale = 1e-3 if k.endswith("_s") else 1
            out[k] = sum(t.python.get(k, 0) for t in tasks) * scale
        out["task_run_s"] = sum(t.run_ms for t in tasks) / 1e3
        out["task_cpu_s"] = sum(t.cpu_ns for t in tasks) / 1e9
        out["gc_s"] = sum(t.gc_ms for t in tasks) / 1e3
        out["shuffle_write_bytes"] = sum(t.shuffle_write for t in tasks)
        out["spill_bytes"] = sum(t.spill for t in tasks)
        busy = sum(t.finish_ms - t.launch_ms for t in tasks) / 1e3
        out["slot_idle_frac"] = (1 - busy / (wall_s * slots)
                                 if wall_s > 0 else 0.0)
        # straggler ratio of the stages that ran the extraction UDF
        skews = []
        for st in {t.stage for t in tasks if "python_run_s" in t.python}:
            d = [t.finish_ms - t.launch_ms for t in tasks if t.stage == st]
            med = statistics.median(d)
            if len(d) > 1 and med > 0:
                skews.append(max(d) / med)
        out["udf_stage_skew"] = max(skews) if skews else 1.0
        return out


def _accums(task_info: dict) -> dict:
    want = {v: k for k, v in PYTHON_METRICS.items()}
    out = {}
    for a in task_info.get("Accumulables", ()):
        k = want.get(a.get("Name"))
        if k is not None:
            out[k] = out.get(k, 0) + int(a.get("Update") or 0)
    return out


def parse(lines) -> EventLog:
    """Parse event-log lines (an open file or a list of strings)."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    tasks: list[Task] = []
    for line in lines:
        e = json.loads(line)
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            j = Job(e["Job ID"], props.get(GROUP_KEY),
                    e["Submission Time"], stages=tuple(e["Stage IDs"]))
            jobs[j.id] = j
            for s in j.stages:
                stage_job[s] = j.id
        elif ev == "SparkListenerJobEnd":
            jobs[e["Job ID"]].end_ms = e["Completion Time"]
        elif ev == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            tasks.append(Task(
                stage=e["Stage ID"], job=stage_job.get(e["Stage ID"], -1),
                launch_ms=info["Launch Time"],
                finish_ms=info["Finish Time"],
                run_ms=m.get("Executor Run Time", 0),
                cpu_ns=m.get("Executor CPU Time", 0),
                gc_ms=m.get("JVM GC Time", 0),
                shuffle_write=m.get("Shuffle Write Metrics", {})
                .get("Shuffle Bytes Written", 0),
                spill=m.get("Memory Bytes Spilled", 0)
                + m.get("Disk Bytes Spilled", 0),
                python=_accums(info)))
    missing = sorted(k for k in PYTHON_METRICS
                     if not any(k in t.python for t in tasks))
    if tasks and missing:
        raise ValueError(
            f"no task reported the Python UDF metrics {missing}: Spark "
            "renamed them, or the log holds no Python UDF stage")
    return EventLog(jobs, tasks)


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
