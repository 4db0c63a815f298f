"""Parse a Spark event log (JSON lines) into jobs, tasks and Python UDF
metrics, and attribute jobs to the benchmark's spans.

Only the listener events the benchmark needs are read:
``SparkListenerJobStart``/``JobEnd`` (job intervals and the span id the
benchmark put in the job's local properties), ``StageSubmitted`` (stage
submit time, for task queueing), ``TaskEnd`` (task metrics and SQL
metric updates) and the SQL execution events that name each SQL metric's
accumulator (``SQLExecutionStart``, ``SQLAdaptiveExecutionUpdate``,
``SQLAdaptiveSQLMetricUpdates``).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path

SPAN_PROPERTY = "perfbench.span"

# Spark 4.1 PythonSQLMetrics display names -> the benchmark's names.
PYTHON_METRICS = {
    "time to run Python workers": "python_s",
    "time to start Python workers": "boot_s",
    "time to initialize Python workers": "init_s",
    "data sent to Python workers": "sent_mb",
    "data returned from Python workers": "received_mb",
}
_UNIT = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0 / 2**20}


@dataclass
class Job:
    id: int
    start: float  # epoch seconds
    end: float
    span: int | None  # the benchmark span id the job was tagged with


@dataclass
class Task:
    stage: int
    launch: float
    finish: float
    run_s: float
    cpu_s: float
    gc_s: float
    input_mb: float
    shuffle_read_mb: float
    shuffle_write_mb: float
    spill_mb: float
    stage_submit: float | None = None
    python: dict[str, float] = field(default_factory=dict)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)


def _sql_metric_ids(plan: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in plan.get("metrics", ()):
        out[int(m["accumulatorId"])] = (m["name"], m.get("metricType", "sum"))
    for c in plan.get("children", ()):
        _sql_metric_ids(c, out)


def parse(path: Path) -> EventLog:
    log = EventLog()
    metric_ids: dict[int, tuple[str, str]] = {}
    stage_submit: dict[tuple[int, int], float] = {}
    raw_tasks: list[tuple[dict, Task]] = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            if not line.strip():
                continue
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                span = props.get(SPAN_PROPERTY)
                log.jobs[ev["Job ID"]] = Job(
                    ev["Job ID"], ev["Submission Time"] / 1e3, float("nan"),
                    int(span) if span not in (None, "") else None,
                )
            elif kind == "SparkListenerJobEnd":
                job = log.jobs.get(ev["Job ID"])
                if job is not None:
                    job.end = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                if info.get("Submission Time") is not None:
                    key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
                    stage_submit[key] = info["Submission Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                sr = tm.get("Shuffle Read Metrics", {})
                task = Task(
                    stage=ev["Stage ID"],
                    launch=info["Launch Time"] / 1e3,
                    finish=info["Finish Time"] / 1e3,
                    run_s=tm.get("Executor Run Time", 0) / 1e3,
                    cpu_s=tm.get("Executor CPU Time", 0) / 1e9,
                    gc_s=tm.get("JVM GC Time", 0) / 1e3,
                    input_mb=tm.get("Input Metrics", {}).get("Bytes Read", 0) / 2**20,
                    shuffle_read_mb=(sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / 2**20,
                    shuffle_write_mb=tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 2**20,
                    spill_mb=(tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)) / 2**20,
                    stage_submit=stage_submit.get((ev["Stage ID"], ev.get("Stage Attempt ID", 0))),
                )
                log.tasks.append(task)
                raw_tasks.append((info, task))
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _sql_metric_ids(ev.get("sparkPlanInfo", {}), metric_ids)
            elif kind.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
                for m in ev.get("sqlPlanMetrics", ()):
                    metric_ids[int(m["accumulatorId"])] = (m["name"], m.get("metricType", "sum"))
    # SQL metric updates ride on the task's accumulables; their names and
    # units come from the plan, which may be logged after the first task.
    for info, task in raw_tasks:
        for acc in info.get("Accumulables", ()):
            name, mtype = metric_ids.get(int(acc["ID"]), (acc.get("Name"), None))
            ours = PYTHON_METRICS.get(name)
            if ours is None or acc.get("Update") is None:
                continue
            scale = _UNIT.get(mtype or ("size" if ours.endswith("_mb") else "timing"), 1.0)
            task.python[ours] = task.python.get(ours, 0.0) + float(acc["Update"]) * scale
    return log
