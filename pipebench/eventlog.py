"""Stdlib parser for Spark's JSON-lines event log.

Turns one application's log into job records (time span, description,
task and SQL metrics) that the tracer attributes to its spans. Only the
fields below are read; unknown events are skipped.

Per task (``SparkListenerTaskEnd``): executor run time, executor CPU
time, JVM GC time, shuffle read/write bytes, memory + disk spill, input
bytes. Per SQL execution: the plan's SQL metrics, summed from task
accumulator updates and driver-side updates (the file-scan metrics
"number of files read" / "size of files read" are driver-side), and the
output rows of every ``Filter`` node.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

TASK_FIELDS = ("tasks", "executor_run_s", "executor_cpu_s", "gc_s",
               "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
               "input_bytes")
SQL_METRICS = {"number of files read": "files_read",
               "size of files read": "bytes_read"}
# metrics read only on plan nodes of the given name
NODE_METRICS = {("Filter", "number of output rows"): "filter_rows"}


@dataclass
class Job:
    job_id: int
    description: str | None
    start_s: float
    end_s: float | None = None
    stage_ids: list = field(default_factory=list)
    execution_id: int | None = None
    metrics: dict = field(default_factory=lambda: dict.fromkeys(
        TASK_FIELDS, 0.0))


@dataclass
class Execution:
    execution_id: int
    description: str | None
    start_s: float
    metrics: dict = field(default_factory=lambda: dict.fromkeys(
        (*SQL_METRICS.values(), *NODE_METRICS.values()), 0.0))


def _walk_plan(info: dict, out: dict) -> None:
    for m in info.get("metrics", []):
        name = (SQL_METRICS.get(m.get("name"))
                or NODE_METRICS.get((info.get("nodeName"), m.get("name"))))
        if name:
            out[m["accumulatorId"]] = name
    for child in info.get("children", []):
        _walk_plan(child, out)


def _task_metrics(ev: dict) -> dict:
    tm = ev.get("Task Metrics") or {}
    sr = tm.get("Shuffle Read Metrics") or {}
    sw = tm.get("Shuffle Write Metrics") or {}
    inp = tm.get("Input Metrics") or {}
    return {
        "tasks": 1,
        "executor_run_s": tm.get("Executor Run Time", 0) / 1e3,
        "executor_cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
        "gc_s": tm.get("JVM GC Time", 0) / 1e3,
        "shuffle_read_bytes": (sr.get("Remote Bytes Read", 0)
                               + sr.get("Local Bytes Read", 0)),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "spill_bytes": (tm.get("Memory Bytes Spilled", 0)
                        + tm.get("Disk Bytes Spilled", 0)),
        "input_bytes": inp.get("Bytes Read", 0),
    }


def _events(log_dir: str):
    """The events of the single application log in ``log_dir``."""
    entries = [e for e in os.listdir(log_dir) if not e.startswith(".")]
    if len(entries) != 1:
        raise ValueError(f"expected one event log in {log_dir}, "
                         f"found {entries}")
    with open(os.path.join(log_dir, entries[0]), encoding="utf-8") as fh:
        for line in fh:
            yield json.loads(line)


def parse(log_dir: str) -> tuple[list[Job], list[Execution]]:
    """Parse the one application's event log in ``log_dir``."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    execs: dict[int, Execution] = {}
    accum: dict[int, tuple[int, str]] = {}   # accumulator -> (exec, metric)
    for ev in _events(log_dir):
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.id")
            job = Job(ev["Job ID"], props.get("spark.job.description"),
                      ev["Submission Time"] / 1e3,
                      stage_ids=list(ev.get("Stage IDs", [])),
                      execution_id=int(exec_id) if exec_id else None)
            jobs[job.job_id] = job
            for s in job.stage_ids:
                stage_job[s] = job.job_id
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end_s = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev.get("Stage ID")))
            if job is None:
                continue
            for k, v in _task_metrics(ev).items():
                job.metrics[k] += v
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                _add_accum(execs, accum, acc.get("ID"), acc.get("Update"))
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            eid = ev["executionId"]
            execs[eid] = Execution(eid, ev.get("description"),
                                   ev.get("time", 0) / 1e3)
            _register(accum, eid, ev.get("sparkPlanInfo") or {})
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            _register(accum, ev["executionId"],
                      ev.get("sparkPlanInfo") or {})
        elif kind.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
            for m in ev.get("sqlPlanMetrics", []):
                if m.get("name") in SQL_METRICS:
                    accum[m["accumulatorId"]] = (
                        ev["executionId"], SQL_METRICS[m["name"]])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in ev.get("accumUpdates", []):
                _add_accum(execs, accum, acc_id, value)
    return (sorted(jobs.values(), key=lambda j: j.job_id),
            sorted(execs.values(), key=lambda e: e.execution_id))


def _register(accum: dict, eid: int, plan: dict) -> None:
    ids: dict[int, str] = {}
    _walk_plan(plan, ids)
    for acc_id, name in ids.items():
        accum[acc_id] = (eid, name)


def _add_accum(execs: dict, accum: dict, acc_id, update) -> None:
    hit = accum.get(acc_id)
    if hit is None or update is None:
        return
    eid, name = hit
    if eid in execs:
        try:
            execs[eid].metrics[name] += float(update)
        except (TypeError, ValueError):
            pass
