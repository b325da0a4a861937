"""Stage metrics per job, read from a Spark event log.

Reads ``SparkListenerJobStart`` (job id, its stage ids, the SQL
execution it runs for, and the ``spark.job.description`` the tracer
set), ``SparkListenerStageCompleted`` (executor run time, shuffle,
spill and input-record accumulables) and ``SparkListenerTaskEnd`` (each
task's run interval and outcome, for task skew and for the time any
task was running). Driver-side SQL metrics such as files read are
summed per SQL execution from the plan events and
``SparkListenerDriverAccumUpdates``.

A stage belongs to the first job that lists it: a later job that reuses
it shows it as skipped and runs no task of it.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

# stage accumulable name -> JobStats field it adds to
_ACCUMS = {
    "internal.metrics.executorRunTime": "executor_run_ms",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "internal.metrics.input.recordsRead": "input_records",
}
# driver-side SQL metrics kept per execution
SQL_METRICS = ("number of files read", "size of files read")


@dataclass
class JobStats:
    job_id: int
    description: str | None
    execution_id: int | None
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_ms: float = 0.0
    shuffle_read_bytes: float = 0.0
    shuffle_write_bytes: float = 0.0
    spill_bytes: float = 0.0
    input_records: float = 0.0
    stage_task_ms: dict = field(default_factory=dict)  # stage -> successful task run times
    task_intervals: list = field(default_factory=list)  # (launch_ms, finish_ms)


def read_events(path: str):
    """Yield event dicts from an event-log file, or from every ``events_*``
    file of a rolling event-log directory, in order."""
    if os.path.isdir(path):
        names = [f for f in os.listdir(path) if f.startswith("events_")]
        files = [
            os.path.join(path, f)
            for f in sorted(names, key=lambda f: int(f.split("_")[1]))
        ]
    else:
        files = [path]
    for fp in files:
        with open(fp, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _plan_metric_ids(plan: dict, out: dict) -> None:
    for m in plan.get("metrics", []):
        if m.get("name") in SQL_METRICS:
            out[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", []):
        _plan_metric_ids(child, out)


def parse(events) -> tuple[dict[int, JobStats], dict[int, dict[str, float]]]:
    """``(jobs by id, SQL metrics by execution id)``."""
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    metric_name: dict[int, str] = {}
    sql: dict[int, dict[str, float]] = {}
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.id")
            job = JobStats(
                ev["Job ID"], props.get("spark.job.description"),
                int(exec_id) if exec_id is not None else None,
            )
            jobs[job.job_id] = job
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, job.job_id)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            job = jobs.get(stage_job.get(info["Stage ID"], -1))
            if job is None:
                continue
            job.stages += 1
            for acc in info.get("Accumulables", []):
                name = _ACCUMS.get(acc.get("Name"))
                if name is not None:
                    setattr(job, name, getattr(job, name) + float(acc.get("Value", 0)))
        elif kind == "SparkListenerTaskEnd":
            sid = ev.get("Stage ID")
            job = jobs.get(stage_job.get(sid, -1))
            if job is None:
                continue
            info = ev["Task Info"]
            job.tasks += 1
            launch, finish = info["Launch Time"], info["Finish Time"]
            job.task_intervals.append((launch, finish))
            if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason") != "Success":
                job.failed_tasks += 1
            else:
                job.stage_task_ms.setdefault(sid, []).append(finish - launch)
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _plan_metric_ids(ev.get("sparkPlanInfo", {}), metric_name)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            per = sql.setdefault(ev["executionId"], {})
            for acc_id, value in ev.get("accumUpdates", []):
                name = metric_name.get(acc_id)
                if name is not None:
                    per[name] = per.get(name, 0.0) + float(value)
    return jobs, sql


def app_logs(log_dir: str) -> list[str]:
    """Every application's event log (file or rolling directory) in ``log_dir``."""
    return sorted(os.path.join(log_dir, f) for f in os.listdir(log_dir) if not f.startswith("."))
