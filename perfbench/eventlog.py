"""Spark event-log parser: task metrics attributed to benchmark spans.

The traced run enables ``spark.eventLog`` (``compress=false``) and labels
every span's Spark jobs with ``spark.jobGroup.id = <span id>``. This module
reads the log back and maps each task to its job, job group and SQL
execution, so per-span totals come from Spark's own task metrics.

The per-task byte fields are the ones ``tools/shuffle_bytes.py`` sums over
the whole log; here they are summed per span instead.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
_SQL_AQE_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_SQL_DRIVER_ACCUMS = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"


@dataclass
class Task:
    stage: int
    launch_ms: int
    finish_ms: int
    failed: bool
    run_ms: int
    shuffle_write: int
    shuffle_read: int
    spill: int
    input_bytes: int
    output_records: int


@dataclass
class Job:
    job_id: int
    submit_ms: int
    group: str | None
    execution: int | None
    stages: list[int]


@dataclass
class Execution:
    execution_id: int
    start_ms: int
    end_ms: int
    plan: str
    # (node string, "number of output rows" accumulator id) of every plan
    # node, from the initial plan and each adaptive re-plan
    row_accums: list[tuple[str, int]] = field(default_factory=list)


def _row_accums(info: dict) -> list[tuple[str, int]]:
    out, todo = [], [info]
    while todo:
        node = todo.pop()
        todo.extend(node.get("children", []))
        out += [(node["simpleString"], m["accumulatorId"])
                for m in node.get("metrics", []) if m["name"] == "number of output rows"]
    return out


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)
    executions: dict[int, Execution] = field(default_factory=dict)
    stage_job: dict[int, int] = field(default_factory=dict)
    accums: dict[int, int] = field(default_factory=dict)  # SQL metric totals by id

    def job_of(self, task: Task) -> Job | None:
        jid = self.stage_job.get(task.stage)
        return None if jid is None else self.jobs[jid]

    def rows_out(self, execution: Execution, node_pred) -> int:
        """Output rows of the execution's plan nodes whose node string
        satisfies ``node_pred`` (a node kept across re-plans counts once)."""
        ids = {a for node, a in execution.row_accums if node_pred(node)}
        return sum(self.accums.get(a, 0) for a in ids)

    def tasks_where(self, pred) -> list[Task]:
        """Tasks whose job satisfies ``pred(job)``."""
        out = []
        for t in self.tasks:
            job = self.job_of(t)
            if job is not None and pred(job):
                out.append(t)
        return out


def _files(log_dir: str, app_id: str) -> list[str]:
    """One application's event files under a log dir: a plain v1 file
    named after the app, or a Spark 4 rolling ``eventlog_v2_<app>/events_*``
    directory. Job and stage ids restart in every application."""
    out = []
    for root, _, files in os.walk(log_dir):
        for f in sorted(files):
            path = os.path.join(root, f)
            if app_id not in path or f.startswith((".", "appstatus")) or f.endswith(".inprogress"):
                continue
            out.append(path)
    return out


def _task(ev: dict) -> Task | None:
    m = ev.get("Task Metrics")
    info = ev.get("Task Info", {})
    if not m:
        return None
    sw = m.get("Shuffle Write Metrics", {})
    sr = m.get("Shuffle Read Metrics", {})
    return Task(
        stage=ev["Stage ID"],
        launch_ms=info.get("Launch Time", 0),
        finish_ms=info.get("Finish Time", 0),
        failed=ev.get("Task End Reason", {}).get("Reason") != "Success",
        run_ms=m.get("Executor Run Time", 0),
        shuffle_write=sw.get("Shuffle Bytes Written", 0),
        shuffle_read=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        spill=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        input_bytes=m.get("Input Metrics", {}).get("Bytes Read", 0),
        output_records=m.get("Output Metrics", {}).get("Records Written", 0),
    )


def load(log_dir: str, app_id: str) -> EventLog:
    log = EventLog()
    for path in _files(log_dir, app_id):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerTaskEnd":
                    t = _task(ev)
                    if t is not None:
                        log.tasks.append(t)
                    for acc in ev.get("Task Info", {}).get("Accumulables", []):
                        if acc.get("Name") == "number of output rows" and "Update" in acc:
                            log.accums[acc["ID"]] = log.accums.get(acc["ID"], 0) + int(acc["Update"])
                elif kind == _SQL_DRIVER_ACCUMS:
                    for aid, value in ev["accumUpdates"]:
                        log.accums[aid] = log.accums.get(aid, 0) + int(value)
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    ex = props.get("spark.sql.execution.id")
                    job = Job(
                        job_id=ev["Job ID"],
                        submit_ms=ev["Submission Time"],
                        group=props.get("spark.jobGroup.id"),
                        execution=int(ex) if ex is not None else None,
                        stages=[s["Stage ID"] for s in ev["Stage Infos"]],
                    )
                    log.jobs[job.job_id] = job
                    for s in job.stages:
                        # a stage reused by a later job ran its tasks for
                        # the first job that listed it
                        log.stage_job.setdefault(s, job.job_id)
                elif kind == _SQL_START:
                    eid = ev["executionId"]
                    log.executions[eid] = Execution(
                        eid, ev["time"], ev["time"], ev.get("physicalPlanDescription", ""),
                        _row_accums(ev["sparkPlanInfo"]),
                    )
                elif kind == _SQL_AQE_UPDATE:
                    ex = log.executions.get(ev["executionId"])
                    if ex is not None:
                        ex.row_accums += _row_accums(ev["sparkPlanInfo"])
                elif kind == _SQL_END:
                    ex = log.executions.get(ev["executionId"])
                    if ex is not None:
                        ex.end_ms = ev["time"]
    return log


TOTAL_KEYS = (
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "executor_run_s",
    "tasks",
    "failed_tasks",
)


def totals(tasks: list[Task]) -> dict[str, float]:
    """Summed task metrics plus task-time skew (max and median task wall)."""
    walls = [(t.finish_ms - t.launch_ms) / 1000.0 for t in tasks]
    return {
        "shuffle_write_bytes": sum(t.shuffle_write for t in tasks),
        "shuffle_read_bytes": sum(t.shuffle_read for t in tasks),
        "spill_bytes": sum(t.spill for t in tasks),
        "executor_run_s": sum(t.run_ms for t in tasks) / 1000.0,
        "tasks": len(tasks),
        "failed_tasks": sum(t.failed for t in tasks),
        "output_records": sum(t.output_records for t in tasks),
        "task_max_s": max(walls, default=0.0),
        "task_p50_s": statistics.median(walls) if walls else 0.0,
    }
