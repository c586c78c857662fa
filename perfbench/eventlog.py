"""Offline reader for Spark's JSON event log.

Reads the uncompressed, non-rolling event log a traced run writes and
returns per-job, per-stage and per-SQL-execution records: the job group
each job ran under, its stages, summed task metrics (run and CPU time,
shuffle and spill bytes) and the Python-boundary metrics of Pandas/Arrow
UDF plan nodes.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"

PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"
PY_NODE_MARKERS = ("Python", "Pandas", "Arrow")


@dataclass
class Stage:
    id: int
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    py_sent_bytes: int = 0
    py_received_bytes: int = 0
    py_rows_received: int = 0


@dataclass
class Job:
    id: int
    group: str | None
    execution_id: int | None
    submit_ms: int
    end_ms: int | None = None
    stage_ids: list[int] = field(default_factory=list)
    properties: dict = field(default_factory=dict)


@dataclass
class Execution:
    id: int
    group: str | None
    start_ms: int
    end_ms: int | None = None


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)
    executions: dict[int, Execution] = field(default_factory=dict)

    def job_stages(self, job: Job) -> list[Stage]:
        return [self.stages[s] for s in job.stage_ids if s in self.stages]


def _python_row_accumulators(plan: dict, out: set[int]) -> None:
    if any(m in plan.get("nodeName", "") for m in PY_NODE_MARKERS):
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(int(m["accumulatorId"]))
    for child in plan.get("children", []):
        _python_row_accumulators(child, out)


def parse(lines) -> EventLog:
    """Parse an iterable of event-log lines."""
    log = EventLog()
    py_rows: set[int] = set()
    tasks: list[dict] = []
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.id")
            log.jobs[ev["Job ID"]] = Job(
                id=ev["Job ID"],
                group=props.get("spark.jobGroup.id"),
                execution_id=int(exec_id) if exec_id is not None else None,
                submit_ms=ev["Submission Time"],
                stage_ids=list(ev.get("Stage IDs", [])),
                properties=props,
            )
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in log.jobs:
                log.jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)
        elif kind == SQL_START:
            log.executions[ev["executionId"]] = Execution(
                ev["executionId"], ev.get("jobGroupId"), ev["time"]
            )
            _python_row_accumulators(ev.get("sparkPlanInfo", {}), py_rows)
        elif kind == SQL_AQE:
            _python_row_accumulators(ev.get("sparkPlanInfo", {}), py_rows)
        elif kind == SQL_END:
            if ev["executionId"] in log.executions:
                log.executions[ev["executionId"]].end_ms = ev["time"]
    for ev in tasks:
        st = log.stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
        m = ev.get("Task Metrics") or {}
        st.tasks += 1
        st.run_ms += m.get("Executor Run Time", 0)
        st.cpu_ns += m.get("Executor CPU Time", 0)
        rd = m.get("Shuffle Read Metrics") or {}
        st.shuffle_read_bytes += rd.get("Local Bytes Read", 0) + rd.get("Remote Bytes Read", 0)
        st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            upd = acc.get("Update")
            if upd is None:
                continue
            if acc.get("Name") == PY_SENT:
                st.py_sent_bytes += int(upd)
            elif acc.get("Name") == PY_RECEIVED:
                st.py_received_bytes += int(upd)
            elif acc.get("ID") in py_rows:
                st.py_rows_received += int(upd)
    return log


def read(path: str) -> EventLog:
    with open(path) as f:
        return parse(f)
