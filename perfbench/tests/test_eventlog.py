"""Event-log parsing against a small log captured from an sf0.001 run.

The capture ran q10 (TPC-H Q1 aggregate) and q43 (Pandas UDF histogram) on
local[2], each built under job group pb-1 / pb-3 and executed to the noop
sink under pb-2 / pb-4, and was trimmed to the fields the parser reads.
"""

import json
import os

from eventlog import PY_RECEIVED, PY_SENT, parse
from layers import attribute_jobs
from tracing import Span

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "eventlog_sf0001.jsonl")


def load():
    with open(DATA) as f:
        return parse(f)


def raw_events():
    with open(DATA) as f:
        return [json.loads(line) for line in f if line.strip()]


def test_every_job_and_task_is_read():
    log, events = load(), raw_events()
    job_starts = [e for e in events if e["Event"] == "SparkListenerJobStart"]
    task_ends = [e for e in events if e["Event"] == "SparkListenerTaskEnd"]
    assert len(log.jobs) == len(job_starts) > 0
    assert sum(st.tasks for st in log.stages.values()) == len(task_ends)
    assert all(j.end_ms is not None and j.end_ms >= j.submit_ms for j in log.jobs.values())
    assert {j.group for j in log.jobs.values()} <= {"pb-1", "pb-2", "pb-3", "pb-4"}


def test_task_metrics_are_summed_per_stage():
    log, events = load(), raw_events()
    run_ms = sum(e["Task Metrics"]["Executor Run Time"] for e in events
                 if e["Event"] == "SparkListenerTaskEnd")
    assert sum(st.run_ms for st in log.stages.values()) == run_ms
    written = sum(st.shuffle_write_bytes for st in log.stages.values())
    read = sum(st.shuffle_read_bytes for st in log.stages.values())
    assert written > 0 and read > 0  # both queries aggregate through a shuffle


def test_sql_executions_carry_the_job_group_of_their_span():
    log = load()
    groups = sorted(e.group for e in log.executions.values())
    assert groups == ["pb-2", "pb-4"]
    for e in log.executions.values():
        assert e.end_ms is not None and e.end_ms >= e.start_ms
        jobs = [j for j in log.jobs.values() if j.execution_id == e.id]
        assert jobs and all(j.group == e.group for j in jobs)


def test_python_boundary_metrics_belong_to_the_udf_query_only():
    log, events = load(), raw_events()

    def by_group(attr):
        out = {}
        for j in log.jobs.values():
            out[j.group] = out.get(j.group, 0) + sum(getattr(s, attr) for s in log.job_stages(j))
        return out

    sent, received, rows = (by_group(a) for a in
                            ("py_sent_bytes", "py_received_bytes", "py_rows_received"))
    assert sent.get("pb-4", 0) > 0 and received.get("pb-4", 0) > 0
    assert rows.get("pb-4", 0) > 0
    for g in ("pb-1", "pb-2", "pb-3"):
        assert sent.get(g, 0) == received.get(g, 0) == rows.get(g, 0) == 0
    # the parsed totals equal the raw task-level updates
    raw_sent = sum(int(a["Update"]) for e in events if e["Event"] == "SparkListenerTaskEnd"
                   for a in e["Task Info"]["Accumulables"] if a["Name"] == PY_SENT)
    raw_recv = sum(int(a["Update"]) for e in events if e["Event"] == "SparkListenerTaskEnd"
                   for a in e["Task Info"]["Accumulables"] if a["Name"] == PY_RECEIVED)
    assert sum(sent.values()) == raw_sent and sum(received.values()) == raw_recv


def test_jobs_attach_to_the_span_that_set_their_group():
    log = load()
    spans = [Span(i, None, n, layer, 0.0, 1.0) for i, n, layer in
             ((1, "build", "queries"), (2, "execute", "exec"),
              (3, "build", "queries"), (4, "execute", "exec"))]
    jobs_of = attribute_jobs(spans, log)
    assert sum(len(v) for v in jobs_of.values()) == len(log.jobs)
    assert len(jobs_of[1]) >= 1  # q10's build infers the lineitem schema
    assert all(j.group == f"pb-{sid}" for sid, js in jobs_of.items() for j in js)
