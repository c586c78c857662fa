"""The per-layer table of a traced run.

Joins the run's spans with the offline event log and the streaming progress
of each micro-batch. Every Spark job is attributed to the innermost span
that launched it, through the job group the span set (``pb-<span id>``); a
streaming job carries its query's run id as job group and its batch id as a
property, which ties it to the micro-batch span rebuilt from progress. The
layer of that span is the repo code on the job's call site: ``catalog.py``,
``operators/``, ``queries/`` or ``streaming/``; jobs run by the query's own
execution count as ``exec``.

All figures are per pass: counts come from the first traced pass (they
must repeat exactly between runs), times are the median over traced passes.
"""

from __future__ import annotations

import datetime as dt
import statistics

from eventlog import EventLog, Job
from tracing import Span, self_times, span_of_group, union_length

#: span layer -> job layer for attribution
JOB_LAYER = {
    "catalog": "catalog",
    "operators": "operators",
    "queries": "queries",
    "exec": "exec",
    "streaming.source": "streaming",
    "streaming.pipeline": "streaming",
    "streaming.sink": "streaming",
    "streaming.windows": "streaming",
}
JOB_LAYERS = ("catalog", "operators", "queries", "exec", "streaming")

COUNT_METRICS = (
    "catalog.load_calls", "catalog.load_jobs", "queries.build_jobs", "operators.calls",
    "operators.build_jobs", "operators.checkpoint_jobs", "exec.jobs", "exec.stages",
    "exec.tasks", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
    "arrow.bytes_sent", "arrow.bytes_received", "arrow.rows_received", "source.batches",
    "source.input_rows", "sink.publish_calls", "sink.messages", "state.rows_total",
    "state.memory_bytes", "state.partitions", "state.rows_dropped_by_watermark",
) + tuple(f"jobs.{layer}" for layer in JOB_LAYERS)


TIME_METRICS = (
    "catalog.load_s", "queries.build_s", "catalyst.analysis_s", "catalyst.plan_s",
    "exec.driver_gap_s", "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s",
    "source.get_batch_s", "pipeline.trigger_s", "pipeline.add_batch_s", "pipeline.drain_s",
    "pipeline.planning_s", "pipeline.wal_commit_s", "pipeline.commit_offsets_s",
    "sink.publish_s", "state.commit_s",
)
SELF_TIME_LAYERS = (
    "workload", "queries", "catalog", "operators", "exec",
    "streaming.source", "streaming.pipeline", "streaming.sink", "streaming.windows",
)

#: every per-layer metric a traced run prints, with its unit
PER_LAYER_UNITS = {
    **{k: ("bytes" if "bytes" in k else "count") for k in COUNT_METRICS},
    **{k: "s" for k in TIME_METRICS},
    "cdc_events_per_s": "1/s",
    "stateful_events_per_s": "1/s",
    "gen.late_ms": "ms",
    "pass_s": "s",
    "latency_ms.p50": "ms",
    "latency_ms.tail": "ms",
    "peak_rss_mb": "MB",
    "session.start_s": "s",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
    "failed_ratio": "ratio",
    **{f"self_s.{layer}": "s" for layer in SELF_TIME_LAYERS},
}


def progress_start(p: dict) -> float:
    ts = p["timestamp"].replace("Z", "+00:00")
    return dt.datetime.fromisoformat(ts).timestamp()


def add_micro_batches(tracer, phase_span_id: int, progress: list[dict]) -> None:
    """Rebuild one ``micro_batch`` span per progress event under the phase
    span that ran the query."""
    for p in progress:
        start = progress_start(p)
        end = start + p["durationMs"].get("triggerExecution", 0) / 1000.0
        tracer.add("micro_batch", "streaming.pipeline", start, end, phase_span_id,
                   run_id=p["runId"], batch_id=p["batchId"], progress=p)


def nest_publishes(spans: list[Span]) -> None:
    """Parent each ``publish`` span (recorded on the streaming thread) to the
    micro-batch whose interval holds it."""
    batches = [s for s in spans if s.name == "micro_batch"]
    for s in spans:
        if s.name != "publish" or s.parent is not None:
            continue
        for b in batches:
            if b.start <= s.start and s.end <= b.end + 0.001:
                s.parent = b.id
                break


def attribute_jobs(spans: list[Span], log: EventLog) -> dict[int, list[Job]]:
    """Span id -> the jobs it launched itself (not through a child span)."""
    by_batch = {
        (s.attrs["run_id"], str(s.attrs["batch_id"])): s.id
        for s in spans if s.name == "micro_batch"
    }
    ids = {s.id for s in spans}
    out: dict[int, list[Job]] = {}
    for job in log.jobs.values():
        sid = span_of_group(job.group)
        if sid is None:
            sid = by_batch.get((job.group, job.properties.get("streaming.sql.batchId")))
        if sid in ids:
            out.setdefault(sid, []).append(job)
    return out


def _children(spans: list[Span]) -> dict[int, list[Span]]:
    out: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            out.setdefault(s.parent, []).append(s)
    return out


def _descendants(root: Span, children: dict[int, list[Span]]) -> list[Span]:
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(children.get(s.id, []))
    return out


def pass_metrics(pass_span: Span, spans: list[Span], log: EventLog,
                 jobs_of: dict[int, list[Job]]) -> dict[str, float]:
    children = _children(spans)
    by_id = {s.id: s for s in spans}
    inside = _descendants(pass_span, children)
    m: dict[str, float] = {k: 0 for k in COUNT_METRICS}
    m.update({k: 0.0 for k in TIME_METRICS})
    cdc_rates, state_rates = [], []

    def jobs_under(s: Span) -> list[Job]:
        return [j for d in _descendants(s, children) for j in jobs_of.get(d.id, [])]

    for s in inside:
        own = jobs_of.get(s.id, [])
        layer = JOB_LAYER.get(s.layer)
        if layer in JOB_LAYERS:
            m[f"jobs.{layer}"] += len(own)
        for j in own:
            stages = log.job_stages(j)
            m["exec.stages"] += len(stages)
            for st in stages:
                m["exec.tasks"] += st.tasks
                m["exec.task_run_s"] += st.run_ms / 1000.0
                m["exec.task_cpu_s"] += st.cpu_ns / 1e9
                m["exec.shuffle_read_bytes"] += st.shuffle_read_bytes
                m["exec.shuffle_write_bytes"] += st.shuffle_write_bytes
                m["exec.spill_bytes"] += st.spill_bytes
                m["arrow.bytes_sent"] += st.py_sent_bytes
                m["arrow.bytes_received"] += st.py_received_bytes
                m["arrow.rows_received"] += st.py_rows_received
        m["exec.jobs"] += len(own)
        if s.name == "catalog.load":
            m["catalog.load_calls"] += 1
            m["catalog.load_s"] += s.duration
            m["catalog.load_jobs"] += len(jobs_under(s))
        elif s.layer == "operators":
            m["operators.calls"] += 1
            if s.parent not in by_id or by_id[s.parent].layer != "operators":
                n = len(jobs_under(s))
                m["operators.build_jobs"] += n
                if s.name == "materialize_once":
                    m["operators.checkpoint_jobs"] += n
        elif s.name == "build":
            m["queries.build_s"] += s.duration
            m["queries.build_jobs"] += len(jobs_under(s))
        elif s.name == "query" and s.attrs.get("analysis_ms") is not None:
            m["catalyst.analysis_s"] += s.attrs["analysis_ms"] / 1000.0
        elif s.name == "execute":
            group = f"pb-{s.id}"
            starts = [e.start_ms / 1000.0 for e in log.executions.values() if e.group == group]
            if starts:
                m["catalyst.plan_s"] += max(0.0, min(starts) - s.start)
            spans_jobs = [
                (max(j.submit_ms / 1000.0, s.start), min(j.end_ms / 1000.0, s.end))
                for j in own if j.end_ms is not None
            ]
            m["exec.driver_gap_s"] += s.duration - union_length(
                [iv for iv in spans_jobs if iv[1] > iv[0]]
            )
        elif s.name == "micro_batch":
            p = s.attrs["progress"]
            d = p["durationMs"]
            parent = by_id[s.parent].name
            if parent == "cdc_drain":
                m["source.batches"] += 1
                m["source.input_rows"] += p["numInputRows"]
                m["source.get_batch_s"] += (d.get("getBatch", 0) + d.get("latestOffset", 0)) / 1000.0
                m["pipeline.trigger_s"] += d.get("triggerExecution", 0) / 1000.0
                m["pipeline.add_batch_s"] += d.get("addBatch", 0) / 1000.0
                m["pipeline.planning_s"] += d.get("queryPlanning", 0) / 1000.0
                m["pipeline.wal_commit_s"] += d.get("walCommit", 0) / 1000.0
                m["pipeline.commit_offsets_s"] += d.get("commitOffsets", 0) / 1000.0
                pubs = [c for c in children.get(s.id, []) if c.name == "publish"]
                m["sink.publish_calls"] += len(pubs)
                m["sink.messages"] += sum(c.attrs.get("messages", 0) for c in pubs)
                pub_s = sum(c.duration for c in pubs)
                m["sink.publish_s"] += pub_s
                m["pipeline.drain_s"] += d.get("addBatch", 0) / 1000.0 - pub_s
                cdc_rates.append(p.get("processedRowsPerSecond") or 0.0)
            elif parent == "session_window":
                for op in p.get("stateOperators", []):
                    m["state.rows_total"] = op.get("numRowsTotal", 0)
                    m["state.memory_bytes"] = op.get("memoryUsedBytes", 0)
                    m["state.partitions"] = op.get("numShufflePartitions", 0)
                    m["state.commit_s"] += op.get("commitTimeMs", 0) / 1000.0
                    m["state.rows_dropped_by_watermark"] += op.get("numRowsDroppedByWatermark", 0)
                state_rates.append(p.get("processedRowsPerSecond") or 0.0)
    m["exec.gc_s"] = pass_span.attrs.get("jvm_gc_ms", 0) / 1000.0
    m["cdc_events_per_s"] = statistics.median(cdc_rates) if cdc_rates else 0.0
    m["stateful_events_per_s"] = statistics.median(state_rates) if state_rates else 0.0
    return m


def layer_self_times(spans: list[Span], roots: list[Span]) -> dict[str, float]:
    """Self time per layer under ``roots``, per root (median)."""
    st = self_times(spans)
    children = _children(spans)
    per_root = []
    for r in roots:
        acc: dict[str, float] = {}
        for s in _descendants(r, children):
            acc[s.layer] = acc.get(s.layer, 0.0) + st[s.id]
        per_root.append(acc)
    layers = sorted({k for acc in per_root for k in acc})
    return {k: statistics.median([acc.get(k, 0.0) for acc in per_root]) for k in layers}


def traced_passes(spans: list[Span], n: int) -> list[Span]:
    """The first ``n`` pass spans, in run order."""
    return sorted((s for s in spans if s.name == "pass"), key=lambda s: s.start)[:n]


def layer_table(spans: list[Span], log: EventLog, n: int) -> tuple[dict[str, float], list[dict]]:
    """(per-layer metrics, per-pass metric dicts) over the first ``n``
    traced passes."""
    nest_publishes(spans)
    jobs_of = attribute_jobs(spans, log)
    passes = traced_passes(spans, n)
    rows = [pass_metrics(p, spans, log, jobs_of) for p in passes]
    if not rows:
        return {}, []
    out = {}
    for k in rows[0]:
        out[k] = rows[0][k] if k in COUNT_METRICS else statistics.median(r[k] for r in rows)
    return out, rows
