#!/usr/bin/env python
"""Benchmark harness: the declared query corpus at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 test data, ``SF_DIR``) on local[$SPARK_GRAFT_CPUS],
plus four Structured Streaming throughput figures. It does three things:

1. times the corpus min-of-N (``bench_batch_corpus``): pass 1 times every
   query, up to three more passes re-time errored then slowest queries
   while the run is inside $SPARK_GRAFT_BENCH_BUDGET_S (default 560);
2. takes each streaming figure (cdc/win/ses/ssj, events/sec) as the best
   of a fixed number of timed runs after one warm run (``stream_figure``);
3. prints ONE compact JSON line (``build_summary_line``); full-precision
   timings and errors go to stderr.

Each query is forced end-to-end with a noop sink (full execution, no
collect/driver materialization — same discipline as a cluster run).
"""

from __future__ import annotations

import json
import os
import sys
import time
from contextlib import contextmanager as _contextmanager

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mrcond_spark.queries import all_queries  # noqa: E402
from mrcond_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# The consumer of bench.py keeps EXACTLY the last 2000 chars of its stdout
# and json-parses the FINAL line, so a longer line loses its head. Budget
# the line at 1950 to leave newline + cleanup margin.
LINE_BUDGET = 1950


def _compact_secs(v: float) -> float | int:
    # 1-decimal seconds under 10 s (floored at 0.1 so a fast query never
    # prints a dead-looking 0.0), integer seconds at >= 10 s; full-precision
    # timings stay on stderr (queries_full).
    if v >= 9.95:
        return int(round(v))
    return max(0.1, round(v, 1))


def build_summary_line(
    timings: dict[str, float],
    total: float,
    sf: str,
    n_errors: int,
    cdc_eps: float,
    win_eps: float,
    sess_eps: float,
    ssj_eps: float,
    stream_attempts: dict[str, int] | None = None,
) -> str:
    """The ONE stdout line the driver tails. Compact by construction (bare
    query numbers as keys, no-space separators, streaming events/sec as
    integers), and degrades gracefully as the corpus grows instead of
    overflowing that 2000-char tail:

    1. preferred: per-query seconds at 1-decimal resolution;
    2. if the line would exceed LINE_BUDGET: integer-second per-query values,
       self-described by ``"coarse":1``;
    3. if still over: drop the FASTEST queries' entries, self-described by
       ``"qdrop":k`` (their full-precision timings are on stderr either way).

    cdc/win/ses/ssj = events/sec (CDC pipeline, windowed agg, session
    windows, stream-stream join). "satt" = per-figure timed attempts that
    ran, in cdc/win/ses/ssj order.
    """
    satt = stream_attempts or {}

    def line_for(compact: dict[str, float | int], extra: dict) -> str:
        return json.dumps(
            {
                "metric": "corpus_wall_s",
                "value": total,
                "unit": "sec",
                "queries": compact,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "n": len(timings),
                "cdc": int(round(cdc_eps)),
                "win": int(round(win_eps)),
                "ses": int(round(sess_eps)),
                "ssj": int(round(ssj_eps)),
                "errs": n_errors,
                **({"satt": [satt.get(s, 0) for s in ("cdc", "win", "ses", "ssj")]} if satt else {}),
                **extra,
            },
            separators=(",", ":"),
        )

    key = lambda n: n.split("_", 1)[0].lstrip("q")  # noqa: E731
    line = line_for({key(n): _compact_secs(v) for n, v in timings.items()}, {})
    if len(line) <= LINE_BUDGET:
        return line
    line = line_for({key(n): int(round(v)) for n, v in timings.items()}, {"coarse": 1})
    if len(line) <= LINE_BUDGET:
        return line
    by_speed = sorted(timings, key=lambda n: (-timings[n], n))
    for k in range(1, len(by_speed)):
        kept = by_speed[: len(by_speed) - k]
        line = line_for(
            {key(n): int(round(timings[n])) for n in kept}, {"coarse": 1, "qdrop": k}
        )
        if len(line) <= LINE_BUDGET:
            return line
    return line_for({}, {"coarse": 1, "qdrop": len(timings)})


@_contextmanager
def _sized_stream_parts(spark, rows_per_trigger: int):
    """Set spark.sql.shuffle.partitions to the volume-sized count for a
    streaming query (mrcond_spark.streaming.sizing — state-store instances
    cost per partition per micro-batch, so a single 100k-row availableNow
    batch wants ~4 partitions, not cluster width; measured 1.6-2.8x on the
    stateful benches), restoring the batch setting afterwards."""
    from mrcond_spark.streaming.sizing import stream_shuffle_partitions

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(stream_shuffle_partitions(rows_per_trigger)),
    )
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def bench_streaming(spark, n_events: int = 20000) -> float:
    """CDC pipeline throughput: replay n_events through the full
    file-source -> foreachBatch -> ordered queue-publish path; returns
    events/sec. (The reference's path is one publish + confirm + token write
    per event; ours amortizes per micro-batch.)"""
    import json as _json
    import shutil
    import tempfile
    import uuid

    from mrcond_spark.streaming.sink import MemoryPublisher
    from mrcond_spark.streaming.source import file_replay_stream
    from mrcond_spark.streaming.pipeline import start_cdc_query

    tmp = tempfile.mkdtemp(prefix="bench-cdc-")
    try:
        events_dir = os.path.join(tmp, "events")
        os.makedirs(events_dir)
        per_file = n_events // 4
        for b in range(4):
            with open(os.path.join(events_dir, f"b{b}.json"), "w") as f:
                for i in range(b * per_file, (b + 1) * per_file):
                    f.write(
                        _json.dumps(
                            {
                                "_id": f"{i:012d}",
                                "operationType": "insert",
                                "clusterTime": "2024-01-01T00:00:00.000Z",
                                "ns": {"db": "bench", "coll": "c"},
                                "documentKey": _json.dumps({"_id": i}),
                                "fullDocument": _json.dumps({"i": i, "payload": "x" * 64}),
                            }
                        )
                        + "\n"
                    )
        name = f"bench-{uuid.uuid4().hex[:8]}"
        pub = MemoryPublisher.named(name)
        # the drain runs no shuffle, so no partition sizing applies here
        t0 = time.perf_counter()
        cq = start_cdc_query(
            file_replay_stream(spark, events_dir, max_files_per_trigger=1),
            pub,
            name,
            os.path.join(tmp, "ckpt"),
            available_now=True,
        )
        cq.query.awaitTermination(300)
        elapsed = time.perf_counter() - t0
        delivered = len(pub.messages[name])
        MemoryPublisher.reset(name)
        return round(delivered / elapsed, 1) if elapsed > 0 else 0.0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _write_event_files(events_dir: str, n_events: int, ts_offset_s: int = 0) -> None:
    """4 JSON-line files of synthetic events. NOTE: without a
    maxFilesPerTrigger option the file source drains ALL of them in ONE
    availableNow micro-batch (verified via recentProgress) — size state
    partitions for n_events rows per trigger, not n_events/4."""
    import datetime as _dt
    import json as _json

    os.makedirs(events_dir, exist_ok=True)
    base = _dt.datetime(2024, 1, 1)
    per_file = n_events // 4
    for b in range(4):
        with open(os.path.join(events_dir, f"b{b}.json"), "w") as f:
            for i in range(b * per_file, (b + 1) * per_file):
                ts = base + _dt.timedelta(seconds=(i % 86400) + ts_offset_s)
                f.write(
                    _json.dumps(
                        {
                            "event_id": i,
                            "ts": ts.strftime("%Y-%m-%dT%H:%M:%S"),
                            "user_id": i % 997,
                            "event_type": ["view", "click", "buy"][i % 3],
                            "value": float(i % 100),
                        }
                    )
                    + "\n"
                )


EVENT_SCHEMA = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE"


def _stream_bench(
    spark,
    prefix: str,
    make_stream,
    output_mode: str,
    count_expr: str,
    events_total: int,
    divide_by_count: bool,
) -> float:
    """Shared memory-sink harness for the streaming throughput benches:
    availableNow drain into a uuid-named memory table, honesty rules applied
    uniformly — either divide by what actually LANDED in the snapshot
    (``divide_by_count=True``: stateful aggs, where partial output is still
    honest work/sec), or require a finished drain with non-empty output and
    divide by the nominal input (joins, where output size != input size) and
    report 0.0 otherwise rather than an inflated figure."""
    import shutil
    import tempfile
    import uuid

    tmp = tempfile.mkdtemp(prefix=prefix)
    try:
        # state partitions sized to the per-trigger volume: the file source
        # with no maxFilesPerTrigger drains ALL event files in ONE
        # availableNow micro-batch (verified via recentProgress:
        # numInputRows == events_total), frozen into the state layout at
        # first start per the Structured Streaming contract
        with _sized_stream_parts(spark, events_total):
            agg = make_stream(tmp)
            name = f"bench{uuid.uuid4().hex[:8]}"
            t0 = time.perf_counter()
            q = (
                agg.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .option("checkpointLocation", os.path.join(tmp, "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            finished = q.awaitTermination(300)
            elapsed = time.perf_counter() - t0
            if not finished:
                q.stop()  # don't leave a live query writing into a dir we delete
        counted = spark.sql(f"SELECT {count_expr} AS c FROM {name}").collect()[0]["c"]
        spark.catalog.dropTempView(name)
        if divide_by_count:
            return round(counted / elapsed, 1) if elapsed > 0 else 0.0
        if not finished or counted == 0 or elapsed <= 0:
            return 0.0
        return round(events_total / elapsed, 1)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def bench_windowed_stream(spark, n_events: int = 100_000) -> float:
    """Watermarked tumbling-window aggregation throughput (S5+S6): replay
    n_events through watermark + window groupBy; events/sec over what the
    complete-mode snapshot actually aggregated. Unlike the CDC path there is
    no serial per-queue drain — this measures the distributed stateful-agg
    path."""
    from mrcond_spark.streaming import windows

    def make(tmp: str):
        events_dir = os.path.join(tmp, "events")
        _write_event_files(events_dir, n_events)
        stream = spark.readStream.schema(EVENT_SCHEMA).json(events_dir)
        return windows.tumbling_counts(stream, duration="5 minutes")

    return _stream_bench(
        spark, "bench-win-", make, "complete", "COALESCE(SUM(cnt), 0)", n_events, True
    )


def bench_session_stream(spark, n_events: int = 100_000) -> float:
    """S7 throughput: gap-based session windows per user. Session windows are
    the heaviest stateful-agg shape (merge-on-overlap state, not fixed
    buckets), so this bounds the custom-sessionization path."""
    from mrcond_spark.streaming import windows

    def make(tmp: str):
        events_dir = os.path.join(tmp, "events")
        _write_event_files(events_dir, n_events)
        stream = spark.readStream.schema(EVENT_SCHEMA).json(events_dir)
        return windows.session_counts(stream, gap="5 minutes")

    return _stream_bench(
        spark, "bench-sess-", make, "complete", "COALESCE(SUM(cnt), 0)", n_events, True
    )


def bench_stream_stream_join(spark, n_events_per_side: int = 50_000) -> float:
    """S10 throughput: watermarked stream-stream join (15-minute bounded
    range on user_id); INPUT events/sec (both sides). The right side is the
    left shifted +30 s, so every left row has at least one in-range match —
    the harness requires a finished drain with non-zero matches."""
    from mrcond_spark.streaming import windows

    def make(tmp: str):
        _write_event_files(os.path.join(tmp, "left"), n_events_per_side)
        _write_event_files(os.path.join(tmp, "right"), n_events_per_side, ts_offset_s=30)
        left = spark.readStream.schema(EVENT_SCHEMA).json(os.path.join(tmp, "left"))
        right = spark.readStream.schema(EVENT_SCHEMA).json(os.path.join(tmp, "right"))
        return windows.stream_stream_join(left, right, key="user_id").select(
            F.col("l.event_id").alias("l_id"), F.col("r.event_id").alias("r_id")
        )

    return _stream_bench(
        spark, "bench-ssj-", make, "append", "COUNT(*)", 2 * n_events_per_side, False
    )

def stream_figure(
    short: str,
    err_key: str,
    warm,
    timed,
    n: int,
    attempts_out: dict[str, int],
    errors_out: dict[str, str],
) -> float:
    """Warm once, then the best of ``n`` timed runs (events/sec).
    ``attempts_out[short]`` counts the timed runs that started. A raise
    stops the figure and records the error under ``err_key``: after a
    sample the best sample stands, before any the figure is 0.0 — either
    way the run keeps its summary line."""
    attempts_out[short] = 0
    best = 0.0
    try:
        warm()
        for _ in range(n):
            attempts_out[short] += 1
            best = max(best, timed())
    except Exception as e:  # noqa: BLE001
        errors_out[err_key] = f"{type(e).__name__}: {e}"[:120]
    return best


def bench_batch_corpus(
    spark, queries, names: list[str], budget_s: float
) -> tuple[dict[str, float], dict[str, str]]:
    """Min-of-N corpus timing. Pass 1 times every query in ``names`` order.
    Passes 2-4 each re-time errored queries first, then the slowest
    observed first; a re-time starts only while the loop is inside
    ``budget_s`` of its own start, so the harness never outruns a caller's
    timeout. Returns (name -> best seconds, name -> error)."""
    t0 = time.perf_counter()
    timings: dict[str, float] = dict.fromkeys(names, float("inf"))
    errors: dict[str, str] = {}

    def time_one(name: str) -> None:
        # one broken query must not cost the run its whole line: record the
        # failure and keep timing the rest. A query is "errored" only while
        # NO pass has produced a timing — a later success clears an earlier
        # error, and a later failure does not taint an earlier success.
        q0 = time.perf_counter()
        try:
            queries[name].spark(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001
            if timings[name] == float("inf"):
                errors[name] = f"{type(e).__name__}: {e}"[:120]
            return
        timings[name] = min(timings[name], time.perf_counter() - q0)
        errors.pop(name, None)

    for name in names:
        time_one(name)
    # passes 2-4: an errored query's timing is still inf, so it sorts ahead
    # of the slowest timed one; each pass re-sorts on what the last one saw
    slowest_first = lambda n: (-timings[n], n)  # noqa: E731
    for name in (n for _ in range(3) for n in sorted(names, key=slowest_first)):
        if time.perf_counter() - t0 > budget_s:
            break
        time_one(name)
    return {n: round(v, 3) for n, v in timings.items() if v != float("inf")}, errors


def main() -> None:
    spark = get_spark("mrcond-bench", cpus=CPUS, shuffle_partitions=max(CPUS, 32))
    queries = all_queries()

    # warm the JVM, parquet footers, AND the Python worker pool — q54 drives
    # a CPUS-wide pandas-UDF stage, so all workers fork+import numpy here
    # rather than inside whichever timed query hits a wide UDF stage first.
    # q56/q57 at the smallest SF load the MLlib classes (KMeans, HashingTF,
    # MinHashLSH, fallback BLAS) — several seconds of classloading that would
    # otherwise land inside those queries' first timed runs.
    # Finish with a trivial query + settle pause so the first TIMED query
    # doesn't absorb post-warmup GC/JIT churn.
    warm_small = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_small):
        warm_small = SF_DIR
    queries["q54_embedding_near_dup"].spark(spark, SF_DIR).write.format("noop").mode("overwrite").save()
    for warm_q in ("q56_ann_ivf", "q57_mllib_minhash_pairs"):
        queries[warm_q].spark(spark, warm_small).write.format("noop").mode("overwrite").save()
    queries["q01_scan_project"].spark(spark, SF_DIR).write.format("noop").mode("overwrite").save()
    spark.sparkContext._jvm.System.gc()
    time.sleep(2)

    # Streaming before the corpus. The first replay pays one-time
    # stream-planning, state-store and Python-worker costs that a
    # long-running CDC daemon never re-pays, so each figure warms with a
    # replay first and reports the best of its timed runs. Each warm-up is
    # one replay of the timed size: after shorter ones the timed samples
    # still climbed (cdc's first ran 35-40% below its best after a
    # 2,000-event warm-up; win and ses kept rising after 10,000 events).
    stream_errors: dict[str, str] = {}
    stream_attempts: dict[str, int] = {}
    cdc_eps = stream_figure(
        "cdc",
        "_cdc_stream",
        lambda: bench_streaming(spark),
        lambda: bench_streaming(spark),
        3,
        stream_attempts,
        stream_errors,
    )
    win_eps = stream_figure(
        "win",
        "_windowed_stream",
        lambda: bench_windowed_stream(spark),
        lambda: bench_windowed_stream(spark),
        2,
        stream_attempts,
        stream_errors,
    )
    sess_eps = stream_figure(
        "ses",
        "_session_stream",
        lambda: bench_session_stream(spark),
        lambda: bench_session_stream(spark),
        2,
        stream_attempts,
        stream_errors,
    )
    ssj_eps = stream_figure(
        "ssj",
        "_stream_stream_join",
        lambda: bench_stream_stream_join(spark),
        lambda: bench_stream_stream_join(spark),
        2,
        stream_attempts,
        stream_errors,
    )

    # The budget governs the corpus loop only, measured from ITS start, so
    # the streaming phase above never starves the re-time passes.
    budget_s = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", "560"))
    timings, errors = bench_batch_corpus(spark, queries, sorted(queries), budget_s)
    errors.update(stream_errors)

    total = round(sum(timings.values()), 3)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    print(json.dumps({"queries_full": timings, "errors": errors}), file=sys.stderr)
    print(
        build_summary_line(
            timings,
            total,
            sf,
            len(errors),
            cdc_eps,
            win_eps,
            sess_eps,
            ssj_eps,
            stream_attempts=stream_attempts,
        )
    )


if __name__ == "__main__":
    main()
