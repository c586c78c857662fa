"""The stream workload: the paper's CDC path beside stateful streaming.

Three phases, all on continuous micro-batches (the default trigger):

- drain: a pre-written change-event backlog runs through
  ``file_replay_stream`` and ``start_cdc_query`` into a timing wrapper
  around ``MemoryPublisher``, one file per trigger;
- session: ``windows.session_counts`` over a fixed backlog of user events,
  one file per trigger, state partitions sized by ``streaming.sizing``;
- open loop: a separate generator process writes stamped change-event
  files on a fixed schedule below the drain rate; lag is publish time
  minus each event's due time.

One pass is one drain plus one session run over fresh checkpoints; the
open-loop phase runs once per run, after the passes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time

from pyspark.sql import SparkSession

from mrcond_spark.streaming import windows
from mrcond_spark.streaming.pipeline import start_cdc_query
from mrcond_spark.streaming.sink import MemoryPublisher
from mrcond_spark.streaming.sizing import stream_shuffle_partitions
from mrcond_spark.streaming.source import file_replay_stream

import datagen
from host import tree_cpu_s
from layers import add_micro_batches
from tracing import maybe_span

HERE = os.path.dirname(os.path.abspath(__file__))
EVENT_SCHEMA = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE"

DRAIN_FILES, DRAIN_PER_FILE = 3, 1000
SESSION_FILES, SESSION_PER_FILE = 3, 1000
OPEN_INTERVAL_S, OPEN_PER_FILE = 0.2, 16
OPEN_LOOP_SHARE = 0.5  # of --seconds
START_TIMEOUT_S = 60.0
GEN_START_DELAY_S = 0.5  # generator process start-up, before its first due time


class TimingPublisher:
    """``Publish`` wrapper that times every ``publish_batch`` call.

    Records ``(stream, start, end, payloads)`` per call; while ``tracer`` is
    set it also records a ``publish`` span on the calling (streaming) thread.
    """

    def __init__(self, inner: MemoryPublisher) -> None:
        self.inner = inner
        self.tracer = None
        self.calls: list[tuple[str, float, float, list[str]]] = []
        self._lock = threading.Lock()

    def declare(self, stream_name: str) -> None:
        self.inner.declare(stream_name)

    def publish_batch(self, stream_name: str, payloads: list[str]) -> None:
        t0 = time.time()
        self.inner.publish_batch(stream_name, payloads)
        t1 = time.time()
        with self._lock:
            self.calls.append((stream_name, t0, t1, payloads))
        if self.tracer is not None:
            self.tracer.add("publish", "streaming.sink", t0, t1, None, stream=stream_name,
                            messages=len(payloads))

    def take_calls(self, stream_name: str) -> list[tuple[float, float, list[str]]]:
        """Remove and return the calls made for ``stream_name``."""
        with self._lock:
            mine = [(t0, t1, p) for s, t0, t1, p in self.calls if s == stream_name]
            self.calls = [c for c in self.calls if c[0] != stream_name]
        return mine


def token_of(payload: str) -> int:
    return int(json.loads(json.loads(payload)["_id"])["_data"])


def due_of(payload: str) -> float:
    return json.loads(json.loads(payload)["fullDocument"])["due"]


def publish_lags_ms(calls: list[tuple[float, float, list[str]]], due=due_of) -> list[float]:
    """Lag of every published event: the end of the publish call that
    delivered it minus the time the generator was due to create it."""
    return [(t1 - due(p)) * 1000.0 for _, t1, batch in calls for p in batch]


def delivery_errors(published: list[int], expected: list[int]) -> int:
    """Events lost, duplicated, unexpected or out of order; 0 exactly when
    every expected event was published once, in token order."""
    seen, want = set(published), set(expected)
    lost = len(want - seen)
    unexpected = len(seen - want)
    duplicated = len(published) - len(seen)
    reordered = sum(1 for a, b in zip(published, published[1:]) if b < a)
    return lost + unexpected + duplicated + reordered


class StreamWorkload:
    def __init__(self, spark: SparkSession, work: str, seed: int) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.pub = TimingPublisher(MemoryPublisher())
        self.drain_dir = os.path.join(work, "drain-in")
        self.session_dir = os.path.join(work, "session-in")
        self.n_drain = datagen.write_cdc_backlog(self.drain_dir, seed, DRAIN_FILES, DRAIN_PER_FILE)
        self.n_session = datagen.write_session_backlog(
            self.session_dir, seed + 1, SESSION_FILES, SESSION_PER_FILE
        )
        self._n = 0
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.open_lags_ms: list[float] = []
        self.gen_late_ms: list[float] = []

    def _name(self, kind: str) -> str:
        self._n += 1
        return f"pb_{kind}_{self._n}"

    def _ckpt(self, name: str) -> str:
        return os.path.join(self.work, "ckpt", name)

    def _set_partitions(self, rows_per_trigger: int) -> str:
        old = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set(
            "spark.sql.shuffle.partitions", str(stream_shuffle_partitions(rows_per_trigger))
        )
        return old

    # ---------------- phases ----------------
    def drain(self, tracer=None) -> tuple[float, float]:
        """One pass of the CDC path over the backlog: its wall and CPU
        seconds, up to the end of the drain (the checks come after)."""
        name = self._name("drain")
        old = self._set_partitions(DRAIN_PER_FILE)
        try:
            with maybe_span(tracer, "cdc_drain", "streaming.pipeline", stream=name) as sid:
                t0, c0 = time.perf_counter(), tree_cpu_s()
                with maybe_span(tracer, "file_replay_stream", "streaming.source"):
                    src = file_replay_stream(self.spark, self.drain_dir, 1)
                cq = start_cdc_query(src, self.pub, name, self._ckpt(name))
                cq.query.processAllAvailable()
                wall, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
                progress = self._progress(cq.query)
                cq.query.stop()
        finally:
            self.spark.conf.set("spark.sql.shuffle.partitions", old)
        if tracer is not None:
            add_micro_batches(tracer, sid, progress)
        self._check_delivery(name, list(range(self.n_drain)))
        return wall, cpu

    def session(self, tracer=None) -> tuple[float, float]:
        """One pass of session windows over the backlog: its wall and CPU
        seconds, up to the end of the aggregation (the check comes after)."""
        name = self._name("session")
        old = self._set_partitions(SESSION_PER_FILE)
        try:
            with maybe_span(tracer, "session_window", "streaming.windows", stream=name) as sid:
                t0, c0 = time.perf_counter(), tree_cpu_s()
                stream = (
                    self.spark.readStream.schema(EVENT_SCHEMA)
                    .option("maxFilesPerTrigger", 1)
                    .json(self.session_dir)
                )
                with maybe_span(tracer, "session_counts", "streaming.windows"):
                    agg = windows.session_counts(stream, gap="5 minutes")
                q = (
                    agg.writeStream.format("memory")
                    .queryName(name)
                    .outputMode("complete")
                    .option("checkpointLocation", self._ckpt(name))
                    .start()
                )
                q.processAllAvailable()
                wall, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
                progress = self._progress(q)
                q.stop()
        finally:
            self.spark.conf.set("spark.sql.shuffle.partitions", old)
        if tracer is not None:
            add_micro_batches(tracer, sid, progress)
        total = self.spark.sql(f"SELECT COALESCE(SUM(cnt), 0) AS c FROM {name}").first()["c"]
        self.spark.catalog.dropTempView(name)
        self.attempted += 1
        if total != self.n_session:
            self.failed += 1
            self.failures.append(f"{name}: SUM(cnt) {total} != {self.n_session} input events")
        return wall, cpu

    def open_loop(self, seconds: float, tracer=None) -> None:
        name = self._name("open")
        in_dir = os.path.join(self.work, name)
        os.makedirs(in_dir)
        files = max(1, int(seconds / OPEN_INTERVAL_S))
        first_id = 10**9
        old = self._set_partitions(OPEN_PER_FILE)
        try:
            with maybe_span(tracer, "open_loop", "streaming.pipeline", stream=name) as sid:
                progress = self._run_open_loop(name, in_dir, files, first_id, tracer)
        finally:
            self.spark.conf.set("spark.sql.shuffle.partitions", old)
        if tracer is not None:
            add_micro_batches(tracer, sid, progress)
        calls = self._check_delivery(name, list(range(first_id, first_id + files * OPEN_PER_FILE)))
        self.open_lags_ms = publish_lags_ms(calls)

    def _run_open_loop(self, name, in_dir, files, first_id, tracer) -> list[dict]:
        with maybe_span(tracer, "file_replay_stream", "streaming.source"):
            src = file_replay_stream(self.spark, in_dir, 10_000)
        cq = start_cdc_query(src, self.pub, name, self._ckpt(name))
        report = os.path.join(self.work, f"{name}-gen.json")
        try:
            self._await_idle(cq.query)
            gen = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "gen.py"), "--out", in_dir,
                 "--report", report, "--seed", str(self.seed + 2),
                 "--start", repr(time.time() + GEN_START_DELAY_S),
                 "--interval", repr(OPEN_INTERVAL_S), "--files", str(files),
                 "--per-file", str(OPEN_PER_FILE), "--first-id", str(first_id)]
            )
            try:
                gen.wait(timeout=files * OPEN_INTERVAL_S + START_TIMEOUT_S)
            finally:
                if gen.poll() is None:
                    gen.kill()
                    gen.wait()
            if gen.returncode != 0:
                raise RuntimeError(f"generator exited with {gen.returncode}")
            cq.query.processAllAvailable()
            return self._progress(cq.query)
        finally:
            cq.query.stop()
            if os.path.exists(report):
                with open(report) as f:
                    self.gen_late_ms = json.load(f)["late_ms"]

    # ---------------- helpers ----------------
    @staticmethod
    def _progress(q) -> list[dict]:
        return [p for p in (json.loads(x.json) for x in q.recentProgress) if p.get("numInputRows", 0) > 0]

    @staticmethod
    def _await_idle(q) -> None:
        """Wait until the query has run its first trigger and found no data."""
        deadline = time.time() + START_TIMEOUT_S
        while time.time() < deadline:
            if q.status.get("message", "").startswith("Waiting for data"):
                return
            if q.exception() is not None:
                raise RuntimeError(f"stream failed to start: {q.exception()}")
            time.sleep(0.02)
        raise RuntimeError("stream did not start within the timeout")

    def _check_delivery(self, name: str, expected: list[int]) -> list:
        """Count lost, duplicated and out-of-order events of stream ``name``
        and release its messages; returns its publish calls."""
        calls = self.pub.take_calls(name)
        published = [token_of(p) for _, _, batch in calls for p in batch]
        errors = min(len(expected), delivery_errors(published, expected))
        self.attempted += len(expected)
        self.failed += errors
        if errors:
            self.failures.append(f"{name}: {errors} events lost, duplicated or out of order")
        self.pub.inner.messages.pop(name, None)
        return calls
