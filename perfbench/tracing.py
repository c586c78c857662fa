"""Spans for the traced run.

A span is a named interval at a layer boundary with the span that caused
it. Spans are recorded from the benchmark's own files, around calls into
each layer's public functions, kept in memory and written out when the run
ends. A span on the Python main thread also sets the Spark job group to
its own id, so the offline event-log pass can attach every job, stage and
task to the innermost span that launched it.
"""

from __future__ import annotations

import functools
import itertools
import json
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

GROUP_PREFIX = "pb-"


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    layer: str
    start: float  # epoch seconds
    end: float
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def group_id(span_id: int) -> str:
    return f"{GROUP_PREFIX}{span_id}"


def span_of_group(group: str | None) -> int | None:
    if group and group.startswith(GROUP_PREFIX):
        return int(group[len(GROUP_PREFIX):])
    return None


class Tracer:
    """Per-thread span stacks over one shared span list.

    ``sc`` is the SparkContext whose job group follows the innermost
    job-grouping span on the calling thread; pass None to record spans only.
    """

    def __init__(self, sc=None, clock=time.time) -> None:
        self.sc = sc
        self.clock = clock
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[tuple[int, str, bool]]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, stack: list[tuple[int, str, bool]]) -> None:
        for sid, name, grouped in reversed(stack):
            if grouped:
                self.sc.setJobGroup(group_id(sid), name)
                return
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        stack = self._stack()
        parent = stack[-1][0] if stack else None
        sid = next(self._ids)
        grouped = self.sc is not None
        stack.append((sid, name, grouped))
        if grouped:
            self._set_group(stack)
        start = self.clock()
        try:
            yield attrs
        finally:
            end = self.clock()
            stack.pop()
            if grouped:
                self._set_group(stack)
            self.add(name, layer, start, end, parent, sid=sid, **attrs)

    def add(
        self, name: str, layer: str, start: float, end: float,
        parent: int | None, sid: int | None = None, **attrs,
    ) -> int:
        """Record a finished span (also used for spans rebuilt after the fact,
        such as micro-batches read from streaming progress)."""
        sid = next(self._ids) if sid is None else sid
        with self._lock:
            self.spans.append(Span(sid, parent, name, layer, start, end, dict(attrs)))
        return sid

    def current(self) -> int | None:
        stack = self._stack()
        return stack[-1][0] if stack else None

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in sorted(self.spans, key=lambda s: s.id)], f)


@contextmanager
def maybe_span(tracer: Tracer | None, name: str, layer: str, **attrs):
    """``tracer.span`` yielding the new span's id; a no-op yielding None
    when the run is untraced."""
    if tracer is None:
        yield None
        return
    with tracer.span(name, layer, **attrs):
        yield tracer.current()


@contextmanager
def pass_span(tracer: Tracer, gc_ms):
    """A ``pass`` span, numbered in order, that also records how many
    milliseconds of GC the ``gc_ms`` counter (the driver JVM's collectors)
    accrued during it."""
    index = sum(s.name == "pass" for s in tracer.spans)
    g0 = gc_ms()
    with tracer.span("pass", "workload", index=index) as attrs:
        yield
        attrs["jvm_gc_ms"] = gc_ms() - g0


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of its interval that its
    children cover (children clipped to the parent's interval)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.id, [])
            if c.end > s.start and c.start < s.end
        ]
        out[s.id] = s.duration - union_length(covered)
    return out


def instrument(tracer: Tracer, fn, name: str, layer: str):
    """``fn`` wrapped in a span named ``name``."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name, layer):
            return fn(*args, **kwargs)

    return wrapper


def rebind(original, replacement, package: str = "mrcond_spark") -> list[tuple[object, str]]:
    """Point every module-level name in ``package`` that is bound to
    ``original`` at ``replacement`` — including names a module imported with
    ``from x import f``. Returns the rebound (module, name) pairs."""
    done = []
    for modname, mod in list(sys.modules.items()):
        if mod is None or not (modname == package or modname.startswith(package + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, replacement)
                done.append((mod, attr))
    return done


def unbind(done: list[tuple[object, str]], original) -> None:
    for mod, attr in done:
        setattr(mod, attr, original)
