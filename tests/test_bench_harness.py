"""bench.py harness behavior pins (no Spark session needed): the corpus
min-of-N loop with stub queries on a fake clock, the fixed best-of
streaming figure, and the summary line."""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


class _Clock:
    """Stands in for bench's ``time`` module: ``perf_counter`` reads a
    counter that only the stub queries advance."""

    def __init__(self):
        self.now = 0.0

    def perf_counter(self):
        return self.now


@pytest.fixture
def clock(monkeypatch):
    c = _Clock()
    monkeypatch.setattr(bench, "time", c)
    return c


class _NoopWrite:
    def format(self, *_):
        return self

    def mode(self, *_):
        return self

    def save(self, *_):
        return None


class _Result:
    write = _NoopWrite()


class _Stub:
    """A query whose n-th run (1-based) costs ``costs[n-1]`` clock seconds
    (the last entry repeats) and raises when that cost is None; every call
    is appended to ``log``."""

    def __init__(self, name, clock, log, *costs):
        self.name, self.clock, self.log, self.costs = name, clock, log, costs
        self.calls = 0

    def spark(self, _spark, _sf):
        self.calls += 1
        self.log.append(self.name)
        cost = self.costs[min(self.calls, len(self.costs)) - 1]
        if cost is None:
            raise RuntimeError("transient stall")
        self.clock.now += cost
        return _Result()


def _corpus(clock, budget_s, **costs):
    log: list[str] = []
    queries = {n: _Stub(n, clock, log, *c) for n, c in costs.items()}
    timings, errors = bench.bench_batch_corpus(None, queries, list(costs), budget_s)
    return timings, errors, queries, log


def test_pass1_error_is_retried_and_cleared(clock):
    timings, errors, queries, _ = _corpus(
        clock, 30.0, q_ok=(0.1,), q_flaky=(None, 0.1)
    )
    assert errors == {}  # the pass-2 retry cleared the pass-1 failure
    assert timings == {"q_ok": 0.1, "q_flaky": 0.1}
    assert queries["q_flaky"].calls >= 2


def test_persistent_error_stays_recorded(clock):
    timings, errors, queries, _ = _corpus(clock, 10.0, q_dead=(None,))
    assert "transient stall" in errors["q_dead"]
    assert timings == {}
    assert queries["q_dead"].calls == 4  # pass 1 + passes 2-4


def test_slow_first_sample_is_replaced_by_faster_retime(clock):
    timings, errors, queries, _ = _corpus(clock, 30.0, q=(6.0, 0.5))
    assert errors == {}
    assert timings == {"q": 0.5}  # min of the passes, not the first sample
    assert queries["q"].calls == 4


def test_zero_budget_times_each_query_once(clock):
    """Pass 1 always runs whole; with the budget gone, no re-time starts."""
    timings, errors, queries, log = _corpus(clock, 0.0, q1=(0.2,), q2=(0.1,), q3=(None,))
    assert log == ["q1", "q2", "q3"]
    assert timings == {"q1": 0.2, "q2": 0.1}
    assert set(errors) == {"q3"}


def test_pass2_retimes_errored_then_slowest_first(clock):
    """Pass 1 runs in the given order; pass 2 puts the errored query ahead
    of every timed one, then the timed ones slowest first. Pass 1 ends at
    clock 6, pass 2 starts its last re-time at 11.5 and ends at 12.5, so a
    12 s budget stops the loop right after pass 2."""
    timings, errors, _, log = _corpus(
        clock, 12.0, a=(1.0,), b=(3.0,), c=(None, 0.5), d=(2.0,)
    )
    assert log == ["a", "b", "c", "d", "c", "b", "d", "a"]
    assert errors == {}
    assert timings == {"a": 1.0, "b": 3.0, "c": 0.5, "d": 2.0}


def _timed(samples):
    it = iter(samples)

    def timed():
        s = next(it)
        if isinstance(s, Exception):
            raise s
        return s

    return timed


def _figure(samples, n=2, warm=lambda: None):
    attempts, errors = {}, {}
    best = bench.stream_figure("cdc", "_cdc", warm, _timed(samples), n, attempts, errors)
    return best, attempts, errors


def test_stream_figure_takes_fixed_best_of():
    """A low sample earns no extra attempt: the figure is the best of
    exactly n timed runs."""
    best, attempts, errors = _figure([100.0, 300.0, 200.0, 900.0], n=3)
    assert best == 300.0
    assert attempts == {"cdc": 3}
    assert errors == {}


def test_raise_after_samples_keeps_measurements_and_records_error():
    """A run that raises mid-figure must NOT discard the samples already
    taken: the figure keeps its best, the attempt count includes the run
    that raised, and the error is recorded alongside the measurement."""
    best, attempts, errors = _figure([50.0, 60.0, RuntimeError("storm kill")], n=3)
    assert best == 60.0
    assert attempts == {"cdc": 3}
    assert "storm kill" in errors["_cdc"]


def test_raise_before_any_sample_gives_zero_and_records_error():
    best, attempts, errors = _figure([RuntimeError("dead sink")])
    assert best == 0.0
    assert attempts == {"cdc": 1}  # the attempt that raised is counted
    assert "dead sink" in errors["_cdc"]

    def broken_warm():
        raise RuntimeError("no warm")

    best, attempts, errors = _figure([1.0], warm=broken_warm)
    assert (best, attempts) == (0.0, {"cdc": 0})
    assert "no warm" in errors["_cdc"]


def test_stream_shuffle_partition_sizing():
    """Partitions follow declared per-trigger volume, not cluster width:
    state stores cost per partition per micro-batch (measured 1.6-2.8x on
    the stateful benches going 32 -> 4 partitions at the single 100k-row
    availableNow batch the file source actually produces)."""
    from mrcond_spark.streaming.sizing import stream_shuffle_partitions

    assert stream_shuffle_partitions(100_000) == 4  # the bench trigger size
    assert stream_shuffle_partitions(5_000) == 1  # CDC bench trigger
    assert stream_shuffle_partitions(0) == 1
    assert stream_shuffle_partitions(32_768) == 1
    assert stream_shuffle_partitions(32_769) == 2
    # 100 TB-scale trigger: the rule scales out
    assert stream_shuffle_partitions(10_000_000) == 306
    with pytest.raises(ValueError, match="rows_per_trigger"):
        stream_shuffle_partitions(-1)


def test_sized_stream_parts_sets_and_restores_conf():
    """The bench context manager must leave the batch corpus's shuffle
    setting exactly as it found it, success or raise."""
    class _Conf:
        def __init__(self):
            self.vals = {"spark.sql.shuffle.partitions": "32"}

        def get(self, k):
            return self.vals[k]

        def set(self, k, v):
            self.vals[k] = v

    class _Spark:
        conf = _Conf()

    spark = _Spark()
    with bench._sized_stream_parts(spark, 100_000):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    assert spark.conf.get("spark.sql.shuffle.partitions") == "32"
    with pytest.raises(RuntimeError):
        with bench._sized_stream_parts(spark, 100_000):
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == "32"


def test_summary_line_carries_attempts():
    """The 'satt' key (cdc/win/ses/ssj order) must survive into the one
    parsed stdout line."""
    line = bench.build_summary_line(
        {"q01_x": 1.0},
        1.0,
        "0.1",
        0,
        1.0,
        1.0,
        1.0,
        1.0,
        stream_attempts={"cdc": 3, "win": 2, "ses": 2, "ssj": 1},
    )
    parsed = json.loads(line)
    assert parsed["satt"] == [3, 2, 2, 1]
    assert set(parsed) == {
        "metric", "value", "unit", "queries", "sf", "n",
        "cdc", "win", "ses", "ssj", "errs", "satt",
    }
    # main() records attempts for every figure, so "satt" is always on a
    # real line; the None default serves the line-budget tests
    clean = json.loads(
        bench.build_summary_line({"q01_x": 1.0}, 1.0, "0.1", 0, 1.0, 1.0, 1.0, 1.0)
    )
    assert "satt" not in clean
