"""Benchmark entry point: one workload, one seed, one measured run.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. ``--trace 0`` prints every end-to-end
metric; ``--trace 1`` runs the traced variant and prints the per-layer
metrics, and writes the span file and the layer table under
``.perfbench/out/``. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. A human-readable summary
goes to standard error. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("analytics", "stream")
#: cold set-ups per run; ``setup_s`` is their median (with two, their mean).
#: Each costs 8-20 s on a shared 4-vCPU host, so a third would push 48 runs
#: past 3420 s when the host is slow.
SETUPS = 2
#: untimed passes before measuring (``analytics`` runs its checked first
#: pass before these), and the measured passes every figure is taken from.
#: The JVM is still compiling the hot paths: the first pass runs up to 2x
#: slower than later ones, and CPU per pass keeps falling for several passes
#: after that. The counts keep a run near a minute on a slow shared 4-vCPU
#: host, as 48 runs must fit in 3420 s.
ANALYTICS_WARM_PASSES, ANALYTICS_PASSES = 1, 4
STREAM_WARM_PASSES, STREAM_PASSES = 1, 3


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_session(run_dir: str, event_log: bool):
    from mrcond_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    return get_spark("perfbench", cpus=len(os.sched_getaffinity(0)), extra_conf=conf)


def warm_up(spark, tables: str) -> None:
    from mrcond_spark import catalog

    catalog.load(spark, tables, "lineitem").groupBy("l_returnflag").count().collect()


def instrumented(tracer):
    """Rebind the layer entry points the spans wrap; returns an undo."""
    from mrcond_spark import catalog, operators
    from tracing import instrument, rebind, unbind

    targets = [
        (catalog.load, "catalog.load", "catalog"),
        (operators.materialize_once, "materialize_once", "operators"),
        (operators.ensure_parallelism, "ensure_parallelism", "operators"),
    ]
    undo = [(orig, rebind(orig, instrument(tracer, orig, name, layer)))
            for orig, name, layer in targets]
    return lambda: [unbind(done, orig) for orig, done in undo]


def stop_jvm() -> None:
    """End the Spark driver JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------
def fixed_passes(res: dict, n: int, walls: list, cpu: list, per_query: list) -> None:
    """Keep the first ``n`` measured passes as the run's figures, so every
    run reports the same stretch of the JVM's warm-up curve however fast the
    code is; later passes that fill ``--seconds`` go to the annotation."""
    res["passes"], res["cpu"] = walls[:n], cpu[:n]
    res["latency_ms"] = [w * 1000.0 for pq in per_query[:n] for w in pq]
    res["extra_passes"] = {"walls": walls[n:], "cpu": cpu[n:]}


def run_analytics(spark, tables: str, seconds: float, tracer):
    from batch import BatchWorkload

    wl = BatchWorkload(spark, tables)
    t0 = time.perf_counter()
    wl.check_pass()
    for _ in range(ANALYTICS_WARM_PASSES):
        wl.timed(0)
    res = {"traced_passes": [], "warm_s": time.perf_counter() - t0}
    if tracer is None:
        fixed_passes(res, ANALYTICS_PASSES,
                     *wl.timed(seconds, min_passes=ANALYTICS_PASSES))
        return wl, res
    # alternate untraced and traced passes; the untraced ones give the wall
    # figures and the tracing overhead
    walls, cpu, per_query = [], [], []
    deadline = time.perf_counter() + seconds
    while len(walls) < ANALYTICS_PASSES or time.perf_counter() < deadline:
        w, c, q = wl.timed(0)
        walls += w
        cpu += c
        per_query += q
        undo = instrumented(tracer)
        try:
            res["traced_passes"] += wl.timed(0, tracer)[0]
        finally:
            undo()
    fixed_passes(res, ANALYTICS_PASSES, walls, cpu, per_query)
    res["traced_passes"] = res["traced_passes"][:ANALYTICS_PASSES]
    return wl, res


def run_stream(spark, work: str, seed: int, seconds: float, tracer):
    from host import jvm_full_gc, jvm_gc_ms
    from stream import OPEN_LOOP_SHARE, StreamWorkload
    from tracing import pass_span

    def one_pass(tr=None) -> tuple[float, float]:
        jvm_full_gc(spark)
        drain_wall, drain_cpu = wl.drain(tr)
        jvm_full_gc(spark)
        session_wall, session_cpu = wl.session(tr)
        return drain_wall + session_wall, drain_cpu + session_cpu

    wl = StreamWorkload(spark, work, seed)
    t0 = time.perf_counter()
    for _ in range(STREAM_WARM_PASSES):  # untimed; deliveries are checked like every pass
        one_pass()
    warm = time.perf_counter() - t0
    walls, cpu, traced = [], [], []
    deadline = time.perf_counter() + seconds * (1.0 - OPEN_LOOP_SHARE)
    while len(walls) < STREAM_PASSES or time.perf_counter() < deadline:
        w, c = one_pass()
        walls.append(w)
        cpu.append(c)
        if tracer is not None:
            wl.pub.tracer = tracer
            with pass_span(tracer, lambda: jvm_gc_ms(spark)):
                traced.append(one_pass(tracer)[0])
            wl.pub.tracer = None
    wl.pub.tracer = tracer
    wl.open_loop(seconds * OPEN_LOOP_SHARE, tracer)
    wl.pub.tracer = None
    res = {"traced_passes": traced[:STREAM_PASSES], "warm_s": warm}
    fixed_passes(res, STREAM_PASSES, walls, cpu, [])
    res["latency_ms"] = wl.open_lags_ms
    return wl, res


# --------------------------------------------------------------------------
# reporting
# --------------------------------------------------------------------------
def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def wall_figures(res: dict, peak_mb: float, notes: dict) -> dict[str, float]:
    """Wall-clock and memory figures of the untraced passes. They are
    reported, not bounded: the host's speed moves them by up to 2x between
    runs on a small shared VM (see README.md, Steadiness). The tail is left
    out when too few samples can carry one."""
    from stats import TAIL_BEYOND, tail

    lat = res["latency_ms"]
    notes.update({"latency_samples": len(lat), "pass_walls": res["passes"],
                  "pass_cpu": res["cpu"], "extra_passes": res["extra_passes"]})
    out = {
        "pass_s": statistics.median(res["passes"]),
        "latency_ms.p50": statistics.median(lat),
        "peak_rss_mb": peak_mb,
    }
    if len(lat) > TAIL_BEYOND:
        out["latency_ms.tail"], notes["latency_tail_percentile"], _ = tail(lat)
    return out


def end_to_end(setup: list[float], res: dict, peak_mb: float, notes: dict) -> dict:
    notes["setup_samples"] = setup
    notes["wall"] = wall_figures(res, peak_mb, notes)
    return {
        "setup_s": metric(statistics.median(setup), "s"),
        "pass_cpu_s": metric(statistics.median(res["cpu"]), "s"),
    }


def per_layer(tracer, log, res: dict, wl, setup_spans: list[float], peak_mb: float,
              notes: dict, out_prefix: str) -> dict:
    import layers

    un, tr = res["passes"], res["traced_passes"]
    table, rows = layers.layer_table(tracer.spans, log, len(tr))
    passes = layers.traced_passes(tracer.spans, len(tr))
    table["self_s"] = layers.layer_self_times(tracer.spans, passes)
    table.update(wall_figures(res, peak_mb, notes))
    table["session.start_s"] = statistics.median(setup_spans)
    table["trace.pass_s"] = statistics.median(tr)
    table["trace.overhead_s"] = statistics.median(tr) - statistics.median(un)
    table["gen.late_ms"] = statistics.median(wl.gen_late_ms) if wl.gen_late_ms else 0.0
    table["failed_ratio"] = wl.failed / max(1, wl.attempted)
    for k, v in table["self_s"].items():
        table[f"self_s.{k}"] = v
    tracer.dump(out_prefix + "-spans.json")
    with open(out_prefix + "-layers.json", "w") as f:
        json.dump({"table": table, "passes": rows, "notes": notes}, f, indent=1, default=str)
    return {k: metric(table.get(k, 0), u) for k, u in layers.PER_LAYER_UNITS.items()}


def measure(args, run_dir: str, tables: str, tracer, phases: dict) -> tuple:
    """Set up ``SETUPS`` times, each in a fresh JVM, then run the workload
    on the last session. Returns (workload, results, setup walls,
    session-start walls)."""
    import host
    from tracing import maybe_span

    setup, session_start = [], []
    spark = None
    try:
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
                stop_jvm()
            with maybe_span(tracer, "setup", "session"):
                t0 = time.perf_counter()
                spark = start_session(run_dir, event_log=bool(args.trace))
                session_start.append(time.perf_counter() - t0)
                warm_up(spark, tables)
                setup.append(time.perf_counter() - t0)
        phases["setup"] = sum(setup)
        if tracer is not None:
            tracer.sc = spark.sparkContext
        t0, j0, jit0 = time.perf_counter(), host.cpu_jiffies(), host.jit_cpu_s()
        with maybe_span(tracer, "workload", "workload", workload=args.workload):
            if args.workload == "analytics":
                wl, res = run_analytics(spark, tables, args.seconds, tracer)
            else:
                wl, res = run_stream(spark, os.path.join(run_dir, "stream"), args.seed,
                                     args.seconds, tracer)
        phases["workload"] = time.perf_counter() - t0
        phases["cpu_steal_share"] = host.steal_share(j0, host.cpu_jiffies())
        phases["workload_jit_cpu"] = host.jit_cpu_s() - jit0
        spark.stop()
        spark = None
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
    return wl, res, setup, session_start


def read_traced_log(eventlog_dir: str):
    """The event log of the session that ran the traced passes."""
    import eventlog

    for name in sorted(os.listdir(eventlog_dir), reverse=True):
        log = eventlog.read(os.path.join(eventlog_dir, name))
        if any(j.group and j.group.startswith("pb-") for j in log.jobs.values()):
            return log
    return eventlog.EventLog()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "mrcond_spark", "__init__.py")):
        print("perfbench: the engine package mrcond_spark is not in this checkout; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import datagen
    import host
    from tracing import Tracer, maybe_span

    t_start = time.perf_counter()
    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, f"run-{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("spark-local", "tmp", "eventlog", "stream"):
        os.makedirs(os.path.join(run_dir, d))
    os.makedirs(os.path.join(work, "out"), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(run_dir, "tmp")
    # HotSpot writes its perf-data file under /tmp whatever java.io.tmpdir
    # says; a fixed set of compiler threads keeps host.tree_cpu_s exact
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    notes = host.annotation(args.seed)
    phases: dict[str, float] = {}
    t0 = time.perf_counter()
    tables = datagen.write_tables(os.path.join(work, "data", f"seed{args.seed}"), args.seed)
    phases["inputs"] = time.perf_counter() - t0

    tracer = Tracer() if args.trace else None
    try:
        with host.RssSampler() as rss, maybe_span(tracer, "run", "workload"):
            wl, res, setup, session_start = measure(args, run_dir, tables, tracer, phases)
    finally:
        host.wait_for_children()
    notes["loadavg_1m_end"] = host.loadavg_1m()
    notes["probe_cpu_s_end"] = host.probe_cpu_s()
    notes["failures"] = wl.failures
    if wl.gen_late_ms:
        late = wl.gen_late_ms
        notes["generator_late_ms"] = {"median": statistics.median(late), "max": max(late)}
    if args.trace:
        prefix = os.path.join(work, "out", f"{args.workload}-seed{args.seed}")
        log = read_traced_log(os.path.join(run_dir, "eventlog"))
        metrics = per_layer(tracer, log, res, wl, session_start, rss.peak_mb, notes, prefix)
    else:
        metrics = end_to_end(setup, res, rss.peak_mb, notes)
    shutil.rmtree(run_dir, ignore_errors=True)
    phases["warm"] = res["warm_s"]
    phases["total"] = time.perf_counter() - t_start
    notes["phase_s"] = phases
    print(json.dumps(notes, default=str), file=sys.stderr)
    for k, v in metrics.items():
        print(f"  {k:34s} {v['value']:>16.6g} {v['unit']}", file=sys.stderr)
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
