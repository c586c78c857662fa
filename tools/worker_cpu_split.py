"""Per-process CPU split of the benchmark's analytics and stream passes.

    SPARK_GRAFT_CPUS=$(nproc) python tools/worker_cpu_split.py

Runs, in one engine session, the perfbench ``analytics`` workload (seed 21:
its checked first pass, one warm pass, then 3 measured passes) and then the
``stream`` workload's drain and session phases (one warm pass, then 3
measured passes). For each measured pass it prints the CPU seconds of five
parts of the process tree, and how many processes and threads the host
started, on one row for the analytics pass and one row for each of the
stream's two phases:

- ``driver_py``: this process, the driver's Python side (plan construction,
  Py4J, the stream's ``foreachBatch`` drain);
- ``jvm``: the Spark JVM's own threads less its JIT compiler threads and
  its garbage collector's;
- ``jvm_gc``: the JVM's garbage-collector threads (``GC Thread#*``,
  ``G1 Conc#*``, ``G1 Main Marker``, ``G1 Refine#*``, ``G1 Service``) and
  its ``VM Thread``, which runs the collection pauses;
- ``spawned``: the processes the JVM started and has reaped (e.g. a shell
  ``chmod``);
- ``workers``: the Python worker daemon and every worker it forked, exited
  ones included;
- ``forks``: every process or thread the host started (``processes`` in
  ``/proc/stat``, which neighbours on a shared host also move).

As in the benchmark, a full GC runs before each phase (the analytics pass,
the stream's drain and its session run), outside the measured window. The
five CPU parts sum to the phase's CPU; a stream phase's window also holds
its delivery check, which the benchmark's ``pass_cpu_s`` leaves out. After
the passes, one line per row (``analytics``, ``stream.drain``,
``stream.session``) has the median of each column.
Run it from the root of a checkout: it uses that checkout's engine and
benchmark modules and writes under ``.perfbench/``.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import datagen  # noqa: E402
import host  # noqa: E402
import run  # noqa: E402
from batch import BatchWorkload  # noqa: E402
from stream import StreamWorkload  # noqa: E402

SEED = 21
PASSES = 3
#: the JVM's collector threads, as /proc cuts their names to 15 characters
GC_THREADS = ("GC Thread#", "G1 Conc#", "G1 Main Marker", "G1 Refine#", "G1 Service", "VM Thread")


def _daemon_pid(jvm_pid: int) -> int | None:
    """The Python worker daemon: the first Python process under the JVM.
    Workers it forks are its children, so its tree holds them all."""
    for pid in host.tree_pids(jvm_pid)[1:]:
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().startswith("python"):
                    return pid
        except OSError:
            pass
    return None


def _host_forks() -> int:
    with open("/proc/stat") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("processes "))


def _gc_cpu_s(jvm_pid: int) -> float:
    ticks = 0
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/comm") as f:
                if not f.read().startswith(GC_THREADS):
                    continue
            stat = host._stat_fields(f"/proc/{jvm_pid}/task/{tid}/stat")
            ticks += int(stat[11]) + int(stat[12])
        except OSError:
            pass
    return ticks / os.sysconf("SC_CLK_TCK")


def split(jvm_pid: int) -> dict[str, float]:
    daemon = _daemon_pid(jvm_pid)
    jvm = host.tree_cpu_s(jvm_pid)
    jvm_gc = _gc_cpu_s(jvm_pid)
    workers = host.tree_cpu_s(daemon) if daemon else 0.0
    reaped = host._stat_fields(f"/proc/{jvm_pid}/stat")[13:15]
    spawned = sum(int(x) for x in reaped) / os.sysconf("SC_CLK_TCK")
    return {
        "driver_py": host.tree_cpu_s() - jvm,
        "jvm": jvm - jvm_gc - workers - spawned,
        "jvm_gc": jvm_gc,
        "spawned": spawned,
        "workers": workers,
        "forks": _host_forks(),
    }


def measure(spark, jvm_pid: int, phases: dict) -> None:
    """Prints the split of every phase in each of ``PASSES`` passes, a pass
    running each callable in ``phases`` after a full GC outside its window,
    and then each phase's median."""
    rows: dict[str, list[dict[str, float]]] = {name: [] for name in phases}
    for _ in range(PASSES):
        for name, phase in phases.items():
            host.jvm_full_gc(spark)
            before = split(jvm_pid)
            phase()
            after = split(jvm_pid)
            one = {k: after[k] - before[k] for k in after}
            one["total"] = sum(v for k, v in one.items() if k != "forks")
            rows[name].append(one)
            print(json.dumps({"phase": name, **{k: round(v, 3) for k, v in one.items()}}),
                  file=sys.stderr)
    for name, passes in rows.items():
        median = {k: round(statistics.median(p[k] for p in passes), 3) for k in passes[0]}
        print(json.dumps({"workload": name, "seed": SEED, "median": median}))


def main() -> None:
    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, f"cpu-split-{os.getpid()}")
    for d in ("spark-local", "tmp", "stream"):
        os.makedirs(os.path.join(run_dir, d))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(run_dir, "tmp")
    # as perfbench/run.py: a fixed set of JIT threads keeps the JIT share exact
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    tables = datagen.write_tables(os.path.join(work, "data", f"seed{SEED}"), SEED)
    spark = run.start_session(run_dir, event_log=False)
    try:
        jvm_pid = spark.sparkContext._gateway.proc.pid
        batch = BatchWorkload(spark, tables)
        batch.check_pass()
        batch.timed(0)
        measure(spark, jvm_pid, {"analytics": lambda: [batch.run_query(q) for q in batch.queries]})

        stream = StreamWorkload(spark, os.path.join(run_dir, "stream"), SEED)
        stream.drain()
        stream.session()
        measure(spark, jvm_pid, {"stream.drain": stream.drain, "stream.session": stream.session})
        print(json.dumps({"failed": batch.failed + stream.failed,
                          "failures": batch.failures + stream.failures}))
    finally:
        spark.stop()
        run.stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
