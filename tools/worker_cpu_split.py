"""Per-process CPU split of the benchmark's analytics pass.

    SPARK_GRAFT_CPUS=$(nproc) python tools/worker_cpu_split.py

Runs the perfbench ``analytics`` workload (seed 21) in one engine session:
its checked first pass, one warm pass, then 3 measured passes. For each
measured pass it prints the CPU seconds of three parts of the process tree:

- ``driver_py``: this process, the driver's Python side (plan construction,
  Py4J);
- ``jvm``: the Spark JVM less its JIT compiler threads, plus any other
  process it started but the worker daemon;
- ``workers``: the Python worker daemon and every worker it forked, exited
  ones included.

Their sum is the benchmark's ``pass_cpu_s`` for that pass; the last line
has the median of each. Run it from the root of a checkout: it uses that
checkout's engine and benchmark modules and writes under ``.perfbench/``.
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

SEED = 21
PASSES = 3


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


def split(jvm_pid: int) -> dict[str, float]:
    daemon = _daemon_pid(jvm_pid)
    jvm = host.tree_cpu_s(jvm_pid)
    workers = host.tree_cpu_s(daemon) if daemon else 0.0
    return {
        "driver_py": host.tree_cpu_s() - jvm,
        "jvm": jvm - workers,
        "workers": workers,
    }


def main() -> None:
    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, f"cpu-split-{os.getpid()}")
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(run_dir, d))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(run_dir, "tmp")
    # as perfbench/run.py: a fixed set of JIT threads keeps the JIT share exact
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    tables = datagen.write_tables(os.path.join(work, "data", f"seed{SEED}"), SEED)
    spark = run.start_session(run_dir, event_log=False)
    try:
        jvm_pid = spark.sparkContext._gateway.proc.pid
        wl = BatchWorkload(spark, tables)
        wl.check_pass()
        wl.timed(0)
        passes = []
        for _ in range(PASSES):
            host.jvm_full_gc(spark)
            before = split(jvm_pid)
            for q in wl.queries:
                wl.run_query(q)
            after = split(jvm_pid)
            one = {k: after[k] - before[k] for k in after}
            one["total"] = sum(one.values())
            passes.append(one)
            print(json.dumps({k: round(v, 3) for k, v in one.items()}), file=sys.stderr)
        median = {k: round(statistics.median(p[k] for p in passes), 3) for k in passes[0]}
        print(json.dumps({"seed": SEED, "failed": wl.failed, "median": median}))
    finally:
        spark.stop()
        run.stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
