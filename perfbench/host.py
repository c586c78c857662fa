"""Per-run host annotation and resident-memory sampling.

The annotation is recorded only: it never decides whether a run is
retried, deferred or kept.
"""

from __future__ import annotations

import os
import platform
import signal
import subprocess
import threading
import time


def loadavg_1m() -> float:
    return os.getloadavg()[0]


def java_version() -> str:
    try:
        out = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        ).stderr
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return next((line for line in out.splitlines() if " version " in line), "unknown")


def probe_cpu_s(n: int = 3_000_000) -> float:
    """CPU seconds this process takes for a fixed pure-Python loop: a
    reading of how fast the host's cores run for us right now, which
    neighbours on a shared machine move even when no time is stolen."""
    c0 = time.process_time()
    acc = 0
    for i in range(n):
        acc += i * i
    return time.process_time() - c0


def annotation(seed: int) -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_1m_start": loadavg_1m(),
        "probe_cpu_s_start": probe_cpu_s(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": java_version(),
        "seed": seed,
    }


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


def _children(pid: int) -> list[int]:
    """Children of every thread of ``pid`` (a JVM forks from worker threads)."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
        except OSError:
            pass
    return out


def tree_pids(root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def rss_kb(pid: int, field: str = "VmRSS") -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


#: HotSpot's JIT compiler threads, as /proc cuts their names to 15 characters
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_fields(path: str) -> list[str]:
    with open(path) as f:
        return f.read().rsplit(")", 1)[1].split()


def _tree_ticks(root: int | None) -> tuple[int, int]:
    """(all, JIT compiler) CPU clock ticks used so far by ``root`` and its
    live descendants: user + system, including reaped children."""
    total = jit = 0
    for pid in tree_pids(os.getpid() if root is None else root):
        try:
            total += sum(int(x) for x in _stat_fields(f"/proc/{pid}/stat")[11:15])
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if not f.read().startswith(JIT_THREADS):
                        continue
                jit += sum(int(x) for x in _stat_fields(f"/proc/{pid}/task/{tid}/stat")[11:13])
            except OSError:
                pass
    return total, jit


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by ``root`` and its live descendants, less the
    JVM's JIT compiler threads. Unlike wall time, it does not grow while the
    host runs someone else's work on our CPUs. JIT compilation is left out
    because it is the JVM warming, not the work measured: it keeps running
    in bursts of 0.2-1.9 s per analytics pass for many passes. Compiler
    threads must not exit while measured (``-XX:-UseDynamicNumberOfCompilerThreads``),
    or the time of an exited one would move back into the total."""
    total, jit = _tree_ticks(root)
    return (total - jit) / os.sysconf("SC_CLK_TCK")


def jit_cpu_s(root: int | None = None) -> float:
    """CPU seconds the JVM's JIT compiler threads in the tree used so far."""
    return _tree_ticks(root)[1] / os.sysconf("SC_CLK_TCK")


def jvm_full_gc(spark) -> None:
    """A full collection in the driver JVM. Run before each measured pass,
    outside its window, it keeps G1's old-generation cycles, which otherwise
    land in whichever pass fills the heap and add 2-3 s of CPU to it, out of
    the passes; young collections inside a pass still count."""
    spark.sparkContext._jvm.java.lang.System.gc()


def jvm_gc_ms(spark) -> int:
    """Total collection time so far of every garbage collector in the driver
    JVM (in local mode the executors' tasks run there too)."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size()))


class RssSampler:
    """Peak of the summed resident memory of this process and every
    descendant (the Spark JVM, Python workers, the generator), sampled on a
    background thread."""

    def __init__(self, interval_s: float = 0.05) -> None:
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        total = sum(rss_kb(p) for p in tree_pids(os.getpid()))
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def wait_for_children(timeout_s: float = 30.0) -> None:
    """Wait until every process this one started has exited; kill what is
    left at the deadline."""
    deadline = time.time() + timeout_s
    while time.time() < deadline and _children(os.getpid()):
        time.sleep(0.1)
    for pid in tree_pids(os.getpid())[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    while _children(os.getpid()):
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            break
