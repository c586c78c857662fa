"""SparkSession factory tuned for the engine.

Design notes (100 TB scale):
- AQE on: runtime coalescing of shuffle partitions, dynamic broadcast-join
  conversion, and skew-join splitting replace hand-tuned partition counts.
- Arrow on: every Pandas UDF / applyInPandas crosses the JVM<->Python boundary
  in columnar Arrow batches instead of pickled rows.
- ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; AQE
  coalesces down using ``advisoryPartitionSizeInBytes``. On a real cluster we
  would raise the bound to ~2-3x total cores and let AQE shrink.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle (naive timestamps) bit-for-bit.
- Python workers start through ``mrcond_spark.worker_daemon``. Each UDF task
  begins with ``importlib.invalidate_caches()``. Before Python 3.13, which
  made the re-read lazy, that makes every zipimporter re-read its archive's
  directory at once (``pyspark.zip`` of PySpark 4.1.2 has 1,328 entries),
  although the archive never changes; the daemon re-reads only an archive
  whose mtime or size moved. ``spark.executorEnv.PYTHONPATH`` points at
  this package's parent directory on the driver's disk, so the workers can
  import the daemon module whatever the driver's working directory. That
  holds only under the local master set here: on a cluster every executor
  would need ``mrcond_spark`` importable at that same path. UDF closures
  stay self-contained, so a plain session with the stock daemon still runs
  every query without the package on its workers.
- The ``file:`` scheme runs through the engine's Hadoop file systems in
  ``jvm/mrcond-spark-fs.jar`` (sources under ``jvm/src``, rebuilt by
  ``tools/build_jvm.py``). PySpark ships without the native ``libhadoop``,
  so the stock ``RawLocalFileSystem`` sets every permission by running a
  shell ``chmod`` and reads every link status, which each atomic
  ``FileContext.rename`` asks for, by running ``readlink``: a streaming
  micro-batch's offsets, commits, source-log and state-delta files, each
  with its ``.crc`` sibling, made the driver JVM start about 30 processes.
  The engine classes do that work through ``java.nio`` and leave the rest,
  the ``.crc`` layer, checkpoint checksums and the atomic rename included,
  to the stock classes; a mode NIO cannot set goes to the stock code. The
  jar rides on ``spark.driver.extraClassPath``, which under the local
  master set here is the executors' classpath too: on a cluster every
  executor would need the jar on its classpath as well. The settings take
  effect only when ``get_spark`` starts the JVM: a session it takes from a
  JVM that was already running keeps the stock classes.
- Tungsten pages and broadcast blocks are sized from the driver heap
  (``collectable_buffer_size``), so that neither is a G1 humongous object.
  G1 picks a 4 MB region for the default 8g heap, and any object over half
  a region is humongous: it is zeroed, placed straight in the old
  generation, and its allocation may start a concurrent cycle. Spark's own
  page for that heap on 4 cores is 64 MB less 16 B, so every page a hash
  aggregate (``BytesToBytesMap``) or a sort (``UnsafeExternalSorter``, e.g.
  under the session window's ``MergingSessionsExec``) took was such a
  ``long[]``: a GC log of a session-window pass showed a concurrent mark
  cycle every 20-250 ms. Every broadcast, each stage's task binary
  included, starts with one ``spark.broadcast.blockSize`` chunk, a 4 MB
  ``byte[]`` by default, however small its content. Both are set to a
  quarter of the region G1 picks for the heap, so the array with its 16 B
  header stays under half a region, and up to a 64 GB heap the 8,192 pages
  of a task's page table still cover the whole heap. Like the file systems
  above, the settings take effect only when ``get_spark`` starts the JVM:
  they are derived from the heap ``get_spark`` asks for, a session taken
  from a running JVM keeps the sizes it started with, and plain sessions
  keep Spark's defaults. Off-heap Tungsten memory would also keep pages out
  of the G1 heap, but needs a ``spark.memory.offHeap.size`` budget the
  engine does not have. Pinning ``-XX:G1HeapRegionSize`` through the
  JVM's options would also work, since ``get_spark`` merges the caller's
  ``spark.driver.extraJavaOptions`` with its own flags, but it overrides
  G1's region choice for every heap; sizing the buffers leaves G1 alone.
- The driver JVM starts on a JDK 17 dynamic class-data-sharing archive of
  the classes it loaded last time (``cds_options``). Mapping it skips
  parsing and verifying thousands of Spark, Scala and Hadoop classes: a
  cold ``get_spark`` plus its first query took 14.4 s on 4 vCPUs, 7.5 s
  with the archive. JDK 17 neither records nor maps an archive when a
  non-empty directory comes before a classpath entry it used, and
  ``spark-class`` puts ``$SPARK_HOME/conf/`` (its ``*.template`` files)
  before ``jars/*``; ``driver_class_path`` therefore lists ``FS_JAR``, the
  caller's entries and Spark's jars first. The conf directory stays on the
  classpath after them, and no Spark jar carries a root-level resource it
  would shadow. The archive is keyed (``archive_key``) by the ``java``
  binary and its ``libjvm.so``, the path, size and mtime of every
  classpath jar, and ``spark.driver.memory``, and kept in ``CDS_DIR`` next
  to ``FS_JAR``; recording a key deletes the others, and deleting the
  archive is always safe. The first launch of a key records it with
  ``-XX:ArchiveClassesAtExit``: that set-up runs slower (21 s against 14 s)
  and the JVM spends 12-16 s writing the archive when it exits. A key is
  recorded at most once, so a failed dump never puts that cost on every
  launch. A process waits at exit for the JVM ``get_spark`` launched for
  it (``_await_exit``), so no JVM, a recording one included, outlives its
  driver. ``-Xlog:cds*=off`` keeps the JVM's CDS warnings, about 660 lines
  while recording, off the driver's stdout, which is also the Python
  process's. The caller's
  ``spark.driver.extraJavaOptions`` are appended to the engine's flags,
  not dropped. Like the settings above, the archive takes effect only when
  ``get_spark`` starts the JVM, and only for the driver JVM, which under
  the local master is the only one: executors on a cluster would need an
  archive of their own.
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import os
import re
import shutil
import subprocess

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

#: the directory ``mrcond_spark`` is imported from, for the Python workers
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: the engine's fork-free local file systems (see the design notes)
FS_JAR = os.path.join(_PACKAGE_PARENT, "mrcond_spark", "jvm", "mrcond-spark-fs.jar")
#: where the driver JVM's class-data archive is kept (see the design notes)
CDS_DIR = os.path.dirname(FS_JAR)
#: the first bytes of a finished JDK 17 dynamic archive: its magic, in the
#: header the JVM writes last
_CDS_MAGIC = bytes.fromhex("a8ab0bf0")
#: how long a process waits at exit for its JVM, which may be writing an archive
_EXIT_WAIT_S = 300

_MEM_UNITS = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def driver_class_path(extra: str | None = None) -> str:
    """The driver classpath: ``FS_JAR``, then ``extra``, then Spark's jars,
    so every class resolves ahead of the ``$SPARK_HOME/conf/`` directory
    that ``spark-class`` puts before the jars."""
    spark_jars = os.path.join(_find_spark_home(), "jars", "*")
    return os.pathsep.join(filter(None, [FS_JAR, extra, spark_jars]))


def _stamp(path: str) -> str:
    try:
        st = os.stat(path)
    except OSError:
        return f"{path} -"
    return f"{path} {st.st_size} {st.st_mtime_ns}"


def archive_key(class_path: str, driver_memory: str) -> str:
    """Names the archive of one JVM set-up: the ``java`` binary and its
    ``libjvm.so``, the path, size and mtime of every classpath jar (a
    ``dir/*`` entry expanded as ``java`` expands it), and the heap."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java") or "java"
    java = os.path.realpath(java)
    libjvm = os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "server", "libjvm.so")
    parts = [_stamp(java), _stamp(libjvm), f"heap {driver_memory}"]
    for entry in class_path.split(os.pathsep):
        if os.path.basename(entry) == "*":
            jars = glob.glob(os.path.join(os.path.dirname(entry), "*.[jJ][aA][rR]"))
            parts += [_stamp(p) for p in sorted(jars)]
        else:
            parts.append(_stamp(entry))
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()[:16]


def archive_complete(path: str) -> bool:
    """Whether ``path`` is a finished dynamic archive; an interrupted or
    unfinished dump has no header yet."""
    try:
        with open(path, "rb") as f:
            return f.read(len(_CDS_MAGIC)) == _CDS_MAGIC
    except OSError:
        return False


def cds_options(class_path: str, driver_memory: str) -> list[str]:
    """JVM flags that map the archive of this set-up, or record it. A key is
    recorded at most once: the recorder claims it with an exclusive
    ``.claim`` file, so a failed dump is not retried and two recorders
    never share a file. Recording also deletes the archives of other keys."""
    archive = os.path.join(CDS_DIR, f"spark-cds-{archive_key(class_path, driver_memory)}.jsa")
    if archive_complete(archive):
        return [f"-XX:SharedArchiveFile={archive}", "-Xlog:cds*=off"]
    if not os.access(CDS_DIR, os.W_OK):
        return []
    try:
        os.close(os.open(archive + ".claim", os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644))
    except FileExistsError:
        return []
    for old in glob.glob(os.path.join(CDS_DIR, "spark-cds-*")):
        if not old.startswith(archive):
            try:
                os.remove(old)
            except OSError:
                pass
    return [f"-XX:ArchiveClassesAtExit={archive}", "-Xlog:cds*=off"]


def _await_exit(proc: subprocess.Popen) -> None:
    """Stop the active context, close the JVM's stdin, which ends it, and
    wait while it exits, so that no JVM outlives the process that launched
    it, not even one that spends seconds writing its archive at exit.
    Stopping first shuts the accumulator server, which would otherwise
    print an ``EOFError`` when the exiting JVM drops its connection."""
    if proc.poll() is not None:
        return
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        proc.stdin.close()
        try:
            proc.wait(timeout=_EXIT_WAIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def collectable_buffer_size(driver_memory: str) -> str:
    """Tungsten page and broadcast block size for a driver heap given as
    Spark writes ``spark.driver.memory`` (``8g``, ``4096m``; a bare number is
    MiB): a quarter of the G1 region that JDK 17 picks for that heap, which
    is heap/2048 rounded up to a power of two and clamped to 1-32 MB."""
    m = re.fullmatch(r"(\d+)([kmgt]?)b?", driver_memory.strip().lower())
    if not m:
        raise ValueError(f"unreadable spark.driver.memory: {driver_memory!r}")
    heap = int(m.group(1)) * _MEM_UNITS[m.group(2) or "m"]
    region = 1 << max(heap // 2048 - 1, 0).bit_length()
    page_kb = min(max(region, 1 << 20), 32 << 20) // 4 >> 10
    return f"{page_kb >> 10}m" if page_kb % 1024 == 0 else f"{page_kb}k"


def get_spark(
    app_name: str = "mrcond_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Local mode stand-in for a multi-executor cluster. The Python workers
    import ``mrcond_spark`` from ``_PACKAGE_PARENT`` on the driver's disk,
    and the JVM loads ``FS_JAR`` from the driver's classpath, which both
    hold under the ``local`` master set here; every other setting is
    cluster-safe. A ``spark.driver.extraClassPath`` in ``extra_conf`` goes
    between ``FS_JAR`` and Spark's jars, and a
    ``spark.driver.extraJavaOptions`` after the engine's flags.

    When this call launches the JVM, the JVM maps the class-data archive
    of its set-up, or records it if there is none yet (see the design
    notes): one recording per key, which slows that set-up and makes the
    JVM spend seconds writing the archive at exit. This process then stops
    the active context and waits for the JVM when it exits. The archive
    only serves the driver JVM under the ``local`` master; executors on a
    cluster would need their own.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 32)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # --- optimizer / execution ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- python boundary ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.python.daemon.module", "mrcond_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        # --- local file systems: no chmod/readlink processes ---
        .config("spark.hadoop.fs.file.impl", "mrcond_spark.hadoop.NioLocalFileSystem")
        .config("spark.hadoop.fs.AbstractFileSystem.file.impl", "mrcond_spark.hadoop.NioLocalFs")
        # --- determinism vs the DuckDB oracle ---
        .config("spark.sql.session.timeZone", "UTC")
        # Testdata parquet stores naive timestamps (isAdjustedToUTC=false).
        # Read them as TIMESTAMP_LTZ under the UTC session zone, not
        # TIMESTAMP_NTZ: values are identical, but LTZ keeps unix_micros()
        # and the rest of the epoch-function surface usable.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # --- scan tuning: 128 MiB splits is the sweet spot for object stores ---
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # --- codegen class cache sized to the WORKLOAD, not the default ---
        # Spark caches compiled whole-stage-codegen classes in a
        # 100-entry LRU; a 179-query corpus generates ~1100 distinct
        # codegen subtrees, so under the default every query re-COMPILES
        # its stages on every run even with identical plans. Measured A/B
        # (full corpus twice, sf0.1): second-pass wall 231.2 s at 100
        # entries vs 186.6 s at a workload-sized cache (-19%); q184 KS
        # 2.36 -> 1.69 s, q183 rank-sum 2.30 -> 1.42 s. 4000 entries
        # (~4x the corpus's subtree count) costs single-digit MBs of
        # driver metaspace — compiled classes are small; recompiling them
        # per run is not.
        .config("spark.sql.codegen.cache.maxEntries", "4000")
        # --- quieter driver ---
        .config("spark.ui.enabled", "false")
    )
    conf = {"spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")}
    conf.update(extra_conf or {})
    # --- pages and broadcast blocks below G1's humongous threshold ---
    buffer_size = collectable_buffer_size(conf["spark.driver.memory"])
    conf.setdefault("spark.buffer.pageSize", buffer_size)
    conf.setdefault("spark.broadcast.blockSize", buffer_size)
    class_path = driver_class_path(conf.pop("spark.driver.extraClassPath", None))
    java_options = conf.pop("spark.driver.extraJavaOptions", None)
    launching = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    if launching:
        # --- map (or record) the class-data archive of the JVM launched here ---
        cds = cds_options(class_path, conf["spark.driver.memory"])
        java_options = " ".join(filter(None, [*cds, java_options]))
    builder = builder.config("spark.driver.extraClassPath", class_path)
    if java_options:
        builder = builder.config("spark.driver.extraJavaOptions", java_options)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if launching:
        atexit.register(_await_exit, SparkContext._gateway.proc)
    spark.sparkContext.setLogLevel("WARN")
    return spark
