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
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

#: the directory ``mrcond_spark`` is imported from, for the Python workers
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: the engine's fork-free local file systems (see the design notes)
FS_JAR = os.path.join(_PACKAGE_PARENT, "mrcond_spark", "jvm", "mrcond-spark-fs.jar")


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
    cluster-safe. A ``spark.driver.extraClassPath`` in ``extra_conf`` is
    appended to ``FS_JAR``.
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
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    conf = dict(extra_conf or {})
    class_path = conf.pop("spark.driver.extraClassPath", None)
    builder = builder.config(
        "spark.driver.extraClassPath", os.pathsep.join(filter(None, [FS_JAR, class_path]))
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
