"""Table catalog over the driver's synthetic parquet tables.

All declared queries load inputs through here so scans stay uniform:
``spark.read.parquet`` (vectorized reader, predicate pushdown, column
pruning all come free from Catalyst).

At 100 TB the same API points at partitioned object-store datasets; nothing
below materializes or collects.

Schema cache. ``spark.read.parquet(path)`` with no schema runs a one-task
Spark job that reads a footer to infer the schema (~70-90 ms a load at
sf0.001). ``load`` keeps each table's inferred ``StructType`` in a
process-level dict, one entry per absolute path, and on a hit reads with
``spark.read.schema(cached)``, which runs no job. A ``StructType`` is plain
Python data, so one entry serves every ``SparkSession`` of the process: the
engine's, a caller's plain session, and a JVM started later.

The entry is used only when its signature equals the current one:

- the file stamp, ``(relpath, st_dev, st_ino, st_mtime_ns, st_size)`` of
  every file under the path, sorted (a single-file table is one entry), and
- the values in force of the confs that change the inferred schema and
  that ``load`` does not pin (``_SCHEMA_CONFS``: the parquet type
  conversions and ``mergeSchema``).

Inference reads the files, these confs and the ones ``load`` pins, so an
equal signature means an equal inferred schema: the hit is exact. The stamp is taken
before the read, so a file rewritten during a miss is stored under its old
stamp and re-inferred next time. A mismatch re-infers and replaces the
entry. A path that cannot be ``stat``ed (missing, or a remote URI) is a
miss that stores nothing, so Spark raises the error it always did. An
object-store path (``s3a://``) therefore always infers; a 100 TB
deployment would need a stamp built from the store's listing instead.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"
_INFER_NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"

#: confs that change the inferred schema and that ``load`` does not pin:
#: the parquet -> Spark type conversions, and whether a directory's part
#: schemas are merged
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    _NANOS_AS_LONG,
    "spark.sql.parquet.mergeSchema",
)

#: absolute path -> (signature, inferred schema); see the module docstring.
#: An entry is replaced whole, so concurrent loads need no lock.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _file_stamp(path: str) -> tuple | None:
    """Sorted ``(relpath, dev, ino, mtime_ns, size)`` of every file under
    ``path``, or None when it cannot be stat'ed."""
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return ((".", st.st_dev, st.st_ino, st.st_mtime_ns, st.st_size),)
        stamp = []
        for root, _dirs, files in os.walk(path):
            for f in files:
                p = os.path.join(root, f)
                st = os.stat(p)
                rel = os.path.relpath(p, path)
                stamp.append((rel, st.st_dev, st.st_ino, st.st_mtime_ns, st.st_size))
        return tuple(sorted(stamp))
    except (OSError, ValueError):
        return None


@contextmanager
def _pinned(spark: SparkSession, confs: dict[str, str]):
    """Set ``confs`` on ``spark`` for the block, then restore each one that
    changed to its prior value (unset where it had none)."""
    prior = {k: spark.conf.get(k, None) for k in confs}
    changed = [k for k, v in confs.items() if prior[k] != v]
    for k in changed:
        spark.conf.set(k, confs[k])
    try:
        yield
    finally:
        for k in changed:
            if prior[k] is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, prior[k])


def _read_parquet(spark: SparkSession, path: str, nanos_as_long: bool) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema from ``_SCHEMAS`` when
    the path's signature still matches. The confs ``load`` pins are scoped
    to this read: the plan captures them at analysis time, so restoring
    them at once leaves the caller's session as it was. Naive timestamps
    infer as TIMESTAMP_LTZ, and the legacy nanos flag stays off for OTHER
    nanos datasets, which keep failing loudly instead of silently reading
    as bigint."""
    confs = {_INFER_NTZ: "false"}
    if nanos_as_long:
        confs[_NANOS_AS_LONG] = "true"
    with _pinned(spark, confs):
        stamp = _file_stamp(path)
        if stamp is None:
            return spark.read.parquet(path)
        path = os.path.abspath(path)  # the file the stamp describes
        sig = (stamp, tuple(spark.conf.get(k) for k in _SCHEMA_CONFS))
        hit = _SCHEMAS.get(path)
        if hit is not None and hit[0] == sig:
            return spark.read.schema(hit[1]).parquet(path)
        df = spark.read.parquet(path)
        _SCHEMAS[path] = (sig, df.schema)
        return df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table as a DataFrame (lazy parquet scan).

    ``events.ts`` may be written as parquet INT64 TIMESTAMP(NANOS), which the
    Spark reader rejects natively; we read nanos as LONG and convert to a
    micro-precision timestamp (truncation — matches DuckDB's own ns->us
    conversion of the same file).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # The testdata stores naive timestamps (isAdjustedToUTC=false); the read
    # types them TIMESTAMP_LTZ (identical values under the UTC session zone
    # the engine pins) rather than TIMESTAMP_NTZ so epoch functions
    # (unix_micros etc.) work. Pinned per read, not only in the session
    # factory, because a caller of queries() may pass its own plain session.
    df = _read_parquet(spark, table_path(sf_dir, name), nanos_as_long=name == "events")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (for SQL-path queries)."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
