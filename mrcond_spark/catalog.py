"""Table catalog over the driver's synthetic parquet tables.

All declared queries load inputs through here so scans stay uniform:
``spark.read.parquet`` (vectorized reader, predicate pushdown, column
pruning all come free from Catalyst).

At 100 TB the same API points at partitioned object-store datasets; nothing
below materializes or collects.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

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

#: dimension tables small enough to broadcast at any scale factor
BROADCAST_TABLES = frozenset({"region", "nation"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table as a DataFrame (lazy parquet scan).

    ``events.ts`` is written as parquet INT64 TIMESTAMP(NANOS), which the
    Spark reader rejects natively; we read nanos as LONG and convert to a
    micro-precision timestamp (truncation — matches DuckDB's own ns->us
    conversion of the same file).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # The testdata stores naive timestamps (isAdjustedToUTC=false). Read them
    # as TIMESTAMP_LTZ (identical values under the UTC session zone the engine
    # pins) rather than TIMESTAMP_NTZ so epoch functions (unix_micros etc.)
    # work. Set here, not only in the session factory, because the driver
    # calls queries() with its own plain SparkSession.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    if name == "events":
        from pyspark.sql import functions as F

        # scope the legacy flag to this read: the plan captures the conf at
        # analysis time, so restoring it immediately keeps OTHER nanos
        # datasets failing loudly instead of silently reading as bigint
        prior = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            df = spark.read.parquet(table_path(sf_dir, name))
        finally:
            if prior is None:
                spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
            else:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prior)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return spark.read.parquet(table_path(sf_dir, name))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (for SQL-path queries)."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
