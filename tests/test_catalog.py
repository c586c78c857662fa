"""Schema-pinned ``catalog.load``: a repeat load reads the cached schema and
runs no Spark job; a change to the files or to a schema-conversion conf
re-infers. Jobs are counted with a job group per call (``jobs_run``)."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from mrcond_spark import catalog
from mrcond_spark.catalog import TABLES, load, table_path
from mrcond_spark.queries import all_queries

NANOS = "spark.sql.legacy.parquet.nanosAsLong"
BINARY_AS_STRING = "spark.sql.parquet.binaryAsString"
MERGE_SCHEMA = "spark.sql.parquet.mergeSchema"
INFER_NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"


def unpinned(spark, path: str, events: bool = False):
    """The plain ``spark.read.parquet`` read that ``load`` replaces."""
    if not events:
        return spark.read.parquet(path)
    spark.conf.set(NANOS, "true")
    try:
        df = spark.read.parquet(path)
    finally:
        spark.conf.unset(NANOS)
    if dict(df.dtypes)["ts"] != "bigint":
        return df
    return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


def write(path, **cols) -> None:
    pq.write_table(pa.table(cols), str(path))


@pytest.mark.parametrize("name", TABLES)
def test_second_load_runs_no_job_and_matches_unpinned_read(spark, sf_dir, name, jobs_run):
    load(spark, sf_dir, name)
    with jobs_run(spark) as jobs:
        df = load(spark, sf_dir, name)
    assert jobs == []
    ref = unpinned(spark, table_path(sf_dir, name), events=name == "events")
    assert df.schema == ref.schema
    assert df.collect() == ref.collect()


def test_rewrite_with_added_column_reinfers_once(spark, tmp_path, jobs_run):
    path = tmp_path / "region.parquet"
    write(path, a=[1, 2])
    load(spark, str(tmp_path), "region")
    with jobs_run(spark) as jobs:
        load(spark, str(tmp_path), "region")
    assert jobs == []

    write(path, a=[1, 2], b=["x", "y"])
    with jobs_run(spark) as jobs:
        df = load(spark, str(tmp_path), "region")
    assert df.columns == ["a", "b"]
    assert len(jobs) == 1
    assert [tuple(r) for r in df.collect()] == [(1, "x"), (2, "y")]


def test_same_size_rewrite_with_new_mtime_reinfers(spark, tmp_path, jobs_run):
    path = tmp_path / "nation.parquet"
    write(path, a=[1, 2])
    load(spark, str(tmp_path), "nation")
    before = os.stat(path)

    write(path, b=[1, 2])  # same bytes but the column name
    os.utime(path, ns=(before.st_atime_ns, before.st_mtime_ns + 1_000_000_000))
    after = os.stat(path)
    assert (after.st_ino, after.st_size) == (before.st_ino, before.st_size)
    with jobs_run(spark) as jobs:
        df = load(spark, str(tmp_path), "nation")
    assert df.columns == ["b"]
    assert len(jobs) == 1


def test_directory_dataset_new_part_file_invalidates(spark, tmp_path, jobs_run):
    table = tmp_path / "orders.parquet"
    table.mkdir()
    write(table / "part-00000.parquet", a=[1, 2])
    load(spark, str(tmp_path), "orders")
    with jobs_run(spark) as jobs:
        load(spark, str(tmp_path), "orders")
    assert jobs == []

    write(table / "part-00001.parquet", a=[3])
    with jobs_run(spark) as jobs:
        df = load(spark, str(tmp_path), "orders")
    assert len(jobs) == 1
    ref = unpinned(spark, str(table))
    assert df.schema == ref.schema
    assert sorted(df.collect()) == sorted(ref.collect())
    assert sorted(r.a for r in df.collect()) == [1, 2, 3]


def test_missing_path_raises_the_same_error_each_time_and_caches_nothing(spark, tmp_path):
    errors = []
    for _ in range(2):
        with pytest.raises(AnalysisException) as exc:
            load(spark, str(tmp_path), "supplier")
        errors.append(type(exc.value))
    assert errors[0] is errors[1]
    assert os.path.abspath(table_path(str(tmp_path), "supplier")) not in catalog._SCHEMAS


def test_binary_column_type_follows_binary_as_string(spark, tmp_path):
    write(tmp_path / "documents.parquet", body=pa.array([b"ab", b"cd"], pa.binary()))
    prior = spark.conf.get(BINARY_AS_STRING)
    try:
        types = []
        for flag in ("false", "true", "false"):
            spark.conf.set(BINARY_AS_STRING, flag)
            types.append(dict(load(spark, str(tmp_path), "documents").dtypes)["body"])
    finally:
        spark.conf.set(BINARY_AS_STRING, prior)
    assert types == ["binary", "string", "binary"]


def test_directory_schema_follows_merge_schema(spark, tmp_path):
    table = tmp_path / "part.parquet"
    table.mkdir()
    write(table / "part-00000.parquet", a=[1])
    write(table / "part-00001.parquet", a=[2], b=["x"])
    prior = spark.conf.get(MERGE_SCHEMA)
    try:
        for flag in ("false", "true", "false"):
            spark.conf.set(MERGE_SCHEMA, flag)
            got = load(spark, str(tmp_path), "part").schema
            assert got == unpinned(spark, str(table)).schema
            if flag == "true":
                assert got.fieldNames() == ["a", "b"]
    finally:
        spark.conf.set(MERGE_SCHEMA, prior)


@pytest.mark.parametrize("prior", [None, "false"])
def test_events_ts_is_a_timestamp_on_a_hit_and_nanos_flag_is_restored(
    spark, sf_dir, tmp_path, prior, jobs_run
):
    """``events`` written as INT64 TIMESTAMP(NANOS): miss and hit both read
    ``ts`` as the micro-precision timestamp, and the legacy flag is back to
    its prior value after each, so a plain read of a nanos file still fails."""
    t = pq.read_table(table_path(sf_dir, "events"))
    t = t.set_column(t.schema.get_field_index("ts"), "ts", t["ts"].cast(pa.timestamp("ns")))
    nanos = tmp_path / "events.parquet"
    pq.write_table(t, str(nanos), version="2.6")
    expected = load(spark, sf_dir, "events").collect()
    saved = spark.conf.get(NANOS, None)
    try:
        if prior is None:
            spark.conf.unset(NANOS)
        else:
            spark.conf.set(NANOS, prior)
        miss = load(spark, str(tmp_path), "events")
        assert spark.conf.get(NANOS, None) == prior
        with jobs_run(spark) as jobs:
            hit = load(spark, str(tmp_path), "events")
        assert jobs == []
        assert spark.conf.get(NANOS, None) == prior
        with pytest.raises(AnalysisException):
            spark.read.parquet(str(nanos))
        assert dict(hit.dtypes)["ts"] == "timestamp"
        assert hit.collect() == miss.collect() == expected
    finally:
        if saved is None:
            spark.conf.unset(NANOS)
        else:
            spark.conf.set(NANOS, saved)


def test_load_leaves_the_sessions_timestamp_inference_alone(spark, sf_dir, tmp_path, jobs_run):
    """``load`` reads naive timestamps as ``timestamp`` but leaves the
    caller's ``inferTimestampNTZ`` as it found it, on a miss and on a hit,
    so the caller's own later parquet reads still infer ``timestamp_ntz``."""
    path = tmp_path / "events.parquet"
    shutil.copyfile(table_path(sf_dir, "events"), path)
    session = spark.newSession()
    session.conf.set(INFER_NTZ, "true")
    miss = load(session, str(tmp_path), "events")
    assert session.conf.get(INFER_NTZ) == "true"
    with jobs_run(session) as jobs:
        hit = load(session, str(tmp_path), "events")
    assert jobs == []
    assert session.conf.get(INFER_NTZ) == "true"
    assert dict(miss.dtypes)["ts"] == dict(hit.dtypes)["ts"] == "timestamp"
    assert hit.collect() == miss.collect() == load(spark, sf_dir, "events").collect()
    assert dict(session.read.parquet(str(path)).dtypes)["ts"] == "timestamp_ntz"


RELATIONAL = sorted(n for n in all_queries() if int(n[1:].split("_", 1)[0]) <= 33)


@pytest.mark.parametrize("name", RELATIONAL)
def test_relational_tier_builds_without_a_job(spark, sf_dir, name, jobs_run):
    """q01-q33 build their DataFrames with no Spark job once the catalog has
    seen their tables: no per-load schema inference, no build-time action."""
    q = all_queries()[name]
    q.spark(spark, sf_dir)
    with jobs_run(spark) as jobs:
        q.spark(spark, sf_dir)
    assert jobs == [], f"{name} launched {len(jobs)} job(s) while building"
