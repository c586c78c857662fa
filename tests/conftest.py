from __future__ import annotations

import itertools
import os
import sys
from contextlib import contextmanager

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mrcond_spark.catalog import TABLES, table_path
from mrcond_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("mrcond-tests", cpus=8, shuffle_partitions=8)
    yield s


#: non-function-scoped alias for hypothesis @given tests (function-scoped
#: fixtures are re-created per example; the session is shared intentionally)
@pytest.fixture(scope="session")
def spark_global():
    return get_spark("mrcond-tests", cpus=8, shuffle_partitions=8)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(SF_DIR, t)}'")
    yield con
    con.close()


_groups = itertools.count()


@contextmanager
def _jobs_run(spark):
    sc = spark.sparkContext
    group = f"test-jobs-{next(_groups)}"
    ids: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        # job-start events reach the status store through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def jobs_run():
    """``with jobs_run(spark) as jobs:`` -- after the block, ``jobs`` holds
    the ids of the Spark jobs the block's thread launched."""
    return _jobs_run
