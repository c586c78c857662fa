"""Property test: distributed global_ntile == built-in window NTILE.

The operator's round-2 bug (cross-job range-boundary drift) only surfaced at
a larger scale factor; this pins bit-equality across randomized shapes —
ragged n%k, duplicate-heavy keys, constant keys (degenerate single bucket),
k > n — against the single-reducer reference implementation.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mrcond_spark.operators.ntile import global_ntile


@given(
    n=st.integers(min_value=1, max_value=400),
    k=st.integers(min_value=1, max_value=16),
    mod=st.integers(min_value=1, max_value=50),
)
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
def test_global_ntile_equals_window_ntile(spark_global, n, k, mod):
    df = spark_global.range(n).select(
        (F.col("id") % mod).alias("v"), F.col("id").alias("tie")
    )
    expected = sorted(
        map(
            tuple,
            df.withColumn(
                "b", F.ntile(k).over(Window.orderBy("v", "tie")).cast("int")
            ).collect(),
        )
    )
    actual = sorted(
        map(
            tuple,
            global_ntile(df, k, ["v", "tie"], out_col="b", partitions=5).collect(),
        )
    )
    assert actual == expected


@given(
    n=st.integers(min_value=1, max_value=400),
    mod=st.integers(min_value=1, max_value=50),
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_global_rank_equals_window_row_number(spark_global, n, mod):
    """global_rank (the refactored steps-1-3 core) == single-reducer
    ROW_NUMBER over the same total order, across ragged/duplicate-heavy/
    constant-key shapes."""
    from mrcond_spark.operators.ntile import global_rank

    df = spark_global.range(n).select(
        (F.col("id") % mod).alias("v"), F.col("id").alias("tie")
    )
    expected = sorted(
        map(
            tuple,
            df.withColumn(
                "r", F.row_number().over(Window.orderBy("v", "tie")).cast("bigint")
            ).collect(),
        )
    )
    actual = sorted(map(tuple, global_rank(df, ["v", "tie"], out_col="r").collect()))
    assert actual == expected


def test_null_first_order_column_raises(spark_global):
    """A NULL in the first order column has no cutpoint bucket: both
    entry points raise the kernel's ValueError instead of dying in the
    driver's sort of the bucket table."""
    import pytest

    from mrcond_spark.operators.ntile import global_rank

    df = spark_global.range(200).select(
        F.when(F.col("id") % 7 != 0, F.col("id") % 50).alias("v"),
        F.col("id").alias("tie"),
    )
    with pytest.raises(ValueError, match="contains NULLs"):
        global_rank(df, ["v", "tie"])
    with pytest.raises(ValueError, match="contains NULLs"):
        global_ntile(df, 4, ["v", "tie"], partitions=5)


def test_null_first_order_column_is_named_however_the_sketch_cuts(spark_global):
    """All-NULL first column (no cutpoints), some NULLs with one partition
    (no cutpoints either) and some NULLs with five partitions all raise,
    naming the caller's column rather than an internal one."""
    import pytest

    from mrcond_spark.operators.ntile import global_rank

    ids = spark_global.range(200)
    some = ids.select(
        F.when(F.col("id") % 7 != 0, F.col("id") % 50).alias("v"), F.col("id").alias("tie")
    )
    every = ids.select(F.lit(None).cast("long").alias("v"), F.col("id").alias("tie"))
    with pytest.raises(ValueError, match="'v' contains NULLs"):
        global_rank(every, ["v", "tie"])
    with pytest.raises(ValueError, match="'v' contains NULLs"):
        global_ntile(some, 4, ["v", "tie"], partitions=1)
    with pytest.raises(ValueError, match="'v' contains NULLs"):
        global_ntile(some, 4, ["v", "tie"], partitions=5)
