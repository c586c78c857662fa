"""Property test: bucketed_running_sum == built-in global window SUM.

The operator splits a global running sum into per-bucket windows plus
driver-side literal offsets; this pins bit-equality against the
single-reducer reference implementation across randomized shapes — empty
input, one bucket, skewed buckets (all rows share a bucket), zero values,
and duplicate order keys broken by the tiebreak column.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mrcond_spark.operators.prefix_sum import bucketed_running_sum


@given(
    n=st.integers(min_value=0, max_value=300),
    n_buckets=st.integers(min_value=1, max_value=16),
    vmod=st.integers(min_value=1, max_value=40),
    nullmod=st.integers(min_value=1, max_value=8),
)
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
def test_bucketed_running_sum_equals_global_window(
    spark_global, n, n_buckets, vmod, nullmod
):
    # bucket derived from the leading part of the order key, so the global
    # order (bk, ord, tie) equals the order (ord, tie) — same contract as
    # q97's leading-hex-char split of an md5 key. NULL values included
    # (nullmod=1 makes EVERY value NULL): the operator must reproduce SQL
    # SUM's NULL semantics — NULLs contribute nothing, and an all-NULL
    # prefix yields NULL, including across bucket boundaries.
    df = spark_global.range(n).select(
        F.col("id").alias("tie"),
        ((F.col("id") * 37) % 100).alias("ord"),
        F.when(F.col("id") % nullmod != 0, F.col("id") % vmod).alias("val"),
    ).withColumn("bk", (F.col("ord") * n_buckets / 100).cast("int"))

    w = (
        Window.orderBy("ord", "tie")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    expected = sorted(
        map(tuple, df.withColumn("rs", F.sum("val").over(w)).collect())
    )
    actual = sorted(
        map(
            tuple,
            bucketed_running_sum(
                df, "bk", ["ord", "tie"], "val", out_col="rs"
            ).collect(),
        )
    )
    assert actual == expected


def test_null_bucket_raises_clear_error(spark_global):
    """A NULL bucket has no defined position in the bucket-aligned global
    order (and used to crash the driver-side sorted() with a bare TypeError,
    or worse, coalesce to offset 0). The documented contract is an explicit
    ValueError at construction."""
    import pytest

    df = spark_global.range(10).select(
        F.col("id").alias("tie"),
        F.col("id").alias("ord"),
        F.lit(1).alias("val"),
        F.when(F.col("id") % 3 != 0, (F.col("id") % 2).cast("string")).alias("bk"),
    )
    with pytest.raises(ValueError, match="contains NULLs"):
        bucketed_running_sum(df, "bk", ["ord", "tie"], "val")


def test_near_distinct_bucket_raises_before_data_sized_collect(spark_global):
    """A near-distinct bucket_col would silently turn the per-bucket offset
    collect into a data-sized driver pull. The job itself is bounded with
    limit(MAX_BUCKETS + 1) and the overflow rejected loudly — the same
    contract its eager-builder siblings enforce (frontier.skyline_2d,
    sampling.stratified_sample_exact)."""
    import pytest

    from mrcond_spark.operators.prefix_sum import MAX_BUCKETS

    n = MAX_BUCKETS + 100
    df = spark_global.range(n).select(
        F.col("id").alias("tie"),
        F.col("id").alias("ord"),
        F.lit(1).alias("val"),
        F.col("id").cast("string").alias("bk"),  # one bucket per row
    )
    with pytest.raises(ValueError, match="more than"):
        bucketed_running_sum(df, "bk", ["ord", "tie"], "val")


def test_q97_plan_has_no_single_partition_exchange(spark_global, sf_dir):
    """The whole point of the operator: the oracle's global SUM OVER (ORDER
    BY) would plan Exchange SinglePartition; the Spark side must not."""
    from mrcond_spark.queries import all_queries

    df = all_queries()["q97_token_budget_cut"].spark(spark_global, sf_dir)
    text = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in text
