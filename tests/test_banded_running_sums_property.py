"""Property test: banded_running_sums == the plain per-group window SUM.

The kernel splits ``SUM(x) OVER (PARTITION BY g ORDER BY v, id ROWS
UNBOUNDED PRECEDING)`` into in-band window sums plus band offsets from a
``(g, band)`` aggregate; this pins equality against that single window
across randomized shapes: the empty frame, ties on ``v`` (broken by
``id``), two value columns summed at once, negative values, and a group
whose rows all share one band.
"""

from __future__ import annotations

import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mrcond_spark.operators.prefix_sum import banded_running_sums
from mrcond_spark.plans.inspect import explain_str


def _frame(spark, n, gmod, vmod):
    # every fifth row joins group "one": a single v, so a single band and
    # nothing but ties on v
    one = F.col("id") % 5 == 0
    return spark.range(n).select(
        F.when(one, F.lit("one"))
        .otherwise(F.concat(F.lit("g"), (F.col("id") % gmod).cast("string")))
        .alias("g"),
        F.when(one, F.lit(3)).otherwise((F.col("id") * 37) % vmod).alias("v"),
        "id",
        (F.col("id") % 7).alias("a"),
        ((F.col("id") * 13) % 11 - 5).alias("b"),
    )


@given(
    n=st.integers(min_value=0, max_value=300),
    gmod=st.integers(min_value=1, max_value=4),
    vmod=st.integers(min_value=1, max_value=30),
    band_width=st.sampled_from([1, 4, 1000]),
    broadcast=st.booleans(),
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_banded_running_sums_equal_plain_window(
    spark_global, n, gmod, vmod, band_width, broadcast
):
    df = _frame(spark_global, n, gmod, vmod)
    w = (
        Window.partitionBy("g")
        .orderBy("v", "id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_g = Window.partitionBy("g")
    cols = ["g", "v", "id", "a", "b", "ra", "rb", "ra_total", "rb_total"]
    expected = sorted(
        map(
            tuple,
            df.select(
                "*",
                F.sum("a").over(w).alias("ra"),
                F.sum("b").over(w).alias("rb"),
                F.sum("a").over(w_g).alias("ra_total"),
                F.sum("b").over(w_g).alias("rb_total"),
            ).collect(),
        )
    )
    actual = sorted(
        map(
            tuple,
            banded_running_sums(
                df,
                ["g"],
                F.floor(F.col("v") / F.lit(band_width)).cast("long"),
                ["v", "id"],
                {"ra": F.col("a"), "rb": F.col("b")},
                broadcast=broadcast,
            )
            .select(*cols)
            .collect(),
        )
    )
    assert actual == expected


def test_unused_total_adds_no_window(spark_global):
    """The kernel always emits ``x_total``; a caller that never reads it
    must not pay for its window (column pruning drops it)."""
    df = _frame(spark_global, 50, 3, 10)
    out = banded_running_sums(
        df, ["g"], F.col("v"), ["v", "id"], {"s": F.col("a")}, broadcast=True
    )

    def windows(frame):
        return len(re.findall(r"\bWindow\b", explain_str(frame, "simple")))

    assert windows(out.drop("s_total")) == 2  # in-band sums, band offsets
    assert windows(out) == 3
