"""Exact weighted median per group — two-level banded window, fully lazy.

``SUM(w) OVER (PARTITION BY g ORDER BY v)`` is the natural running-weight
plan, but when the group key has O(1) cardinality each window partition is
a corpus/|groups|-row single task. ``prefix_sum.banded_running_sums``
computes the identical running weight with every data-sized stage
distributed, banded on ``floor(value / band_width)`` — monotonic in the
value, so the per-group order ``(value, weight)`` equals ``(band, value,
weight)``.

The weighted median is then the smallest value whose running weight
reaches half the group total, decided on exact integer weights
(``2*cw >= tw`` — no float threshold); the selected value is a stored
passthrough. Used by q151; property-tested against a pandas scan
reference in tests/test_weighted_median_property.py.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .prefix_sum import banded_running_sums


def weighted_median(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col: str,
    band_width: float,
) -> DataFrame:
    """Per-group ``(total_weight, weighted_median)``.

    ``value_col`` must be NON-NULL on every row: a NULL value has no
    position in the band-aligned order, and its rows would fall out of
    the offset equi-join while still counting into the band totals —
    filter NULLs first. The same applies to NaN / +-Infinity doubles
    (``floor`` gives them a NULL band); this operator's callers are
    integer/decimal-typed, so the contract is FINITE values — for
    doubles with possible non-finite tails use the pinned bands of
    ``operators/stats._pinned_band``. ``weight_col`` must be
    integer-typed (exact gate arithmetic) and non-negative; rows with
    zero weight never become the median unless tied on value with
    positive-weight rows (they add nothing to the running sum).
    ``band_width`` trades parallelism against the size of the broadcast
    offset frame: aim for tens-to-hundreds of bands over the value
    domain (for unknown domains derive bands from approx
    quantiles instead of a fixed width).
    """
    # isfinite + > 0 rejects NaN, +-inf, 0, and negatives — inf slipped the
    # old `> 0` check and folded every finite value into band 0 (round-7
    # ADVICE: the guard must match the "positive finite" message)
    if not (math.isfinite(float(band_width)) and float(band_width) > 0):
        raise ValueError(
            f"weighted_median: band_width={band_width} must be a positive "
            "finite number (a negative width inverts band order and "
            "silently corrupts the running-weight gate; an infinite width "
            "folds every value into one band)"
        )
    li = df.select(
        F.col(group_col).alias("g"),
        F.col(value_col).alias("v"),
        F.col(weight_col).alias("wt"),
    )
    cum = banded_running_sums(
        li,
        ["g"],
        F.floor(F.col("v") / F.lit(float(band_width))).cast("long"),
        ["v", "wt"],
        {"cw": F.col("wt")},
        broadcast=True,
    )
    return (
        cum.groupBy("g")
        .agg(
            F.max("cw_total").cast("bigint").alias("total_weight"),
            F.min(F.when(2 * F.col("cw") >= F.col("cw_total"), F.col("v"))).alias(
                "weighted_median"
            ),
        )
        .select(
            F.col("g").alias(group_col),
            "total_weight",
            "weighted_median",
        )
        .orderBy(group_col)
    )
