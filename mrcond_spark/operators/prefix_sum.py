"""Distributed running sums — no single-reducer window.

A naive ``SUM(x) OVER (ORDER BY k)`` (no PARTITION BY) plans a
single-partition Window: one reducer scans the entire table — the same
scale-killer shape the distributed NTILE replaced (`ntile.py`). Its
low-cardinality cousin, ``SUM(x) OVER (PARTITION BY g ORDER BY k)`` with
O(1) groups, makes each window partition a corpus/|groups|-row single
task. This module computes the IDENTICAL running sums with every
data-sized stage distributed, in two forms.

``bucketed_running_sum`` (global order, EAGER):

1. caller supplies ``bucket_col`` such that the global order equals
   ``(bucket ASC, *order_cols ASC)`` — e.g. the first hex character of an
   md5 ordering key (lowercase-hex string order == numeric order, so the
   leading character IS an order-aligned 16-way split);
2. per-bucket totals are collected to the driver (``bounded_collect``:
   n_buckets rows, never data-sized) and folded into cumulative offsets
   embedded as plan literals (``literal_lookup``);
3. running sum = offset[bucket] + within-bucket window sum (Window
   partitioned by the bucket — parallel across buckets).

100 TB posture: two passes over the input lineage (the totals job and the
window job), one partial-agg shuffle for the totals, one bounded collect,
one hash-partitioned window; no ``Exchange SinglePartition`` anywhere
(asserted for q97 in tests/test_prefix_sum_property.py; the corpus-wide
guard in tests/test_plans.py covers the related empty-partition-spec Window
shape for every query).

``banded_running_sums`` (per group, LAZY — the two-level banded window
behind q145, q151, q169, q183 and q184): the same offset-plus-local sum,
with the offsets computed in the plan from a |groups x bands|-row
aggregate instead of collected, so construction runs no job.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import bounded_collect, literal_lookup

#: bounded-collect contract: the per-bucket offset table must stay
#: driver-sized. 4096 is ~16x the documented 16–256 sweet spot — generous
#: enough for any sane order-aligned split, small enough that the literal
#: maps stay off the codegen cliff (the same cap class as
#: frontier.MAX_BUCKETS / sampling.MAX_STRATA).
MAX_BUCKETS = 4096


def bucketed_running_sum(
    df: DataFrame,
    bucket_col: str,
    order_cols: list[str],
    value_col: str,
    out_col: str = "running_sum",
) -> DataFrame:
    """Append ``out_col`` = SUM(value_col) over the global order
    ``(bucket_col, *order_cols)``, rows unbounded-preceding..current.

    ``order_cols`` must complete a total order within each bucket (include
    a unique tiebreak key), and ``bucket_col``'s sort order must agree with
    the global order by construction — the operator cannot check that.
    ``bucket_col`` must be NON-NULL on every row (raised as ``ValueError``):
    a NULL bucket has no defined place in the bucket-aligned global order.
    Bucket count trades parallelism against the driver-side offset table;
    16–256 is plenty (each bucket still fans out across tasks only for the
    agg — the window itself runs one task per bucket, so pick n_buckets >=
    target parallelism for the window stage). The contract is ENFORCED:
    more than ``MAX_BUCKETS`` distinct buckets raises ``ValueError`` before
    the collect can go data-sized.

    EAGER + SNAPSHOT CONTRACT: unlike most operators in this package, the
    per-bucket totals job runs HERE, at construction time (the offsets must
    become plan literals), and the returned DataFrame embeds that snapshot —
    if the input changes between construction and execution the result mixes
    two snapshots.

    NULL semantics (of ``value_col``) match the global window exactly: NULL
    values contribute nothing, and a row whose whole prefix is NULL-valued
    gets NULL (SQL SUM over zero non-null inputs) — hence the per-bucket
    non-null COUNT carried alongside the sum offsets.
    """
    totals = bounded_collect(
        df.groupBy(bucket_col).agg(
            F.sum(value_col).alias("__t"), F.count(value_col).alias("__c")
        ),
        bucket_col,
        MAX_BUCKETS,
        f"bucketed_running_sum: bucket_col {bucket_col!r}",
    )
    sum_offs: list[tuple[object, int]] = []
    cnt_offs: list[tuple[object, int]] = []
    acc = 0
    acc_cnt = 0
    for row in totals:
        sum_offs.append((row[bucket_col], acc))
        cnt_offs.append((row[bucket_col], acc_cnt))
        acc += row["__t"] or 0
        acc_cnt += row["__c"]
    base = literal_lookup(sum_offs, F.col(bucket_col), 0)
    base_cnt = literal_lookup(cnt_offs, F.col(bucket_col), 0)

    w = (
        Window.partitionBy(bucket_col)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = base + F.coalesce(F.sum(value_col).over(w), F.lit(0))
    nonnull_so_far = base_cnt + F.count(value_col).over(w)
    return df.withColumn(
        out_col, F.when(nonnull_so_far > 0, running)  # else NULL, like SQL SUM
    )


def banded_running_sums(
    df: DataFrame,
    group_cols: list[str],
    band: Column,
    order_cols: list[str],
    sums: dict[str, Column],
    broadcast: bool = False,
) -> DataFrame:
    """``df`` plus, for each ``name -> value`` in ``sums``, the inclusive
    running sum ``name`` = ``SUM(value) OVER (PARTITION BY group_cols
    ORDER BY order_cols ROWS UNBOUNDED PRECEDING)`` and the group total
    ``name_total`` = ``SUM(value) OVER (PARTITION BY group_cols)``.

    ``band`` must be monotone in the order — within a group, ordering by
    ``order_cols`` must equal ordering by ``(band, *order_cols)`` — and
    NON-NULL: a NULL band drops its rows from the offset equi-join.
    ``group_cols`` must be NULL-free for the same reason. With ties in
    ``order_cols`` the running sums of tied rows follow the window's
    arbitrary tie order, exactly as the plain window's do.

    Plan shape: the in-band running sums window on ``(groups, band)`` —
    parallelism |groups| x |bands|; band offsets and group totals window
    over a ``(groups, band)`` aggregate, a |groups x bands|-row frame, and
    join back on ``(groups, band)``. ``broadcast=True`` hints that join:
    the caller attests |groups x bands| is metadata-sized. The default
    leaves it to AQE, because a hint bypasses autoBroadcastJoinThreshold
    and an unbounded group key would make the offset frame data-sized.
    An unused ``name_total`` costs nothing: column pruning drops its
    window. Fully lazy: no construction-time job.
    """
    keys = [*group_cols, "__band"]
    banded = df.withColumn("__band", band)
    w_in = (
        Window.partitionBy(*keys)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_off = (
        Window.partitionBy(*group_cols)
        .orderBy("__band")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_g = Window.partitionBy(*group_cols)
    local = banded.select(
        "*", *[F.sum(v).over(w_in).alias(f"__in_{x}") for x, v in sums.items()]
    )
    offs = (
        banded.groupBy(*keys)
        .agg(*[F.sum(v).alias(f"__bt_{x}") for x, v in sums.items()])
        .select(
            *keys,
            *[
                F.coalesce(F.sum(f"__bt_{x}").over(w_off), F.lit(0)).alias(
                    f"__off_{x}"
                )
                for x in sums
            ],
            *[F.sum(f"__bt_{x}").over(w_g).alias(f"{x}_total") for x in sums],
        )
    )
    if broadcast:
        offs = F.broadcast(offs)
    return (
        local.join(offs, keys)
        .withColumns({x: F.col(f"__off_{x}") + F.col(f"__in_{x}") for x in sums})
        .drop("__band", *[f"__{p}_{x}" for p in ("in", "off") for x in sums])
    )
