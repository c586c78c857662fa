"""Distributed exact NTILE — global equal-count bucketing without a global sort.

A naive ``NTILE(k) OVER (ORDER BY ...)`` (no PARTITION BY) plans a
single-partition Window: one reducer sorts the entire table. That is the one
scale-killer the round-1 audit flagged. This operator computes the IDENTICAL
bucket assignment with every data-sized stage distributed:

1. one sketch job collects ``P-1`` approx-percentile cutpoints of the first
   order column to the driver (bounded: P values, never data-sized) and
   embeds them as LITERALS in the downstream plan — so every later job
   buckets rows identically BY CONSTRUCTION (an earlier revision derived
   buckets from ``repartitionByRange`` + ``spark_partition_id``; range
   boundary sampling proved non-deterministic across the offset job and the
   final job at sf0.1, silently misaligning offsets — literals cannot drift);
2. bucket id = number of cutpoints below the value (a codegen'd comparison
   chain, monotone in the order column — rows with equal values share a
   bucket, so the within-bucket tiebreak columns complete the total order);
3. ``global_rank`` = ``prefix_sum.bucketed_running_sum`` of 1 over the
   bucket-aligned order ``(bucket, *order_cols)``: a Window partitioned by
   the bounded-count bucket id, plus per-bucket counts collected (P rows)
   and folded into cumulative offsets;
4. the closed-form SQL NTILE split over that rank, with the row count n
   read from the sketch's own aggregate: with k buckets, the first
   ``n % k`` buckets hold ``n div k + 1`` rows and the rest ``n div k``.

Exactness does NOT depend on the sketch's accuracy — any deterministic
cutpoints yield correct ranks; accuracy only balances bucket sizes (skew in
the order column degrades balance, not correctness). A NULL in the first
order column falls in no bucket and raises the kernel's ``ValueError``.
100 TB posture: one sketch pass, one shuffle on the bucket id, one P-row
collect, no single-partition exchange anywhere.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .prefix_sum import banded_running_sums, bucketed_running_sum


def global_rank(
    df: DataFrame, order_cols: list[str], out_col: str = "global_rank"
) -> DataFrame:
    """Append ``out_col`` = ROW_NUMBER() over the global order of
    ``order_cols`` (which must be a total order — include a unique tiebreak
    key) without a single-partition Window — the module-docstring steps 1-3
    as a standalone primitive. EAGER + SNAPSHOT CONTRACT like
    ``prefix_sum.bucketed_running_sum``: the cutpoint sketch and the
    kernel's per-bucket totals jobs run at construction and fold into plan
    literals. ``order_cols[0]`` must be NULL-free: a NULL falls in no
    cutpoint bucket and raises the kernel's ``ValueError``.

    Skew note: parallelism comes from cutpoints over ``order_cols[0]``, so a
    (near-)constant first column degenerates to few buckets — correct but
    serial, exactly like the value distribution itself. Keys with at least
    ~P distinct values spread evenly; heavier skew costs balance only.
    """
    return _ranked(df, order_cols, out_col, None)[0]


def _ranked(
    df: DataFrame, order_cols: list[str], out_col: str, partitions: int | None
) -> tuple[DataFrame, int]:
    """Shared core: bucket by literal cutpoints, then the global rank as a
    running sum of 1 over (bucket, order_cols); returns (df + out_col,
    n_rows)."""
    P = partitions or df.sparkSession.sparkContext.defaultParallelism
    key = order_cols[0]

    # 1. driver-side cutpoints (P-1 values; deduped — skewed keys collapse
    # buckets, which costs balance, not correctness) and the row count, in
    # one aggregate
    fractions = [i / P for i in range(1, P)]
    sketch = df.agg(
        F.percentile_approx(key, fractions, 10_000).alias("cuts"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    cuts = sorted(set(c for c in (sketch["cuts"] or []) if c is not None))

    # 2. literal comparison chain: bucket = #cutpoints strictly below value
    if cuts:
        pred = reduce(
            lambda a, b: a + b,
            [(F.col(key) > F.lit(c)).cast("int") for c in cuts],
        )
    else:
        pred = F.lit(0)

    # 3. rank = running count over the bucket-aligned global order
    keyed = df.withColumns({"__bk": pred, "__one": F.lit(1)})
    ranked = bucketed_running_sum(keyed, "__bk", order_cols, "__one", out_col)
    return ranked.drop("__bk", "__one"), sketch["n"]


def grouped_hash_rank(
    df: DataFrame,
    group_cols: list[str],
    hash_col: str,
    tiebreak_cols: list[str],
    out_col: str = "grp_rank",
) -> DataFrame:
    """Append ``out_col`` = ROW_NUMBER() OVER (PARTITION BY group_cols
    ORDER BY hash_col, tiebreak_cols) — safe when the group key has O(1)
    cardinality, where a plain window makes each partition a
    corpus/|groups|-row single task. Fully LAZY, unlike `global_rank`: the
    rank is ``prefix_sum.banded_running_sums`` of 1 over that total order,
    banded by the first 2 hex chars of ``hash_col`` (256 bands). A prefix
    is monotone in the string order, and uniform hashes make bands uniform
    BY CONSTRUCTION, so no cutpoint sketch is needed. The band-offset join
    carries no broadcast hint: a caller like stratified_sample_exact at its
    100k-strata cap makes the offset frame ~25.6M rows, so AQE decides from
    its actual size.

    ``hash_col`` must be a non-NULL fixed-width lowercase-hex string
    (e.g. ``F.md5(...)``); ``group_cols`` + ``hash_col`` + ``tiebreak_cols``
    must be NULL-free (NULL group keys would silently form their own
    band-join group — filter or map them first)."""
    return (
        banded_running_sums(
            df,
            group_cols,
            F.substring(F.col(hash_col), 1, 2),
            [hash_col, *tiebreak_cols],
            {"__r": F.lit(1)},
        )
        .withColumn(out_col, F.col("__r").cast("bigint"))
        .drop("__r", "__r_total")
    )


def global_ntile(
    df: DataFrame,
    n_buckets: int,
    order_cols: list[str],
    out_col: str = "bucket",
    partitions: int | None = None,
) -> DataFrame:
    """Append ``out_col`` = NTILE(n_buckets) over the global order of
    ``order_cols`` (which must be a total order — include a unique tiebreak
    key, or ties land in nondeterministic buckets). Same skew/eager notes
    as ``global_rank``, which shares the bucketed-rank core."""
    ranked, total = _ranked(df, order_cols, "__rank", partitions)

    # closed-form NTILE split over the exact global rank
    n, k = total, n_buckets
    big = n % k  # first `big` buckets get one extra row
    size_big = n // k + 1
    size_small = max(n // k, 1)  # guard: n < k never reaches the small branch

    rank = F.col("__rank")
    bucket = (
        F.when(rank <= big * size_big, F.ceil(rank / F.lit(size_big)))
        .otherwise(F.lit(big) + F.ceil((rank - big * size_big) / F.lit(size_small)))
        .cast("int")
    )
    return ranked.withColumn(out_col, bucket).drop("__rank")
