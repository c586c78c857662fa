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
3. per-bucket local ``row_number`` (Window partitioned by the
   high-cardinality-free but bounded-count bucket id), per-bucket counts
   collected (P rows) and folded into cumulative offsets;
4. ``global_rank = offset[bucket] + local_row_number``, then the closed-form
   SQL NTILE split: with n rows and k buckets, the first ``n % k`` buckets
   hold ``n div k + 1`` rows and the rest ``n div k``.

Exactness does NOT depend on the sketch's accuracy — any deterministic
cutpoints yield correct ranks; accuracy only balances bucket sizes (skew in
the order column degrades balance, not correctness). 100 TB posture: one
sketch pass, one shuffle on the bucket id, one P-row collect, no
single-partition exchange anywhere.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .prefix_sum import banded_running_sums


def global_rank(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "global_rank",
    partitions: int | None = None,
) -> DataFrame:
    """Append ``out_col`` = ROW_NUMBER() over the global order of
    ``order_cols`` (which must be a total order — include a unique tiebreak
    key) without a single-partition Window — the module-docstring steps 1-3
    as a standalone primitive. EAGER + SNAPSHOT CONTRACT like
    ``prefix_sum.bucketed_running_sum``: the cutpoint sketch and per-bucket
    counts jobs run at construction and fold into plan literals.

    Skew note: parallelism comes from cutpoints over ``order_cols[0]``, so a
    (near-)constant first column degenerates to few buckets — correct but
    serial, exactly like the value distribution itself. Keys with at least
    ~P distinct values spread evenly; heavier skew costs balance only.
    """
    ranked, _total = _ranked(df, order_cols, partitions)
    return ranked.withColumn(out_col, _rank_col(ranked).cast("bigint")).drop(
        "__bk", "__lrn", "__off"
    )


def _rank_col(ranked: DataFrame):
    return F.col("__off") + F.col("__lrn")


def _ranked(
    df: DataFrame, order_cols: list[str], partitions: int | None
) -> tuple[DataFrame, int]:
    """Shared core: bucket by literal cutpoints, local row_number, cumulative
    offsets as a ``__off`` column; returns (df + __bk/__lrn/__off, n_rows)."""
    spark = df.sparkSession
    P = partitions or spark.sparkContext.defaultParallelism
    key = order_cols[0]

    # 1. driver-side cutpoints (P-1 values; deduped — skewed keys collapse
    # buckets, which costs balance, not correctness)
    fractions = [i / P for i in range(1, P)]
    cuts_row = df.agg(
        F.percentile_approx(key, fractions, 10_000).alias("cuts")
    ).collect()[0]["cuts"]
    cuts = sorted(set(c for c in (cuts_row or []) if c is not None))

    # 2. literal comparison chain: bucket = #cutpoints strictly below value
    if cuts:
        pred = reduce(
            lambda a, b: a + b,
            [(F.col(key) > F.lit(c)).cast("int") for c in cuts],
        )
    else:
        pred = F.lit(0)
    keyed = df.withColumn("__bk", pred)

    # 3. local rank within bucket + bucket counts -> cumulative offsets.
    # Counts come from `keyed` (pre-window): the window changes no row's
    # bucket, and counting `local` would evaluate the windowed plan twice
    # (once for the collect, once in the returned plan).
    w = Window.partitionBy("__bk").orderBy(*order_cols)
    local = keyed.withColumn("__lrn", F.row_number().over(w))
    counts = keyed.groupBy("__bk").agg(F.count("*").alias("cnt")).collect()
    offsets: dict[int, int] = {}
    total = 0
    for row in sorted(counts, key=lambda r: r["__bk"]):
        offsets[row["__bk"]] = total
        total += row["cnt"]

    if offsets:
        omap = F.create_map(
            *[F.lit(x) for bk, off in offsets.items() for x in (bk, off)]
        )
        off = F.coalesce(F.element_at(omap, F.col("__bk")), F.lit(0))
    else:
        off = F.lit(0)
    return local.withColumn("__off", off), total


def grouped_hash_rank(
    df: DataFrame,
    group_cols: list[str],
    hash_col: str,
    tiebreak_cols: list[str],
    out_col: str = "grp_rank",
    band_chars: int = 2,
) -> DataFrame:
    """Append ``out_col`` = ROW_NUMBER() OVER (PARTITION BY group_cols
    ORDER BY hash_col, tiebreak_cols) — safe when the group key has O(1)
    cardinality, where a plain window makes each partition a
    corpus/|groups|-row single task. Fully LAZY, unlike `global_rank`: the
    rank is ``prefix_sum.banded_running_sums`` of 1 over that total order,
    banded by the first ``band_chars`` hex chars of ``hash_col`` (256 bands
    at 2 chars). A prefix is monotone in the string order, and uniform
    hashes make bands uniform BY CONSTRUCTION, so no cutpoint sketch is
    needed. The band-offset join carries no broadcast hint: a caller like
    stratified_sample_exact at its 100k-strata cap makes the offset frame
    ~25.6M rows, so AQE decides from its actual size.

    ``hash_col`` must be a non-NULL fixed-width lowercase-hex string
    (e.g. ``F.md5(...)``); ``group_cols`` + ``hash_col`` + ``tiebreak_cols``
    must be NULL-free (NULL group keys would silently form their own
    band-join group — filter or map them first)."""
    return (
        banded_running_sums(
            df,
            group_cols,
            F.substring(F.col(hash_col), 1, band_chars),
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
    ranked, total = _ranked(df, order_cols, partitions)

    # closed-form NTILE split over the exact global rank
    n, k = total, n_buckets
    big = n % k  # first `big` buckets get one extra row
    size_big = n // k + 1
    size_small = max(n // k, 1)  # guard: n < k never reaches the small branch

    rank = _rank_col(ranked)
    bucket = (
        F.when(rank <= big * size_big, F.ceil(rank / F.lit(size_big)))
        .otherwise(F.lit(big) + F.ceil((rank - big * size_big) / F.lit(size_small)))
        .cast("int")
    )
    return ranked.withColumn(out_col, bucket).drop("__bk", "__lrn", "__off")
