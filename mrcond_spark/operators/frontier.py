"""2-D skyline (Pareto frontier) without a single-reducer window.

The skyline of a table under (minimize ``cost``, maximize ``gain``) is the
set of rows no other row dominates — the classic "cheapest for its quality"
frontier (Borzsony/Kossmann/Stocker, "The Skyline Operator", ICDE'01). The
textbook SQL formulation is a quadratic ``NOT EXISTS`` self-join; the
textbook single-node algorithm is a sort + running max. Neither shape
survives 100 TB: the first is all-pairs, the second plans an unpartitioned
``MAX() OVER (ORDER BY cost)`` — one reducer scanning everything (the same
scale-killer the distributed NTILE and prefix-sum operators replace,
`ntile.py` / `prefix_sum.py`).

This operator keeps the sort+running-max *math* but distributes every
data-sized stage, reusing the order-aligned-bucket trick:

1. collapse to one row per distinct ``cost`` with the group's max ``gain``
   (one partial->final hash-agg shuffle; same-cost domination becomes a
   local comparison against that group max);
2. caller supplies an order-aligned bucket expression over ``cost`` (e.g.
   ``floor(cost)`` for a bounded numeric — bucket order must equal cost
   order); per-bucket max gains are collected (``bounded_collect``:
   n_buckets rows, never data-sized) and folded into strictly-before-this-
   bucket running maxima embedded as plan literals (``literal_lookup``);
3. the "best gain at any strictly cheaper cost" = greatest(bucket offset,
   within-bucket window max over ROWS UNBOUNDED PRECEDING..1 PRECEDING) —
   the window is PARTITIONED by bucket, parallel across buckets;
4. one equi-join on ``cost`` carries (group max, prev max) back to the base
   rows; a row survives iff no strictly-cheaper row reaches its gain AND no
   same-cost row strictly exceeds it.

Dominance is non-strict-pair / strict-somewhere: q dominates p iff
``q.cost <= p.cost AND q.gain >= p.gain`` with at least one strict —
duplicates (equal cost AND gain) are both kept, matching the ``NOT
EXISTS`` oracle bit-for-bit. All comparisons are on the stored values (no
float arithmetic is introduced), so there is no cross-engine boundary
ambiguity.

EAGER + SNAPSHOT CONTRACT (same as ``bucketed_running_sum``): the
per-bucket totals job runs at construction time — the offsets must become
plan literals — so the returned DataFrame embeds that snapshot of the
input.

Reference parity note: f-squirrel/mrcond is a CDC connector with no batch
surface (SURVEY §1); this operator belongs to the mandated
training-data-pipeline extension (corpus curation uses exactly this shape:
"highest quality score at any cost/length/toxicity budget").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import bounded_collect, literal_lookup

#: driver-side offset-table cap — one row per bucket is "bounded metadata"
#: only while the bucket function is a coarse split of the cost domain
MAX_BUCKETS = 100_000


def skyline_2d(
    df: DataFrame,
    cost_col: str,
    gain_col: str,
    bucket: Column,
) -> DataFrame:
    """Rows of ``df`` on the (min ``cost_col``, max ``gain_col``) frontier.

    ``bucket`` must be an order-aligned, NON-NULL function of ``cost_col``:
    ``bucket(a) < bucket(b)`` implies ``a < b`` rows sort consistently
    (e.g. ``F.floor(F.col(cost_col))`` for a numeric with known range, or
    the leading hex of an order-preserving key). NULL costs are rejected
    (a NULL cost has no place in the frontier order). Returns the input
    rows (all columns) that no other row dominates.
    """
    per = (
        df.groupBy(cost_col)
        .agg(F.max(gain_col).alias("__gmax"))
        .withColumn("__bk", bucket)
    )
    totals = bounded_collect(
        per.groupBy("__bk").agg(F.max("__gmax").alias("__m")),
        "__bk",
        MAX_BUCKETS,
        f"skyline_2d: bucket expression over {cost_col!r}",
    )
    # strictly-before-this-bucket running max, folded driver-side (bounded:
    # one row per bucket) into plan literals; NULL where nothing precedes
    offsets: list[tuple[object, object]] = []
    best = None
    for row in totals:
        if best is not None:
            offsets.append((row["__bk"], best))
        if best is None or (row["__m"] is not None and row["__m"] > best):
            best = row["__m"]
    base = literal_lookup(offsets, F.col("__bk"), None)
    w = (
        Window.partitionBy("__bk")
        .orderBy(cost_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # greatest() skips NULLs; NULL only when no strictly cheaper cost exists
    prev = F.greatest(base, F.max("__gmax").over(w))
    ranked = per.select(cost_col, "__gmax", prev.alias("__prevmax"))
    joined = df.join(ranked, cost_col)
    dominated = (F.col("__prevmax") >= F.col(gain_col)) | (
        F.col("__gmax") > F.col(gain_col)
    )
    return joined.filter(~F.coalesce(dominated, F.lit(False))).drop(
        "__gmax", "__prevmax"
    )
