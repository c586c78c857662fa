"""Custom operators not expressible as a single built-in Spark primitive.

Each module documents the reference/north-star contract it implements and the
100 TB scaling argument for its physical strategy.
"""

from __future__ import annotations

from collections.abc import Collection, Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F


def seeded_md5(prefix: str, col: Column) -> Column:
    """Lowercase-hex md5 of ``prefix + CAST(col AS STRING)`` — the engine's
    deterministic per-row key (reproducible across retries, partitionings,
    and engines, unlike ``rand()``). NULL col -> NULL digest (concat
    propagates), so NULL keys fail loudly or fall through CASE arms rather
    than silently hashing as the bare prefix. DuckDB oracle mirror:
    ``md5('prefix' || CAST(x AS VARCHAR))`` (``||``, never ``concat()`` —
    DuckDB's concat SKIPS NULL args).
    """
    return F.md5(F.concat(F.lit(prefix), col.cast("string")))


def hex60(col: Column) -> Column:
    """First 15 hex chars of a lowercase-hex digest column as an exact
    BIGINT (60 bits — inside exact long range, where 16 chars would
    overflow). DuckDB oracle mirror:
    ``CAST(('0x' || substr(h, 1, 15)) AS BIGINT)``.
    """
    return F.conv(F.substring(col, 1, 15), 16, 10).cast("long")


def md5_hash60(col: Column) -> Column:
    """``hex60(md5(col))`` — unseeded 60-bit content hash."""
    return hex60(F.md5(col))


def seeded_hash60(prefix: str, col: Column) -> Column:
    """``hex60(seeded_md5(prefix, col))`` — THE cross-engine bucketing
    primitive (splits, samples, shuffles, centroid fits). Every consumer's
    oracle restates the same two-step SQL; keeping the Spark side here
    means one audited spot instead of per-query inline copies that can
    drift (e.g. a substring length of 6 vs 15 changes the bucket space).
    """
    return hex60(seeded_md5(prefix, col))


def bounded_collect(agg: DataFrame, key: str, cap: int, who: str) -> list[Row]:
    """The rows of ``agg``, sorted by ``key``: the driver-side table an
    eager builder folds into plan literals (one row per bucket or stratum).

    The job itself is bounded with ``limit(cap + 1)``, so a near-distinct
    key fails before a data-sized pull reaches the driver. More than
    ``cap`` rows, or a NULL ``key`` (which has no place in the sorted fold),
    raises ``ValueError``; ``who`` names the caller and its column, e.g.
    ``"skyline_2d: bucket expression over 'cost'"``.
    """
    rows = agg.limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(
            f"{who} has more than {cap} buckets; coarsen it — it must be a "
            "bounded split (one driver-side row and one plan literal per "
            "bucket), not a near-distinct key"
        )
    if any(r[key] is None for r in rows):
        raise ValueError(
            f"{who} contains NULLs; a NULL has no defined position in the "
            "sorted order — filter or coalesce it first"
        )
    return sorted(rows, key=lambda r: r[key])


def literal_lookup(
    pairs: Collection[tuple[object, object]], key: Column, default: object
) -> Column:
    """``pairs[key]`` with the pairs embedded as a map literal, ``default``
    for a key not among them: ``coalesce(element_at(map, key), default)``,
    or ``lit(default)`` when there are no pairs. A ``None`` default leaves
    a missing key NULL (the optimizer drops the NULL from the coalesce).
    """
    if not pairs:
        return F.lit(default)
    table = F.create_map(*[F.lit(x) for pair in pairs for x in pair])
    return F.coalesce(F.element_at(table, key), F.lit(default))


def colliding_pairs(sig: DataFrame, keys: Sequence[str]) -> DataFrame:
    """The distinct ``(id_a, id_b)`` pairs, ``id_a < id_b``, among the rows of
    ``sig`` (columns ``id`` plus ``keys``) that agree on every key: the
    candidate step of the signature tiers (MinHash bands, SimHash
    fingerprints, hyperplane buckets). One self-join shuffled on ``keys``,
    so its cost tracks key collisions, never all pairs. ``sig`` feeds both
    join sides; a caller whose signature comes from a UDF checkpoints it
    first.
    """
    a, b = sig.alias("a"), sig.alias("b")
    same = reduce(lambda x, y: x & y, [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys])
    return (
        a.join(b, same & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


#: Estimated input bytes per partition that ``ensure_parallelism`` spreads to.
SPREAD_BYTES = 128 * 1024


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Spread a heavy stage's input over ``min(cores, ceil(bytes /
    SPREAD_BYTES))`` partitions when it arrives in fewer.

    Heavy per-row stages (Arrow-UDF shingling and hashing, featurization)
    inherit the scan's partitioning, and a small local parquet file reads as
    one split. ``bytes`` is Catalyst's ``sizeInBytes`` for the input: the
    on-disk size over a parquet scan (scaled by any projection), the
    checkpointed plan's estimate over a checkpoint, and
    ``spark.sql.defaultSizeInBytes`` where Catalyst cannot tell (an
    RDD-backed frame), so such an input always spreads. Reading it runs no
    job.

    The round-robin exchange costs a shuffle, a stage and one task per core
    downstream, which breaks even in wall at about half a MiB. q88 on 4
    cores, spread vs none, wall (CPU of the JVM and Python workers): a 61
    KiB ``documents`` 0.86 vs 0.64 s (2.1 vs 1.3 s), 581 KiB 1.26 vs 1.28 s
    (3.5 vs 2.0 s), 5.6 MiB 6.1 vs 12.9 s (20.6 vs 19.1 s). At 128 KiB a
    partition, inputs from 512 KiB keep a 4-way spread.

    At a target of 1 the input comes back untouched, without compiling it to
    an RDD. Otherwise ``df.rdd.getNumPartitions()`` compiles the plan (and
    runs its exchange stages under AQE), so call this over a scan or a
    checkpoint, never inside a loop. At real scale inputs arrive in many
    splits and nothing is added.
    """
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    target = min(df.sparkSession.sparkContext.defaultParallelism, -(-size // SPREAD_BYTES))
    if target > 1 and df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def pin_width(df: DataFrame, *keys: str) -> DataFrame:
    """``df`` hash-repartitioned on ``keys`` (round-robin without keys) into
    one partition per core.

    The rule: a stage that is byte-small but CPU-heavy (a Python verify
    UDF, a per-pair levenshtein, a fan-out explode and self-join) gets one
    partition per core, numbered by the user. AQE sizes a shuffle's reduce
    side by bytes and cannot see the work per row, so it would coalesce
    such a stage to a partition or two; a user-numbered repartition is
    exempt from that coalescing. Keyed on the downstream grouping or join
    key, the pin replaces the exchange that operator would plan anyway, so
    it adds no shuffle.

    Use this where the bytes understate the work. Use ``ensure_parallelism``
    where the input is a scan or a checkpoint whose bytes do measure the
    work: it spreads only inputs big enough to pay for the shuffle.
    """
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, *keys)


#: When not None, every ``materialize_once`` call appends its input's
#: pre-checkpoint ``explain("formatted")`` text here (see
#: ``capture_preckpt_plans``). Plain module global — the tap is a
#: single-threaded plan-dump aid, not a runtime feature.
_PRECKPT_TAP: list[str] | None = None


def capture_preckpt_plans():
    """Context manager: record the PRE-checkpoint plan of every
    ``materialize_once`` call made inside the block.

    ``localCheckpoint`` truncates lineage, so the ``explain()`` of a
    checkpointed operator hides the exchanges below the checkpoint. The
    plan-dump tool (``tools/measure_queries.py --plans``) wraps plan
    construction in this context and appends each captured subplan to its
    capture file, so those exchanges show.
    """
    from contextlib import contextmanager

    @contextmanager
    def _cm():
        global _PRECKPT_TAP
        prev = _PRECKPT_TAP
        _PRECKPT_TAP = []
        try:
            yield _PRECKPT_TAP
        finally:
            _PRECKPT_TAP = prev

    return _cm()


def materialize_once(df: DataFrame, eager: bool = True) -> DataFrame:
    """Evaluate ``df`` exactly once and reuse the stored blocks downstream.

    ``eager=False`` defers the materialization to the first action while
    still truncating lineage — the right mode for FIXED-round iterative
    plans with no mid-loop action (q132's peel: 7 eager rounds cost a job
    floor each at construction; lazy ran 3.65 s vs 4.38 s at sf0.1 and
    keeps plan-audit construction job-free). Keep the eager default for
    operators whose stage is consumed by SEPARATE jobs (fit/verify
    pipelines, mid-loop fixpoint checks) — there the build-time job is the
    point.

    For operators whose plan references an expensive stage from several
    branches (LSH self-joins, fit+transform+verify pipelines), Catalyst
    re-executes the shared subtree per branch. ``localCheckpoint`` computes it
    one time, truncates lineage, and — unlike ``.cache()``, which registers in
    the session's CacheManager until an explicit unpersist — its blocks are
    released by the ContextCleaner as soon as the DataFrame is unreachable,
    so a lazily-returned operator cannot leak storage into the caller's
    session. Eager so the single evaluation happens at build time rather than
    racing between branches of the first job.

    100 TB note: on a real cluster this is a deliberate materialization point
    (executor memory/disk, no lineage); production pipelines would write the
    stage to a table instead. The win is identical: N downstream consumers,
    one computation.
    """
    if _PRECKPT_TAP is not None:
        from ..plans import explain_str

        _PRECKPT_TAP.append(explain_str(df, "formatted"))
    return df.localCheckpoint(eager=eager)
