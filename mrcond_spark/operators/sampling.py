"""Deterministic sampling primitives: Efraimidis-Spirakis A-ES weighted
sampling and exact largest-remainder stratified sampling.

A-ES ("Weighted random sampling with a reservoir", IPL 2006) reduces
weighted sampling WITHOUT replacement to a top-k: give each row the key
``u^(1/w)`` (equivalently ``ln(u)/w``, monotone) with ``u ~ U(0,1)`` and
keep the k largest. Deriving ``u`` from a seeded md5 of the row id instead
of an RNG makes the SAME sample come out on any engine, any partitioning,
any retry, and — because top-k-by-key is a mergeable summary — in any
batch/streaming split of the input: the batch query (q140) and the
streaming reservoir (`streaming.windows.stream_weighted_sample`) provably
select identical rows over identical inputs.

100 TB: the key is pure JVM column arithmetic (md5/conv/ln), selection is
a TakeOrdered top-k (per-partition heaps, O(k) driver) batch-side and a
bounded k-row state per bucket streaming-side. No RNG coordination, no
shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import bounded_collect, literal_lookup, seeded_hash60, seeded_md5

#: 2^60 + 1 — divisor mapping the 60-bit md5 prefix to u in (0, 1)
U_DEN = float(2**60 + 1)


def aes_key(id_col: Column, weight_col: Column, seed: str) -> Column:
    """A-ES selection key ``ln(u)/w`` with ``u`` md5-derived from the id.

    Larger = more likely selected; keep the top-k. ``weight_col`` must be
    strictly positive. The 60-bit hex prefix keeps the conv() inside
    exact BIGINT range; +1 keeps u > 0 so ln() is finite.
    """
    h = seeded_hash60(f"{seed}:", id_col)
    u = (h + F.lit(1)) / F.lit(U_DEN)
    return F.log(u) / weight_col


#: strata are plan literals (quota/offset maps) and a driver-side count
#: collect — cap them like `frontier.MAX_BUCKETS` caps skyline buckets.
MAX_STRATA = 100_000


def stratified_sample_exact(
    df,
    stratum_col: str,
    id_col: str,
    k: int,
    seed: str,
    rank_col: str = "st_rank",
    quota_col: str = "quota",
):
    """Exact-size proportional stratified sample: apportion a GLOBAL budget
    of ``k`` rows across strata with largest-remainder (Hamilton) rounding,
    then take each stratum's quota deterministically in seeded-md5-hash
    order of ``id_col`` (ties broken by id). Unlike fixed-k-per-class
    (q83), the output size is exactly ``min(k, n_rows)`` and per-stratum
    sizes track the population mixture — the training-set-downsampling
    idiom that preserves the source/language distribution.

    Deterministic on any engine/partitioning (hash order, no RNG), so
    the whole sample is oracle-checkable. EAGER contract: ONE bounded
    job at construction collects per-stratum counts (≤ ``MAX_STRATA``
    rows — stratified sampling over unbounded strata is degenerate) to
    compute quotas driver-side with exact integer arithmetic; selection
    itself is the lazy banded `ntile.grouped_hash_rank` (parallelism =
    |strata| x 256, no per-stratum single-task window) against quota
    literals — zero data-sized collects, zero extra shuffles beyond the
    rank's own (stratum, band) exchange.

    ``stratum_col`` must be NULL-free (raises otherwise — a NULL stratum
    has no quota semantics); ``id_col`` must be unique and NULL-free.
    Largest-remainder ties go to the byte-wise-smaller stratum string.
    """
    from .ntile import grouped_hash_rank

    counts = bounded_collect(
        df.groupBy(F.col(stratum_col).cast("string").alias("__s")).agg(
            F.count(F.lit(1)).alias("n")
        ),
        "__s",
        MAX_STRATA,
        f"stratified_sample_exact: stratum_col {stratum_col!r}",
    )
    n_by_s = {r["__s"]: r["n"] for r in counts}
    total = sum(n_by_s.values())
    k_eff = min(k, total)
    quotas = {s: k_eff * n // total for s, n in n_by_s.items()} if total else {}
    extra = k_eff - sum(quotas.values())
    for s in sorted(
        n_by_s, key=lambda s: (-(k_eff * n_by_s[s] % total), s.encode())
    )[:extra]:
        quotas[s] += 1

    hk = seeded_md5(f"{seed}:", F.col(id_col))
    ranked = grouped_hash_rank(
        df.withColumn("__hk", hk),
        [stratum_col],
        "__hk",
        [id_col],
        out_col=rank_col,
    )
    quota = literal_lookup(quotas.items(), F.col(stratum_col).cast("string"), None)
    return (
        ranked.withColumn(quota_col, quota.cast("bigint"))
        .filter(F.col(rank_col) <= F.col(quota_col))
        .drop("__hk")
    )
