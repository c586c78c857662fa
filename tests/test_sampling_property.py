"""Property tests for the deterministic sampling primitives.

- `grouped_hash_rank` == the naive low-cardinality window ROW_NUMBER it
  replaces, across ragged group sizes and band boundaries;
- `stratified_sample_exact` == a pure-Python largest-remainder reference:
  exact output size min(k, n), quotas that apportion the budget with
  every stratum within 1 of its proportional share, and the same
  hash-ordered members on every run/partitioning.
"""

from __future__ import annotations

import hashlib

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mrcond_spark.operators.ntile import grouped_hash_rank
from mrcond_spark.operators.sampling import stratified_sample_exact


def _frame(spark, n, mod):
    return spark.range(n).select(
        F.concat(F.lit("s"), (F.col("id") % mod).cast("string")).alias("g"),
        F.col("id").alias("rid"),
        F.md5(F.concat(F.lit("t:"), F.col("id").cast("string"))).alias("hk"),
    )


@given(
    n=st.integers(min_value=1, max_value=400),
    mod=st.integers(min_value=1, max_value=7),
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_grouped_hash_rank_equals_window_row_number(spark_global, n, mod):
    df = _frame(spark_global, n, mod)
    w = Window.partitionBy("g").orderBy("hk", "rid")
    expected = sorted(
        map(
            tuple,
            df.withColumn("r", F.row_number().over(w).cast("bigint")).collect(),
        )
    )
    actual = sorted(
        map(tuple, grouped_hash_rank(df, ["g"], "hk", ["rid"], out_col="r").collect())
    )
    assert actual == expected


def _reference_sample(rows, k, seed):
    """Pure-Python largest-remainder stratified sample over (g, rid)."""
    by_s: dict[str, list[int]] = {}
    for g, rid in rows:
        by_s.setdefault(g, []).append(rid)
    total = sum(len(v) for v in by_s.values())
    k_eff = min(k, total)
    quotas = {s: k_eff * len(v) // total for s, v in by_s.items()}
    extra = k_eff - sum(quotas.values())
    for s in sorted(
        by_s, key=lambda s: (-(k_eff * len(by_s[s]) % total), s.encode())
    )[:extra]:
        quotas[s] += 1
    picked = set()
    for s, ids in by_s.items():
        ordered = sorted(
            ids, key=lambda i: (hashlib.md5(f"sd:{i}".encode()).hexdigest(), i)
        )
        picked.update((s, i) for i in ordered[: quotas[s]])
    return picked, quotas


@given(
    n=st.integers(min_value=1, max_value=300),
    mod=st.integers(min_value=1, max_value=6),
    k=st.integers(min_value=0, max_value=80),
)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_stratified_sample_matches_reference(spark_global, n, mod, k):
    df = _frame(spark_global, n, mod).drop("hk")
    out = stratified_sample_exact(df, "g", "rid", k, "sd").collect()
    expected, quotas = _reference_sample(
        [(r["g"], r["rid"]) for r in df.collect()], k, "sd"
    )
    assert {(r["g"], r["rid"]) for r in out} == expected
    assert len(out) == min(k, n)
    for r in out:
        assert 1 <= r["st_rank"] <= r["quota"] == quotas[r["g"]]


def test_stratified_sample_rejects_null_stratum(spark_global):
    """A NULL stratum has no quota: a loud ValueError, not a dropped row."""
    import pytest

    df = _frame(spark_global, 20, 3).select(
        F.when(F.col("rid") % 5 != 0, F.col("g")).alias("g"), "rid"
    )
    with pytest.raises(ValueError, match="contains NULLs"):
        stratified_sample_exact(df, "g", "rid", 5, "sd")


def test_stratified_sample_rejects_too_many_strata(spark_global, monkeypatch):
    """More strata than the cap fails before the count collect goes
    data-sized; the cap is read at call time."""
    import pytest

    from mrcond_spark.operators import sampling

    monkeypatch.setattr(sampling, "MAX_STRATA", 4)
    df = _frame(spark_global, 40, 5).drop("hk")
    with pytest.raises(ValueError, match="more than 4"):
        stratified_sample_exact(df, "g", "rid", 5, "sd")
