"""Oracle harness: every declared query's Spark result must match its DuckDB
oracle — row count, column names, and cell values (order-insensitive, like the
driver's hash compare).
"""

from __future__ import annotations

import datetime
import decimal
import math

import pytest

from mrcond_spark import operators
from mrcond_spark.queries import all_queries

QUERIES = all_queries()
ORACLE_QUERIES = sorted(n for n, q in QUERIES.items() if q.oracle is not None)
ROWS_ONLY_QUERIES = sorted(n for n, q in QUERIES.items() if q.oracle is None)


def canon_cell(v):
    if v is None:
        return ("null",)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("n", decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return ("n", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("nan",)
        return ("f", v)
    if isinstance(v, datetime.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, datetime.date):
        return ("d", v.isoformat())
    return ("s", str(v))


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon_cell(r[i]) for i in order) for r in rows)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_match(name, spark, duck, sf_dir):
    q = QUERIES[name]
    sdf = q.spark(spark, sf_dir)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]

    res = duck.execute(q.oracle)
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()

    assert sorted(s_cols) == sorted(d_cols), f"{name}: column names differ: {s_cols} vs {d_cols}"
    assert len(s_rows) == len(d_rows), f"{name}: row count {len(s_rows)} vs {len(d_rows)}"

    cs, cd = canon_rows(s_cols, s_rows), canon_rows(d_cols, d_rows)
    mismatches = [(a, b) for a, b in zip(cs, cd) if a != b]
    assert not mismatches, f"{name}: first mismatched rows (spark vs duckdb): {mismatches[:5]}"


#: The declared queries whose plans pass through ``ensure_parallelism``
#: (every call the corpus makes while building, recorded at sf0.001).
SPREAD_QUERIES = sorted("""
    q47_minhash_lsh_pairs q48_simhash_pairs q49_ann_lsh q50_multimodal_features
    q54_embedding_near_dup q55_ngram_jaccard q56_ann_ivf q57_mllib_minhash_pairs
    q62_simhash_near_pairs q75_near_dup_removal q88_decontamination
    q99_semantic_dedup q105_ngram_novelty q118_importance_weights
    q127_embedding_covariance q134_table_profile q153_split_leakage
    q157_column_profiler q165_incremental_near_dup q173_normal_equations
    q181_repeated_spans q182_bootstrap_variance
""".split())


@pytest.mark.parametrize("name", SPREAD_QUERIES)
def test_rows_do_not_depend_on_the_spread(name, spark, sf_dir, monkeypatch):
    """Each query returns the same rows whether ``ensure_parallelism`` sizes
    its spread or spreads every input over all cores, as it did before it
    read the input's size."""

    def rows():
        sdf = QUERIES[name].spark(spark, sf_dir)
        return canon_rows(sdf.columns, [tuple(r) for r in sdf.collect()])

    gated = rows()
    monkeypatch.setattr(operators, "SPREAD_BYTES", 1)
    assert rows() == gated


#: The queries built on ``prefix_sum.banded_running_sums``.
BANDED_QUERIES = sorted("""
    q145_robust_stats q151_weighted_median q169_stratified_budget_sample
    q183_rank_sum_drift q184_ks_drift
""".split())

#: The queries whose builders fold a driver-side offset table into plan
#: literals (q169, also banded, is in the list above).
EAGER_OFFSET_QUERIES = sorted("""
    q77_ntile_deciles q97_token_budget_cut q138_skyline_frontier
    q167_key_skew_audit
""".split())

#: The near-dup and ANN queries whose candidates come from a signature
#: self-join (``operators.colliding_pairs``) or a top-k rank window.
CANDIDATE_PAIR_QUERIES = sorted("""
    q41_cosine_topk q47_minhash_lsh_pairs q48_simhash_pairs q49_ann_lsh
    q54_embedding_near_dup q56_ann_ivf q57_mllib_minhash_pairs
    q75_near_dup_removal
""".split())

#: Shuffle layouts each banded, eager-offset or candidate-pair query must
#: not notice.
LAYOUTS = [
    {"spark.sql.shuffle.partitions": "1"},
    {"spark.sql.shuffle.partitions": "7"},
    {"spark.sql.adaptive.enabled": "false"},
]


@pytest.mark.parametrize(
    "name", BANDED_QUERIES + EAGER_OFFSET_QUERIES + CANDIDATE_PAIR_QUERIES
)
def test_rows_do_not_depend_on_the_shuffle_layout(name, spark, sf_dir):
    """Each banded, eager-offset or candidate-pair query returns the same
    rows with one shuffle partition, with seven, and with AQE off as in the
    session's own layout."""

    def rows():
        sdf = QUERIES[name].spark(spark, sf_dir)
        return canon_rows(sdf.columns, [tuple(r) for r in sdf.collect()])

    want = rows()
    for layout in LAYOUTS:
        saved = {k: spark.conf.get(k) for k in layout}
        try:
            for k, v in layout.items():
                spark.conf.set(k, v)
            assert rows() == want, layout
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_runs(name, spark, sf_dir):
    q = QUERIES[name]
    df = q.spark(spark, sf_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_no_decimal_output_in_oracle_queries(spark, sf_dir):
    """Regression guard for the round-1 systemic failure: DECIMAL output
    columns hash differently across engines purely from trailing-zero
    rendering. Decimal arithmetic stays INTERNAL; every oracle-checked
    query's final schema must be decimal-free (double/bigint instead)."""
    from pyspark.sql.types import DecimalType

    offenders = []
    for name in ORACLE_QUERIES:
        schema = QUERIES[name].spark(spark, sf_dir).schema
        for f in schema.fields:
            if isinstance(f.dataType, DecimalType):
                offenders.append(f"{name}.{f.name}")
    assert not offenders, f"decimal output columns (hash-unstable): {offenders}"


def test_driver_window_covers_every_operator():
    """The verify driver hash-checks only the FIRST 50 registered queries
    (round-1 lesson: the LLM tier sat past the window and got no hard
    correctness signal). Every declared operator tag must have at least one
    representative inside the window."""
    from mrcond_spark.queries import PRIORITY

    names = list(QUERIES)
    assert names[: len(PRIORITY)] == list(PRIORITY), "priority order not applied"
    all_tags = {t for q in QUERIES.values() for t in q.tags}
    window_tags = {t for n in names[:50] for t in QUERIES[n].tags}
    assert all_tags <= window_tags, f"operators outside the window: {all_tags - window_tags}"


def test_bench_summary_line_fits_driver_tail_window():
    """The round driver keeps only the last ~2000 chars of bench.py stdout
    and json-parses the final line (rounds 1-2 lost their BENCH artifact to
    truncation). bench.build_summary_line now owns the budget with graceful
    degradation tiers (1-decimal seconds -> integer seconds ["coarse":1] ->
    drop-fastest ["qdrop":k]); this guard pins three invariants against the
    REAL builder at the worst-case per-query repr (9.9 — a single query
    approaching 100 s at sf0.1 would be a broken round regardless of line
    length, and a 10-99 s stray prints SHORTER as an integer):

    1. hard: the line ALWAYS fits the driver tail, even 60 queries from now;
    2. quality: a full rotation round of additions (~20 queries) never costs
       per-query entries (no "qdrop");
    3. quality: the CURRENT corpus still prints full 1-decimal resolution
       (no "coarse") — precision degradation is a next-rounds safety valve,
       not this round's artifact.
    """
    import json

    from bench import LINE_BUDGET, build_summary_line

    def line_for(n_phantom):
        timings = {n: 9.9 for n in QUERIES}
        assert len({k.split("_", 1)[0].lstrip("q") for k in timings}) == len(
            timings
        ), "query-number keys must stay unique"
        for i in range(n_phantom):
            timings[f"q{900 + i}_phantom"] = 9.9
        # worst-case streaming adornments too: every figure at 6 digits
        # and the attempt counts on the line
        return build_summary_line(
            timings,
            99999.999,
            "0.1",
            0,
            99999.9,
            99999.9,
            99999.9,
            99999.9,
            stream_attempts={"cdc": 9, "win": 9, "ses": 9, "ssj": 9},
        )

    for n_phantom in (0, 20, 60):
        line = line_for(n_phantom)
        parsed = json.loads(line)
        assert len(line) < LINE_BUDGET, (
            f"bench line {len(line)} chars (+{n_phantom} phantoms) risks "
            "driver truncation"
        )
        if n_phantom <= 20:
            assert "qdrop" not in parsed, (
                f"per-query entries dropped at only +{n_phantom} phantom "
                "queries — re-compact the line format"
            )
    assert "coarse" not in json.loads(line_for(0)), (
        "current corpus already degrades to integer seconds — re-compact "
        "the line format before adding queries"
    )
