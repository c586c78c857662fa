"""Declared query corpus (SURVEY.md §2.2 / §2.4).

Every entry pairs a Spark-first implementation (DataFrame API) with an ANSI
SQL oracle string runnable by DuckDB on the same parquet tables. The driver
hash-compares them at sf0.01 — the engine's correctness gate.

Conventions (SURVEY §2.2 preamble) enforced here:
- every query ends with a total ORDER BY (keys first);
- money / double aggregates go through explicit DECIMAL casts (exact in both
  engines; no float-summation-order divergence);
- no raw timestamps in output (DATE / EXTRACT / epoch-micros instead);
- every computed column aliased identically in Spark and SQL.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    spark: SparkQuery
    oracle: str | None  # ANSI SQL for DuckDB; None => rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, Query] = {}


def register(
    name: str, oracle: str | None, doc: str = "", tags: tuple[str, ...] = ()
) -> Callable[[SparkQuery], SparkQuery]:
    def deco(fn: SparkQuery) -> SparkQuery:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = Query(name=name, spark=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""), tags=tags)
        return fn

    return deco


#: Contract-facing ordering. The contract's verifier hash-checks only the
#: first 50 entries of ``queries()``, so PRIORITY keeps one representative of
#: every SURVEY §2 operator (B1–B31, E1–E7) inside that window, and its other
#: slots rotate through the queries whose verdict is oldest or whose code
#: changed since it. tests/test_oracle.py checks every query.
PRIORITY: tuple[str, ...] = (
    # flagship (also the entry() query)
    "q10_agg_tpch_q1",        # B11
    # one representative per batch operator
    "q01_scan_project",       # B1/B2
    "q02_filter",             # B3
    "q03_join_chain",         # B4
    "q04_left_join",          # B5
    "q05_semi_join",          # B6
    "q06_anti_join",          # B7
    "q08_cross_join",         # B8
    "q09_theta_join",         # B9
    "q31_asof_join",          # B10
    "q11_count_distinct",     # B12
    "q13_cube_grouping",      # B13
    "q28_having",             # B14
    "q15_topk_per_group",     # B15
    "q17_topk",               # B17/B18
    "q18_union",              # B19
    "q19_intersect",          # B20
    "q91_curation_pipeline",  # E1+E5+E7+B31
    "q27_distinct",           # B21
    "q21_string_funcs",       # B22
    "q23_math_funcs",         # B24
    "q26_json_funcs",         # B27
    "q29_subquery",           # B28
    "q30_cte",                # B29
    "q32_approx_count_distinct",  # B30
    # LLM-pipeline tier
    "q84_sequence_packing",   # E5/E7
    "q40_exact_dedup",        # E1
    "q41_cosine_topk",        # E3
    "q43_pandas_udf_hist",    # E7
    "q47_minhash_lsh_pairs",  # E2
    "q49_ann_lsh",            # E4
    "q50_multimodal_features",  # E6
    "q54_embedding_near_dup",  # E2/E4
    # rotation slots
    "q123_setsim_join",       # E2/B26
    "q144_containment_join",  # E2/B26
    "q150_interval_coverage",  # B16/B23/B11
    "q99_semantic_dedup",     # E2/E4
    "q170_dedup_components",  # E1/E2/B16
    "q112_nation_pagerank",   # B4/B11/E5
    "q180_edit_distance_join",  # E2/B22/B26
    "q73_string_agg",         # B11/B22
    "q76_gap_fill",           # B23/B26
    "q78_distribution_windows",  # B15
    "q79_multiset_ops",       # B20
    "q20_except",             # B20
    "q07_full_outer",         # B5
    "q42_top_tokens",         # E5
    "q44_quality_features",   # E5
    "q45_lang_id",            # E5
    "q24_conditional",        # B25
)


def all_queries() -> dict[str, Query]:
    # import for side effect of registration
    from . import analytics, assembly, batch, curation, frontier, governance, llm, search, udf_surface  # noqa: F401

    missing = [n for n in PRIORITY if n not in REGISTRY]
    if missing:
        raise ValueError(f"PRIORITY names unknown queries: {missing}")
    rest = [n for n in REGISTRY if n not in PRIORITY]
    return {n: REGISTRY[n] for n in (*PRIORITY, *rest)}
