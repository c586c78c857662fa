"""Data-governance tier (round-6 additions, q152–q163): the split /
audit / profiling operations a training-data platform runs BEFORE a
corpus is allowed near a model — deterministic train/val/test assignment
(per-document q152 and leakage-proof group-level q163), cross-split
near-duplicate leakage audit (q153), referential-integrity checks
(q154), annotation majority-vote aggregation (q155), BPE-style pair
statistics (q156), column profiling (q157), mixture-epoch accounting
(q158), Bradley-Terry preference aggregation (q159), chi-square
independence (q160) and Benford leading-digit (q161) audits, and the
duplication profile (q162).

All deterministic (seeded md5 splits, no ``rand()``), every query carries
a full DuckDB hash oracle, and every plan keeps the corpus posture: hash
aggregates with map-side partials, broadcast dims, no single-reducer
windows, no data-sized collects.

Reference parity note: f-squirrel/mrcond is a CDC connector with no batch
surface (SURVEY §1); this module is part of the mandated LLM-pipeline
extension surface (SURVEY §2.4 E1–E7), same as queries/llm.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load
from ..operators import text
from . import register
from .llm import PLANT_OFFSET, plant_duplicates

#: split definition lives in operators/splits.py; the oracles restate it
#: via sql_split.
from ..operators.splits import TRAIN_PCT, VAL_PCT, split_assignment
from ..operators.splits import sql_split as _sql_split

#: q158 training-run token budget (absolute, like q97's TOKEN_BUDGET).
EPOCH_BUDGET = 1_000_000

#: q156 reported top adjacent-pair count.
TOP_PAIRS = 30

#: the DuckDB expression equivalent of operators/text.tokens() — kept in
#: lockstep with the Spark side by the shared-oracle hash checks.
SQL_TOKENS = (
    "list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t != '')"
)


# --------------------------------------------------------------------------
# q152 — deterministic train/val/test split with per-cell accounting
# --------------------------------------------------------------------------
@register(
    "q152_train_val_split",
    oracle=f"""
    WITH s AS (
        SELECT {_sql_split('doc_id')} AS split, source,
               len({SQL_TOKENS}) AS n_tokens, n_chars
        FROM documents
    )
    SELECT split, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM s GROUP BY split, source
    ORDER BY split, source
    """,
    doc="deterministic {TRAIN/VAL/TEST} split assignment + per-(split, "
    "source) accounting: split = seeded 60-bit md5 bucket of doc_id "
    "(90/5/5) — a pure function of the id, so the assignment is "
    "reproducible across engines and STABLE under corpus growth (a new "
    "batch never reshuffles old docs across splits, the property that "
    "makes eval sets trustworthy over time). One narrow projection (hash "
    "+ token count, all JVM built-ins) into one (split, source) hash agg "
    "with map-side partials. 100 TB: the only shuffle carries "
    "|splits x sources| partial rows; the split column is the same "
    "expression a partitionBy('split') writer would use",
    tags=("E5", "B11"),
)
def q152(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    return (
        d.select(
            split_assignment(F.col("doc_id")).alias("split"),
            "source",
            text.token_count(F.col("text")).alias("n_tokens"),
            "n_chars",
        )
        .groupBy("split", "source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("split", "source")
    )


# --------------------------------------------------------------------------
# q163 — group-level split (leakage-proof by construction)
# --------------------------------------------------------------------------
@register(
    "q163_group_split",
    oracle=f"""
    WITH s AS (
        SELECT {_sql_split('source')} AS split, source,
               len({SQL_TOKENS}) AS n_tokens
        FROM documents
    )
    SELECT split,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM s GROUP BY split
    ORDER BY split
    """,
    doc="GROUP-level train/val/test split: the whole SOURCE is hashed to "
    "one split, so every document of a source lands together — the "
    "leakage-proof-by-construction alternative to q152's per-document "
    "split (near-duplicates overwhelmingly live within a source/crawl/"
    "cluster; q153 AUDITS the per-doc split for leakage, this one "
    "prevents it structurally, at the cost of chunkier split "
    "proportions — the classic GroupShuffleSplit trade). Same seeded "
    "60-bit md5 assignment, keyed on the group; per-split accounting of "
    "sources/docs/tokens. 100 TB: one narrow projection into one hash "
    "agg; the group key's hash IS the split, so no join against a "
    "group-assignment table is ever needed",
    tags=("E5", "B11", "B12"),
)
def q163(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    return (
        d.select(
            split_assignment(F.col("source")).alias("split"),
            "source",
            text.token_count(F.col("text")).alias("n_tokens"),
        )
        .groupBy("split")
        .agg(
            F.countDistinct("source").cast("bigint").alias("n_sources"),
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
        .orderBy("split")
    )


# --------------------------------------------------------------------------
# q153 — cross-split near-duplicate leakage audit
# --------------------------------------------------------------------------
@register(
    "q153_split_leakage",
    oracle=f"""
    WITH planted AS (
        SELECT doc_id AS id_a, doc_id + {PLANT_OFFSET} AS id_b
        FROM documents WHERE doc_id % 25 = 0
    )
    SELECT id_a, id_b,
           {_sql_split('id_a')} AS split_a,
           {_sql_split('id_b')} AS split_b
    FROM planted
    WHERE {_sql_split('id_a')} != {_sql_split('id_b')}
    ORDER BY id_a
    """,
    doc="train/eval contamination audit: near-duplicate pairs whose two "
    "members landed in DIFFERENT q152 splits — the leakage a benchmark "
    "number silently inherits when an eval doc's near-twin sits in "
    "training. Candidate pairs come from the banded MinHash-LSH operator "
    "(same engine as q47); each side joins its split label (a narrow "
    "hash expression, no extra shuffle) and only cross-split pairs "
    "survive. Oracle: planted exact duplicates (identical text -> "
    "identical banded signature -> guaranteed candidate) restated in "
    "SQL with the same split definition — the planted subset is "
    "hash-exact while general recall stays pytest-verified. 100 TB: "
    "identical plan family to q47 (banded self-join, no "
    "approxSimilarityJoin single-partition trap) plus one narrow "
    "projection per side",
    tags=("E2", "E5"),
)
def q153(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators import dedup

    d = load(spark, sf, "documents").select("doc_id", "text")
    planted = plant_duplicates(d, "doc_id", F.col("doc_id") % 25 == 0)
    pairs = dedup.minhash_lsh_pairs(planted).filter(
        F.col("id_b") == F.col("id_a") + PLANT_OFFSET
    )
    return (
        pairs.select(
            "id_a",
            "id_b",
            split_assignment(F.col("id_a")).alias("split_a"),
            split_assignment(F.col("id_b")).alias("split_b"),
        )
        .filter(F.col("split_a") != F.col("split_b"))
        .orderBy("id_a")
    )


# --------------------------------------------------------------------------
# q154 — referential-integrity audit (FK orphan counts)
# --------------------------------------------------------------------------
#: (constraint name, child table, child key, parent table, parent key)
FK_EDGES = (
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
)


def _fk_oracle() -> str:
    parts = []
    for name, child, ck, parent, pk in FK_EDGES:
        parts.append(
            f"""
    SELECT '{name}' AS constraint_name,
           CAST(COUNT(*) AS BIGINT) AS n_checked,
           CAST(SUM(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_orphans
    FROM (SELECT {ck} AS k FROM {child} WHERE {ck} IS NOT NULL) c
    LEFT JOIN (SELECT DISTINCT {pk} AS k FROM {parent}) p ON c.k = p.k"""
        )
    return "\nUNION ALL".join(parts) + "\nORDER BY constraint_name"


@register(
    "q154_referential_integrity",
    oracle=_fk_oracle(),
    doc="data-quality gate: per-FK-edge orphan counts across the schema "
    "(child rows whose non-null key has no parent) — the audit a "
    "pipeline runs before trusting joins, because an orphaned key "
    "silently drops rows from every inner join downstream. Each edge is "
    "one left join of the child's key column against the parent's "
    "(distinct) key with a null-marker count; dimension parents "
    "broadcast, fact parents hash-join. A constraint with zero "
    "violations still reports its row — absence of evidence is made "
    "explicit. 100 TB: per-edge cost is one key-column scan + one join "
    "keyed on the FK; edges are independent and the six single-row "
    "aggregates union for free",
    tags=("B7", "B19"),
)
def q154(spark: SparkSession, sf: str) -> DataFrame:
    outs = []
    for name, child, ck, parent, pk in FK_EDGES:
        c = (
            load(spark, sf, child)
            .select(F.col(ck).alias("k"))
            .filter(F.col("k").isNotNull())
        )
        p = load(spark, sf, parent).select(F.col(pk).alias("k")).distinct()
        j = c.join(p.withColumn("__hit", F.lit(1)), "k", "left")
        outs.append(
            j.agg(
                F.lit(name).alias("constraint_name"),
                F.count("*").cast("bigint").alias("n_checked"),
                F.sum(F.when(F.col("__hit").isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("n_orphans"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("constraint_name")


# --------------------------------------------------------------------------
# q155 — majority-vote label aggregation
# --------------------------------------------------------------------------
@register(
    "q155_majority_vote",
    oracle="""
    WITH votes AS (
        SELECT user_id, event_type, COUNT(*) AS cnt
        FROM events GROUP BY user_id, event_type
    ),
    ranked AS (
        SELECT user_id, event_type, cnt,
               SUM(cnt) OVER (PARTITION BY user_id) AS total,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id
                   ORDER BY cnt DESC, event_type NULLS LAST
               ) AS rn
        FROM votes
    )
    SELECT user_id,
           event_type AS winner,
           CAST(total AS BIGINT) AS n_votes,
           CAST(cnt AS BIGINT) AS top_votes,
           ROUND(CAST(cnt AS DOUBLE) / total, 4) AS agreement
    FROM ranked WHERE rn = 1
    ORDER BY user_id
    """,
    doc="annotation consolidation: per item (user_id stands in for the "
    "item key) the majority label among its votes (event_type), with a "
    "DETERMINISTIC tie-break (highest count, then lexicographically "
    "smallest label) and an agreement ratio — the standard reduction "
    "from N raw annotations to one training label + confidence. Plan: "
    "one (item, label) hash agg collapses raw votes (map-side partials "
    "do the heavy lifting), then a window over the collapsed per-item "
    "label rows (bounded by |labels| per item, partitioned by a "
    "high-cardinality item key — never a low-cardinality window). "
    "100 TB: the vote agg is the only data-sized shuffle; the window "
    "input is |items x labels|",
    tags=("B11", "B15", "B25"),
)
def q155(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events")
    votes = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    # NULLS LAST pinned on BOTH sides: Spark's default asc is NULLS FIRST,
    # DuckDB's is NULLS LAST — a NULL label tied for top votes would win
    # in one engine and lose in the other.
    w_rank = Window.partitionBy("user_id").orderBy(
        F.col("cnt").desc(), F.col("event_type").asc_nulls_last()
    )
    w_tot = Window.partitionBy("user_id")
    ranked = votes.select(
        "user_id",
        "event_type",
        "cnt",
        F.sum("cnt").over(w_tot).alias("total"),
        F.row_number().over(w_rank).alias("rn"),
    )
    return (
        ranked.filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("winner"),
            F.col("total").cast("bigint").alias("n_votes"),
            F.col("cnt").cast("bigint").alias("top_votes"),
            F.round(F.col("cnt").cast("double") / F.col("total"), 4).alias(
                "agreement"
            ),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# q156 — adjacent-pair statistics (one BPE merge-candidate census)
# --------------------------------------------------------------------------
@register(
    "q156_bpe_pair_stats",
    oracle=f"""
    WITH toked AS (
        SELECT {SQL_TOKENS} AS t FROM documents
    ),
    pairs AS (
        SELECT t[i] || ' ' || t[i + 1] AS pair
        FROM toked, UNNEST(range(1, len(t))) AS r(i)
    )
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM pairs
    GROUP BY pair
    ORDER BY cnt DESC, pair
    LIMIT {TOP_PAIRS}
    """,
    doc="corpus-wide adjacent-token-pair counts, top-{N}: exactly the "
    "statistic one BPE merge round maximizes (the pair a tokenizer "
    "trainer would merge next), and the distributed form of 'count every "
    "bigram over 100 TB'. Tokens come from the shared JVM tokenizer; "
    "pairs are built NARROWLY inside the row via zip_with over two "
    "shifted slices (the pmi_collocations idiom: ANSI-safe, 0/1-token "
    "docs yield empty lists) — no self-join, no "
    "posexplode-then-shift shuffle — then one explode feeds one hash agg "
    "with map-side partials, and the global top-N is a TakeOrdered (no "
    "full sort). Total ORDER BY (cnt DESC, pair) makes the cut "
    "deterministic. 100 TB: one shuffle carrying |distinct pairs| "
    "partials; the token arrays never leave their input partition",
    tags=("E5", "B26", "B18"),
)
def q156(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    # adjacent pairs via the pmi_collocations zip_with/slice idiom (no
    # indexed access, so no ANSI INVALID_ARRAY_INDEX hazard and no size>=2
    # pre-filter): n_adj = max(len-1, 0) makes 0/1-token docs contribute
    # zero pairs, exactly like the oracle's empty range(1, 1) — and with
    # no filter there is nothing for predicate pushdown to duplicate (the
    # old size(...)>=2 gate pushed below the projection re-tokenized
    # every document a second time). (Regression-tested in
    # test_governance.py.)
    toks = text.tokens(F.col("text"))
    n_adj = F.greatest(F.size(toks) - 1, F.lit(0))
    pairs = d.select(
        F.explode(
            F.zip_with(
                F.slice(toks, 1, n_adj),
                F.slice(toks, 2, n_adj),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(TOP_PAIRS)
    )


# --------------------------------------------------------------------------
# q157 — column profiler (single-pass, long-format)
# --------------------------------------------------------------------------
PROFILE_COLS = ("l_discount", "l_extendedprice", "l_quantity", "l_tax")


def _profiler_oracle() -> str:
    parts = []
    for c in PROFILE_COLS:
        parts.append(
            f"""
    SELECT '{c}' AS col_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT({c}) AS BIGINT) AS n_nonnull,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
           MIN({c}) AS min_v,
           MAX({c}) AS max_v,
           ROUND(CAST(SUM(CAST({c} AS DECIMAL(38,18))) AS DOUBLE)
                 / COUNT({c}), 4) AS mean_v
    FROM lineitem"""
        )
    return "\nUNION ALL".join(parts) + "\nORDER BY col_name"


@register(
    "q157_column_profiler",
    oracle=_profiler_oracle(),
    doc="ANALYZE-style column profile of the fact table, long format: per "
    "column the row/non-null/exact-distinct counts, min/max, and an "
    "order-independent DECIMAL-exact mean. ONE scan stacked to "
    "(col, value) long form (a narrow |cols|x row expansion inside the "
    "input partition), then TWO strictly-collapsing hash aggs: "
    "(col, value) -> per-value count + decimal value-sum (map-side "
    "partials dedup most of the stream), then col -> the full stat row "
    "— n_distinct is COUNT(v) over the collapsed frame, the mean sums "
    "the per-value DECIMAL sums (no decimal multiply — Spark's "
    "decimal x bigint product can silently lose scale), min/max are "
    "stored-value passthroughs. Measured 3x faster than the "
    "4x-COUNT(DISTINCT)-in-one-aggregate expand plan it replaces "
    "(4.2 -> 1.4 s at sf0.1): mixed distinct+plain aggregates force "
    "Catalyst's 5x expand through a single wide aggregate, while this "
    "shape keeps every stage a plain collapsing agg. 100 TB: the "
    "shuffle carries per-partition-distinct partials per column; swap "
    "approx_count_distinct (q32's sketch) when estimates suffice",
    tags=("B11", "B12", "B24", "B26"),
)
def q157(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators import ensure_parallelism

    # project to the four profiled columns FIRST, then guard parallelism:
    # the 4x stack + decimal partial agg is expansion-heavy relative to the
    # narrow projection, and a 3-split local scan would run it on 3 cores
    # (no-op on real multi-split tables; order-independent aggregates).
    li = ensure_parallelism(load(spark, sf, "lineitem").select(*PROFILE_COLS))
    stacked = li.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col_name"), F.col(c).alias("v")
                    )
                    for c in PROFILE_COLS
                ]
            )
        ).alias("p")
    ).select("p.col_name", "p.v")
    per_val = stacked.groupBy("col_name", "v").agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("v").cast("decimal(38,18)")).alias("sv"),
    )
    nn = F.sum(F.when(F.col("v").isNotNull(), F.col("cnt")).otherwise(0))
    return (
        per_val.groupBy("col_name")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_rows"),
            nn.cast("bigint").alias("n_nonnull"),
            F.count("v").cast("bigint").alias("n_distinct"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
            F.round(F.sum("sv").cast("double") / nn, 4).alias("mean_v"),
        )
        .orderBy("col_name")
    )


# --------------------------------------------------------------------------
# q158 — mixture-epoch accounting under a token budget
# --------------------------------------------------------------------------
@register(
    "q158_source_epochs",
    oracle=f"""
    WITH per AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len({SQL_TOKENS})) AS BIGINT) AS src_tokens
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT CAST(SUM(CAST(sqrt(CAST(src_tokens AS DOUBLE))
                             AS DECIMAL(38,18))) AS DOUBLE) AS total_w
        FROM per
    )
    SELECT source, n_docs, src_tokens,
           ROUND(sqrt(CAST(src_tokens AS DOUBLE))
                 / NULLIF(total_w, 0.0), 6) AS weight,
           ROUND({EPOCH_BUDGET} * sqrt(CAST(src_tokens AS DOUBLE))
                 / NULLIF(total_w, 0.0)
                 / NULLIF(src_tokens, 0), 4) AS epochs
    FROM per, tot
    ORDER BY source
    """,
    doc="mixture-epoch audit: given the run's token budget and a "
    "temperature-scaled mixture (weight ~ tokens^0.5, the multilingual "
    "up-/down-sampling compromise), how many EPOCHS of each source the "
    "run implies — the number that flags 'this 4% source gets repeated "
    "11x' before training does it silently. One (source) hash agg for "
    "per-source token totals, lazily checkpointed (lineage truncation, "
    "q132's eager=False rule) so the 1-row normalizer aggregate reads "
    "the stored |sources|-row blocks instead of re-executing the corpus "
    "scan+tokenize lineage, then broadcast-crossed back (the bounded "
    "scalar idiom; a partitionBy(lit) window would constant-fold to an "
    "empty spec -> Exchange SinglePartition). Cross-engine stability: "
    "the normalizer sums DECIMAL(38,18) casts (order-independent), both "
    "engines evaluate the identical left-associative (B*s)/t/k tree, "
    "and zero denominators NULLIF to NULL rows (Spark ANSI would throw "
    "where DuckDB yields NULL). 100 TB: "
    "ONE corpus scan, one shuffle carrying |sources| partials; "
    "everything after is metadata-sized",
    tags=("E5", "B11", "B24"),
)
def q158(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators import materialize_once

    d = load(spark, sf, "documents")
    per = materialize_once(
        d.groupBy("source").agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(text.token_count(F.col("text")))
            .cast("bigint")
            .alias("src_tokens"),
        ),
        eager=False,
    )
    # total_w summed in DECIMAL(38,18) (exact, order-independent — the
    # corpus convention; a raw double SUM depends on partial-merge order
    # under AQE and can diverge run-to-run). Denominators NULLIF-guarded:
    # Spark's ANSI mode THROWS on x/0 where DuckDB yields NULL, so an
    # all-whitespace source (src_tokens = 0) must produce a NULL epochs
    # row in both engines, not kill the query.
    tot = per.agg(
        F.sum(F.sqrt(F.col("src_tokens").cast("double")).cast("decimal(38,18)"))
        .cast("double")
        .alias("total_w")
    )
    s = F.sqrt(F.col("src_tokens").cast("double"))
    tw = F.nullif(F.col("total_w"), F.lit(0.0))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "src_tokens",
            F.round(s / tw, 6).alias("weight"),
            # left-associative (B*s)/t/k — the oracle's exact op tree
            # (B*(s/t)/k differs at the ulp level on ~30% of inputs)
            F.round(
                F.lit(EPOCH_BUDGET) * s / tw
                / F.nullif(F.col("src_tokens"), F.lit(0)),
                4,
            ).alias("epochs"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q162 — duplication profile (cluster-size histogram of exact-dup groups)
# --------------------------------------------------------------------------
@register(
    "q162_duplication_profile",
    oracle="""
    WITH h AS (
        SELECT COUNT(*) AS k
        FROM documents
        GROUP BY sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
    ),
    hist AS (
        SELECT CAST(k AS BIGINT) AS cluster_size,
               CAST(COUNT(*) AS BIGINT) AS n_clusters
        FROM h GROUP BY k
    ),
    tot AS (SELECT SUM(cluster_size * n_clusters) AS n FROM hist)
    SELECT cluster_size, n_clusters,
           CAST(cluster_size * n_clusters AS BIGINT) AS n_docs,
           ROUND(CAST(cluster_size * n_clusters AS DOUBLE) / n, 6)
               AS corpus_share
    FROM hist, tot ORDER BY cluster_size
    """,
    doc="duplication profile: the cluster-size histogram of exact-dup "
    "groups (normalized-text sha256, the q40 key) — 'how duplicated is "
    "this corpus, and where does the mass sit?' The number a dedup pass "
    "is planned around: a corpus that is 40% size-2 clusters needs a "
    "different strategy than one with a handful of million-row clusters "
    "(and the tail of this histogram IS the skew a dedup shuffle will "
    "meet). Two collapsing hash aggs (hash -> cluster size -> size "
    "histogram; the first shuffles a uniform 256-bit key — no skew by "
    "construction), then the corpus total broadcast-crosses back from "
    "the lazily-checkpointed histogram frame. 100 TB: both shuffles "
    "strictly collapse; the histogram is |distinct sizes| rows",
    tags=("E1", "B11"),
)
def q162(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators import materialize_once
    from ..operators.dedup import text_hash

    d = load(spark, sf, "documents")
    clusters = d.groupBy(text_hash(F.col("text")).alias("h")).agg(
        F.count("*").alias("k")
    )
    hist = materialize_once(
        clusters.groupBy(F.col("k").cast("bigint").alias("cluster_size")).agg(
            F.count("*").cast("bigint").alias("n_clusters")
        ),
        eager=False,
    )
    tot = hist.agg(
        F.sum(F.col("cluster_size") * F.col("n_clusters")).alias("n")
    )
    mass = F.col("cluster_size") * F.col("n_clusters")
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            "cluster_size",
            "n_clusters",
            mass.cast("bigint").alias("n_docs"),
            F.round(mass.cast("double") / F.col("n"), 6).alias(
                "corpus_share"
            ),
        )
        .orderBy("cluster_size")
    )


# --------------------------------------------------------------------------
# q159 — Bradley-Terry preference strength (fixed-round MM iteration)
# --------------------------------------------------------------------------
BT_ROUNDS = 3

_BT_BASE_SQL = """
    WITH lp AS (
        SELECT l_orderkey, l_linenumber, p_brand AS b, l_quantity AS q
        FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    duels AS (
        SELECT CASE WHEN a.q > b.q THEN a.b ELSE b.b END AS i,
               CASE WHEN a.q > b.q THEN b.b ELSE a.b END AS j
        FROM lp a JOIN lp b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_linenumber < b.l_linenumber
         AND a.b != b.b AND a.q != b.q
    ),
    wins AS (SELECT i, j, COUNT(*) AS w FROM duels GROUP BY i, j),
    wtot AS (SELECT i, CAST(SUM(w) AS BIGINT) AS wi FROM wins GROUP BY i),
    nmat AS (
        SELECT i, j, SUM(w) AS n FROM (
            SELECT i, j, w FROM wins
            UNION ALL SELECT j AS i, i AS j, w FROM wins
        ) GROUP BY i, j
    ),
    p0 AS (SELECT DISTINCT i, CAST(1.0 AS DOUBLE) AS p FROM nmat)"""


def _bt_round_sql(prev: str, cur: str) -> str:
    return f"""
    {cur} AS (
        SELECT n.i,
               CAST(COALESCE(ANY_VALUE(w.wi), 0) AS DOUBLE)
                 / CAST(SUM(CAST(CAST(n.n AS DOUBLE) / (pi.p + pj.p)
                                 AS DECIMAL(38,18))) AS DOUBLE) AS p
        FROM nmat n
        JOIN {prev} pi ON n.i = pi.i
        JOIN {prev} pj ON n.j = pj.i
        LEFT JOIN wtot w ON n.i = w.i
        GROUP BY n.i
    )"""


def _bt_oracle() -> str:
    rounds = ",".join(
        _bt_round_sql(f"p{r}", f"p{r + 1}") for r in range(BT_ROUNDS)
    )
    last = f"p{BT_ROUNDS}"
    return f"""{_BT_BASE_SQL},{rounds},
    mats AS (SELECT i, CAST(SUM(n) AS BIGINT) AS n_matches FROM nmat GROUP BY i),
    norm AS (SELECT CAST(SUM(CAST(p AS DECIMAL(38,18))) AS DOUBLE) AS s
             FROM {last})
    SELECT r.i AS brand,
           CAST(COALESCE(w.wi, 0) AS BIGINT) AS n_wins,
           m.n_matches,
           ROUND(r.p / norm.s, 6) AS strength
    FROM {last} r
    JOIN mats m ON r.i = m.i
    LEFT JOIN wtot w ON r.i = w.i, norm
    ORDER BY brand
    """


# --------------------------------------------------------------------------
# q160 — chi-square independence audit (lang x source contingency)
# --------------------------------------------------------------------------
@register(
    "q160_chi_square",
    oracle="""
    WITH obs AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
        FROM documents GROUP BY lang, source
    ),
    m AS (
        SELECT lang, source, o,
               SUM(o) OVER (PARTITION BY lang) AS rl,
               SUM(o) OVER (PARTITION BY source) AS cs,
               SUM(o) OVER () AS n
        FROM obs
    ),
    cell AS (
        SELECT o, n,
               CAST(rl AS DOUBLE) * CAST(cs AS DOUBLE) / CAST(n AS DOUBLE)
                   AS e
        FROM m
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n,
           CAST((SELECT COUNT(DISTINCT lang) FROM documents) AS BIGINT)
               AS n_langs,
           CAST((SELECT COUNT(DISTINCT source) FROM documents) AS BIGINT)
               AS n_sources,
           CAST(((SELECT COUNT(DISTINCT lang) FROM documents) - 1)
                * ((SELECT COUNT(DISTINCT source) FROM documents) - 1)
                AS BIGINT) AS dof,
           ROUND(
               CAST(SUM(CAST((o - e) * (o - e) / e AS DECIMAL(38,18)))
                    AS DOUBLE)
               + (MAX(n) - CAST(SUM(CAST(e AS DECIMAL(38,18))) AS DOUBLE)),
               4) AS chi2
    FROM cell
    """,
    doc="lang x source independence audit: the Pearson chi-square "
    "statistic over the contingency table — the standard check that a "
    "corpus's language mix is not secretly a per-source artifact (a "
    "large chi2 means 'language and source are entangled; stratify "
    "before subsampling'). One (lang, source) hash agg collapses the "
    "corpus into the |langs x sources|-row contingency frame, lazily "
    "checkpointed so every downstream total (row/column windows, grand "
    "total, distinct-axis counts) reads the stored cells rather than "
    "re-scanning; the grand total broadcast-crosses back (bounded "
    "scalar idiom). Zero-observed cells contribute exactly their "
    "expectation, folded in ALGEBRAICALLY (sum of all E equals N, so "
    "missing-cell mass = N - sum of observed E) — no dense cross join "
    "needed. Per-cell arithmetic in double with a fixed op tree; both "
    "sums routed through DECIMAL(38,18) so summation order cannot "
    "diverge. 100 TB: one shuffle carrying |langs x sources| partials",
    tags=("B11", "B24", "E5"),
)
def q160(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators import materialize_once

    d = load(spark, sf, "documents")
    obs = materialize_once(
        d.groupBy("lang", "source").agg(
            F.count("*").cast("bigint").alias("o")
        ),
        eager=False,
    )
    w_l = Window.partitionBy("lang")
    w_s = Window.partitionBy("source")
    m = obs.select(
        "o",
        F.sum("o").over(w_l).alias("rl"),
        F.sum("o").over(w_s).alias("cs"),
    )
    tot = obs.agg(
        F.sum("o").cast("bigint").alias("n"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
    )
    cell = m.crossJoin(F.broadcast(tot))
    e = (
        F.col("rl").cast("double")
        * F.col("cs").cast("double")
        / F.col("n").cast("double")
    )
    cell = cell.select("o", "n", "n_langs", "n_sources", e.alias("e"))
    chi_obs = F.sum(
        ((F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e"))
        .cast("decimal(38,18)")
    ).cast("double")
    e_obs = F.sum(F.col("e").cast("decimal(38,18)")).cast("double")
    return (
        cell.groupBy("n", "n_langs", "n_sources")
        .agg(F.round(chi_obs + (F.col("n") - e_obs), 4).alias("chi2"))
        .select(
            "n",
            "n_langs",
            "n_sources",
            ((F.col("n_langs") - 1) * (F.col("n_sources") - 1))
            .cast("bigint")
            .alias("dof"),
            "chi2",
        )
    )


# --------------------------------------------------------------------------
# q161 — Benford leading-digit audit
# --------------------------------------------------------------------------
#: log10(1 + 1/d) for d = 1..9, precomputed to 9 decimals as LITERALS in
#: both engines — hardcoding removes any cross-engine libm last-ulp risk.
BENFORD = {
    1: 0.301029996, 2: 0.176091259, 3: 0.124938737,
    4: 0.096910013, 5: 0.079181246, 6: 0.06694679,
    7: 0.057991947, 8: 0.051152522, 9: 0.045757491,
}


@register(
    "q161_benford_audit",
    oracle=f"""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(floor(l_extendedprice) AS BIGINT)
                                AS VARCHAR), 1, 1) AS INT) AS digit
        FROM lineitem WHERE l_extendedprice >= 1
    ),
    counts AS (
        SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs,
               SUM(COUNT(*)) OVER () AS n_total
        FROM digits GROUP BY digit
    )
    SELECT digit, n_obs,
           ROUND(CAST(n_obs AS DOUBLE) / n_total, 6) AS obs_share,
           CAST(exp_share AS DOUBLE) AS exp_share,
           ROUND(CAST(n_obs AS DOUBLE) / n_total
                 - CAST(exp_share AS DOUBLE), 6) AS excess
    FROM counts
    JOIN (VALUES {", ".join(f"({d}, {p})" for d, p in BENFORD.items())})
         AS b(digit, exp_share) USING (digit)
    ORDER BY digit
    """,
    doc="Benford's-law leading-digit audit of the money column: observed "
    "vs expected first-digit shares — the classic fabricated-data / "
    "unit-mixup detector (organically scaled magnitudes follow "
    "log10(1+1/d); synthetic uniform prices, like TPC-H's, visibly do "
    "not — which is exactly what the audit should report). Leading "
    "digit via integer floor -> string head (no float log in the data "
    "path); the nine expected shares are hardcoded decimal LITERALS in "
    "both engines, eliminating cross-engine libm divergence. One hash "
    "agg to the lazily-checkpointed 9-row digit frame, its total "
    "broadcast-crossed back (bounded scalar idiom), plus a broadcast "
    "9-row constants join. 100 TB: one shuffle carrying 9 partials per "
    "task",
    tags=("B11", "B22", "B24"),
)
def q161(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators import materialize_once

    li = load(spark, sf, "lineitem").filter(F.col("l_extendedprice") >= 1)
    digits = li.select(
        F.substring(
            F.floor(F.col("l_extendedprice")).cast("bigint").cast("string"),
            1,
            1,
        )
        .cast("int")
        .alias("digit")
    )
    counts = materialize_once(
        digits.groupBy("digit").agg(
            F.count("*").cast("bigint").alias("n_obs")
        ),
        eager=False,
    )
    counts = counts.crossJoin(
        F.broadcast(counts.agg(F.sum("n_obs").alias("n_total")))
    )
    bench = spark.createDataFrame(
        [(d, p) for d, p in BENFORD.items()], "digit INT, exp_share DOUBLE"
    )
    share = F.col("n_obs").cast("double") / F.col("n_total")
    return (
        counts.join(F.broadcast(bench), "digit")
        .select(
            "digit",
            "n_obs",
            F.round(share, 6).alias("obs_share"),
            "exp_share",
            F.round(share - F.col("exp_share"), 6).alias("excess"),
        )
        .orderBy("digit")
    )


@register(
    "q159_bradley_terry",
    oracle=_bt_oracle(),
    doc="Bradley-Terry preference strength from pairwise duels — the "
    "model behind preference-data reward aggregation ('from N pairwise "
    "comparisons, a per-item strength'). Duels: within each order, "
    "line-item pairs of different part brands, higher quantity wins "
    "(ties skipped). The ONLY data-sized work is the within-order "
    "self-join (fanout bounded by lines-per-order) collapsing to the "
    "|brands^2| win matrix; the fixed {BT_ROUNDS}-round MM iteration "
    "(Hunter 2004: p_i' = W_i / sum_j n_ij/(p_i+p_j)) then runs "
    "entirely on that metadata-sized frame — per-term division in "
    "double (deterministic fixed op tree), per-group sums routed "
    "through DECIMAL(38,18) so summation order cannot diverge "
    "cross-engine (the q112 PageRank discipline), lazy lineage "
    "truncation between rounds. Output normalized to sum 1. 100 TB: "
    "one orderkey shuffle for the duel join, one hash agg; rounds cost "
    "|brands^2| regardless of corpus size",
    tags=("B4", "B11", "E5"),
)
def q159(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators import materialize_once
    from ..operators.preference import bradley_terry

    li = load(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity"
    )
    pt = load(spark, sf, "part").select("p_partkey", "p_brand")
    # both sides of the duel self-join consume lp — lazy checkpoint so the
    # scan + brand broadcast-join runs once, not once per side
    lp = materialize_once(
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey).select(
            "l_orderkey",
            "l_linenumber",
            F.col("p_brand").alias("b"),
            F.col("l_quantity").alias("q"),
        ),
        eager=False,
    )
    a, b = lp.alias("a"), lp.alias("b")
    duels = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_linenumber") < F.col("b.l_linenumber"))
        & (F.col("a.b") != F.col("b.b"))
        & (F.col("a.q") != F.col("b.q")),
    ).select(
        F.when(F.col("a.q") > F.col("b.q"), F.col("a.b"))
        .otherwise(F.col("b.b"))
        .alias("i"),
        F.when(F.col("a.q") > F.col("b.q"), F.col("b.b"))
        .otherwise(F.col("a.b"))
        .alias("j"),
    )
    return bradley_terry(duels, rounds=BT_ROUNDS).select(
        F.col("entity").alias("brand"), "n_wins", "n_matches", "strength"
    )
