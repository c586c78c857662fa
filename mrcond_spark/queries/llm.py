"""LLM-data-pipeline declared queries Q40+ (SURVEY.md §2.4 E1–E7).

Every query here carries a DuckDB hash oracle except q32/q33 (HLL sketch /
seeded sample — approximate by nature). The approximate dedup/ANN tiers get
theirs through planted exact duplicates (identical content deterministically
collides under MinHash/SimHash/vector-LSH/IVF; see ``PLANT_OFFSET``) or, for
q62, a full SQL recomputation of the md5-variant SimHash; general recall
stays statistically asserted in ``tests/test_operators.py``.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..catalog import load
from ..operators import dedup, multimodal, seeded_hash60, seeded_md5, similarity, text
from . import register

PINNED_VEC_IDS = [1, 2, 3, 4, 5]

#: Planted-duplicate id offset for the approximate-tier hash oracles
#: (q47/q48/q49/q54/q57): a high tag bit rather than an additive 1e6 so it
#: can never collide with a natural id — int64 ids would have to reach
#: 2^60 ≈ 1.15e18 rows first, and id + 2^60 cannot overflow int64 for any
#: realistic id. Keep the Spark code and the SQL literal in lockstep.
PLANT_OFFSET = 1 << 60


def plant_duplicates(df: DataFrame, id_col: str, pred) -> DataFrame:
    """Union ``df`` with a re-tagged copy of the rows matching ``pred``: the
    id gains the ``PLANT_OFFSET`` tag bit, every other column is untouched.
    The ONE Spark-side planting implementation — each query's oracle states
    the same subset with the literal ``{PLANT_OFFSET}`` in its SQL, so the
    lockstep surface is this function plus one f-string per oracle."""
    return df.unionByName(
        df.filter(pred).withColumn(id_col, F.col(id_col) + F.lit(PLANT_OFFSET))
    )


# --------------------------------------------------------------------------
# E1 — exact dedup
# --------------------------------------------------------------------------
@register(
    "q40_exact_dedup",
    oracle="""
    SELECT lang, COUNT(DISTINCT sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))) AS n_unique
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
    doc="distinct doc count per lang after normalized-text hash dedup (E1)",
    tags=("E1",),
)
def q40(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    return (
        d.select("lang", dedup.text_hash(F.col("text")).alias("h"))
        .groupBy("lang")
        .agg(F.countDistinct("h").alias("n_unique"))
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# E3 — exact top-k cosine similarity
# --------------------------------------------------------------------------
@register(
    "q41_cosine_topk",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id IN ({",".join(map(str, PINNED_VEC_IDS))})
    ),
    scored AS (
        SELECT q.query_id, e.vec_id AS nbr_id,
               ROUND(list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])), 4) AS cos_raw
        FROM q CROSS JOIN embeddings e
        WHERE e.vec_id <> q.query_id
    ),
    ranked AS (
        SELECT query_id, nbr_id, cos_raw,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, nbr_id) AS rank
        FROM scored
    )
    SELECT query_id, nbr_id, CAST(CAST(cos_raw AS DECIMAL(10,4)) AS DOUBLE) AS cos_r, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 3
    ORDER BY query_id, rank
    """,
    doc="exact brute-force top-3 cosine neighbors for 5 pinned vectors (E3); "
    "ranking on ROUND(cos,4) + id tiebreak keeps Spark/DuckDB float-order independent",
    tags=("E3",),
)
def q41(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "embeddings")
    return similarity.cosine_topk(e, PINNED_VEC_IDS, k=3).orderBy("query_id", "rank")


# --------------------------------------------------------------------------
# E5 — text analysis
# --------------------------------------------------------------------------
@register(
    "q42_top_tokens",
    oracle="""
    SELECT token, COUNT(*) AS cnt
    FROM (
        SELECT UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS token
        FROM documents WHERE lang = 'en'
    )
    WHERE token <> ''
    GROUP BY token
    ORDER BY cnt DESC, token
    LIMIT 20
    """,
    doc="top-20 whitespace tokens in English docs (E5)",
    tags=("E5",),
)
def q42(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    return (
        d.filter(F.col("lang") == "en")
        .select(F.explode(text.tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token"))
        .limit(20)
    )


@register(
    "q44_quality_features",
    oracle="""
    SELECT doc_id,
           CAST(LENGTH(text) AS BIGINT) AS q_chars,
           CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '')) AS BIGINT) AS q_tokens,
           CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS BIGINT) AS q_punct
    FROM documents
    ORDER BY doc_id
    """,
    doc="per-doc quality counters: chars / whitespace tokens / punctuation (E5)",
    tags=("E5",),
)
def q44(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        F.length(t).cast("bigint").alias("q_chars"),
        text.token_count(t).cast("bigint").alias("q_tokens"),
        (F.length(t) - F.length(F.regexp_replace(t, "[^\\w \\t\\n\\f\\r]", ""))).cast("bigint").alias("q_punct"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# E7 — Pandas UDF surface
# --------------------------------------------------------------------------
@register(
    "q43_pandas_udf_hist",
    oracle="""
    SELECT CAST(LENGTH(text) // 100 AS INT) AS bucket, COUNT(*) AS cnt
    FROM documents
    GROUP BY bucket
    ORDER BY bucket
    """,
    doc="Arrow-batched scalar pandas_udf length-bucket histogram (E7)",
    tags=("E7",),
)
def q43(spark: SparkSession, sf: str) -> DataFrame:
    @pandas_udf("int")
    def length_bucket(s: pd.Series) -> pd.Series:
        # nullable Int32, not int32: a NULL text is NaN after str.len(),
        # and astype('int32') RAISES on NaN (crashing the whole query)
        # while the oracle's LENGTH(text)//100 files it under a NULL
        # bucket — the extension dtype round-trips NA through Arrow.
        return (s.str.len() // 100).astype("Int32")

    d = load(spark, sf, "documents")
    return (
        d.select(length_bucket(F.col("text")).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("cnt"))
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# E5 — deterministic fingerprint + language heuristic (oracle-free but exact)
# --------------------------------------------------------------------------
@register(
    "q45_lang_id",
    oracle="""
    WITH t AS (
        SELECT lang,
               list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS toks
        FROM documents
    ),
    s AS (
        SELECT lang,
               len(list_intersect(toks, ['the','and','of','to','a'])) AS s_en,
               len(list_intersect(toks, ['der','die','und','das','ist'])) AS s_de,
               len(list_intersect(toks, ['el','la','de','que','los'])) AS s_es,
               len(list_intersect(toks, ['le','la','et','les','des'])) AS s_fr
        FROM t
    )
    SELECT lang,
           CASE WHEN greatest(s_en, s_de, s_es, s_fr) <= 0 THEN 'unknown'
                WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
                WHEN s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
                WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
                ELSE 'fr' END AS pred,
           COUNT(*) AS cnt
    FROM s GROUP BY lang, pred ORDER BY lang, pred
    """,
    doc="marker-word language-ID vote vs the labeled lang column (E5); the "
    "argmax + en>de>es>fr tie priority is mirrored exactly in the oracle's "
    "CASE ordering",
    tags=("E5",),
)
def q45(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    return (
        d.select("lang", text.lang_id_heuristic(F.col("text")).alias("pred"))
        .groupBy("lang", "pred")
        .agg(F.count("*").alias("cnt"))
        .orderBy("lang", "pred")
    )


@register(
    "q46_fingerprint",
    oracle="""
    WITH toked AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                           t -> t != '') AS toks
        FROM documents
    )
    SELECT doc_id,
           list_min(list_transform(
               range(0, greatest(len(toks) - 4, 0) + 1),
               i -> CAST(('0x' || substr(md5(array_to_string(toks[i+1:i+4], ' ')), 1, 15))
                         AS BIGINT)
           )) AS fp
    FROM toked ORDER BY doc_id
    """,
    doc="winnowing-style rolling-hash document fingerprint (E5): min over "
    "4-token-shingle hashes. Declared with the md5-derived 60-bit hash so "
    "the exact fingerprint is computable in the DuckDB oracle (round-2 shape "
    "used xxhash64 = engine-specific = rows-only check); the xxhash64 fast "
    "path stays the operator default and is stability-tested in pytest",
    tags=("E5",),
)
def q46(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    # tokenize once into a real column: the fingerprint lambda references it
    # multiple times, and CollapseProject keeps multiply-referenced non-cheap
    # aliases materialized (avoids O(len^2) re-tokenization per shingle)
    toked = d.select("doc_id", text.tokens(F.col("text")).alias("toks"))
    return toked.select(
        "doc_id",
        text.doc_fingerprint_from_tokens(F.col("toks"), hash_fn="md5").alias("fp"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# E2/E4 — approximate dedup & ANN tiers (rows-only driver check)
# --------------------------------------------------------------------------
@register(
    "q47_minhash_lsh_pairs",
    oracle=f"""
    SELECT doc_id AS id_a, doc_id + {PLANT_OFFSET} AS id_b
    FROM documents WHERE doc_id % 25 = 0
    ORDER BY id_a
    """,
    doc="MinHash-LSH candidate near-duplicate doc pairs (E2). Exact "
    "duplicates are planted from the corpus itself (every 25th doc re-tagged "
    "id+2^60); identical text -> identical shingle set -> identical banded "
    "MinHash signature, so every planted pair is a guaranteed LSH candidate "
    "and the planted subset is hash-oracle-checkable (round-2 shape was "
    "rows-only). General banding recall stays pytest-verified.",
    tags=("E2",),
)
def q47(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents").select("doc_id", "text")
    pairs = dedup.minhash_lsh_pairs(plant_duplicates(d, "doc_id", F.col("doc_id") % 25 == 0))
    return (
        pairs.filter(F.col("id_b") == F.col("id_a") + PLANT_OFFSET)
        .select("id_a", "id_b")
        .orderBy("id_a")
    )


@register(
    "q57_mllib_minhash_pairs",
    oracle=f"""
    SELECT doc_id AS id_a,
           doc_id + {PLANT_OFFSET} AS id_b,
           CAST(0.0 AS DOUBLE) AS jaccard_dist
    FROM documents
    WHERE doc_id % 25 = 0
    ORDER BY id_a
    """,
    doc="MLlib-native MinHashLSH near-dup pairs (HashingTF over shingles, "
    "fitted hash tables, explicit bucket self-join + exact Jaccard verify) "
    "— the calibrated Jaccard-distance tier (E2). Planted exact duplicates "
    "(every 25th doc re-tagged id+2^60) produce identical HashingTF vectors "
    "hence identical MinHash signatures in every table, so each planted "
    "pair is a guaranteed candidate with exact distance 0.0 — for EVERY "
    "doc: shingle_udf emits >=1 gram even for short/empty text (short docs "
    "yield one sub-n-token gram), so no doc is dropped and no HashingTF "
    "vector is all-zero; the oracle plants unconditionally to match (a "
    "round-3 >=3-token oracle floor mirrored a filter the operator does "
    "not have). General recall of the MLlib path stays pytest-asserted; "
    "round-2 shape was rows-only.",
    tags=("E2",),
)
def q57(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents").select("doc_id", "text")
    # no explicit repartition: mllib_minhash_pairs ensure_parallelism()s its
    # input itself (conditionally — an unconditional repartition here forced
    # a full-corpus shuffle even when the scan already had enough splits)
    corpus = plant_duplicates(d, "doc_id", F.col("doc_id") % 25 == 0)
    # 5 hash tables: the OR-amplified candidate-join cost scales with
    # tables x corpus; 5 keeps planted-dup recall >= 0.9 (tested) at ~60% of
    # the 8-table join cost
    pairs = dedup.mllib_minhash_pairs(corpus, num_hash_tables=5, max_jaccard_distance=0.5)
    return (
        pairs.filter(F.col("id_b") == F.col("id_a") + PLANT_OFFSET)
        .select("id_a", "id_b", "jaccard_dist")
        .orderBy("id_a")
    )


@register(
    "q48_simhash_pairs",
    oracle=f"""
    SELECT doc_id AS id_a, doc_id + {PLANT_OFFSET} AS id_b
    FROM documents WHERE doc_id % 25 = 0
    ORDER BY id_a
    """,
    doc="SimHash-bucket near-duplicate doc pairs (E2). Planted exact "
    "duplicates (every 25th doc re-tagged id+2^60) hash to the identical "
    "64-bit fingerprint, so the planted pair subset is deterministic and "
    "hash-oracle-checkable (round-2 shape was rows-only); natural "
    "hamming<=3 pairs are covered by q62 + the pytest brute-force "
    "equivalence test.",
    tags=("E2",),
)
def q48(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents").select("doc_id", "text")
    pairs = dedup.simhash_pairs(plant_duplicates(d, "doc_id", F.col("doc_id") % 25 == 0))
    return (
        pairs.filter(F.col("id_b") == F.col("id_a") + PLANT_OFFSET)
        .select("id_a", "id_b")
        .orderBy("id_a")
    )


# q62's oracle recomputes the ENTIRE 64-bit SimHash in SQL: md5-derived
# 8-byte gram hashes (first 16 hex chars == the UDF's digest[:8]), one
# signed SUM per bit position for the +-1 votes, sign-packed back into a
# signed BIGINT (bit 63 contributes -2^63 — a UBIGINT->BIGINT cast would
# range-error), then a brute-force hamming<=k self-join. Validated
# bit-for-bit against the md5-variant UDF over the full sf0.01 corpus.
_SIMHASH_BIT_VOTES = ",\n           ".join(
    f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}" for j in range(64)
)
_SIMHASH_FP = " + ".join(
    ["(CASE WHEN b63 > 0 THEN -9223372036854775808 ELSE 0 END)"]
    + [f"(CASE WHEN b{j} > 0 THEN (CAST(1 AS BIGINT) << {j}) ELSE 0 END)" for j in range(63)]
)


@register(
    "q62_simhash_near_pairs",
    oracle=f"""
    WITH toked AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t != '') AS toks
        FROM documents
    ),
    grams AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(1, greatest(len(toks) - 1, 1) + 1),
                   i -> concat_ws(' ', toks[i], toks[i+1])
               )) AS g
        FROM toked
    ),
    hashed AS (
        SELECT doc_id, CAST(('0x' || substr(md5(g), 1, 16)) AS UBIGINT) AS h FROM grams
    ),
    votes AS (
        SELECT doc_id,
           {_SIMHASH_BIT_VOTES}
        FROM hashed GROUP BY doc_id
    ),
    fp AS (
        SELECT doc_id, CAST({_SIMHASH_FP} AS BIGINT) AS sim FROM votes
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sim, b.sim)) <= 3
    ORDER BY id_a, id_b
    """,
    doc="hamming<=3 SimHash near-dup pairs via piece-bucketing (pigeonhole: "
    "4 disjoint 16-bit chunks, any pair within hamming 3 shares one exactly) "
    "+ JVM bit_count verify (E2). Round-4 upgrade from rows-only to a FULL "
    "hash oracle over the complete output (not a planted subset): the "
    "md5-derived fingerprint is recomputable in DuckDB (64 per-bit vote "
    "sums; brute-force O(n^2) verify is oracle-side only — the engine keeps "
    "the piece-bucketed equi-join), so every natural near-dup pair is "
    "checked. The blake2b fast path stays the operator default, "
    "brute-force-equivalence-tested in pytest (same dual-path design as "
    "q46's fingerprint).",
    tags=("E2",),
)
def q62(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    return (
        dedup.simhash_near_pairs(d, max_hamming=3, hash_fn="md5")
        .select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))
        .orderBy("id_a", "id_b")
    )


@register(
    "q49_ann_lsh",
    oracle=f"""
    SELECT vec_id AS query_id,
           vec_id + {PLANT_OFFSET} AS nbr_id,
           CAST(1.0 AS DOUBLE) AS cos_r,
           CAST(1 AS INT) AS rank
    FROM embeddings WHERE vec_id IN ({",".join(map(str, PINNED_VEC_IDS))})
    ORDER BY query_id
    """,
    doc="random-hyperplane LSH approximate nearest neighbors (E4), stated as "
    "the standard planted-neighbor eval: an exact duplicate of each pinned "
    "query vector is planted (id+2^60) and ANN must return it at rank 1. "
    "Deterministic because identical vectors share every LSH bucket "
    "(guaranteed candidate) and the max natural cosine in this corpus is "
    "~0.60 << 1.0 (measured at sf0.001/0.01/0.1), so after the exact "
    "re-rank the planted duplicate always wins. Full approximate top-k "
    "recall@k vs exact q41 stays pytest-asserted; round-2 shape was "
    "rows-only = no driver signal for E4.",
    tags=("E4",),
)
def q49(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "embeddings").select("vec_id", "embedding")
    corpus = plant_duplicates(e, "vec_id", F.col("vec_id").isin(PINNED_VEC_IDS))
    topk = similarity.lsh_ann_topk(corpus, PINNED_VEC_IDS, k=3)
    return (
        topk.filter(F.col("rank") == 1)
        .select("query_id", "nbr_id", "cos_r", "rank")
        .orderBy("query_id")
    )


@register(
    "q56_ann_ivf",
    oracle=f"""
    SELECT vec_id AS query_id,
           vec_id + {PLANT_OFFSET} AS nbr_id,
           CAST(1.0 AS DOUBLE) AS cos_r,
           CAST(1 AS INT) AS rank
    FROM embeddings WHERE vec_id IN ({",".join(map(str, PINNED_VEC_IDS))})
    ORDER BY query_id
    """,
    doc="IVF approximate nearest neighbors: sampled-KMeans cells + n_probe "
    "exact re-rank — the partition-pruned scale path for ANN (E4), stated "
    "as the planted-neighbor eval (round-3 shape was rows-only = no driver "
    "signal). Deterministic even though the centroid sample can vary with "
    "input partitioning: the probe list structurally includes the query "
    "row's own cell, an exact duplicate lands in the identical cell (same "
    "JVM expression over identical bytes), and max natural cosine ~0.60 "
    "<< 1.0, so the planted duplicate wins rank 1 for ANY centroid draw. "
    "General recall@k vs exact q41 stays pytest-asserted.",
    tags=("E4",),
)
def q56(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "embeddings").select("vec_id", "embedding")
    corpus = plant_duplicates(e, "vec_id", F.col("vec_id").isin(PINNED_VEC_IDS))
    topk = similarity.ivf_ann_topk(corpus, PINNED_VEC_IDS, k=3)
    return (
        topk.filter(F.col("rank") == 1)
        .select("query_id", "nbr_id", "cos_r", "rank")
        .orderBy("query_id")
    )


@register(
    "q54_embedding_near_dup",
    oracle=f"""
    SELECT vec_id AS id_a,
           vec_id + {PLANT_OFFSET} AS id_b,
           CAST(1.0 AS DOUBLE) AS cos_r
    FROM embeddings WHERE vec_id % 50 = 0
    ORDER BY id_a
    """,
    doc="embedding-cosine near-duplicate pairs via LSH candidates + exact "
    "verification (E2/E4 hybrid dedup tier). Duplicates are planted from the "
    "input itself (every 50th vector re-tagged id+2^60) and the output keeps "
    "only planted pairs: LSH recall on EXACT duplicates is deterministic "
    "(identical vector -> identical signature -> same bucket in every table), "
    "so this subset is hash-oracle-checkable while the full approximate "
    "output is not (general recall stays pytest-verified, "
    "tests/test_operators.py). Round-2 shape (bare corpus, no oracle) "
    "legitimately returned 0 pairs on independent synthetic vectors — no "
    "driver signal at all.",
    tags=("E2", "E4"),
)
def q54(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "embeddings").select("vec_id", "embedding")
    corpus = plant_duplicates(e, "vec_id", F.col("vec_id") % 50 == 0)
    pairs = similarity.embedding_near_dup_pairs(corpus, threshold=0.95)
    return (
        pairs.filter(F.col("id_b") == F.col("id_a") + PLANT_OFFSET)
        .select("id_a", "id_b", "cos_r")
        .orderBy("id_a")
    )


@register(
    "q55_ngram_jaccard",
    oracle="""
    WITH toked AS (
        SELECT doc_id,
               list_distinct(
                 list_transform(
                   range(1, greatest(len(string_split_regex(lower(trim(text)), '\\s+')) - 2, 1) + 1),
                   i -> concat_ws(' ',
                        string_split_regex(lower(trim(text)), '\\s+')[i],
                        string_split_regex(lower(trim(text)), '\\s+')[i+1],
                        string_split_regex(lower(trim(text)), '\\s+')[i+2])
                 )
               ) AS sh
        FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(FLOOR(10000 * len(list_intersect(a.sh, b.sh))
                / GREATEST(len(list_distinct(list_concat(a.sh, b.sh))), 1)) AS BIGINT) AS jaccard_bp
    FROM toked a JOIN toked b ON b.doc_id = a.doc_id + 1
    ORDER BY id_a
    """,
    doc="exact 3-gram Jaccard (basis points) between consecutive doc pairs — "
    "the deterministic verification stage of near-dup dedup (E2), hash-oracle checked",
    tags=("E2",),
)
def q55(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators import ensure_parallelism

    # conditional widen (no-op when the scan already has enough splits —
    # an unconditional repartition would shuffle the full table at scale)
    d = ensure_parallelism(load(spark, sf, "documents"))
    # Arrow-batched shingler (CollapseProject inlines a tokenizer projection
    # into the HOF lambda, going O(len^2)/doc). NOT materialized: the shingle
    # arrays are large relative to their compute cost, so re-running the UDF
    # per join side is cheaper than writing/reading checkpoint blocks
    sh = d.select(F.col("doc_id"), dedup.shingle_udf(3)(F.col("text")).alias("sh"))
    a = sh.alias("a")
    b = sh.select(
        (F.col("doc_id") - 1).alias("join_id"), F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b")
    ).alias("b")
    return (
        a.join(b, F.col("a.doc_id") == F.col("b.join_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            "id_b",
            F.floor(
                10000
                * F.size(F.array_intersect("a.sh", "sh_b"))
                / F.greatest(F.size(F.array_union("a.sh", "sh_b")), F.lit(1))
            )
            .cast("bigint")
            .alias("jaccard_bp"),
        )
        .orderBy("id_a")
    )


@register(
    "q60_quality_gate",
    oracle="""
    WITH feat AS (
        SELECT doc_id, lang,
               sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS h,
               len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '')) AS q_tokens
        FROM documents
        WHERE lang IN ('en', 'de', 'es', 'fr')
    ),
    gated AS (SELECT * FROM feat WHERE q_tokens BETWEEN 20 AND 80),
    uniq AS (
        SELECT lang, h, MIN(q_tokens) AS q_tokens, COUNT(*) AS dup_count
        FROM gated GROUP BY lang, h
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_unique,
           CAST(SUM(dup_count) AS BIGINT) AS n_docs,
           CAST(SUM(q_tokens) AS BIGINT) AS sum_tokens,
           CAST((SUM(q_tokens) * 10000) // GREATEST(COUNT(*), 1) AS BIGINT) AS avg_tokens_bp
    FROM uniq GROUP BY lang ORDER BY lang
    """,
    doc="the canonical pre-training curation pipeline in one plan: lang "
    "whitelist -> token-count quality gate -> exact dedup (normalized-text "
    "hash) -> per-lang survivor stats; integer math keeps it hash-exact (E1+E5)",
    tags=("E1", "E5"),
)
def q60(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents").filter(F.col("lang").isin("en", "de", "es", "fr"))
    feat = text.quality_features(d)
    gated = feat.filter(F.col("q_tokens").between(20, 80))
    uniq = (
        gated.withColumn("h", dedup.text_hash(F.col("text")))
        .groupBy("lang", "h")
        .agg(F.min("q_tokens").alias("q_tokens"), F.count("*").alias("dup_count"))
    )
    return (
        uniq.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_unique"),
            F.sum("dup_count").cast("bigint").alias("n_docs"),
            F.sum("q_tokens").cast("bigint").alias("sum_tokens"),
            # exact integer quotient (matches the oracle's HUGEINT '//'):
            # floor(double division) drifts +-1 once sum*10000 passes 2^53
            F.expr(
                "(cast(sum(q_tokens) as decimal(38,0)) * 10000)"
                " div greatest(count(*), 1)"
            )
            .cast("bigint")
            .alias("avg_tokens_bp"),
        )
        .orderBy("lang")
    )


@register(
    "q61_bpe_token_stats",
    oracle=f"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(regexp_extract_all(text, '{text.BPE_ISH_PATTERN}'))) AS BIGINT) AS sum_bpe,
           CAST(MIN(len(regexp_extract_all(text, '{text.BPE_ISH_PATTERN}'))) AS BIGINT) AS min_bpe,
           CAST(MAX(len(regexp_extract_all(text, '{text.BPE_ISH_PATTERN}'))) AS BIGINT) AS max_bpe
    FROM documents GROUP BY lang ORDER BY lang
    """,
    doc="per-lang BPE-pre-tokenizer-ish token-count stats (alnum runs + punct "
    "runs) — the token-budget accounting pass of a training-data pipeline; "
    "the RE2-safe pattern runs verbatim in both engines (E5)",
    tags=("E5",),
)
def q61(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    bpe = text.bpe_ish_token_count(F.col("text"))
    return (
        d.select("lang", bpe.alias("n_bpe"))
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_bpe").cast("bigint").alias("sum_bpe"),
            F.min("n_bpe").cast("bigint").alias("min_bpe"),
            F.max("n_bpe").cast("bigint").alias("max_bpe"),
        )
        .orderBy("lang")
    )


@register(
    "q50_multimodal_features",
    oracle="""
    SELECT doc_id AS asset_id,
           CASE CAST(doc_id % 3 AS INT)
                WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video'
           END AS modality,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents ORDER BY asset_id
    """,
    doc="mapInPandas feature extraction over binary multimodal assets (E6). "
    "Assets derive distributedly from the documents table (blob = UTF-8 "
    "bytes, modality assigned per id) — no driver-side table, so the same "
    "plan runs at any SF; byte counts are oracle-checked, the feature "
    "vectors + decode-stub plumbing are asserted in pytest",
    tags=("E6",),
)
def q50(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators import ensure_parallelism

    d = load(spark, sf, "documents")
    assets = ensure_parallelism(d).select(
        F.col("doc_id").alias("asset_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("modality"),
        F.encode("text", "UTF-8").alias("data"),
    )
    feats = multimodal.extract_features(assets)
    return feats.select("asset_id", "modality", "n_bytes").orderBy("asset_id")


# --------------------------------------------------------------------------
# E1/E2 companion — clusters -> representatives (connected components)
# --------------------------------------------------------------------------
@register(
    "q74_dedup_clusters",
    oracle="""
    WITH flagged AS (
        SELECT doc_id, lang,
               CASE WHEN lag(doc_id) OVER (ORDER BY doc_id) = doc_id - 1
                     AND lag(lang) OVER (ORDER BY doc_id) = lang
                    THEN 0 ELSE 1 END AS is_new
        FROM documents
    ),
    runs AS (
        SELECT doc_id, SUM(is_new) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS run_id
        FROM flagged
    )
    SELECT doc_id, MIN(doc_id) OVER (PARTITION BY run_id) AS cluster_rep
    FROM runs ORDER BY doc_id
    """,
    doc="pair edges -> clusters -> keep-min representative: the step every "
    "pair-producing dedup tier needs before it can DROP duplicates. Runs "
    "distributed min-label connected components (operators/components.py) "
    "over a deterministic data-derived graph: docs with CONSECUTIVE IDS "
    "(doc_id-1 value adjacency, the edge the Spark join actually builds) "
    "and the same lang — the oracle's run-detection checks BOTH conditions "
    "(lag(doc_id) = doc_id-1 AND lag(lang) = lang), so an id gap inside a "
    "same-lang stretch breaks the run in both engines identically (it "
    "previously checked only lang, silently load-bearing on gapless ids). "
    "Singletons keep themselves as representative",
    tags=("E1", "E2"),
)
def q74(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.components import connected_components

    d = load(spark, sf, "documents").select("doc_id", "lang")
    a = d.select(F.col("doc_id").alias("src"), F.col("lang").alias("lang_a"))
    b = d.select((F.col("doc_id") - 1).alias("join_id"), F.col("doc_id").alias("dst"), "lang")
    edges = a.join(b, (a.src == b.join_id) & (F.col("lang_a") == F.col("lang"))).select(
        "src", "dst"
    )
    comp = connected_components(edges, max_iter=15)
    return (
        d.join(comp, d.doc_id == comp.node, "left")
        .select("doc_id", F.coalesce("component", "doc_id").alias("cluster_rep"))
        .orderBy("doc_id")
    )


@register(
    "q75_near_dup_removal",
    oracle=f"""
    WITH corpus AS (
        SELECT doc_id, lang, text FROM documents
        UNION ALL
        SELECT doc_id + {PLANT_OFFSET}, lang, text FROM documents WHERE doc_id % 25 = 0
    ),
    toked AS (
        SELECT doc_id, lang,
               list_sort(list_distinct(
                 list_transform(
                   range(1, greatest(len(string_split_regex(lower(trim(text)), '\\s+')) - 2, 1) + 1),
                   i -> concat_ws(' ',
                        string_split_regex(lower(trim(text)), '\\s+')[i],
                        string_split_regex(lower(trim(text)), '\\s+')[i+1],
                        string_split_regex(lower(trim(text)), '\\s+')[i+2])
                 )
               )) AS sh
        FROM corpus
    ),
    grouped AS (
        SELECT doc_id, lang,
               MIN(doc_id) OVER (PARTITION BY array_to_string(sh, chr(1))) AS rep
        FROM toked
    )
    SELECT lang, COUNT(*) AS n_survivors
    FROM grouped WHERE doc_id = rep
    GROUP BY lang ORDER BY lang
    """,
    doc="flagship curation composition: MinHash-LSH candidates -> exact "
    "Jaccard verify -> connected components -> drop non-representatives; "
    "survivor count per lang (E1+E2, `dedup.remove_near_dups`). Planted "
    "hash oracle (round-3 shape was rows-only): exact duplicates (every "
    "25th doc re-tagged id+2^60) with min_jaccard=1.0 — J=1.0 iff the "
    "3-gram shingle SETS are identical (k/n < 1.0 rounds strictly below "
    "1.0 in double for any real doc), identical sets share every banded "
    "signature so candidacy is guaranteed, and J=1.0 is an equivalence "
    "relation so clusters are exactly the identical-shingle-set groups — "
    "the oracle states min-id-per-group survival in pure SQL with no LSH "
    "simulation. Sub-1.0-threshold recall (the probabilistic part) stays "
    "pytest-asserted via planted near-dups in tests/test_operators.py.",
    tags=("E1", "E2"),
)
def q75(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents").select("doc_id", "lang", "text")
    corpus = plant_duplicates(d, "doc_id", F.col("doc_id") % 25 == 0)
    return (
        dedup.remove_near_dups(corpus, min_jaccard=1.0)
        .groupBy("lang")
        .agg(F.count("*").alias("n_survivors"))
        .orderBy("lang")
    )


@register(
    "q83_stratified_sample",
    oracle="""
    SELECT lang, doc_id FROM (
        SELECT lang, doc_id,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5('seed42:' || CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn
        FROM documents
    ) WHERE rn <= 5
    ORDER BY lang, doc_id
    """,
    doc="deterministic stratified sampling: fixed k per class via rank over "
    "a seeded hash of the id — the training-data class-balancing idiom. "
    "Unlike rand(), the hash order is reproducible across retries, "
    "engines, and partitionings (which is why it can be oracle-checked at "
    "all); one shuffle on the class key",
    tags=("E5", "B31"),
)
def q83(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    d = load(spark, sf, "documents")
    w = Window.partitionBy("lang").orderBy(seeded_md5("seed42:", F.col("doc_id")), "doc_id")
    return (
        d.select("lang", "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")
    )


# --------------------------------------------------------------------------
# E5+ — sequence packing (training-batch assembly) and document chunking
# --------------------------------------------------------------------------
@register(
    "q84_sequence_packing",
    oracle="""
    WITH RECURSIVE docs AS (
        SELECT doc_id % 64 AS bucket, doc_id, n_chars,
               ROW_NUMBER() OVER (PARTITION BY doc_id % 64 ORDER BY doc_id) AS rn
        FROM documents
    ),
    pack AS (
        SELECT bucket, doc_id, n_chars, rn,
               n_chars AS fill, CAST(1 AS BIGINT) AS bin_seq
        FROM docs WHERE rn = 1
        UNION ALL
        SELECT d.bucket, d.doc_id, d.n_chars, d.rn,
               CASE WHEN p.fill + d.n_chars > 2000 THEN d.n_chars
                    ELSE p.fill + d.n_chars END,
               CASE WHEN p.fill + d.n_chars > 2000 THEN p.bin_seq + 1
                    ELSE p.bin_seq END
        FROM pack p JOIN docs d ON d.bucket = p.bucket AND d.rn = p.rn + 1
    )
    SELECT bucket, doc_id, bin_seq, n_chars
    FROM pack
    ORDER BY bucket, doc_id
    """,
    doc="sequence packing (training-batch assembly): bucketed deterministic "
    "next-fit of docs into 2000-char bins via one applyInPandas per bucket "
    "(operators/packing.py — buckets are the parallelism dial, one shuffle). "
    "The next-fit recurrence is a running-sum-with-reset: not a SQL window, "
    "but exactly a recursive CTE, which is how the oracle states it",
    tags=("E5", "E7"),
)
def q84(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.packing import pack_next_fit

    d = load(spark, sf, "documents").select("doc_id", "n_chars")
    return pack_next_fit(d, capacity=2000, size_col="n_chars", n_buckets=64).orderBy(
        "bucket", "doc_id"
    )


@register(
    "q85_doc_chunks",
    oracle="""
    SELECT doc_id,
           CAST(i AS INT) AS chunk_idx,
           substr(text, 1 + i * 150, 200) AS chunk,
           CAST(length(substr(text, 1 + i * 150, 200)) AS INT) AS chunk_len
    FROM documents,
    LATERAL (SELECT UNNEST(range(0, CAST(ceil(length(text) / 150.0) AS BIGINT))) AS i)
    WHERE doc_id % 20 = 0
    ORDER BY doc_id, chunk_idx
    """,
    doc="overlapping document chunking (RAG/window-split idiom): stride-150 "
    "windows of 200 chars via explode(sequence) + substring — pure JVM "
    "row expansion, no shuffle except the final ORDER BY; chunk count "
    "derives from the doc's own length so short docs stay single-chunk",
    tags=("E5", "B26"),
)
def q85(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents").filter(F.col("doc_id") % 20 == 0)
    n_chunks = F.ceil(F.length("text") / F.lit(150.0)).cast("bigint")
    # n_chunks == 0 (empty text) must yield NO rows, matching the oracle's
    # range(0, 0): an unguarded sequence(0, -1) auto-steps DOWN and emits
    # two phantom chunks [0, -1] (same trap packing.apply_repeat_factors
    # guards); explode of the empty array drops the row instead.
    idx = F.when(
        n_chunks > 0, F.sequence(F.lit(0).cast("bigint"), n_chunks - 1)
    ).otherwise(F.array().cast("array<bigint>"))
    return (
        d.select(
            "doc_id",
            "text",
            F.explode(idx).alias("i"),
        )
        .select(
            "doc_id",
            F.col("i").cast("int").alias("chunk_idx"),
            F.expr("substring(text, 1 + i * 150, 200)").alias("chunk"),
            F.length(F.expr("substring(text, 1 + i * 150, 200)")).cast("int").alias("chunk_len"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


@register(
    "q86_tfidf_terms",
    oracle="""
    WITH toks AS (
        SELECT doc_id, UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS token
        FROM documents WHERE lang = 'en'
    ),
    toks_clean AS (SELECT doc_id, token FROM toks WHERE token <> ''),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks_clean GROUP BY doc_id, token),
    df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks_clean GROUP BY token),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM toks_clean),
    scored AS (
        SELECT tf.doc_id, tf.token,
               tf.tf * (ln((n.n + 1.0) / (df.df + 1.0)) + 1.0) AS score
        FROM tf JOIN df USING (token) CROSS JOIN n
    ),
    ranked AS (
        SELECT doc_id, token, score,
               ROW_NUMBER() OVER (
                   PARTITION BY doc_id
                   ORDER BY CAST(score AS DECIMAL(28,6)) DESC, token
               ) AS rank
        FROM scored
    )
    SELECT doc_id, token,
           CAST(CAST(score AS DECIMAL(28,4)) AS DOUBLE) AS score_r,
           CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 3 AND doc_id % 10 = 0
    ORDER BY doc_id, rank
    """,
    doc="TF-IDF top-3 terms per English doc (smoothed idf = ln((N+1)/(df+1))+1). "
    "Corpus stats (df, N) come from ALL en docs; output restricted to "
    "doc_id%10=0 to keep the checked set small. Ranking on a DECIMAL(28,6) "
    "cast of the score + token tiebreak, display via DECIMAL(28,4) — the "
    "q41 pin: decimal casts round identically in both engines, while "
    "float round() vs HALF_UP F.round could flip a .5-boundary value. "
    "The tokenize+explode feeds three different shuffle keys, so it is "
    "materialized once. Shuffles: one on (doc,token), one on token; N and "
    "the df table stay relation-sized — no driver state",
    tags=("E5",),
)
def q86(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators import materialize_once

    d = load(spark, sf, "documents").filter(F.col("lang") == "en")
    # THREE consumers on three different shuffle keys (doc+token / token /
    # global) — Catalyst can't reuse the exchange, so an unmaterialized
    # tokenize+explode would re-run the scan+UDF-free explode three times
    # (same class as q120's pre-fix union; ngram_novelty's measured rule).
    toks = materialize_once(
        d.select("doc_id", F.explode(text.tokens(F.col("text"))).alias("token")),
        eager=False,
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_ = toks.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n = toks.agg(F.countDistinct("doc_id").alias("n"))
    scored = (
        tf.join(df_, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            (
                F.col("tf")
                * (F.log((F.col("n") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + F.lit(1.0))
            ).alias("score"),
        )
    )
    # rank and display rounding pinned through DECIMAL casts (the q41
    # discipline): F.round on DOUBLE is BigDecimal HALF_UP while DuckDB's
    # round() is float arithmetic — a double falling the other side of a
    # .5 boundary flips score_r (or the rank order) between engines.
    # double->DECIMAL casts round identically in both (scores positive,
    # so HALF_UP == half-away-from-zero).
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").cast("decimal(28,6)").desc(), "token"
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter((F.col("rank") <= 3) & (F.col("doc_id") % 10 == 0))
        .select(
            "doc_id",
            "token",
            F.col("score").cast("decimal(28,4)").cast("double").alias("score_r"),
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("doc_id", "rank")
    )


@register(
    "q87_pii_redaction",
    oracle="""
    WITH seeded AS (
        SELECT doc_id,
               concat(substr(text, 1, 40),
                      ' contact user', CAST(doc_id AS VARCHAR), '@example.com',
                      ' or tel +1-555-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               ) AS line
        FROM documents WHERE doc_id % 25 = 0
    )
    SELECT doc_id,
           regexp_replace(
               regexp_replace(line, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\\+[0-9][0-9-]{6,}', '<PHONE>', 'g'
           ) AS redacted,
           CAST(len(regexp_extract_all(line, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(line, '\\+[0-9][0-9-]{6,}')) AS INT) AS n_phones
    FROM seeded
    ORDER BY doc_id
    """,
    doc="PII scrubbing (training-data hygiene): deterministic contact strings "
    "are synthesized onto a doc subset, then email/phone patterns are "
    "redacted and counted. Differential check that Java-regex (Spark) and "
    "RE2-ish (DuckDB) agree on the exact patterns a redaction pipeline "
    "ships. Pure JVM regexp_replace/regexp_count — row-local, no shuffle "
    "beyond the final ORDER BY",
    tags=("E5", "B22"),
)
def q87(spark: SparkSession, sf: str) -> DataFrame:
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone = r"\+[0-9][0-9-]{6,}"
    d = load(spark, sf, "documents").filter(F.col("doc_id") % 25 == 0)
    line = F.concat(
        F.expr("substring(text, 1, 40)"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com"),
        F.lit(" or tel +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    return (
        d.select("doc_id", line.alias("line"))
        .select(
            "doc_id",
            F.regexp_replace(
                F.regexp_replace("line", email, "<EMAIL>"), phone, "<PHONE>"
            ).alias("redacted"),
            F.regexp_count("line", F.lit(email)).cast("int").alias("n_emails"),
            F.regexp_count("line", F.lit(phone)).cast("int").alias("n_phones"),
        )
        .orderBy("doc_id")
    )


@register(
    "q88_decontamination",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM documents
    ),
    grams AS (
        SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS g
        FROM toks,
        LATERAL (SELECT UNNEST(range(1, CAST(greatest(len(t) - 1, 2) AS BIGINT))) AS i)
    ),
    bench AS (SELECT DISTINCT g, doc_id AS bench_id FROM grams WHERE doc_id % 97 = 0),
    corpus AS (SELECT doc_id, g FROM grams WHERE doc_id % 97 <> 0)
    SELECT c.doc_id,
           CAST(COUNT(DISTINCT c.g) AS BIGINT) AS n_shared_grams,
           CAST(COUNT(DISTINCT b.bench_id) AS BIGINT) AS n_bench_docs
    FROM corpus c JOIN bench b ON c.g = b.g
    GROUP BY c.doc_id
    ORDER BY c.doc_id
    """,
    doc="benchmark decontamination: flag corpus docs sharing any word 3-gram "
    "with a held-out benchmark set (docs with id%97=0 stand in for the "
    "benchmark). Shingles via the Arrow-batched shingler (identical "
    "semantics to the SQL token-slice — see dedup.shingle_udf docstring); "
    "the benchmark gram set BROADCASTS (real benchmark suites are tiny next "
    "to a training corpus), so the corpus side never shuffles for the join "
    "— the decisive property at 100 TB",
    tags=("E2", "E5"),
)
def q88(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators import ensure_parallelism, materialize_once

    # the shingle UDF and gram explode inherit the scan's splits, and the
    # checkpoint freezes that layout for both branches: a documents file
    # that reads as 1-2 splits spreads over one partition per 128 KiB
    # (SPREAD_BYTES). On 4 cores the spread halves wall at 5.6 MiB (12.9
    # -> 6.1 s), ties at 581 KiB and loses at 61 KiB (0.64 -> 0.86 s),
    # where q88 now builds with no job and no exchange.
    d = ensure_parallelism(load(spark, sf, "documents"))
    # the bench and corpus branches both consume the shingle projection —
    # unmaterialized, the full-corpus Arrow shingle UDF (the plan's most
    # expensive stage) would run once PER BRANCH (ngram_novelty's measured
    # two-consumer rule).
    grams = materialize_once(
        d.select("doc_id", F.explode(dedup.shingle_udf(3)(F.col("text"))).alias("g")),
        eager=False,
    )
    bench = (
        grams.filter(F.col("doc_id") % 97 == 0)
        .select(F.col("doc_id").alias("bench_id"), "g")
        .distinct()
    )
    corpus = grams.filter(F.col("doc_id") % 97 != 0)
    return (
        corpus.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("g").alias("n_shared_grams"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
        .orderBy("doc_id")
    )


@register(
    "q89_repetition_stats",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                           t -> t != '') AS t
        FROM documents
    ),
    base AS (
        SELECT doc_id, len(t) AS n_tokens, len(list_distinct(t)) AS n_uniq, t
        FROM toks WHERE len(t) >= 2
    ),
    grams AS (
        SELECT doc_id, concat_ws(' ', t[i], t[i+1]) AS g
        FROM base, LATERAL (SELECT UNNEST(range(1, n_tokens)) AS i)
    ),
    gc AS (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g),
    gm AS (SELECT doc_id, MAX(c) AS max_c, SUM(c) AS tot FROM gc GROUP BY doc_id)
    SELECT b.doc_id,
           CAST(b.n_tokens AS BIGINT) AS n_tokens,
           CAST(FLOOR(10000.0 * b.n_uniq / b.n_tokens) AS BIGINT) AS uniq_bp,
           CAST(FLOOR(10000.0 * gm.max_c / gm.tot) AS BIGINT) AS top_bigram_bp
    FROM base b JOIN gm USING (doc_id)
    ORDER BY doc_id
    """,
    doc="repetition / boilerplate metrics per doc (Gopher-style quality "
    "rules): unique-token fraction and most-frequent-bigram fraction, in "
    "basis points (FLOOR keeps the hash stable across engines; both sides "
    "do the same IEEE double division). Pure JVM built-ins — tokenize, "
    "explode bigrams, two hash aggregations keyed by doc_id, so the work "
    "distributes by document with no skew (per-doc gram counts are bounded "
    "by doc length); repetitive docs (low uniq_bp / high top_bigram_bp) "
    "are the classic pre-training removal targets",
    tags=("E5",),
)
def q89(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    base = d.select("doc_id", text.tokens(F.col("text")).alias("t")).select(
        "doc_id",
        "t",
        F.size("t").alias("n_tokens"),
        F.size(F.array_distinct("t")).alias("n_uniq"),
    ).filter(F.col("n_tokens") >= 2)
    grams = base.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("n_tokens") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(F.col("t"), i), F.element_at(F.col("t"), i + 1)
                ),
            )
        ).alias("g"),
    )
    gm = (
        grams.groupBy("doc_id", "g")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("max_c"), F.sum("count").alias("tot"))
    )
    return (
        base.join(gm, "doc_id")
        .select(
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.floor(F.lit(10000.0) * F.col("n_uniq") / F.col("n_tokens"))
            .cast("bigint")
            .alias("uniq_bp"),
            F.floor(F.lit(10000.0) * F.col("max_c") / F.col("tot"))
            .cast("bigint")
            .alias("top_bigram_bp"),
        )
        .orderBy("doc_id")
    )


@register(
    "q90_mixture_weights",
    oracle="""
    WITH s AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
    t AS (SELECT COUNT(*) AS total, COUNT(DISTINCT source) AS k FROM documents)
    SELECT s.source,
           CAST(s.n_docs AS BIGINT) AS n_docs,
           CAST(FLOOR(10000.0 * s.n_docs / t.total) AS BIGINT) AS share_bp,
           CAST(FLOOR(10000.0 * t.total / (t.k * s.n_docs)) AS BIGINT) AS uniform_weight_bp
    FROM s CROSS JOIN t ORDER BY source
    """,
    doc="domain-mixture sampling weights: per-source corpus share and the "
    "resampling weight that flattens the mixture to uniform-over-sources "
    "(weight = target_share / actual_share, basis points). One partial-agg "
    "shuffle on source; the result is a per-domain table orders of "
    "magnitude smaller than the corpus — the broadcast side that drives "
    "weighted re-sampling (sampleBy, q83) in a real mixture-rebalancing "
    "pipeline",
    tags=("E5", "B31"),
)
def q90(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    s = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    t = d.agg(
        F.count("*").alias("total"), F.countDistinct("source").alias("k")
    )
    return (
        s.crossJoin(F.broadcast(t))
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.floor(F.lit(10000.0) * F.col("n_docs") / F.col("total"))
            .cast("bigint")
            .alias("share_bp"),
            F.floor(F.lit(10000.0) * F.col("total") / (F.col("k") * F.col("n_docs")))
            .cast("bigint")
            .alias("uniform_weight_bp"),
        )
        .orderBy("source")
    )


@register(
    "q91_curation_pipeline",
    oracle="""
    WITH RECURSIVE toked AS (
        SELECT doc_id, text, source, n_chars,
               list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                           t -> t != '') AS t
        FROM documents
    ),
    quality AS (
        SELECT doc_id, text, source, n_chars
        FROM toked
        WHERE len(t) >= 10 AND len(list_distinct(t)) * 10 >= len(t) * 3
    ),
    deduped AS (
        SELECT doc_id, source, n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                   ORDER BY doc_id
               ) AS dup_rn
        FROM quality
    ),
    strat AS (
        SELECT doc_id, n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5('seed91:' || CAST(doc_id AS VARCHAR)), doc_id
               ) AS strat_rn
        FROM deduped WHERE dup_rn = 1
    ),
    surv AS (
        SELECT doc_id % 16 AS bucket, doc_id, n_chars,
               ROW_NUMBER() OVER (PARTITION BY doc_id % 16 ORDER BY doc_id) AS rn
        FROM strat WHERE strat_rn <= 20
    ),
    pack AS (
        SELECT bucket, doc_id, n_chars, rn,
               n_chars AS fill, CAST(1 AS BIGINT) AS bin_seq
        FROM surv WHERE rn = 1
        UNION ALL
        SELECT s.bucket, s.doc_id, s.n_chars, s.rn,
               CASE WHEN p.fill + s.n_chars > 2000 THEN s.n_chars
                    ELSE p.fill + s.n_chars END,
               CASE WHEN p.fill + s.n_chars > 2000 THEN p.bin_seq + 1
                    ELSE p.bin_seq END
        FROM pack p JOIN surv s ON s.bucket = p.bucket AND s.rn = p.rn + 1
    )
    SELECT bucket, doc_id, bin_seq, n_chars
    FROM pack
    ORDER BY bucket, doc_id
    """,
    doc="end-to-end curation flagship, every stage deterministic so the FULL "
    "composition hash-checks: quality gate (>=10 tokens, >=30% unique) -> "
    "exact dedup (sha256 of normalized text, keep min id) -> per-source "
    "mixture cap (seeded-hash rank <= 20, the q83 idiom applied to q90's "
    "imbalance) -> sequence packing into 2000-char bins (q84 operator). "
    "Scale shape: three hash shuffles (dedup key / source / bucket) plus the "
    "bucketed applyInPandas, nothing global; the statistical near-dup tier "
    "deliberately stays OUT of this query (sub-1.0-threshold recall is not "
    "oracle-expressible — q75 oracle-checks the J=1.0 planted composition "
    "instead) and slots between dedup and strat in "
    "production",
    tags=("E1", "E5", "E7", "B31"),
)
def q91(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.packing import pack_next_fit

    d = load(spark, sf, "documents")
    toks = text.tokens(F.col("text"))
    quality = d.select(
        "doc_id", "text", "source", "n_chars", F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_uniq"),
    ).filter((F.col("n_tokens") >= 10) & (F.col("n_uniq") * 10 >= F.col("n_tokens") * 3))
    dedup_w = Window.partitionBy(dedup.text_hash(F.col("text"))).orderBy("doc_id")
    deduped = (
        quality.withColumn("dup_rn", F.row_number().over(dedup_w))
        .filter(F.col("dup_rn") == 1)
        .select("doc_id", "source", "n_chars")
    )
    strat_w = Window.partitionBy("source").orderBy(
        seeded_md5("seed91:", F.col("doc_id")), "doc_id"
    )
    surv = (
        deduped.withColumn("strat_rn", F.row_number().over(strat_w))
        .filter(F.col("strat_rn") <= 20)
        .select("doc_id", "n_chars")
    )
    return pack_next_fit(surv, capacity=2000, n_buckets=16).orderBy("bucket", "doc_id")


@register(
    "q92_ewma_features",
    oracle="""
    WITH RECURSIVE ev AS (
        SELECT user_id, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events WHERE user_id % 100 = 0
    ),
    rec AS (
        SELECT user_id, event_id, value, rn, CAST(value AS DOUBLE) AS e
        FROM ev WHERE rn = 1
        UNION ALL
        SELECT ev.user_id, ev.event_id, ev.value, ev.rn,
               0.5 * CAST(ev.value AS DOUBLE) + 0.5 * rec.e
        FROM rec JOIN ev ON ev.user_id = rec.user_id AND ev.rn = rec.rn + 1
    )
    SELECT user_id, event_id, CAST(FLOOR(1000000 * e) AS BIGINT) AS ewma_e6
    FROM rec ORDER BY user_id, event_id
    """,
    doc="per-user EWMA of event values (alpha=0.5, event-time order) — the "
    "canonical stateful numeric recurrence for feature pipelines "
    "(operators/timeseries.py). Multiplicative state is not a SQL window "
    "frame, but it IS a linear recursive CTE, which is how the oracle "
    "states it (the q84 pattern); both engines run the identical float64 "
    "op sequence in identical per-key order, so the outputs are bit-equal "
    "and FLOOR(1e6*x) is hash-stable. One shuffle on the high-cardinality "
    "user key + one Arrow walk per group — the batch analog of "
    "applyInPandasWithState (S9)",
    tags=("E5", "E7", "B16"),
)
def q92(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.timeseries import ewma

    ev = load(spark, sf, "events").filter(F.col("user_id") % 100 == 0)
    out = ewma(ev, key_col="user_id", order_cols=("ts", "event_id"), value_col="value", alpha=0.5)
    return out.select(
        "user_id",
        "event_id",
        F.floor(F.lit(1000000.0) * F.col("ewma")).cast("bigint").alias("ewma_e6"),
    ).orderBy("user_id", "event_id")


@register(
    "q93_mixture_rebalance",
    oracle="""
    WITH t AS (SELECT COUNT(*) AS total, COUNT(DISTINCT source) AS k FROM documents),
    s AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
    probs AS (
        SELECT s.source, s.n_docs,
               least(1.0, CAST(t.total AS DOUBLE) / (t.k * s.n_docs)) AS keep_p
        FROM s CROSS JOIN t
    ),
    kept AS (
        SELECT d.source
        FROM documents d JOIN probs p USING (source)
        WHERE CAST(('0x' || substr(md5('seed93:' || CAST(d.doc_id AS VARCHAR)), 1, 15))
                   AS BIGINT) / 1152921504606846976.0 < p.keep_p
    )
    SELECT p.source,
           CAST(p.n_docs AS BIGINT) AS n_before,
           CAST(COUNT(k.source) AS BIGINT) AS n_kept
    FROM probs p LEFT JOIN kept k ON k.source = p.source
    GROUP BY p.source, p.n_docs
    ORDER BY p.source
    """,
    doc="mixture rebalancing APPLIED: q90's uniform-target keep probability "
    "per source, enforced by deterministic hash thresholding — a doc "
    "survives iff uniform(md5(seed:doc_id)) < keep_p. Unlike rand()-based "
    "sampleBy this is reproducible across retries, partitionings, and "
    "engines (both sides compute the identical 60-bit hash fraction and the "
    "identical float64 threshold), which is what makes a curation resample "
    "auditable; one agg shuffle + one broadcast of the per-source prob "
    "table. Downsample-only (keep_p capped at 1) — upweighting is a "
    "repeat-factor column, not row deletion",
    tags=("E5", "B31"),
)
def q93(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    t = d.agg(F.count("*").alias("total"), F.countDistinct("source").alias("k"))
    s = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    probs = s.crossJoin(F.broadcast(t)).select(
        "source",
        "n_docs",
        F.least(
            F.lit(1.0), F.col("total").cast("double") / (F.col("k") * F.col("n_docs"))
        ).alias("keep_p"),
    )
    u = seeded_hash60("seed93:", F.col("doc_id")) / F.lit(float(1 << 60))
    kept = (
        d.join(F.broadcast(probs), "source")
        .filter(u < F.col("keep_p"))
        .groupBy("source")
        .agg(F.count("*").alias("n_kept"))
    )
    return (
        probs.join(kept, "source", "left")
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_before"),
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# E2/E4 — SemDeDup-style semantic deduplication
# --------------------------------------------------------------------------
@register(
    "q99_semantic_dedup",
    oracle="""
    SELECT vec_id, CAST(label AS INT) AS label
    FROM embeddings ORDER BY vec_id
    """,
    doc="SemDeDup-style semantic dedup (public arXiv:2303.09540): k-means "
    "cells as candidate buckets, within-cell cosine verify, keep min-id per "
    "near-dup component (`operators/similarity.semantic_dedup`). Duplicates "
    "are planted from the input itself (every 40th vector re-tagged with "
    "the 2^60 tag bit); an exact duplicate ALWAYS lands in its original's "
    "cell (identical bytes -> identical JVM argmin), so every planted pair "
    "is verified at cosine 1.0 and removed regardless of the centroid draw, "
    "while no natural pair reaches the 0.95 threshold (max natural cosine "
    "~0.60) — the kept set is exactly the natural corpus, a full hash "
    "oracle. General (sub-1.0) recall is cluster-local by design and "
    "pytest-verified (test_operators.py).",
    tags=("E2", "E4"),
)
def q99(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "embeddings").select("vec_id", "embedding", "label")
    corpus = plant_duplicates(e, "vec_id", F.col("vec_id") % 40 == 0)
    kept = similarity.semantic_dedup(corpus, threshold=0.95, n_clusters=16)
    return kept.select(
        "vec_id", F.col("label").cast("int").alias("label")
    ).orderBy("vec_id")


# --------------------------------------------------------------------------
# E1 — incremental dedup: new batch vs accumulated reference corpus
# --------------------------------------------------------------------------
@register(
    "q100_incremental_dedup",
    oracle="""
    WITH ref AS (
        SELECT DISTINCT sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS h
        FROM documents WHERE doc_id % 2 = 0
    )
    SELECT n.doc_id, n.source
    FROM documents n
    WHERE n.doc_id % 5 = 0
      AND sha256(regexp_replace(lower(trim(n.text)), '\\s+', ' ', 'g'))
          NOT IN (SELECT h FROM ref)
    ORDER BY n.doc_id
    """,
    doc="incremental exact dedup (`operators/dedup.dedup_against_reference`): "
    "a new crawl batch (doc_id % 5 = 0) anti-joins the accumulated reference "
    "corpus (doc_id % 2 = 0) on the normalized-text hash — the per-snapshot "
    "ingestion step that lets a continuously-crawled corpus avoid full "
    "re-dedup. The deterministic overlap (doc_id % 10 = 0 is in both sides "
    "with identical text) guarantees the removal path executes. One anti "
    "join on a uniform 256-bit key, reference side carries only its hash "
    "column; hash-bucketed reference storage makes its side shuffle-free",
    tags=("E1",),
)
def q100(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    new_batch = d.filter(F.col("doc_id") % 5 == 0)
    reference = d.filter(F.col("doc_id") % 2 == 0)
    kept = dedup.dedup_against_reference(new_batch, reference)
    return kept.select("doc_id", "source").orderBy("doc_id")


# --------------------------------------------------------------------------
# E1 — quality-aware exact dedup (keep the best-scored duplicate)
# --------------------------------------------------------------------------
@register(
    "q103_keep_best_dedup",
    oracle=f"""
    WITH corpus AS (
        SELECT doc_id, text, source FROM documents
        UNION ALL
        SELECT doc_id + {PLANT_OFFSET}, text, source
        FROM documents WHERE doc_id % 4 = 0
    ),
    scored AS (
        SELECT doc_id, source, doc_id % 97 AS score,
               sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS h
        FROM corpus
    ),
    ranked AS (
        SELECT doc_id, source, score,
               ROW_NUMBER() OVER (PARTITION BY h ORDER BY score DESC, doc_id ASC) AS rn
        FROM scored
    )
    SELECT doc_id, source, CAST(score AS BIGINT) AS score
    FROM ranked WHERE rn = 1
    ORDER BY doc_id
    """,
    doc="quality-aware exact dedup (`operators/dedup.exact_dedup_keep_best`): "
    "the HIGHEST-scored duplicate survives with its full row (tie: min id) — "
    "the production variant where duplicates differ in provenance quality. "
    "Duplicates planted from the corpus itself (every 4th doc re-tagged "
    "id+2^60) with a deterministic score = id % 97, so each planted pair has "
    "two distinct scores (2^60 % 97 = 22 != 0) and the winner is fixed by "
    "data, not layout. One shuffle on the uniform 256-bit content hash; "
    "selection folds into the hash aggregate via min_by on (-score, id) — "
    "no window, no second pass (the oracle's ROW_NUMBER shape is DuckDB-side "
    "only)",
    tags=("E1",),
)
def q103(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents").select("doc_id", "text", "source")
    corpus = plant_duplicates(d, "doc_id", F.col("doc_id") % 4 == 0)
    scored = corpus.withColumn("score", F.col("doc_id") % 97)
    kept = dedup.exact_dedup_keep_best(scored, "score")
    return kept.select(
        "doc_id", "source", F.col("score").cast("bigint").alias("score")
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# E5 — repeat-factor upsampling (mixture rebalancing, upweight half)
# --------------------------------------------------------------------------
@register(
    "q104_repeat_upsample",
    oracle="""
    WITH w AS (
        SELECT doc_id, source,
               least(greatest(CAST(floor((doc_id % 5) + 0.7) AS INT), 0), 3) AS rep
        FROM documents
    )
    SELECT doc_id, source,
           CAST(unnest(generate_series(1, rep)) AS BIGINT) AS repeat_idx
    FROM w
    ORDER BY doc_id, repeat_idx
    """,
    doc="repeat-factor upsampling (`operators/packing.apply_repeat_factors`): "
    "each doc appears floor(weight) times (weight<1 drops the row — "
    "fractional keeps belong to the q93 hash resample), numbered 1..n in "
    "repeat_idx, clamped at max_repeat=3 (the runaway-weight guard). The "
    "deterministic weight (doc_id % 5) + 0.7 exercises drop (weight 0.7), "
    "plain repeats, and the clamp (weight 4.7 -> 3) in one query. "
    "explode(sequence(...)) is a narrow transformation — rows amplify in "
    "place with NO shuffle; the oracle mirrors it with a generate_series "
    "unnest",
    tags=("E5", "B26"),
)
def q104(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.packing import apply_repeat_factors

    d = load(spark, sf, "documents").select("doc_id", "source")
    weighted = d.withColumn("w", (F.col("doc_id") % 5) + F.lit(0.7))
    out = apply_repeat_factors(weighted, "w", max_repeat=3)
    return out.select(
        "doc_id", "source", F.col("repeat_idx").cast("bigint").alias("repeat_idx")
    ).orderBy("doc_id", "repeat_idx")


# --------------------------------------------------------------------------
# E5 — per-doc n-gram novelty over the ingestion order
# --------------------------------------------------------------------------
@register(
    "q105_ngram_novelty",
    oracle="""
    WITH toked AS (
        SELECT doc_id,
               list_distinct(
                 list_transform(
                   range(1, greatest(len(string_split_regex(lower(trim(text)), '\\s+')) - 2, 1) + 1),
                   i -> concat_ws(' ',
                        string_split_regex(lower(trim(text)), '\\s+')[i],
                        string_split_regex(lower(trim(text)), '\\s+')[i+1],
                        string_split_regex(lower(trim(text)), '\\s+')[i+2])
                 )
               ) AS sh
        FROM documents
    ),
    grams AS (SELECT doc_id, unnest(sh) AS g FROM toked),
    firsts AS (SELECT g, MIN(doc_id) AS first_seen FROM grams GROUP BY g),
    per_doc AS (
        SELECT gr.doc_id,
               COUNT(*) AS n_grams,
               SUM(CASE WHEN f.first_seen = gr.doc_id THEN 1 ELSE 0 END) AS n_novel
        FROM grams gr JOIN firsts f USING (g)
        GROUP BY gr.doc_id
    )
    SELECT doc_id,
           CAST(n_grams AS BIGINT) AS n_grams,
           CAST(n_novel AS BIGINT) AS n_novel,
           CAST(FLOOR(10000 * n_novel / n_grams) AS BIGINT) AS novelty_bp
    FROM per_doc
    ORDER BY doc_id
    """,
    doc="per-doc 3-gram novelty over the ingestion order "
    "(`operators/text.ngram_novelty`): the share of a doc's distinct word "
    "3-grams whose global FIRST occurrence is that doc — the crawl metric "
    "whose collapse flags a source re-serving old content. Two data-sized "
    "stages, both scale-safe: one gram-keyed shuffle for first-occurrence "
    "(map-side partial MIN bounds hot grams) and one gram-keyed join back; "
    "the shingler is the Arrow-batched dedup shingler whose tokenization "
    "the q55 oracle already proved hash-identical to this DuckDB form",
    tags=("E5",),
)
def q105(spark: SparkSession, sf: str) -> DataFrame:
    out = text.ngram_novelty(load(spark, sf, "documents"), n=3)
    return out.orderBy("doc_id")


@register(
    "q165_incremental_near_dup",
    oracle=f"""
    SELECT doc_id + {PLANT_OFFSET} AS new_id, doc_id AS ref_id
    FROM documents WHERE doc_id % 25 = 0
    ORDER BY new_id
    """,
    doc="incremental NEAR-dup candidates (E2 sibling of q100's exact "
    "path): a new crawl batch is probed against the accumulated "
    "reference corpus's banded MinHash index "
    "(`operators/dedup.minhash_probe_reference`) — new-vs-reference "
    "band joins ONLY, never the corpus-wide self-join, which is how a "
    "daily pipeline keeps near-dedup cost proportional to the batch. "
    "New batch = re-tagged copies of every 25th reference doc "
    "(identical text -> identical banded signature -> guaranteed "
    "candidate), so the planted (new, source) pairs are "
    "hash-oracle-exact while general recall stays pytest-verified "
    "(novel text produces zero candidates). 100 TB: the reference side "
    "is the persistable (id, band, bucket) index frame; the join "
    "shuffles |new| + |index| band rows on the bucket key",
    tags=("E2", "E1"),
)
def q165(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents").select("doc_id", "text")
    new_batch = d.filter(F.col("doc_id") % 25 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(PLANT_OFFSET)
    )
    pairs = dedup.minhash_probe_reference(new_batch, d)
    return (
        pairs.filter(F.col("ref_id") == F.col("new_id") - PLANT_OFFSET)
        .select("new_id", "ref_id")
        .orderBy("new_id")
    )


@register(
    "q166_sorted_neighborhood",
    oracle=r"""
    WITH toked AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(trim(coalesce(text, ''))), '\s+'),
                           t -> t <> '') AS toks
        FROM documents
    ),
    keyed AS (
        SELECT doc_id,
               array_to_string(toks[1:2], ' ') AS blk,
               array_to_string(toks, ' ') AS nt,
               list_distinct(toks) AS td
        FROM toked
    ),
    nbr AS (
        SELECT doc_id, td,
               lead(doc_id, 1) OVER w AS id1, lead(td, 1) OVER w AS td1,
               lead(doc_id, 2) OVER w AS id2, lead(td, 2) OVER w AS td2
        FROM keyed
        WINDOW w AS (PARTITION BY blk ORDER BY nt, doc_id)
    ),
    pairs AS (
        SELECT doc_id AS id_a, id1 AS id_b, CAST(1 AS BIGINT) AS d,
               td AS ta, td1 AS tb
        FROM nbr WHERE id1 IS NOT NULL
        UNION ALL
        SELECT doc_id, id2, CAST(2 AS BIGINT), td, td2
        FROM nbr WHERE id2 IS NOT NULL
    )
    SELECT id_a, id_b, d,
           CAST(FLOOR(10000 * len(list_intersect(ta, tb))
                / GREATEST(len(list_distinct(list_concat(ta, tb))), 1)) AS BIGINT)
               AS jaccard_bp
    FROM pairs
    ORDER BY id_a, id_b, d
    """,
    doc="sorted-neighborhood dedup blocking (Hernandez & Stolfo, SIGMOD'95, "
    "blocked variant): block on the 2-token normalized prefix, sort each "
    "block by full normalized text, pair every row with its next w=2 "
    "neighbors via lead() (no self-join), verify with exact unigram "
    "Jaccard in basis points. Complements the LSH (q47), SimHash (q62) and "
    "edit-distance blocking (q139) candidate generators with the classic "
    "sort-based one. 100 TB: the single data shuffle is the hash partition "
    "on the content-derived block key, whose cardinality grows with vocab^2 "
    "(never O(1) like a lang/source key); neighbor pairs come from lead() "
    "windows inside each block, so candidate count is exactly w*n and no "
    "join materializes beyond it. A pathological hot block (shared "
    "boilerplate prefix) is bounded BY THE OPERATOR (operators/snm.py, "
    "round-7): blocks over max_block_rows re-key on the 4-token prefix and "
    "salt deterministically if still hot, so no window partition ever "
    "exceeds ~cap rows; the guard's when() never fires below the cap, so "
    "this oracle needs no hot-block clause.",
    tags=("E2", "B16"),
)
def q166(spark: SparkSession, sf: str) -> DataFrame:
    from mrcond_spark.operators.snm import sorted_neighborhood_pairs

    d = load(spark, sf, "documents")
    toks = text.tokens_null_safe(F.col("text"))
    # blk/nt/td all derive from one split(); Catalyst inlines the copies
    # (cheap whole-array ops — not the per-element HOF inlining that made
    # q55's shingler O(len^2), which is why that one uses an Arrow UDF)
    keyed = d.select(
        "doc_id",
        F.concat_ws(" ", F.slice(toks, 1, 2)).alias("blk"),
        F.concat_ws(" ", F.slice(toks, 1, 4)).alias("blk4"),
        F.concat_ws(" ", toks).alias("nt"),
        F.array_distinct(toks).alias("td"),
    )
    pairs = sorted_neighborhood_pairs(
        keyed,
        id_col="doc_id",
        sort_col="nt",
        block_col="blk",
        w=2,
        extend_cols=("blk4",),
        payload_cols=("td",),
    )
    return pairs.select(
        "id_a",
        "id_b",
        "d",
        F.floor(
            10000
            * F.size(F.array_intersect("td_a", "td_b"))
            / F.greatest(F.size(F.array_union("td_a", "td_b")), F.lit(1))
        )
        .cast("bigint")
        .alias("jaccard_bp"),
    ).orderBy("id_a", "id_b", "d")


# --------------------------------------------------------------------------
# B31/E5 — exact proportional stratified sampling (largest-remainder budget)
# --------------------------------------------------------------------------
@register(
    "q169_stratified_budget_sample",
    oracle="""
    WITH c AS (
        SELECT lang, CAST(COUNT(*) AS HUGEINT) AS n
        FROM documents GROUP BY lang
    ),
    t AS (
        SELECT CAST(SUM(n) AS HUGEINT) AS nn,
               LEAST(CAST(100 AS HUGEINT), CAST(SUM(n) AS HUGEINT)) AS k
        FROM c
    ),
    q AS (
        SELECT c.lang, (t.k * c.n) // t.nn AS fl, (t.k * c.n) % t.nn AS rem
        FROM c, t
    ),
    r AS (
        SELECT lang, fl,
               ROW_NUMBER() OVER (ORDER BY rem DESC, lang) AS pos
        FROM q
    ),
    alloc AS (
        SELECT r.lang,
               r.fl + CASE WHEN r.pos <= x.extra THEN 1 ELSE 0 END AS quota
        FROM r, (SELECT (SELECT k FROM t) - SUM(fl) AS extra FROM q) x
    ),
    rk AS (
        SELECT lang, doc_id, n_chars,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5('strat169:' || CAST(doc_id AS VARCHAR)), doc_id
               ) AS BIGINT) AS st_rank
        FROM documents
    )
    SELECT rk.lang, rk.st_rank, rk.doc_id, rk.n_chars,
           CAST(a.quota AS BIGINT) AS quota
    FROM rk JOIN alloc a ON rk.lang = a.lang
    WHERE rk.st_rank <= a.quota
    ORDER BY rk.lang, rk.st_rank
    """,
    doc="exact-size proportional stratified sample: a GLOBAL budget of "
    "min(100, corpus) rows apportioned across languages by largest-"
    "remainder (Hamilton) rounding, each stratum's quota then taken in "
    "seeded-md5 order (`operators/sampling.stratified_sample_exact`). "
    "Complements q83 (fixed k PER class, low-cardinality-window plan): "
    "here the output size is exact, per-stratum sizes track the corpus "
    "mixture, and the rank is the LAZY banded `grouped_hash_rank` — "
    "per-(lang, hash-prefix-band) windows + a metadata-sized offset "
    "broadcast, so a 3-language 100 TB corpus still ranks on |langs|x256 "
    "tasks instead of 3. EAGER builder: one bounded per-stratum count "
    "collect computes the quotas driver-side in exact integer arithmetic "
    "(floor + remainder, byte-order tie-break — reproduced verbatim by "
    "the oracle's HUGEINT window form).",
    tags=("B31", "E5", "B15"),
)
def q169(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.sampling import stratified_sample_exact

    d = load(spark, sf, "documents").select("lang", "doc_id", "n_chars")
    return (
        stratified_sample_exact(d, "lang", "doc_id", 100, "strat169")
        .select("lang", "st_rank", "doc_id", "n_chars", "quota")
        .orderBy("lang", "st_rank")
    )


# --------------------------------------------------------------------------
# E1/E2 — dedup cluster resolution: multi-blocking edges -> components
# --------------------------------------------------------------------------
@register(
    "q170_dedup_components",
    oracle=r"""
    WITH RECURSIVE toked AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(trim(coalesce(text, ''))), '\s+'),
                           t -> t <> '') AS toks
        FROM documents
    ),
    a AS (
        SELECT doc_id,
               lead(doc_id) OVER (
                   PARTITION BY array_to_string(toks[1:2], ' ') ORDER BY doc_id
               ) AS nxt
        FROM toked
    ),
    b AS (
        SELECT doc_id,
               lead(doc_id) OVER (
                   PARTITION BY concat(coalesce(lang, ''), '|',
                                       coalesce(source, ''), '|',
                                       CAST(coalesce(n_chars, 0) // 50 AS VARCHAR))
                   ORDER BY doc_id
               ) AS nxt
        FROM documents
    ),
    e AS (
        SELECT doc_id AS s, nxt AS t FROM a WHERE nxt IS NOT NULL
        UNION ALL
        SELECT doc_id, nxt FROM b WHERE nxt IS NOT NULL
    ),
    u AS (SELECT s, t FROM e UNION SELECT t, s FROM e),
    reach(node, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT u.s, reach.r FROM u JOIN reach ON u.t = reach.node
    )
    SELECT node AS doc_id, CAST(MIN(r) AS BIGINT) AS component
    FROM reach GROUP BY node ORDER BY doc_id
    """,
    doc="dedup CLUSTER RESOLUTION as a declared query — the step between "
    "candidate generation and representative-keeping that q47/q62/q75 "
    "bury inside `drop_non_representatives`: edges from TWO independent "
    "blocking passes (2-token prefix chains + (lang, source, size-band) "
    "chains, each a lead() window like q166 — no self-join), resolved "
    "with `operators/components.connected_components` min-label "
    "propagation + pointer jumping (Kiveris et al.); isolated docs keep "
    "their own id via a left join. The oracle replays the exact graph "
    "with a recursive transitive-closure CTE, so every node's component "
    "id is hash-checked — the only driver-verdict path for the "
    "iterative operator every near-dup tier depends on. 100 TB: each "
    "round is one shuffle-join + agg on node id over the EDGE list "
    "(candidate pairs << corpus); per-round localCheckpoints truncate "
    "the iterative lineage; rounds ~ log(diameter) via path halving.",
    tags=("E1", "E2", "B16"),
)
def q170(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.components import connected_components

    d = load(spark, sf, "documents")
    toks = text.tokens_null_safe(F.col("text"))
    blk_a = d.select(
        "doc_id", F.concat_ws(" ", F.slice(toks, 1, 2)).alias("blk")
    )
    blk_b = d.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("lang"), F.lit("")),
            F.lit("|"),
            F.coalesce(F.col("source"), F.lit("")),
            F.lit("|"),
            F.expr("CAST(coalesce(n_chars, 0) div 50 AS STRING)"),
        ).alias("blk"),
    )

    def chain(blocked: DataFrame) -> DataFrame:
        w = Window.partitionBy("blk").orderBy("doc_id")
        return (
            blocked.withColumn("nxt", F.lead("doc_id").over(w))
            .filter(F.col("nxt").isNotNull())
            .select(F.col("doc_id").alias("s"), F.col("nxt").alias("t"))
        )

    comp = connected_components(
        chain(blk_a).unionByName(chain(blk_b)), src="s", dst="t"
    )
    return (
        d.select("doc_id")
        .join(comp, d.doc_id == comp.node, "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").cast("bigint").alias("component"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# E2/B22 — exact edit-distance join (Ed-Join q-gram prefix filtering)
# --------------------------------------------------------------------------
@register(
    "q180_edit_distance_join",
    # Round-12 oracle reformulation (r11-verdict item 4). The r7-r11 oracle
    # brute-forced all length-gated ROW pairs — O(rows^2) levenshteins, ~21
    # min at sf1 on the tiled corpus (every head repeats ~10x), which forced
    # a cap-skip that left the engine only shape-verified at sf1. This form
    # states the IDENTICAL relation through the same two exactness-preserving
    # reductions the engine uses (operators/editsim.py): (1) VALUE-keyed —
    # edit distance is a function of the string value, so verify once per
    # distinct value pair and re-expand to row pairs by string equality
    # (pure algebraic regrouping); (2) Ed-Join q-gram prefix filter (q=2,
    # k=3) — a candidate-SUPERSET generator (Xiao et al. VLDB'08: <=k edits
    # destroy <=q*k tagged grams, so qualifying pairs share a gram within
    # both sides' q*k+1 rarest; pairs where BOTH sides have <=q*k grams,
    # i.e. len <= q*k+q-1 = 7, take the brute-force short leg; the diagonal
    # leg carries dist-0 duplicate rows), followed by the SAME exact
    # levenshtein verify — false candidates are filtered, no true pair can
    # be lost, so the result set is provably unchanged. Validated this
    # round: result-identical to the retired brute-force SQL at
    # sf0.001/sf0.01/sf0.1 AND at sf1 (one 21-min brute-force run), and
    # hash-exact vs the engine at all four scales.
    oracle="""
    WITH t AS (
        SELECT doc_id,
               regexp_replace(substr(coalesce(text, ''), 1, 16),
                              '[^\\x00-\\x7f]', '?', 'g') AS s
        FROM documents
    ), v AS (
        SELECT s, COUNT(*) AS cnt, MIN(doc_id) AS vid, length(s) AS len
        FROM t GROUP BY s
    ), g AS (
        SELECT vid, len,
               substr(s, i, 2) || '#' || CAST(ROW_NUMBER() OVER (
                   PARTITION BY vid, substr(s, i, 2) ORDER BY i
               ) AS VARCHAR) AS tok
        FROM v, UNNEST(range(1, len)) AS r(i)
        WHERE len >= 2
    ), f AS (
        SELECT tok, COUNT(*) AS tf FROM g GROUP BY tok
    ), pref AS (
        SELECT vid, len, tok FROM (
            SELECT g.vid, g.len, g.tok,
                   ROW_NUMBER() OVER (PARTITION BY g.vid ORDER BY f.tf, g.tok) AS rn
            FROM g JOIN f USING (tok)
        ) WHERE rn <= 7
    ), cand AS (
        SELECT a.vid AS vid_a, b.vid AS vid_b
        FROM pref a JOIN pref b
          ON a.tok = b.tok AND a.vid < b.vid AND abs(a.len - b.len) <= 3
    ), shortp AS (
        SELECT LEAST(a.vid, b.vid) AS vid_a, GREATEST(a.vid, b.vid) AS vid_b
        FROM v a JOIN v b
          ON a.s <= b.s AND abs(a.len - b.len) <= 3
        WHERE a.len <= 7 AND b.len <= 7
    ), diag AS (
        SELECT vid AS vid_a, vid AS vid_b FROM v WHERE cnt >= 2
    ), vp AS (
        SELECT DISTINCT vid_a, vid_b FROM (
            SELECT vid_a, vid_b FROM cand
            UNION ALL SELECT vid_a, vid_b FROM shortp
            UNION ALL SELECT vid_a, vid_b FROM diag
        )
    ), verified AS (
        SELECT va.s AS v_a, vb.s AS v_b, levenshtein(va.s, vb.s) AS dist
        FROM vp JOIN v va ON vp.vid_a = va.vid JOIN v vb ON vp.vid_b = vb.vid
        WHERE levenshtein(va.s, vb.s) <= 3
    )
    SELECT LEAST(ra.doc_id, rb.doc_id) AS id_a,
           GREATEST(ra.doc_id, rb.doc_id) AS id_b,
           CAST(dist AS INT) AS dist
    FROM verified
    JOIN t ra ON ra.s = verified.v_a
    JOIN t rb ON rb.s = verified.v_b
    WHERE verified.v_a <> verified.v_b OR ra.doc_id < rb.doc_id
    ORDER BY id_a, id_b
    """,
    doc="EXACT edit-distance self-join over 16-char document heads "
    "(levenshtein <= 3) via Ed-Join q-gram prefix filtering "
    "(`operators/editsim.py`; Xiao et al. VLDB'08). The recall-1 "
    "complement to q139's heuristic prefix blocking: q139 can MISS pairs "
    "that differ in their first 12 chars, this operator provably returns "
    "every qualifying pair — the string sibling of the exact setsim "
    "(q123) and containment (q144) joins, with the same rare-first "
    "prefix skew cap. The oracle mirrors the chain value-keyed (r12: the "
    "retired brute-force form was O(rows^2) and cap-skipped at sf1; this "
    "one is result-identical to it at all four scales — see the oracle "
    "comment) so the full relation is hash-checked at every scale "
    "including sf1, not shape-sampled. 100 TB: candidate "
    "generation shuffles only each string's q*k+1 RAREST grams (hot "
    "boilerplate grams never enter a prefix), verify is one JVM "
    "levenshtein per candidate, and the brute-force leg's domain is "
    "alphabet-bounded.",
    tags=("E2", "B22", "B26"),
)
def q180(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.editsim import edit_distance_join

    # heads ASCII-folded on both sides (q139's rule): Spark levenshtein is
    # code-point-based, DuckDB's is BYTE-based — on folded heads the two
    # metrics coincide exactly, so the hash check stays valid off-ASCII.
    heads = load(spark, sf, "documents").select(
        "doc_id",
        F.regexp_replace(
            F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 16),
            "[^\\x00-\\x7F]",
            "?",
        ).alias("head"),
    )
    return (
        edit_distance_join(heads, id_col="doc_id", str_col="head", k=3, q=2)
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------------------------------------
# E5/E1 — corpus-global repeated n-gram span profile (ExactSubstr prep)
# --------------------------------------------------------------------------
@register(
    "q181_repeated_spans",
    oracle=r"""
    WITH toked AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(trim(coalesce(text, ''))), '\s+'),
                           x -> x <> '') AS toks
        FROM documents
    ),
    g AS (
        SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS gram
        FROM toked, UNNEST(range(1, len(toks) - 1)) AS r(i)
        WHERE len(toks) >= 3
    ),
    f AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS c FROM g GROUP BY gram),
    per_doc AS (
        SELECT g.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(COALESCE(COUNT(*) FILTER (f.c >= 4), 0) AS BIGINT) AS n_rep
        FROM g JOIN f USING (gram) GROUP BY g.doc_id
    )
    SELECT d.doc_id,
           COALESCE(p.n_grams, 0) AS n_grams,
           COALESCE(p.n_rep, 0) AS n_rep,
           COALESCE((10000 * p.n_rep) // p.n_grams, 0) AS rep_bp
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    ORDER BY d.doc_id
    """,
    doc="corpus-global repeated-span profile: per document, how many of its "
    "word 3-gram positions belong to a gram occurring >= 4 times ACROSS "
    "the corpus — the marking pass of substring-level dedup (Lee et al., "
    "'Deduplicating Training Data Makes Language Models Better', ACL'22: "
    "ExactSubstr removes such spans rather than whole documents). "
    "Distinct from q105 (novelty vs EARLIER docs only), q89 (intra-doc "
    "repetition) and q162 (whole-doc dup clusters): this is the "
    "corpus-frequency span signal. The ratio is integer basis points "
    "(10000*n div n) — no float boundary. 100 TB: one (gram) shuffle "
    "builds corpus counts with map-side partials, the count join back is "
    "per-gram (hot grams match ONE frequency row — AQE skew-split "
    "territory, the q86/q114 pattern), the per-doc rollup shuffles "
    "doc_id, and short docs survive via the left join, never a lost row.",
    tags=("E5", "E1", "B26"),
)
def q181(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators import ensure_parallelism, materialize_once

    d = load(spark, sf, "documents")
    tk = text.tokens_null_safe(F.col("text"))
    # Round-12 (the q105/q108 pattern at a third site, measured per the r11
    # per-site rule): the documents scan is ONE split even at sf1 (5.9 MB
    # compressed), so the tokenize + 3-gram explode — the query's dominant
    # map work — ran single-core, and TWICE (the gram frame feeds both the
    # corpus-count branch and the count-join branch; Catalyst re-expands
    # the subtree per consumer). Widen the scan before the expensive pass,
    # then checkpoint the widened gram frame EAGERLY — lazy would leave
    # both consumer stages racing to compute it inside the single final
    # job (the round-12 q132 double-consumer finding) — so each gram is
    # tokenized once, 32-wide. Interleaved A/B (3 pairs, min-of-N per leg):
    # sf1 13.6 -> 4.6 s median (every pair improved), sf0.1 1.92 -> 1.68 s
    # median (2 pairs improved, 1 wash — no toy-scale loss).
    g = materialize_once(
        ensure_parallelism(d)
        .select("doc_id", tk.alias("tk"))
        .filter(F.size("tk") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(tk) - 2),"
                    " i -> concat_ws(' ', slice(tk, i, 3)))"
                )
            ).alias("gram"),
        )
    )
    f = g.groupBy("gram").agg(F.count(F.lit(1)).alias("c"))
    per = (
        g.join(f, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("c") >= 4).cast("bigint")).alias("n_rep"),
        )
    )
    return (
        d.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_rep", F.lit(0)).alias("n_rep"),
            F.coalesce(
                F.expr("(10000 * n_rep) div n_grams"), F.lit(0)
            ).alias("rep_bp"),
        )
        .orderBy("doc_id")
    )
