"""Frontier / drift / layout tier (round-5 late additions, q138-q143, q145).

Declared queries closing out gaps a 100 TB curation stack still has
after the dedup/retrieval/analytics tiers: Pareto-frontier selection
(the "best quality at any cost budget" picker), edit-distance near-dup
with blocking (the fuzzy tier below shingle Jaccard), deterministic
weighted sampling without replacement (Efraimidis-Spirakis A-ES with a
hash-derived uniform — reproducible across engines and retries), corpus
drift measured as smoothed token-distribution KL divergence, per-document
character-class entropy (a quality gate that catches binary junk and
whitespace bombs), a Z-order-vs-linear layout audit (the number that
justifies how you sort parquet files for min/max data skipping), and
robust winsorized/MAD statistics (the outlier-proof complement to the
mean/sigma tier). The tier's containment join (q144) lives with its
retrieval siblings in queries/search.py.

Every query carries a full DuckDB hash oracle. Float discipline follows
the corpus conventions (queries/__init__.py): exact integer gates
wherever a SELECTION depends on a comparison; ``ln``/division doubles
appear only in displayed columns and are ROUND()ed to absorb last-ulp
libm-vs-JVM drift; order-dependent double sums go through DECIMAL casts.

Reference parity note: f-squirrel/mrcond is a CDC connector with no batch
surface (SURVEY §1); this module belongs to the mandated
training-data-pipeline extension, same as queries/llm.py and
queries/curation.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..operators.frontier import skyline_2d
from ..operators.sampling import U_DEN, aes_key
from ..operators.text import tokens
from . import register


# --------------------------------------------------------------------------
# q138 — 2-D skyline / Pareto frontier (distributed sort+running-max)
# --------------------------------------------------------------------------
@register(
    "q138_skyline_frontier",
    oracle="""
    SELECT p.p_partkey,
           p.p_retailprice AS price,
           CAST(p.p_size AS INT) AS size
    FROM part p
    WHERE NOT EXISTS (
        SELECT 1 FROM part q
        WHERE q.p_retailprice <= p.p_retailprice
          AND q.p_size >= p.p_size
          AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
    )
    ORDER BY price, size, p.p_partkey
    """,
    doc="Pareto frontier over part (minimize retail price, maximize size): "
    "the rows no other part dominates. The oracle is the textbook "
    "quadratic NOT EXISTS; the Spark plan is operators/frontier.py's "
    "distributed sort+running-max — one hash-agg shuffle to collapse per "
    "distinct cost, a bounded per-bucket offset collect (order-aligned "
    "floor(price) buckets), a bucket-PARTITIONED window (never the "
    "single-reducer MAX OVER (ORDER BY cost)), and one equi-join back. "
    "All dominance gates compare stored values — no float arithmetic, no "
    "cross-engine boundary ambiguity. 100 TB: every data-sized stage is "
    "hash-distributed; the driver sees one row per bucket. EAGER "
    "BUILDER: the bucket-maxima job runs at construction time and "
    "snapshots into plan literals (PLANS.md)",
    tags=("B11", "B16"),
)
def q138(spark: SparkSession, sf: str) -> DataFrame:
    p = load(spark, sf, "part")
    sky = skyline_2d(
        p,
        cost_col="p_retailprice",
        gain_col="p_size",
        bucket=F.floor(F.col("p_retailprice")).cast("int"),
    )
    return (
        sky.select(
            "p_partkey",
            # raw stored double, no arithmetic: passes through bit-identically
            F.col("p_retailprice").alias("price"),
            F.col("p_size").cast("int").alias("size"),
        )
        .orderBy("price", "size", "p_partkey")
    )


# --------------------------------------------------------------------------
# q139 — edit-distance near-dup pairs with blocking (fuzzy dedup tier)
# --------------------------------------------------------------------------
#: block-population cap: a block bigger than this is boilerplate-shaped
#: (every member shares the same 12-char prefix) and is excluded rather
#: than joined quadratically — the df-gate pattern (q114's inverted index)
MAX_BLOCK = 64
#: verify gate: Levenshtein over the 80-char head; <= this means near-dup
MAX_DIST = 20


@register(
    "q139_edit_blocking_pairs",
    oracle=f"""
    WITH n AS (
        SELECT doc_id, lang,
               substr(lower(trim(text)), 1, 12) AS blk,
               regexp_replace(substr(lower(trim(text)), 1, 80),
                              '[^\\x00-\\x7f]', '?', 'g') AS head
        FROM documents
    ),
    g AS (
        SELECT lang, blk FROM n
        GROUP BY lang, blk HAVING COUNT(*) BETWEEN 2 AND {MAX_BLOCK}
    ),
    c AS (SELECT n.* FROM n JOIN g USING (lang, blk))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.lang,
           CAST(levenshtein(a.head, b.head) AS INT) AS dist
    FROM c a JOIN c b
      ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id
    WHERE levenshtein(a.head, b.head) <= {MAX_DIST}
    ORDER BY id_a, id_b
    """,
    doc="sorted-neighborhood-style fuzzy dedup: block on (lang, 12-char "
    "normalized prefix), verify candidates with exact Levenshtein over the "
    "80-char head. Classic record-linkage blocking (Hernandez/Stolfo "
    "merge/purge): candidates come from an EQUI-join on the block key — "
    "never all-pairs — and pathological blocks (> MAX_BLOCK members "
    "sharing a prefix = boilerplate) are df-gated out before the "
    "quadratic-within-block join, so the candidate volume is capped at "
    "|blocks| x MAX_BLOCK^2 by construction. The verify gate is integer "
    "edit distance over ASCII-FOLDED heads (non-ASCII -> '?', both "
    "engines): Spark's levenshtein counts code points, DuckDB's counts "
    "bytes, and folding makes the two metrics coincide exactly — no "
    "float boundary. 100 TB: one (lang,blk) shuffle "
    "each side; AQE handles residual block skew; Levenshtein runs "
    "JVM-side on 80-char heads only (bounded per-pair cost)",
    tags=("E2", "B22"),
)
def q139(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    norm = F.lower(F.trim(F.col("text")))
    # heads ASCII-folded (each non-ASCII code point -> '?', identically in
    # both engines) BEFORE the distance: Spark's levenshtein counts code
    # points while DuckDB's counts BYTES, so a multibyte character would
    # shift every dist and flip pairs across the MAX_DIST gate. On folded
    # heads bytes == code points and the two implementations agree exactly.
    n = d.select(
        "doc_id",
        "lang",
        F.substring(norm, 1, 12).alias("blk"),
        F.regexp_replace(F.substring(norm, 1, 80), "[^\\x00-\\x7F]", "?").alias("head"),
    )
    g = (
        n.groupBy("lang", "blk")
        .count()
        .filter((F.col("count") >= 2) & (F.col("count") <= MAX_BLOCK))
        .select("lang", "blk")
    )
    # c feeds BOTH sides of the within-block self-join; without a
    # materialization point each side re-derives it (4 scans of the text
    # column in the executed plan). Lazy checkpoint: the gated candidate
    # set (<= |blocks| x MAX_BLOCK rows of 80-char heads) computes once.
    # The width pin AFTER the checkpoint (pin_width): the self-join's real
    # cost is the per-row levenshtein, not its ~60 MB of candidate heads,
    # which AQE coalesced to 2 partitions (73 -> ~13 s at sf1 pinned). Both
    # join inputs derive from this one repartition on the join key, so
    # EnsureRequirements inserts no further exchange.
    from ..operators import materialize_once, pin_width

    c = pin_width(materialize_once(n.join(g, ["lang", "blk"]), eager=False), "lang", "blk")
    a = c.select(
        F.col("doc_id").alias("id_a"), "lang", "blk", F.col("head").alias("head_a")
    )
    b = c.select(
        F.col("doc_id").alias("id_b"), "lang", "blk", F.col("head").alias("head_b")
    )
    dist = F.levenshtein("head_a", "head_b")
    return (
        a.join(b, ["lang", "blk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(dist <= MAX_DIST)
        .select("id_a", "id_b", "lang", dist.cast("int").alias("dist"))
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------------------------------------
# q140 — deterministic weighted sampling without replacement (A-ES)
# --------------------------------------------------------------------------
#: sample size
SAMPLE_K = 100
#: shared with the streaming reservoir mirror (operators/sampling.py)
_U_DEN = U_DEN


@register(
    "q140_weighted_sample",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, n_chars,
               ln((CAST(('0x' || substr(md5('seed140:' ||
                        CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1)
                  / {_U_DEN!r}) / n_chars AS k
        FROM documents
    ),
    top AS (
        SELECT * FROM keyed ORDER BY k DESC, doc_id LIMIT {SAMPLE_K}
    )
    SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
           ROUND(k, 6) AS sel_key
    FROM top
    ORDER BY sel_key DESC, doc_id
    """,
    doc="weighted sampling without replacement, deterministically: "
    "Efraimidis-Spirakis A-ES (key = ln(u)/w, keep the top-k keys; "
    "equivalent to u^(1/w)) with u derived from a seeded md5 of the doc id "
    "instead of an RNG — the SAME sample comes out on any engine, any "
    "partitioning, any retry, which is what makes a training subsample "
    "auditable. Weight = n_chars (longer docs proportionally likelier). "
    "100 TB: embarrassingly parallel scan + TakeOrdered top-k (per-"
    "partition heaps, O(k) at the driver) — no shuffle, no RNG "
    "coordination; Spark plans orderBy+limit as TakeOrderedAndProject, "
    "never a global sort. The displayed key is ROUND()ed; selection uses "
    "the raw double whose inter-doc gaps (md5-spread) dwarf last-ulp "
    "ln() drift",
    tags=("B31", "E5", "B18"),
)
def q140(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    k = aes_key(F.col("doc_id"), F.col("n_chars"), "seed140")
    keyed = d.select("doc_id", "n_chars", k.alias("k"))
    top = keyed.orderBy(F.col("k").desc(), "doc_id").limit(SAMPLE_K)
    return (
        top.select(
            "doc_id",
            F.col("n_chars").cast("bigint").alias("weight"),
            F.round("k", 6).alias("sel_key"),
        )
        .orderBy(F.col("sel_key").desc(), "doc_id")
    )


# --------------------------------------------------------------------------
# q141 — corpus drift as smoothed token-distribution KL divergence
# --------------------------------------------------------------------------
@register(
    "q141_token_kl_drift",
    oracle="""
    WITH tok AS (
        SELECT unnest(list_filter(string_split_regex(lower(trim(text)),
                                                     '\\s+'),
                      t -> t != '')) AS token,
               (lang = 'en') AS is_en
        FROM documents
    ),
    g AS (
        SELECT token,
               SUM(CASE WHEN is_en THEN 1 ELSE 0 END) AS c_en,
               SUM(CASE WHEN is_en THEN 0 ELSE 1 END) AS c_rest
        FROM tok GROUP BY token
    ),
    tot AS (
        SELECT SUM(c_en) AS n_en, SUM(c_rest) AS n_rest, COUNT(*) AS v
        FROM g
    ),
    p AS (
        SELECT token, c_en, c_rest,
               (c_en + 1.0) / (n_en + v) AS pe,
               (c_rest + 1.0) / (n_rest + v) AS pr
        FROM g CROSS JOIN tot
    )
    SELECT token,
           CAST(c_en AS BIGINT) AS c_en,
           CAST(c_rest AS BIGINT) AS c_rest,
           ROUND(pe, 8) AS p_en,
           ROUND(pr, 8) AS p_rest,
           ROUND(pe * ln(pe / pr), 8) AS kl_term_en,
           ROUND(pr * ln(pr / pe), 8) AS kl_term_rest
    FROM p
    ORDER BY token
    """,
    doc="distribution drift between the English split and the rest of the "
    "corpus: Laplace-smoothed unigram probabilities on the shared "
    "vocabulary and the per-token terms of KL(P||Q) and KL(Q||P) — the "
    "monitoring number a curation pipeline tracks batch-over-batch to "
    "catch source drift before a training run does. ONE (token) shuffle "
    "computes both splits' counts as conditional aggregates (no second "
    "scan, no join between splits); the totals row is a bounded 1-row "
    "cross join (broadcast). Counts and the smoothing gate are exact "
    "integers; ln()/division appear only in displayed ROUND()ed columns. "
    "100 TB: map-side partials bound the token shuffle; vocabulary-sized "
    "(not corpus-sized) state thereafter",
    tags=("E5", "B11"),
)
def q141(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    tok = d.select(
        F.explode(tokens(F.col("text"))).alias("token"),
        (F.col("lang") == "en").alias("is_en"),
    )
    from ..operators import materialize_once

    # two structurally different consumers (the 1-row totals aggregate and
    # the crossJoin projection) — exchange reuse does not cover them, so an
    # unmaterialized g would re-run the corpus-sized explode+groupBy per
    # branch (the ks_d_numerator/mann_whitney multi-consumer rule)
    g = materialize_once(
        tok.groupBy("token").agg(
            F.sum(F.when(F.col("is_en"), 1).otherwise(0)).alias("c_en"),
            F.sum(F.when(F.col("is_en"), 0).otherwise(1)).alias("c_rest"),
        ),
        eager=False,
    )
    tot = g.agg(
        F.sum("c_en").alias("n_en"),
        F.sum("c_rest").alias("n_rest"),
        F.count("*").alias("v"),
    )
    p = g.crossJoin(F.broadcast(tot)).select(
        "token",
        "c_en",
        "c_rest",
        ((F.col("c_en") + 1.0) / (F.col("n_en") + F.col("v"))).alias("pe"),
        ((F.col("c_rest") + 1.0) / (F.col("n_rest") + F.col("v"))).alias("pr"),
    )
    return (
        p.select(
            "token",
            F.col("c_en").cast("bigint").alias("c_en"),
            F.col("c_rest").cast("bigint").alias("c_rest"),
            F.round("pe", 8).alias("p_en"),
            F.round("pr", 8).alias("p_rest"),
            F.round(F.col("pe") * F.log(F.col("pe") / F.col("pr")), 8).alias(
                "kl_term_en"
            ),
            F.round(F.col("pr") * F.log(F.col("pr") / F.col("pe")), 8).alias(
                "kl_term_rest"
            ),
        )
        .orderBy("token")
    )


# --------------------------------------------------------------------------
# q142 — per-document character-class entropy (quality gate)
# --------------------------------------------------------------------------
@register(
    "q142_char_entropy",
    oracle="""
    WITH c AS (
        SELECT source,
               length(lower(text)) AS n,
               length(lower(text))
                 - length(regexp_replace(lower(text), '[a-z]', '', 'g'))
                 AS n_alpha,
               length(lower(text))
                 - length(regexp_replace(lower(text), '[0-9]', '', 'g'))
                 AS n_digit,
               length(lower(text))
                 - length(regexp_replace(lower(text), '\\s', '', 'g'))
                 AS n_space
        FROM documents WHERE length(text) > 0
    ),
    e AS (
        SELECT source,
               (CASE WHEN n_alpha > 0
                     THEN -(n_alpha * 1.0 / n) * ln(n_alpha * 1.0 / n)
                     ELSE 0 END)
             + (CASE WHEN n_digit > 0
                     THEN -(n_digit * 1.0 / n) * ln(n_digit * 1.0 / n)
                     ELSE 0 END)
             + (CASE WHEN n_space > 0
                     THEN -(n_space * 1.0 / n) * ln(n_space * 1.0 / n)
                     ELSE 0 END)
             + (CASE WHEN n - n_alpha - n_digit - n_space > 0
                     THEN -((n - n_alpha - n_digit - n_space) * 1.0 / n)
                        * ln((n - n_alpha - n_digit - n_space) * 1.0 / n)
                     ELSE 0 END) AS ent
        FROM c
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(CAST(SUM(CAST(ent AS DECIMAL(38,18))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_ent,
           ROUND(MIN(ent), 6) AS min_ent,
           ROUND(MAX(ent), 6) AS max_ent
    FROM e
    GROUP BY source
    ORDER BY source
    """,
    doc="character-class entropy per document (classes: [a-z], [0-9], "
    "whitespace, other over the lowercased text), aggregated per source — "
    "the cheap quality gate that flags binary junk (high 'other' mass), "
    "whitespace bombs, and digit dumps without tokenizing. Class counts "
    "come from length-after-regexp_replace deltas: pure JVM built-ins, "
    "zero shuffle until the per-source aggregate, no UDF, no explode (the "
    "per-CHARACTER explode a naive entropy takes would be corpus x "
    "doc-length rows). Order-dependent double sum routed through "
    "DECIMAL(38,18) (exact, commutative); MIN/MAX are order-free; all "
    "displayed doubles ROUND()ed. 100 TB: one narrow scan + one "
    "|sources|-key shuffle with map-side partials",
    tags=("E5", "B22", "B24"),
)
def q142(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents").filter(F.length("text") > 0)
    norm = F.lower(F.col("text"))
    n = F.length(norm)
    n_alpha = n - F.length(F.regexp_replace(norm, "[a-z]", ""))
    n_digit = n - F.length(F.regexp_replace(norm, "[0-9]", ""))
    # explicit RE2-identical whitespace class: Java \s also matches \x0B,
    # the oracle's RE2 \s does not (text.WS_CLASS note)
    n_space = n - F.length(F.regexp_replace(norm, "[ \\t\\n\\f\\r]", ""))
    c = d.select(
        "source",
        n.alias("n"),
        n_alpha.alias("n_alpha"),
        n_digit.alias("n_digit"),
        n_space.alias("n_space"),
    )

    def term(cnt):  # -(c/n) ln(c/n) for c > 0, else 0
        frac = cnt * 1.0 / F.col("n")
        return F.when(cnt > 0, -frac * F.log(frac)).otherwise(F.lit(0.0))

    other = F.col("n") - F.col("n_alpha") - F.col("n_digit") - F.col("n_space")
    ent = (
        term(F.col("n_alpha"))
        + term(F.col("n_digit"))
        + term(F.col("n_space"))
        + term(other)
    )
    e = c.select("source", ent.alias("ent"))
    return (
        e.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.round(
                F.sum(F.col("ent").cast("decimal(38,18)")).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_ent"),
            F.round(F.min("ent"), 6).alias("min_ent"),
            F.round(F.max("ent"), 6).alias("max_ent"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q143 — Z-order vs linear layout audit (data-skipping span audit)
# --------------------------------------------------------------------------
#: bits per dimension (256 buckets); z in [0, 4^BITS)
_BITS = 8
#: number of file-sized chunks the audit splits each layout into
_CHUNKS = 64


def _z_terms(fmt: str) -> str:
    """Sum-of-terms bit interleave: fmt has {col}, {i}, {w} placeholders."""
    terms = []
    for i in range(_BITS):
        terms.append(fmt.format(col="bx", i=i, w=1 << (2 * i)))
        terms.append(fmt.format(col="by", i=i, w=1 << (2 * i + 1)))
    return " + ".join(terms)


#: DuckDB and Spark SQL both have >> and & on integers; identical arithmetic
_Z_SQL = _z_terms("((({col} >> {i}) & 1) * {w})")


@register(
    "q143_zorder_layout",
    oracle=f"""
    WITH bounds AS (
        SELECT MIN(l_partkey) AS mnp, MAX(l_partkey) AS mxp,
               MIN(l_suppkey) AS mns, MAX(l_suppkey) AS mxs
        FROM lineitem
    ),
    b AS (
        -- FLOOR + integer //: DuckDB's / is float division and its
        -- float->INT CAST rounds; Spark's int cast truncates. FLOOR (and
        -- // for the chunk id) makes both engines take the floor.
        SELECT CAST(FLOOR(((l_partkey - mnp) * {1 << _BITS})
                          / (mxp - mnp + 1)) AS INT) AS bx,
               CAST(FLOOR(((l_suppkey - mns) * {1 << _BITS})
                          / (mxs - mns + 1)) AS INT) AS by
        FROM lineitem CROSS JOIN bounds
    ),
    z AS (SELECT bx, by, {_Z_SQL} AS zv FROM b),
    chunks AS (
        SELECT 'zorder' AS layout, zv // {(4 ** _BITS) // _CHUNKS} AS chunk,
               MAX(bx) - MIN(bx) + 1 AS span_x,
               MAX(by) - MIN(by) + 1 AS span_y
        FROM z GROUP BY 1, 2
        UNION ALL
        SELECT 'linear' AS layout, bx // {(2 ** _BITS) // _CHUNKS} AS chunk,
               MAX(bx) - MIN(bx) + 1 AS span_x,
               MAX(by) - MIN(by) + 1 AS span_y
        FROM b GROUP BY 1, 2
    )
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           ROUND(SUM(span_x) * 1.0 / (COUNT(*) * {1 << _BITS}), 6)
               AS avg_frac_x,
           ROUND(SUM(span_y) * 1.0 / (COUNT(*) * {1 << _BITS}), 6)
               AS avg_frac_y
    FROM chunks
    GROUP BY layout
    ORDER BY layout
    """,
    doc="the number that justifies a table layout: bucket (l_partkey, "
    "l_suppkey) to 8 bits each, split the table into 64 file-sized chunks "
    "two ways — sorted by the interleaved Z-order value vs sorted by "
    "partkey alone — and report each layout's average per-chunk min/max "
    "span fraction per dimension. Linear layout: near-zero partkey span "
    "but FULL suppkey span per chunk (predicates on suppkey prune "
    "nothing); Z-order bounds BOTH (~sqrt decay per doubling), which is "
    "why you Z-order 100 TB parquet for multi-column min/max skipping "
    "(Morton curve; same layout argument as Delta/Iceberg OPTIMIZE "
    "ZORDER). The interleave is pure integer bit arithmetic (identical "
    "sum-of-terms expression both engines, generated from one template); "
    "chunk ids come from integer division of the z-value — contiguous "
    "z-ranges, so no global sort and no window is ever planned; spans are "
    "exact integer MIN/MAX. Two |chunks|-key shuffles with map-side "
    "partials; the bounds row is a bounded broadcast",
    tags=("B11", "B24"),
)
def q143(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem").select("l_partkey", "l_suppkey")
    bounds = li.agg(
        F.min("l_partkey").alias("mnp"),
        F.max("l_partkey").alias("mxp"),
        F.min("l_suppkey").alias("mns"),
        F.max("l_suppkey").alias("mxs"),
    )
    nb = 1 << _BITS
    b = li.crossJoin(F.broadcast(bounds)).select(
        F.floor(
            (F.col("l_partkey") - F.col("mnp")) * nb / (F.col("mxp") - F.col("mnp") + 1)
        )
        .cast("int")
        .alias("bx"),
        F.floor(
            (F.col("l_suppkey") - F.col("mns")) * nb / (F.col("mxs") - F.col("mns") + 1)
        )
        .cast("int")
        .alias("by"),
    )
    z = b.withColumn(
        "zv", F.expr(_z_terms("((shiftright({col}, {i}) & 1) * {w})"))
    )
    zchunks = (
        z.groupBy(
            F.floor(F.col("zv") / ((4**_BITS) // _CHUNKS)).cast("int").alias("chunk")
        )
        .agg(
            (F.max("bx") - F.min("bx") + 1).alias("span_x"),
            (F.max("by") - F.min("by") + 1).alias("span_y"),
        )
        .withColumn("layout", F.lit("zorder"))
    )
    lchunks = (
        b.groupBy(
            F.floor(F.col("bx") / ((2**_BITS) // _CHUNKS)).cast("int").alias("chunk")
        )
        .agg(
            (F.max("bx") - F.min("bx") + 1).alias("span_x"),
            (F.max("by") - F.min("by") + 1).alias("span_y"),
        )
        .withColumn("layout", F.lit("linear"))
    )
    chunks = zchunks.unionByName(lchunks)
    return (
        chunks.groupBy("layout")
        .agg(
            F.count("*").cast("bigint").alias("n_chunks"),
            F.round(F.sum("span_x") * 1.0 / (F.count("*") * nb), 6).alias(
                "avg_frac_x"
            ),
            F.round(F.sum("span_y") * 1.0 / (F.count("*") * nb), 6).alias(
                "avg_frac_y"
            ),
        )
        .orderBy("layout")
    )


# --------------------------------------------------------------------------
# q145 — robust statistics: winsorized mean + MAD (outlier-proof moments)
# --------------------------------------------------------------------------
@register(
    "q145_robust_stats",
    oracle="""
    WITH base AS (
        SELECT l_returnflag,
               CAST(EXTRACT(year FROM l_shipdate) AS INT) AS ship_year,
               l_extendedprice
        FROM lineitem
    ),
    q AS (
        SELECT l_returnflag, ship_year,
               CAST(COUNT(*) AS BIGINT) AS n,
               percentile_disc(0.05) WITHIN GROUP (ORDER BY l_extendedprice)
                   AS p05,
               percentile_disc(0.95) WITHIN GROUP (ORDER BY l_extendedprice)
                   AS p95,
               percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)
                   AS med
        FROM base GROUP BY l_returnflag, ship_year
    )
    SELECT l.l_returnflag, l.ship_year, q.n, q.p05, q.p95, q.med,
           ROUND(CAST(SUM(CAST(greatest(q.p05, least(q.p95,
                     l.l_extendedprice)) AS DECIMAL(38,18))) AS DOUBLE)
                 / COUNT(*), 4) AS win_mean,
           percentile_disc(0.5) WITHIN GROUP (
               ORDER BY abs(l.l_extendedprice - q.med)) AS mad
    FROM base l JOIN q
      ON l.l_returnflag = q.l_returnflag AND l.ship_year = q.ship_year
    GROUP BY l.l_returnflag, l.ship_year, q.n, q.p05, q.p95, q.med
    ORDER BY l.l_returnflag, l.ship_year
    """,
    doc="outlier-proof per-group moments: 5/95 winsorized mean and the "
    "median absolute deviation of extended price per return flag — the "
    "robust complement to q115's mean/sigma z-scores (one fat-fingered "
    "price corrupts a mean; it moves a winsorized mean and a MAD almost "
    "nothing). The exact quantiles are banded running-count SELECTIONS "
    "(operators/stats.robust_stats): pick the smallest stored value "
    "whose exact running count clears the integer percentile_disc "
    "gate (cw*den >= num*n, the integer form of cume_dist >= p), with "
    "running counts built by the two-level banded window from "
    "operators/weighted.py, so NO aggregate ever buffers group members "
    "and parallelism is |groups| x |bands| (round-7 rewrite of the "
    "percentile_disc buffering plan: 3.5 -> ~1.8 s warm at sf0.1, and "
    "the ~10^8-row-group ceiling is gone; collapse_values=False here "
    "because extended prices are near-unique — the default "
    "(group, value, count) collapse is the duplicate-heavy-corpus "
    "route). The winsorized sum stays a "
    "plain hash aggregate over the raw rows through DECIMAL(38,18); "
    "|x - med| is exact IEEE subtraction with the same multiplicities, "
    "so the MAD is the same banded selection re-run. 100 TB: two scans, "
    "every shuffle keyed on the group, per-task state one band of "
    "DISTINCT values; approx_percentile's mergeable GK sketch remains "
    "the coded screening variant (exact=False, tolerance-tested) when "
    "even the distinct-value frame is too hot",
    tags=("B11", "B24"),
)
def q145(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.stats import robust_stats

    li = load(spark, sf, "lineitem").select(
        "l_returnflag",
        F.year("l_shipdate").cast("int").alias("ship_year"),
        "l_extendedprice",
    )
    # band_width 512 over the [~900, ~105k] price domain -> ~200 bands x
    # 21 groups of broadcast offsets, plan fully lazy (no AUTO min/max job).
    # collapse_values=False: extended prices are near-unique (599,203
    # distinct of 600,000 rows at sf0.1), so the (group, value, count)
    # collapse would shuffle full-width for no dedup.
    # bounded_groups: returnflag x ship_year is a few dozen keys, so the
    # stats/offset frames are attested metadata-sized and broadcast-hinted.
    return robust_stats(
        li,
        ["l_returnflag", "ship_year"],
        "l_extendedprice",
        exact=True,
        band_width=512.0,
        collapse_values=False,
        bounded_groups=True,
    )
