"""Statistical / vector / graph analytics tier (rounds 5-8).

Twenty-nine declared queries (q106-q185) extending SURVEY §2.2/§2.4 with
the analytics a curation stack runs NEXT TO the relational core. The
round-5 base: single-pass statistical moments (B11/B24 companions),
equi-width histograms, time-weighted averages, corpus collocation mining
(E5), embedding-column maintenance (E3/E4 companions: centroids +
quantization audit), link-analysis PageRank over a contracted graph (the
source-quality scoring signal), Markov transition matrices over event
sequences, df-gated inverted-index construction, z-score standardization
with an outlier audit, and a salted shuffle join (the skew tier's join
half, q101's aggregate being the other). Later rounds added the bloom
gate (q119), the co-purchase graph pair q120 triangles / q132 k-core,
sequence analytics (q126 interpolation, q128 drawdown, q129 SCD2, q131
session paths, q133 CUSUM), retrieval fusion (q130 RRF, q135 boolean),
grouped OLS (q168 single-feature, q173 normal equations), embedding
covariance (q127), and the drift-statistics tier (q182 bootstrap, q183
rank-sum, q184 KS, q185 transition-matrix drift).

Every query carries a full DuckDB hash oracle. Cross-engine float
discipline (same rules as the rest of the corpus): exact integer counts;
double expressions evaluated on identical inputs with identical operation
trees; order-dependent double SUMS routed through per-term
``DECIMAL(38,*)`` casts (exact, commutative) — outputs rounded only to
absorb the documented last-ulp sources (``ln``/``sqrt``/libm vs JVM).

Reference parity note: f-squirrel/mrcond is a CDC connector with no batch
surface (SURVEY §1); this module belongs to the mandated north-star
extension, same as queries/llm.py and queries/assembly.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..operators.graph import pagerank
from ..operators.text import pmi_collocations
from ..operators.timeseries import time_weighted_average
from ..operators.vector import embedding_centroids, quantize_embeddings
from . import register


# --------------------------------------------------------------------------
# single-pass statistical moments (B11/B24 companion)
# --------------------------------------------------------------------------
@register(
    "q106_stats_moments",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
           ROUND(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qp,
           ROUND(stddev_samp(l_extendedprice), 4) AS sd_price,
           ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS slope_pq,
           ROUND(regr_intercept(l_extendedprice, l_quantity), 2) AS icept_pq
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    doc="correlation / covariance / stddev / least-squares regression per "
    "return flag — all algebraic co-moment aggregates, so Spark computes "
    "them in ONE partial->final hash aggregate pass (no second scan, no "
    "window). 100 TB: map-side partials bound every reducer at "
    "|groups| x constant; co-moment merge order varies by partitioning, so "
    "outputs are rounded to absorb last-ulp drift (both engines run the "
    "same Welford-style single-pass update)",
    tags=("B11", "B24"),
)
def q106(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qp"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("covar_qp"),
            F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
            F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope_pq"),
            F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 2).alias("icept_pq"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# per-group embedding centroids (E3/E4 companion)
# --------------------------------------------------------------------------
@register(
    "q107_embedding_centroids",
    oracle="""
    WITH el AS (
        SELECT label,
               CAST(unnest(embedding) AS DOUBLE) AS v,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings
    ), per_dim AS (
        SELECT label, pos,
               CAST(SUM(CAST(v AS DECIMAL(38,30))) AS DOUBLE) / COUNT(*) AS a,
               COUNT(*) AS n
        FROM el GROUP BY label, pos
    )
    SELECT label,
           CAST(MAX(n) AS BIGINT) AS n_vecs,
           ROUND(SQRT(CAST(SUM(CAST(a * a AS DECIMAL(38,30))) AS DOUBLE)), 6) AS c_norm,
           ROUND(MAX(CASE WHEN pos = 1 THEN a END), 6) AS c_d0,
           ROUND(MAX(CASE WHEN pos = 17 THEN a END), 6) AS c_d16,
           ROUND(MAX(CASE WHEN pos = 33 THEN a END), 6) AS c_d32,
           ROUND(MAX(CASE WHEN pos = 49 THEN a END), 6) AS c_d48
    FROM per_dim GROUP BY label ORDER BY label
    """,
    doc="per-label centroid of the embedding column "
    "(`operators/vector.embedding_centroids`): posexplode is narrow; the "
    "one data-sized shuffle is the (label, pos) hash aggregate whose "
    "map-side partials collapse each partition to |labels| x dims rows — "
    "hot labels cannot skew reducers. Averages go through exact "
    "DECIMAL(38,30) sums (order-independent) so the centroid, its L2 norm "
    "(decimal-fold of squares), and the probed dimensions hash-match the "
    "oracle bit-for-bit",
    tags=("E3", "E4", "B26"),
)
def q107(spark: SparkSession, sf: str) -> DataFrame:
    emb = load(spark, sf, "embeddings")
    cent = embedding_centroids(emb, group_col="label", vec_col="embedding")
    dec0 = F.lit(0).cast("decimal(38,30)")
    # accumulator re-cast per step: Spark's decimal addition caps at
    # precision 38 by dropping a scale digit; the reintroduced per-step
    # rounding (<= 64e-29) is far below the 6-dp display rounding
    norm = F.sqrt(
        F.aggregate(
            F.col("centroid"),
            dec0,
            lambda acc, a: (acc + (a * a).cast("decimal(38,30)")).cast("decimal(38,30)"),
        ).cast("double")
    )
    return cent.select(
        "label",
        "n_vecs",
        F.round(norm, 6).alias("c_norm"),
        F.round(F.element_at("centroid", 1), 6).alias("c_d0"),
        F.round(F.element_at("centroid", 17), 6).alias("c_d16"),
        F.round(F.element_at("centroid", 33), 6).alias("c_d32"),
        F.round(F.element_at("centroid", 49), 6).alias("c_d48"),
    ).orderBy("label")


# --------------------------------------------------------------------------
# PMI collocations (E5)
# --------------------------------------------------------------------------
@register(
    "q108_pmi_collocations",
    oracle=r"""
    WITH tok AS (
        SELECT doc_id, unnest(l) AS w, generate_subscripts(l, 1) AS pos
        FROM (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(trim(text)), '\s+'),
                               x -> x <> '') AS l
            FROM documents
        )
    ), pairs AS (
        SELECT a.w AS w1, b.w AS w2
        FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    ), pc AS (
        SELECT w1, w2, COUNT(*) AS c_pair FROM pairs GROUP BY w1, w2
    ), uc AS (
        SELECT w, COUNT(*) AS c_w FROM tok GROUP BY w
    ), tot AS (
        SELECT (SELECT COUNT(*) FROM pairs) AS n_pairs,
               (SELECT COUNT(*) FROM tok) AS n_toks
    )
    SELECT w1, w2, CAST(c_pair AS BIGINT) AS c_pair,
           ROUND(LN((CAST(c_pair AS DOUBLE) * n_toks * n_toks)
                    / (CAST(n_pairs AS DOUBLE) * u1.c_w * u2.c_w)), 6) AS pmi6
    FROM pc
    JOIN uc u1 ON pc.w1 = u1.w
    JOIN uc u2 ON pc.w2 = u2.w
    CROSS JOIN tot
    WHERE c_pair >= 5
    ORDER BY pmi6 DESC, w1, w2
    LIMIT 20
    """,
    doc="top-20 adjacent-bigram collocations by pointwise mutual "
    "information (`operators/text.pmi_collocations`) — the phrase-mining "
    "signal tokenizer training runs corpus-wide. Tokenize + pair expansion "
    "are narrow JVM expressions; three hash aggregates (pair counts with "
    "map-side partials, vocab-sized unigram counts, scalar totals riding a "
    "broadcast) and two single-key joins against the vocab table. Counts "
    "are exact integers; the one float expression uses an identical "
    "operation tree in both engines (ln differs by <= 1 ulp -> round 6); "
    "the (pmi6 DESC, w1, w2) total order makes the LIMIT deterministic",
    tags=("E5", "B18"),
)
def q108(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    out = pmi_collocations(docs, text_col="text", min_count=5)
    return (
        out.select("w1", "w2", "c_pair", F.round("pmi", 6).alias("pmi6"))
        .orderBy(F.col("pmi6").desc(), "w1", "w2")
        .limit(20)
    )


# --------------------------------------------------------------------------
# equi-width histogram via width_bucket (B24/B25 companion)
# --------------------------------------------------------------------------
@register(
    "q109_acctbal_histogram",
    oracle="""
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           MIN(c_acctbal) AS min_bal,
           MAX(c_acctbal) AS max_bal
    FROM (
        SELECT c_acctbal,
               CASE WHEN c_acctbal < -1000.0 THEN 0
                    WHEN c_acctbal >= 10000.0 THEN 12
                    ELSE 1 + CAST(FLOOR((c_acctbal - (-1000.0)) / 1000.0) AS BIGINT)
               END AS bucket
        FROM customer
    )
    GROUP BY bucket ORDER BY bucket
    """,
    doc="11-bucket equi-width histogram of customer balances via Spark's "
    "width_bucket built-in (bounds chosen so the bucket width is the exact "
    "double 1000.0 — the oracle's floor-arithmetic emulation is then "
    "bit-identical; DuckDB has no width_bucket). Single partial-agg "
    "shuffle on a bounded key; min/max are order-independent so the raw "
    "doubles hash-match unrounded",
    tags=("B24", "B25", "B11"),
)
def q109(spark: SparkSession, sf: str) -> DataFrame:
    cust = load(spark, sf, "customer")
    return (
        cust.select(
            "c_acctbal",
            F.width_bucket("c_acctbal", F.lit(-1000.0), F.lit(10000.0), F.lit(11)).alias(
                "bucket"
            ),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            F.min("c_acctbal").alias("min_bal"),
            F.max("c_acctbal").alias("max_bal"),
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# time-weighted average (B16/B23 companion; q102 OHLC's sibling)
# --------------------------------------------------------------------------
@register(
    "q110_twap",
    oracle="""
    WITH seg AS (
        SELECT user_id, value,
               LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 - epoch_us(ts) AS dt_us
        FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           ROUND(CAST(SUM(CAST(value * dt_us AS DECIMAL(38,18))) AS DOUBLE)
                 / SUM(dt_us), 6) AS twap
    FROM seg WHERE dt_us IS NOT NULL
    GROUP BY user_id ORDER BY user_id
    """,
    doc="per-user time-weighted average of the event value "
    "(`operators/timeseries.time_weighted_average`): each value held until "
    "the next event, weighted by exact integer microseconds. ONE shuffle "
    "on the high-cardinality user key for the lead window; the downstream "
    "hash agg reuses that partitioning (no second exchange). Each "
    "value*dt product is an identical double in both engines; the sum "
    "runs through per-term DECIMAL(38,18) casts so the quotient is "
    "bit-stable before the 6-dp display rounding",
    tags=("B16", "B23", "B11"),
)
def q110(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events")
    out = time_weighted_average(
        ev, key_col="user_id", ts_col="ts", value_col="value", tiebreak_col="event_id"
    )
    return out.select(
        "user_id", "n_intervals", F.round("twap", 6).alias("twap")
    ).orderBy("user_id")


# --------------------------------------------------------------------------
# int8 scalar-quantization audit (E3/E4 companion)
# --------------------------------------------------------------------------
@register(
    "q111_vector_quantize",
    oracle="""
    WITH el AS (
        SELECT vec_id,
               CAST(list_min(embedding) AS DOUBLE) AS mn,
               (CAST(list_max(embedding) AS DOUBLE)
                - CAST(list_min(embedding) AS DOUBLE)) / 255.0 AS scale,
               len(embedding) AS n,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ), err AS (
        SELECT vec_id, n,
               CASE WHEN scale = 0 THEN 0.0
                    ELSE v - (mn + ROUND((v - mn) / scale, 0) * scale)
               END AS e
        FROM el
    )
    SELECT vec_id,
           ROUND(SQRT(CAST(SUM(CAST(e * e AS DECIMAL(38,30))) AS DOUBLE) / MAX(n)), 9)
             AS rmse9,
           ROUND(MAX(ABS(e)), 9) AS max_err9
    FROM err GROUP BY vec_id ORDER BY vec_id
    """,
    doc="per-vector int8 scalar-quantization reconstruction audit "
    "(`operators/vector.quantize_embeddings`): the storage-shrink decision "
    "data (4x smaller vectors) an embedding store makes needs exactly this "
    "error distribution. Spark side is entirely NARROW — array min/max/"
    "transform/decimal-fold in whole-stage codegen, zero shuffles (the "
    "oracle unnests; decimal sums are order-independent so both routes "
    "agree exactly; sqrt/display rounded to 9 dp)",
    tags=("E3", "E4", "B26"),
)
def q111(spark: SparkSession, sf: str) -> DataFrame:
    emb = load(spark, sf, "embeddings")
    out = quantize_embeddings(emb, vec_col="embedding", levels=255)
    return out.select(
        "vec_id",
        F.round("q_rmse", 9).alias("rmse9"),
        F.round("q_max_abs_err", 9).alias("max_err9"),
    ).orderBy("vec_id")


# --------------------------------------------------------------------------
# weighted PageRank over the contracted supply graph (graph tier)
# --------------------------------------------------------------------------
@register(
    "q112_nation_pagerank",
    oracle="""
    WITH e AS (
        SELECT s.s_nationkey AS u, c.c_nationkey AS v, CAST(COUNT(*) AS DOUBLE) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2
    ), nodes AS (
        SELECT u AS node FROM e UNION SELECT v FROM e
    ), params AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes
    ), outw AS (
        SELECT u, SUM(w) AS out_w FROM e GROUP BY u
    ), share AS (
        SELECT e.u, e.v, e.w / o.out_w AS share FROM e JOIN outw o ON e.u = o.u
    ), r0 AS (
        SELECT node, 1.0 / p.n AS rank FROM nodes CROSS JOIN params p
    ), r1 AS (
        SELECT nd.node,
               ((1.0 - 0.85) / p.n)
                 + 0.85 * COALESCE(CAST(t.in_sum AS DOUBLE), 0.0) AS rank
        FROM nodes nd CROSS JOIN params p
        LEFT JOIN (
            SELECT s.v AS node, SUM(CAST(r.rank * s.share AS DECIMAL(38,30))) AS in_sum
            FROM share s JOIN r0 r ON s.u = r.node GROUP BY s.v
        ) t ON nd.node = t.node
    ), r2 AS (
        SELECT nd.node,
               ((1.0 - 0.85) / p.n)
                 + 0.85 * COALESCE(CAST(t.in_sum AS DOUBLE), 0.0) AS rank
        FROM nodes nd CROSS JOIN params p
        LEFT JOIN (
            SELECT s.v AS node, SUM(CAST(r.rank * s.share AS DECIMAL(38,30))) AS in_sum
            FROM share s JOIN r1 r ON s.u = r.node GROUP BY s.v
        ) t ON nd.node = t.node
    ), r3 AS (
        SELECT nd.node,
               ((1.0 - 0.85) / p.n)
                 + 0.85 * COALESCE(CAST(t.in_sum AS DOUBLE), 0.0) AS rank
        FROM nodes nd CROSS JOIN params p
        LEFT JOIN (
            SELECT s.v AS node, SUM(CAST(r.rank * s.share AS DECIMAL(38,30))) AS in_sum
            FROM share s JOIN r2 r ON s.u = r.node GROUP BY s.v
        ) t ON nd.node = t.node
    )
    SELECT r3.node AS nationkey, n.n_name, ROUND(r3.rank, 9) AS rank9
    FROM r3 JOIN nation n ON r3.node = n.n_nationkey
    ORDER BY nationkey
    """,
    doc="3-iteration weighted PageRank over the supplier-nation -> "
    "customer-nation trade graph (`operators/graph.pagerank`) — the "
    "source-quality link-analysis signal, run on a CONTRACTED graph the "
    "way a crawl scores domains (contract pages -> domains first, then "
    "iterate on the small graph). The data-sized work is the edge "
    "aggregation (three equi-joins + one hash agg, AQE-planned); each "
    "iteration is a join + agg on the node id with per-term "
    "DECIMAL(38,30) sums, so the fixed-iteration ranks are bit-identical "
    "to the oracle's unrolled CTEs. materialize_once per round keeps the "
    "iterative lineage flat (components-loop rule)",
    tags=("B4", "B11", "E5"),
)
def q112(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load(spark, sf, "orders").select("o_orderkey", "o_custkey")
    cust = load(spark, sf, "customer").select("c_custkey", "c_nationkey")
    supp = load(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    nation = load(spark, sf, "nation")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.count("*").cast("double").alias("w"))
    )
    ranks = pagerank(edges, src="src", dst="dst", weight="w", iterations=3, damping=0.85)
    return (
        ranks.join(F.broadcast(nation), ranks.node == nation.n_nationkey)
        .select(
            F.col("node").alias("nationkey"),
            "n_name",
            F.round("rank", 9).alias("rank9"),
        )
        .orderBy("nationkey")
    )


# --------------------------------------------------------------------------
# event-sequence Markov transition matrix (B15/B16 companion)
# --------------------------------------------------------------------------
@register(
    "q113_markov_transitions",
    oracle="""
    WITH seq AS (
        SELECT event_type AS cur,
               LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        FROM events
    ), pairs AS (
        SELECT cur, nxt FROM seq WHERE nxt IS NOT NULL
    )
    SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(FLOOR((10000.0 * COUNT(*)) / SUM(COUNT(*)) OVER (PARTITION BY cur))
                AS BIGINT) AS p_bp
    FROM pairs GROUP BY cur, nxt ORDER BY cur, nxt
    """,
    doc="per-user event-type transition matrix (the first-order Markov "
    "model a session/sequence feature pipeline estimates): lead() over "
    "each user's (ts, event_id)-ordered stream -> count per (cur, nxt) -> "
    "row-normalized transition probability in exact integer basis points. "
    "One shuffle on the high-cardinality user key for the lead window, one "
    "hash agg on the bounded (cur, nxt) pair key, and a window over the "
    "|event_types|-sized result — probabilities via floor(10000.0*n/total) "
    "on exact integers, so the output is engine-exact with no rounding "
    "tolerance at all. Sibling: q185 computes the same transition matrix "
    "with the corpus-preferred PURE-integer formulation ((10000*n) div "
    "total — no float anywhere) and a broadcast row-total join instead of "
    "this window; the pair is kept distinct deliberately, pinning BOTH "
    "basis-point idioms against their oracles (the float-floor boundary "
    "here is safe because 10000*n stays well under 2^53 exact-double "
    "range). Any change to transition semantics must land in both.",
    tags=("B15", "B16", "B11"),
)
def q113(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("cur"),
            F.lead("event_type").over(w).alias("nxt"),
        )
        .filter(F.col("nxt").isNotNull())
    )
    wc = Window.partitionBy("cur")
    return (
        pairs.groupBy("cur", "nxt")
        .agg(F.count("*").alias("cnt"))
        .select(
            "cur",
            "nxt",
            F.col("cnt").cast("bigint").alias("n"),
            F.floor((10000.0 * F.col("cnt")) / F.sum("cnt").over(wc))
            .cast("bigint")
            .alias("p_bp"),
        )
        .orderBy("cur", "nxt")
    )


# --------------------------------------------------------------------------
# inverted index with df-gated posting lists (E5 / IR surface)
# --------------------------------------------------------------------------
@register(
    "q114_inverted_index",
    oracle=r"""
    WITH tok AS (
        SELECT DISTINCT doc_id, token FROM (
            SELECT doc_id,
                   UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS token
            FROM documents
        ) WHERE token <> ''
    ), vocab AS (
        SELECT token, COUNT(*) AS df FROM tok GROUP BY token
        HAVING COUNT(*) BETWEEN 10 AND 100
    )
    SELECT v.token, CAST(v.df AS BIGINT) AS df,
           array_to_string(list_sort(list(t.doc_id))[1:5], ',') AS postings_head
    FROM vocab v JOIN tok t ON v.token = t.token
    GROUP BY v.token, v.df
    ORDER BY v.token
    """,
    doc="inverted-index build for mid-frequency terms (10 <= df <= 100): "
    "the retrieval-side structure a search / RAG corpus materializes. The "
    "SCALE-CRITICAL shape: document frequencies are computed FIRST (cheap "
    "count aggregate with map-side partials), the df gate shrinks the "
    "vocabulary, and only then are postings collected via a semi-filtering "
    "join — so no executor ever collect_list()s a stop-word's full posting "
    "list (the classic inverted-index OOM at 100 TB). Posting lists are "
    "sorted doc_id arrays; output shows df + the first-5 head, "
    "deterministic end to end",
    tags=("E5", "B11", "B26"),
)
def q114(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.text import tokens

    docs = load(spark, sf, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("token")
    )
    vocab = (
        tok.groupBy("token")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df").between(10, 100))
    )
    return (
        tok.join(vocab, "token")
        .groupBy("token", "df")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("postings"))
        .select(
            "token",
            F.col("df").cast("bigint").alias("df"),
            F.array_join(
                F.transform(F.slice("postings", 1, 5), lambda x: x.cast("string")), ","
            ).alias("postings_head"),
        )
        .orderBy("token")
    )


# --------------------------------------------------------------------------
# z-score standardization + outlier audit (B11/B24 companion)
# --------------------------------------------------------------------------
@register(
    "q115_zscore_outliers",
    oracle="""
    WITH s AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(value AS DECIMAL(28,12))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(value * value AS DECIMAL(38,18))) AS DOUBLE) AS s2
        FROM events GROUP BY event_type
    ), st AS (
        SELECT event_type, n, s1 / n AS mu,
               SQRT((s2 - n * (s1 / n) * (s1 / n)) / (n - 1.0)) AS sd
        FROM s
    )
    SELECT e.event_type,
           MAX(st.n) AS n_events,
           CAST(COUNT(CASE WHEN ABS((e.value - st.mu) / st.sd) > 3.0 THEN 1 END)
                AS BIGINT) AS n_outliers,
           ROUND(MAX(ABS((e.value - st.mu) / st.sd)), 4) AS max_abs_z
    FROM events e JOIN st ON e.event_type = st.event_type
    GROUP BY e.event_type ORDER BY e.event_type
    """,
    doc="z-score standardization with a 3-sigma outlier audit — the "
    "feature-normalization pass an ML data pipeline runs before training. "
    "Two scans only: moments (sum/sum-of-squares through exact DECIMAL "
    "casts -> mu and sd are bit-identical doubles in both engines; no "
    "Welford merge-order drift) then a z pass against the broadcast "
    "|event_types|-row stats table. Outlier counts are exact integers; "
    "max |z| rounds at 4 dp only for the sqrt ulp",
    tags=("B11", "B24", "B25"),
)
def q115(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.stats import moment_stats

    ev = load(spark, sf, "events")
    st = moment_stats(ev, ["event_type"], "value")
    z = F.abs((F.col("value") - F.col("mu")) / F.col("sd"))
    return (
        ev.join(F.broadcast(st), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").alias("n_events"),
            F.count(F.when(z > 3.0, F.lit(1))).cast("bigint").alias("n_outliers"),
            F.round(F.max(z), 4).alias("max_abs_z"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# salted shuffle join (skew tier companion to q101's salted aggregate)
# --------------------------------------------------------------------------
@register(
    "q116_salted_join",
    oracle="""
    WITH st AS (
        SELECT event_type,
               CAST(SUM(CAST(value AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS mu
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(COUNT(CASE WHEN e.value > st.mu THEN 1 END) AS BIGINT) AS n_above,
           CAST(COUNT(CASE WHEN e.value <= st.mu THEN 1 END) AS BIGINT) AS n_below
    FROM events e JOIN st ON e.event_type = st.event_type
    GROUP BY e.event_type ORDER BY e.event_type
    """,
    doc="skew-safe dimension join through `operators/skew.explode_salt`: "
    "the fact side's handful of mega-hot event types would funnel into "
    "single reducers in a plain shuffle join, so the dim is replicated "
    "across 32 salt values and the join key becomes (event_type, salt) — "
    "each hot key spreads over 32 reducers. The salt is a content hash of "
    "(event_type, event_id) (layout-independent, `content_salt`) and never "
    "reaches the result: output == the plain join exactly, so the query "
    "carries a full hash oracle (above/below-mean counts against the "
    "decimal-exact per-type mean). shuffle_hash hint pins the shuffled "
    "path — a broadcast would silently bypass the salt demo at test scale "
    "(at 100 TB a large dim forces the shuffle anyway)",
    tags=("B4", "B11"),
)
def q116(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.skew import explode_salt

    ev = load(spark, sf, "events").select("event_type", "event_id", "value")
    mu = ev.groupBy("event_type").agg(
        (F.sum(F.col("value").cast("decimal(28,12)")).cast("double") / F.count("*")).alias("mu")
    )
    salted_dim, fact_salt = explode_salt(
        mu, fact_cols=["event_type", "event_id"], salt_buckets=32
    )
    fact = ev.withColumn("__salt", fact_salt)
    return (
        fact.join(salted_dim.hint("shuffle_hash"), ["event_type", "__salt"])
        .groupBy("event_type")
        .agg(
            F.count(F.when(F.col("value") > F.col("mu"), F.lit(1)))
            .cast("bigint")
            .alias("n_above"),
            F.count(F.when(F.col("value") <= F.col("mu"), F.lit(1)))
            .cast("bigint")
            .alias("n_below"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Bloom-filter pre-join pruning (B3/B4 companion; operators/bloom.py)
# --------------------------------------------------------------------------
@register(
    "q119_bloom_prejoin",
    oracle="""
    SELECT CAST(strftime(o.o_orderdate, '%Y-%m') AS VARCHAR) AS order_month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY 1 ORDER BY order_month
    """,
    doc="exact orders->customer join with the fact side pre-pruned by a "
    "DataFrame-native Bloom filter over the qualifying customer keys "
    "(`operators/bloom.bloom_prejoin`: k xxhash64 probes into a bit_or-"
    "aggregated bit array, embedded as a plan literal). The result is "
    "IDENTICAL to the plain join — false positives pass the Bloom and die "
    "in the join — so the query carries the plain-SQL hash oracle. 100 TB "
    "posture: when the dim's qualifying keys are too many to broadcast "
    "but the fact match fraction is small, the few-KB Bloom prunes the "
    "fact exchange BEFORE the shuffle (~80% here); the build collect is "
    "bounded metadata (num_bits/64 longs = 8 KiB). EAGER: the dim build "
    "job runs at construction (snapshot contract, same as prefix_sum)",
    tags=("B3", "B4"),
)
def q119(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.bloom import bloom_prejoin

    orders = load(spark, sf, "orders").select("o_custkey", "o_orderdate", "o_totalprice")
    cust = (
        load(spark, sf, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    joined = bloom_prejoin(orders, cust, "o_custkey", "c_custkey")
    return (
        joined.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("order_month"))
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("order_month")
    )


# --------------------------------------------------------------------------
# co-purchase graph triangle census (graph tier: q112 PageRank's sibling)
# --------------------------------------------------------------------------
#: shared co-purchase graph definition (q120 triangle census + q132 k-core):
#: parts are linked when co-purchased in the same order at least twice — the
#: support gate is THE shared knob; both queries must see the same graph.
COPURCHASE_SUPPORT = 2

#: AS MATERIALIZED matters: DuckDB INLINES a CTE into every reference site,
#: so a chain where each stage references the previous one twice (the k-core
#: rounds; the triangle join references edges three times) re-expands the
#: whole upstream tree per reference — 2^rounds copies of the quadratic
#: pair-gen for q132, which planned/ran for >400 s and spilled at sf0.1.
#: Materialized, the full q132 oracle runs in ~0.5 s on the same input.
COPURCHASE_EDGES_SQL = f"""items AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ), edges AS MATERIALIZED (
        SELECT a.pk AS u, b.pk AS v
        FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY a.pk, b.pk
        HAVING COUNT(*) >= {COPURCHASE_SUPPORT}
    )"""


def copurchase_edges(spark: SparkSession, sf: str) -> DataFrame:
    """Support-gated co-purchase edge list (u < v), shared by q120/q132."""
    items = (
        load(spark, sf, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    a, b = items.alias("a"), items.alias("b")
    return (
        a.join(b, (F.col("a.ok") == F.col("b.ok")) & (F.col("a.pk") < F.col("b.pk")))
        .groupBy(F.col("a.pk").alias("u"), F.col("b.pk").alias("v"))
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= COPURCHASE_SUPPORT)
        .select("u", "v")
    )


@register(
    "q120_copurchase_triangles",
    oracle="WITH " + COPURCHASE_EDGES_SQL + """, tri AS MATERIALIZED (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM edges e1
        JOIN edges e2 ON e1.v = e2.u
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    ), parts AS (
        SELECT a AS pk FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri
    )
    SELECT pk AS partkey, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM parts GROUP BY pk
    ORDER BY n_triangles DESC, partkey
    LIMIT 20
    """,
    doc="market-basket triangle census: parts are linked when co-purchased "
    "in the same order at least twice (support >= 2 prunes the quadratic "
    "pair explosion to the frequent co-occurrences — the standard "
    "support-threshold trick), triangles counted via the oriented "
    "three-way self-join (u<v ordering counts each triangle exactly once "
    "and halves every join input), output = top-20 parts by triangle "
    "participation. 100 TB: pair generation shuffles on orderkey "
    "(bounded per-order fan-out n*(n-1)/2 with n = items per order, "
    "single digits), the support HAVING runs as a partial-agged hash "
    "aggregate, and the triangle joins run on the PRUNED edge list "
    "shuffled by vertex — the degree-heavy vertices are exactly what the "
    "support threshold caps. The pruned edge list is materialized once "
    "(lazy localCheckpoint, eager=False: lineage truncates but the job "
    "runs inside the first action, so construction stays job-free — "
    "unlike the EAGER builders q77/q97/q119/q138) because three join "
    "branches consume it. All equi-joins; no cartesian anywhere",
    tags=("B4", "B11", "E5"),
)
def q120(spark: SparkSession, sf: str) -> DataFrame:
    # three join branches reference the edge pipeline; materialize it once
    # (scan -> distinct -> self-join -> support agg would otherwise run 3x).
    # Lazy: all three branches live in the single final job (q132 rule).
    from ..operators import materialize_once

    edges = materialize_once(copurchase_edges(spark, sf), eager=False)
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(e3, (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")))
        .select(F.col("e1.u").alias("a"), F.col("e1.v").alias("b"), F.col("e2.v").alias("c"))
    )
    # one pass over the triangle join: explode the 3 vertices per triangle
    # row (a 3-way unionAll of tri projections would re-run both triangle
    # join probes per branch — exchange reuse saves the shuffles, not the
    # probe work; the oracle materializes tri for the same reason).
    parts = tri.select(F.explode(F.array("a", "b", "c")).alias("pk"))
    return (
        parts.groupBy(F.col("pk").alias("partkey"))
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
        .select("partkey", "n_triangles")
        .orderBy(F.desc("n_triangles"), "partkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# time-series gap interpolation (B16 companion: q82 forward-fills, this
# interpolates — the two LOCF alternatives a feature pipeline chooses from)
# --------------------------------------------------------------------------
@register(
    "q126_linear_interpolation",
    oracle="""
    WITH base AS (
        SELECT event_id, user_id, epoch_us(ts) AS us, event_type, value,
               (event_type = 'purchase') AS anchor
        FROM events
    ), nb AS (
        SELECT event_id, user_id, us, anchor,
               last_value(CASE WHEN anchor THEN us END IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_us,
               last_value(CASE WHEN anchor THEN value END IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_val,
               first_value(CASE WHEN anchor THEN us END IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_us,
               first_value(CASE WHEN anchor THEN value END IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_val
        FROM base
    )
    SELECT event_id, user_id, CAST(us AS BIGINT) AS us,
           ROUND(prev_val + (next_val - prev_val)
                 * (CAST(us - prev_us AS DOUBLE) / CAST(next_us - prev_us AS DOUBLE)),
                 6) AS interp_value
    FROM nb
    WHERE NOT anchor AND prev_us IS NOT NULL AND next_us IS NOT NULL
          AND next_us > prev_us
    ORDER BY event_id
    """,
    doc="linear gap interpolation: estimate the 'purchase' value series at "
    "every non-anchor event time by interpolating between each user's "
    "surrounding anchor observations — q82's forward fill holds the last "
    "value flat; this weights the two neighbors by exact integer-"
    "microsecond distance (the sensor/price resampling primitive). ONE "
    "shuffle on the user key serves all four IGNORE-NULLS running frames "
    "(same window spec -> one Window exec pass); the fraction divides "
    "exact integer micros and the value arithmetic is a fixed double "
    "expression tree — identical in both engines, rounded at 6 dp for "
    "display. Rows before the first / after the last anchor (or in a "
    "zero-width gap) are excluded, not guessed. The following-anchor pair "
    "is computed via the DESC-ordered running-last trick, NOT an "
    "unbounded-FOLLOWING frame (O(n^2) per partition in Spark — a hot-key "
    "straggler; see the in-code note and PERF.md skew sweep)",
    tags=("B16", "B23"),
)
def q126(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load(spark, sf, "events")
    anchor = F.col("event_type") == "purchase"
    base = ev.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("us"),
        anchor.alias("anchor"),
        "value",
    )
    wp = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # The following-anchor leg deliberately avoids a (1, unboundedFollowing)
    # frame: Spark's UnboundedFollowing window frame re-aggregates the whole
    # remaining partition for EVERY row — O(n^2) per key partition. Uniform
    # keys (~70 events/user) hide it; one hot user owning 30% of the stream
    # turns the query into a single-core multi-hour straggler (measured on
    # the .skew corpus: 300k-row hot partition, killed at 12+ min vs 1-2 s
    # for every neighbor query). The reverse-scan trick below is the O(n)
    # equivalent: in (us, event_id) DESCENDING order, the nearest FOLLOWING
    # anchor becomes the running last-non-null over an unboundedPreceding
    # frame, which Spark evaluates incrementally. Same single user_id
    # shuffle; one extra in-partition sort.
    wn = (
        Window.partitionBy("user_id")
        .orderBy(F.col("us").desc(), F.col("event_id").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    a_us = F.when(F.col("anchor"), F.col("us"))
    a_val = F.when(F.col("anchor"), F.col("value"))
    nb = base.select(
        "event_id",
        "user_id",
        "us",
        "anchor",
        F.last(a_us, ignorenulls=True).over(wp).alias("prev_us"),
        F.last(a_val, ignorenulls=True).over(wp).alias("prev_val"),
        F.last(a_us, ignorenulls=True).over(wn).alias("next_us"),
        F.last(a_val, ignorenulls=True).over(wn).alias("next_val"),
    )
    return (
        nb.filter(
            (~F.col("anchor"))
            & F.col("prev_us").isNotNull()
            & F.col("next_us").isNotNull()
            & (F.col("next_us") > F.col("prev_us"))
        )
        .select(
            "event_id",
            "user_id",
            F.col("us").cast("bigint").alias("us"),
            F.round(
                F.col("prev_val")
                + (F.col("next_val") - F.col("prev_val"))
                * (
                    (F.col("us") - F.col("prev_us")).cast("double")
                    / (F.col("next_us") - F.col("prev_us")).cast("double")
                ),
                6,
            ).alias("interp_value"),
        )
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# embedding covariance matrix (E3/E4 companion: the one-pass moment matrix
# PCA / whitening / Mahalanobis all start from)
# --------------------------------------------------------------------------
@register(
    "q127_embedding_covariance",
    oracle="""
    WITH el AS (
        SELECT vec_id,
               unnest(list_transform(range(0, len(embedding)),
                      i -> {'i': i, 'v': CAST(embedding[i+1] AS DOUBLE)})) AS u
        FROM embeddings
    ), flat AS (
        SELECT vec_id, u.i AS i, u.v AS v FROM el
    ), n AS (
        SELECT COUNT(*) AS n FROM embeddings
    ), sums AS (
        SELECT i, SUM(CAST(v AS DECIMAL(38,25))) AS s FROM flat GROUP BY i
    ), prods AS (
        SELECT a.i AS i, b.i AS j,
               SUM(CAST(a.v * b.v AS DECIMAL(38,25))) AS sp
        FROM flat a JOIN flat b ON a.vec_id = b.vec_id AND b.i >= a.i
        GROUP BY a.i, b.i
    )
    SELECT p.i AS i, p.j AS j,
           ROUND(CAST(p.sp AS DOUBLE) / n.n
                 - (CAST(si.s AS DOUBLE) / n.n) * (CAST(sj.s AS DOUBLE) / n.n),
                 7) AS cov
    FROM prods p
    JOIN sums si ON p.i = si.i
    JOIN sums sj ON p.j = sj.i
    CROSS JOIN n
    ORDER BY i, j
    """,
    doc="embedding covariance matrix (upper triangle, population): ONE pass "
    "computes every E[v_i v_j] co-moment and the per-dimension sums; "
    "cov = E[xy] - E[x]E[y] assembles at the d^2-row stage. This is the "
    "moment matrix PCA / ZCA-whitening / Mahalanobis scoring start from, "
    "and `operators/vector.top_principal_component` power-iterates it "
    "driver-side (64x64 = bounded metadata). 100 TB: the expansion is "
    "NARROW (posexplode + per-row upper-triangle slice, no shuffle until "
    "the (i,j) aggregate — d(d+1)/2 = 2080 groups with map-side partials); "
    "per-term DECIMAL casts make both sums order-independent, so Spark "
    "and the oracle's all-pairs formulation agree exactly; display "
    "rounded at 7 dp. The numpy-batched `vector.gram_matrix` is the "
    "same aggregation with Arrow partials (for d in the thousands)",
    tags=("E3", "E4", "B26", "B11"),
)
def q127(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators import ensure_parallelism

    # The upper-triangle expansion is d(d+1)/2 = 2080 rows PER INPUT ROW
    # through the decimal partial aggregate — a heavy per-row stage that
    # must not inherit a single-split local scan (no-op on real
    # multi-split tables; DECIMAL sums are order-independent, so the
    # repartition cannot perturb the result).
    emb = ensure_parallelism(load(spark, sf, "embeddings"))
    flat = emb.select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "v")
    )
    n = emb.agg(F.count("*").alias("n"))
    sums = flat.groupBy("i").agg(F.sum(F.col("v").cast("decimal(38,25)")).alias("s"))
    base = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("e"),
    ).select("vec_id", F.posexplode("e").alias("i", "vi"), F.col("e"))
    pairs = base.select(
        "i",
        F.col("vi"),
        F.posexplode(F.slice("e", F.col("i") + 1, F.size("e") - F.col("i"))).alias(
            "dj", "vj"
        ),
    )
    prods = (
        pairs.select(
            "i",
            (F.col("i") + F.col("dj")).alias("j"),
            (F.col("vi") * F.col("vj")).cast("decimal(38,25)").alias("p"),
        )
        .groupBy("i", "j")
        .agg(F.sum("p").alias("sp"))
    )
    si = sums.select(F.col("i"), F.col("s").alias("s_i"))
    sj = sums.select(F.col("i").alias("j"), F.col("s").alias("s_j"))
    return (
        prods.join(F.broadcast(si), "i")
        .join(F.broadcast(sj), "j")
        .crossJoin(F.broadcast(n))
        .select(
            "i",
            "j",
            F.round(
                F.col("sp").cast("double") / F.col("n")
                - (F.col("s_i").cast("double") / F.col("n"))
                * (F.col("s_j").cast("double") / F.col("n")),
                7,
            ).alias("cov"),
        )
        .orderBy("i", "j")
    )


# --------------------------------------------------------------------------
# running-peak drawdown (B16 finance companion to q102 OHLC / q110 TWAP)
# --------------------------------------------------------------------------
@register(
    "q128_max_drawdown",
    oracle="""
    WITH run AS (
        SELECT user_id, value,
               max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS peak
        FROM events
    )
    SELECT user_id,
           ROUND(MAX(peak - value), 6) AS max_drawdown,
           ROUND(MAX(peak), 6) AS peak_value,
           CAST(COUNT(*) AS BIGINT) AS n_obs
    FROM run GROUP BY user_id ORDER BY user_id
    """,
    doc="per-user maximum drawdown: largest drop of the event-value series "
    "below its running peak (the risk metric OHLC bars and TWAP sit next "
    "to). A running MAX then a hash aggregate — no sums at all, so every "
    "number is an exact comparison result and the only rounding is "
    "display. ONE shuffle on the user key; the aggregate reuses the "
    "window's partitioning (no second exchange). The running max frame "
    "is the streaming-safe formulation: at 100 TB the same metric runs "
    "incrementally as a stateful stream (peak carried as state)",
    tags=("B16", "B11"),
)
def q128(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = ev.select(
        "user_id", "value", F.max("value").over(w).alias("peak")
    )
    return (
        run.groupBy("user_id")
        .agg(
            F.round(F.max(F.col("peak") - F.col("value")), 6).alias("max_drawdown"),
            F.round(F.max("peak"), 6).alias("peak_value"),
            F.count("*").cast("bigint").alias("n_obs"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# session path analysis (q63 sessionization -> q113 transitions' sibling:
# whole-journey frequencies instead of one-step probabilities)
# --------------------------------------------------------------------------
@register(
    "q131_session_paths",
    oracle="""
    WITH lagged AS (
        SELECT user_id, ts, event_id, event_type,
               LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events
    ), flagged AS (
        SELECT *, CASE WHEN prev IS NULL
                        OR epoch_us(ts) - epoch_us(prev) > 3600000000
                       THEN 1 ELSE 0 END AS is_new
        FROM lagged
    ), sess AS (
        SELECT *, SUM(is_new) OVER (
            PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING
        ) AS session_seq
        FROM flagged
    ), paths AS (
        SELECT user_id, session_seq,
               string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        FROM sess GROUP BY user_id, session_seq
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path LIMIT 20
    """,
    doc="top user-journey paths: gap-sessionize (1h, the q63 idiom), "
    "concatenate each session's ordered event types into a path string, "
    "count identical journeys corpus-wide, keep the 20 most common — the "
    "product-analytics view next to q113's one-step Markov transitions "
    "(whole journeys vs memoryless steps). ONE user-key shuffle serves "
    "lag + running-sum + path assembly (same partitioning); the path "
    "count is a second shuffle whose keys are bounded by distinct "
    "journey strings with map-side partials; top-20 has a total "
    "(count DESC, path) tiebreak. At 100 TB add a path-length cap "
    "before assembly so a runaway session cannot build an unbounded "
    "string (the q85 chunking guard)",
    tags=("B15", "B16", "B23", "B18"),
)
def q131(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.sessionize import sessionize

    ev = load(spark, sf, "events").select("user_id", "ts", "event_id", "event_type")
    sess = sessionize(
        ev, key_col="user_id", ts_col="ts", order_cols=("event_id",), gap_seconds=3600
    )
    paths = sess.groupBy("user_id", "session_seq").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").cast("bigint").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(20)
    )


# --------------------------------------------------------------------------
# k-core decomposition over the co-purchase graph (graph tier: q112
# PageRank scores influence, q120 counts triangles, this finds the dense
# backbone that survives iterative pruning)
# --------------------------------------------------------------------------
KCORE_K = 2
KCORE_ROUNDS = 6  # converges in 3 (sf0.01) / 5 (sf0.1) peels; 6 adds margin


def _kcore_oracle(k: int, rounds: int) -> str:
    # every chain CTE MATERIALIZED: each round references the previous
    # round's survivor set twice, so DuckDB's reference-site inlining would
    # otherwise re-expand the upstream tree 2^rounds times (see the
    # COPURCHASE_EDGES_SQL note — the >400 s / temp-spill failure mode of
    # the round-7 sf0.1 sweep; materialized it runs in ~0.5 s)
    head = "\n    WITH " + COPURCHASE_EDGES_SQL + """, adj AS MATERIALIZED (
        SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges
    ), a0 AS MATERIALIZED (
        SELECT DISTINCT u AS node FROM adj
    )"""
    stages = []
    for r in range(1, rounds + 1):
        stages.append(f""", d{r} AS MATERIALIZED (
        SELECT adj.u AS node, COUNT(*) AS deg
        FROM adj
        JOIN a{r - 1} x ON adj.u = x.node
        JOIN a{r - 1} y ON adj.v = y.node
        GROUP BY adj.u
    ), a{r} AS MATERIALIZED (
        SELECT node FROM d{r} WHERE deg >= {k}
    )""")
    tail = f""", dfin AS (
        SELECT adj.u AS node, COUNT(*) AS deg
        FROM adj
        JOIN a{rounds} x ON adj.u = x.node
        JOIN a{rounds} y ON adj.v = y.node
        GROUP BY adj.u
    )
    SELECT node AS partkey, CAST(deg AS BIGINT) AS core_degree
    FROM dfin ORDER BY partkey"""
    return head + "".join(stages) + tail


@register(
    "q132_kcore",
    oracle=_kcore_oracle(KCORE_K, KCORE_ROUNDS),
    doc=f"{KCORE_ROUNDS}-round {KCORE_K}-core peel of the support-gated "
    "co-purchase graph (q120's edge list): repeatedly drop vertices whose "
    "degree among survivors falls below k — the dense backbone left is "
    "where basket-recommendation signals live. Declared semantics are the "
    "FIXED-round peel (integer-exact, oracle = unrolled CTE stages; the "
    "peel converges in 3-5 rounds at test scales so the result IS the "
    "true 2-core there); production runs to fixpoint with the "
    "components-loop idiom — per-round materialize_once keeps lineage "
    "flat, a monotone survivor-count fixpoint scalar stops the loop. "
    "100 TB: each round is one vertex-keyed degree aggregate over the "
    "support-pruned edge list (two semi joins + hash agg, map-side "
    "partials); the support gate caps hot vertices before any round runs",
    tags=("B4", "B11", "E5"),
)
def q132(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators import materialize_once

    edges = copurchase_edges(spark, sf)
    # lazy materialization: the fixed-round peel has NO mid-loop action, so
    # eager per-round checkpoints would just pay 7 construction-time job
    # floors; eager=False still truncates lineage (no 2^rounds subtree
    # blow-up) but computes everything inside the single final job
    # (measured 4.38 s -> 3.65 s at sf0.1)
    #
    # Round shape (round-11 rewrite, measured 9.9 -> 3.1 s min-of-3 in one
    # probe session, hash-identical at sf0.01/sf0.1):
    # - the SURVIVING edge list is carried between rounds instead of
    #   re-filtering the full adjacency: alive sets only ever shrink, so an
    #   edge with a dead endpoint can never resurrect — filtering `cur`
    #   progressively computes the identical degree sequence while later
    #   rounds join/aggregate a fraction of the bytes (guide: shuffle fewer
    #   bytes, and each round's filter work is not re-done);
    # - the v-side semi-filter runs FIRST and the u-side join LAST, so the
    #   u-keyed join output feeds groupBy("u") without another exchange
    #   (2 data-sized exchanges per round instead of 3).
    cur = materialize_once(
        edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v"))),
        eager=False,
    )
    alive = cur.select(F.col("u").alias("node")).distinct()
    for _ in range(KCORE_ROUNDS):
        cur = materialize_once(
            cur.join(alive.select(F.col("node").alias("v")), "v")
            .join(alive.withColumnRenamed("node", "u"), "u")
            .select("u", "v"),
            eager=False,
        )
        deg = cur.groupBy("u").agg(F.count("*").alias("deg"))
        alive = materialize_once(
            deg.filter(F.col("deg") >= KCORE_K).select(F.col("u").alias("node")),
            eager=False,
        )
    dfin = (
        cur.join(alive.select(F.col("node").alias("v")), "v")
        .join(alive.withColumnRenamed("node", "u"), "u")
        .groupBy("u")
        .agg(F.count("*").alias("deg"))
    )
    return dfin.select(
        F.col("u").alias("partkey"), F.col("deg").cast("bigint").alias("core_degree")
    ).orderBy("partkey")


# --------------------------------------------------------------------------
# CUSUM change-point statistic (q92 EWMA's sibling recurrence: shift
# detection instead of smoothing; recursive-CTE oracle, same pattern)
# --------------------------------------------------------------------------
CUSUM_SLACK = 0.5
CUSUM_H = 3.0  # alarm threshold


@register(
    "q133_cusum_shift",
    oracle=f"""
    WITH RECURSIVE mu AS (
        SELECT user_id,
               CAST(SUM(CAST(value AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS mu
        FROM events WHERE user_id % 100 = 0 GROUP BY user_id
    ), ev AS (
        SELECT e.user_id, e.event_id,
               (e.value - m.mu) - {CUSUM_SLACK} AS drift,
               ROW_NUMBER() OVER (PARTITION BY e.user_id ORDER BY e.ts, e.event_id) AS rn
        FROM events e JOIN mu m USING (user_id) WHERE e.user_id % 100 = 0
    ), rec AS (
        SELECT user_id, event_id, drift, rn,
               GREATEST(0.0, 0.0 + drift) AS s
        FROM ev WHERE rn = 1
        UNION ALL
        SELECT ev.user_id, ev.event_id, ev.drift, ev.rn,
               GREATEST(0.0, rec.s + ev.drift)
        FROM rec JOIN ev ON ev.user_id = rec.user_id AND ev.rn = rec.rn + 1
    )
    SELECT user_id, event_id,
           CAST(FLOOR(1000000 * s) AS BIGINT) AS cusum_e6,
           (s > {CUSUM_H}) AS alarm
    FROM rec ORDER BY user_id, event_id
    """,
    doc="per-user one-sided CUSUM change-point statistic (Page's test): "
    f"S_i = max(0, S_(i-1) + (value - mu - {CUSUM_SLACK})), alarm at "
    f"S > {CUSUM_H} — the sequential drift detector a metrics pipeline "
    "runs where q115's z-score flags single points. The reference mean is "
    "decimal-exact per user (bit-equal across engines); the clamp "
    "recurrence is not a SQL window frame but IS a linear recursive CTE "
    "(the q92 pattern), and `operators/timeseries.cusum` applies the "
    "IDENTICAL scalar op sequence per row (frompyfunc accumulate, not the "
    "cumsum-minus-running-min identity whose float order differs), so "
    "FLOOR(1e6*s) hash-matches. One user-key shuffle + one Arrow walk; "
    "streaming form carries S in applyInPandasWithState (S11)",
    tags=("E5", "E7", "B16"),
)
def q133(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.timeseries import cusum

    ev = load(spark, sf, "events").filter(F.col("user_id") % 100 == 0)
    mu = ev.groupBy("user_id").agg(
        (F.sum(F.col("value").cast("decimal(28,12)")).cast("double") / F.count("*")).alias(
            "mu"
        )
    )
    drifted = ev.join(F.broadcast(mu), "user_id").select(
        "user_id",
        "ts",
        "event_id",
        ((F.col("value") - F.col("mu")) - F.lit(CUSUM_SLACK)).alias("drift"),
    )
    out = cusum(drifted, key_col="user_id", order_cols=("ts", "event_id"), drift_col="drift")
    return out.select(
        "user_id",
        "event_id",
        F.floor(F.lit(1000000.0) * F.col("cusum")).cast("bigint").alias("cusum_e6"),
        (F.col("cusum") > F.lit(CUSUM_H)).alias("alarm"),
    ).orderBy("user_id", "event_id")


# --------------------------------------------------------------------------
# one-pass table profiling (data-quality audit: the null/cardinality/range
# summary every ingestion pipeline runs before trusting a new drop)
# --------------------------------------------------------------------------
#: q134 profiled columns: every orders column except o_totalprice — the
#: double's engine-specific string rendering (1.0E5 vs 100000.0) would make
#: a VARCHAR min/max unportable; numeric range checks belong to typed
#: queries (q106), not the string profile.
PROFILE_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_orderdate",
    "o_orderpriority",
)


@register(
    "q134_table_profile",
    oracle="""
    WITH u AS (
        """
    + "\n        UNION ALL ".join(
        f"SELECT '{c}' AS col, CAST({c} AS VARCHAR) AS v FROM orders" for c in PROFILE_COLS
    )
    + """
    )
    SELECT col,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(v) AS BIGINT) AS n_nonnull,
           CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct,
           MIN(v) AS min_v,
           MAX(v) AS max_v
    FROM u GROUP BY col ORDER BY col
    """,
    doc="one-pass column profile of the orders table: row/non-null/distinct "
    "counts plus lexicographic min/max per column (string-typed, so one "
    "uniform aggregate covers heterogeneous columns) — the data-quality "
    "gate a pipeline runs on every new ingestion drop before joining it. "
    "Spark plans ONE scan with a columns-wide Expand (narrow), then a "
    "(col, value)-keyed partial distinct + a final per-column aggregate — "
    "map-side partials bound both exchanges. The double column is "
    "excluded from the VARCHAR profile (engine-specific float rendering); "
    "at billions of distinct values swap COUNT(DISTINCT) for the q32 "
    "approx_count_distinct sketch per column",
    tags=("B11", "B12", "B22"),
)
def q134(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators import ensure_parallelism

    # |cols|x stack + string casts is expansion-heavy per row; guard the
    # single-split local scan (no-op on multi-split tables).
    o = ensure_parallelism(load(spark, sf, "orders").select(*PROFILE_COLS))
    u = o.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col"), F.col(c).cast("string").alias("v")
                    )
                    for c in PROFILE_COLS
                ]
            )
        ).alias("s")
    ).select("s.col", "s.v")
    return (
        u.groupBy("col")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.count("v").cast("bigint").alias("n_nonnull"),
            F.countDistinct("v").cast("bigint").alias("n_distinct"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
        )
        .orderBy("col")
    )


# --------------------------------------------------------------------------
# referential + arithmetic integrity audit (q134's profile tells you what a
# table LOOKS like; this tells you whether two tables AGREE)
# --------------------------------------------------------------------------
@register(
    "q136_integrity_audit",
    oracle="""
    WITH li AS (
        SELECT l_orderkey,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS recomputed
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT CAST(strftime(o.o_orderdate, '%Y-%m') AS VARCHAR) AS order_month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN li.l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_no_lineitems,
           CAST(SUM(CASE WHEN li.l_orderkey IS NOT NULL
                          AND ABS(CAST(o.o_totalprice AS DECIMAL(18,2)) - li.recomputed) > 0.01
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_price_mismatch,
           CAST(MAX(CASE WHEN li.l_orderkey IS NOT NULL
                         THEN ABS(CAST(o.o_totalprice AS DECIMAL(18,2)) - li.recomputed)
                    END) AS DOUBLE) AS max_abs_diff
    FROM orders o LEFT JOIN li ON o.o_orderkey = li.l_orderkey
    GROUP BY 1 ORDER BY order_month
    """,
    doc="cross-table integrity audit per order month: orphan orders (no "
    "lineitems — referential integrity) and orders whose stored total "
    "disagrees with the decimal-exact recomputation from their lineitems "
    "(arithmetic invariant, |diff| > 0.01) — the reconciliation a "
    "pipeline runs after every load, q134's single-table profile's "
    "cross-table sibling. ONE lineitem aggregate pre-shuffled on the "
    "join key feeds a LEFT join on orderkey (both sides co-partitioned "
    "— no second exchange under AQE), then an order-month rollup. All "
    "comparisons are exact DECIMAL; only the display max casts to "
    "double. On this synthetic corpus the invariant is violated "
    "everywhere — the audit REPORTS, it does not assume",
    tags=("B5", "B11", "B23"),
)
def q136(spark: SparkSession, sf: str) -> DataFrame:
    o = load(spark, sf, "orders")
    li = (
        load(spark, sf, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
            ).alias("recomputed")
        )
    )
    j = o.join(li, o.o_orderkey == li.l_orderkey, "left")
    diff = F.abs(F.col("o_totalprice").cast("decimal(18,2)") - F.col("recomputed"))
    has_li = F.col("l_orderkey").isNotNull()
    return (
        j.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("order_month"))
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(F.when(~has_li, 1).otherwise(0)).cast("bigint").alias("n_no_lineitems"),
            F.sum(F.when(has_li & (diff > 0.01), 1).otherwise(0))
            .cast("bigint")
            .alias("n_price_mismatch"),
            F.max(F.when(has_li, diff)).cast("double").alias("max_abs_diff"),
        )
        .orderBy("order_month")
    )


# --------------------------------------------------------------------------
# time-to-convert distribution (q94 funnel counts WHO converts; this
# measures HOW LONG conversion takes, per signup cohort)
# --------------------------------------------------------------------------
@register(
    "q137_conversion_lag",
    oracle="""
    WITH su AS (
        SELECT user_id, MIN(epoch_us(ts)) AS s_us
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), pu AS (
        SELECT e.user_id, MIN(epoch_us(e.ts)) AS p_us
        FROM events e JOIN su ON e.user_id = su.user_id
        WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= su.s_us
        GROUP BY e.user_id
    ), base AS (
        SELECT su.user_id,
               CAST(strftime(make_timestamp(su.s_us), '%Y-%m') AS VARCHAR) AS cohort,
               pu.p_us - su.s_us AS lag_us
        FROM su LEFT JOIN pu ON su.user_id = pu.user_id
    )
    SELECT cohort,
           CAST(COUNT(*) AS BIGINT) AS n_signups,
           CAST(COUNT(lag_us) AS BIGINT) AS n_converted,
           CAST(quantile_disc(lag_us, 0.5) AS BIGINT) AS p50_lag_us,
           CAST(quantile_disc(lag_us, 0.9) AS BIGINT) AS p90_lag_us
    FROM base GROUP BY cohort ORDER BY cohort
    """,
    doc="time-to-convert distribution per signup cohort: each user's first "
    "signup, their first purchase AT OR AFTER it, and the exact "
    "integer-microsecond lag — aggregated to cohort-month conversion "
    "counts and p50/p90 lags (percentile_disc on exact integers: a DATA "
    "value, no interpolation, no float). q94 counts the funnel; this "
    "measures its latency — the pair every growth dashboard ships. "
    "Three user-keyed aggregates share one co-partitioned shuffle "
    "lineage; the cohort rollup is |months| groups. Non-signup "
    "purchasers are excluded by construction (no cohort to attribute "
    "the lag to)",
    tags=("B11", "B23", "B16"),
)
def q137(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events")
    us = F.unix_micros("ts")
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(us).alias("s_us"))
    )
    pu = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", us.alias("e_us"))
        .join(su, "user_id")
        .filter(F.col("e_us") >= F.col("s_us"))
        .groupBy("user_id")
        .agg(F.min("e_us").alias("p_us"))
    )
    base = su.join(pu, "user_id", "left").select(
        F.date_format(F.timestamp_micros("s_us"), "yyyy-MM").alias("cohort"),
        (F.col("p_us") - F.col("s_us")).alias("lag_us"),
    )
    return (
        base.groupBy("cohort")
        .agg(
            F.count("*").cast("bigint").alias("n_signups"),
            F.count("lag_us").cast("bigint").alias("n_converted"),
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY lag_us)")
            .cast("bigint")
            .alias("p50_lag_us"),
            F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY lag_us)")
            .cast("bigint")
            .alias("p90_lag_us"),
        )
        .orderBy("cohort")
    )


# --------------------------------------------------------------------------
# key-skew audit (the diagnostic that motivates q116/q101's salting tier)
# --------------------------------------------------------------------------
@register(
    "q167_key_skew_audit",
    oracle="""
    WITH c AS (
        SELECT user_id, CAST(COUNT(*) AS HUGEINT) AS c
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ),
    r AS (
        SELECT c, CAST(ROW_NUMBER() OVER (ORDER BY c, user_id) AS HUGEINT) AS rk
        FROM c
    ),
    g AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(c) AS HUGEINT) AS s0,
               CAST(SUM(rk * c) AS HUGEINT) AS s1
        FROM r
    ),
    t AS (
        SELECT CAST(MAX(c) AS HUGEINT) AS top1, CAST(SUM(c) AS HUGEINT) AS top10
        FROM (SELECT c FROM c ORDER BY c DESC, user_id LIMIT 10)
    ),
    z AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS null_rows
        FROM events WHERE user_id IS NULL
    )
    SELECT CAST(g.n AS BIGINT) AS n_keys,
           CAST(g.s0 AS BIGINT) AS n_rows,
           z.null_rows,
           CAST((10000 * t.top1) // g.s0 AS BIGINT) AS top1_share_bp,
           CAST((10000 * t.top10) // g.s0 AS BIGINT) AS top10_share_bp,
           CAST((10000 * (2 * g.s1 - (g.n + 1) * g.s0)) // (g.n * g.s0) AS BIGINT)
               AS gini_bp
    FROM g, t, z
    ORDER BY n_keys
    """,
    doc="join/agg-key skew audit over events.user_id: key count, row count, "
    "NULL-key rows, top-1/top-10 key share and the Gini coefficient of the "
    "per-key frequency distribution, all in exact integer basis points — "
    "the shuffle-planning diagnostic that tells you BEFORE a 100 TB join "
    "whether to salt (q116/q101) or broadcast. Gini needs every key's "
    "global frequency rank: computed with `operators/ntile.global_rank` "
    "(cutpoint-bucketed distributed ROW_NUMBER — no single-partition "
    "window; EAGER builder, two bounded-metadata jobs on the per-key "
    "counts frame, which is already |distinct keys| << corpus rows). "
    "Integer overflow discipline: rank*count products and the Gini "
    "rational go through DECIMAL(38,0)/HUGEINT on both engines, and the "
    "floor-division operands are non-negative so Spark's `div` (truncate) "
    "equals DuckDB's `//` (floor).",
    tags=("B11", "B15", "B24", "E5"),
)
def q167(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.ntile import global_rank

    ev = load(spark, sf, "events")
    counts = (
        ev.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    ranked = global_rank(counts, ["c", "user_id"], out_col="rk")
    g = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s0"),
        F.sum(d38(F.col("rk")) * d38(F.col("c"))).alias("s1"),
    )
    t = (
        counts.orderBy(F.col("c").desc(), "user_id")
        .limit(10)
        .agg(F.max("c").alias("top1"), F.sum("c").alias("top10"))
    )
    z = ev.filter(F.col("user_id").isNull()).agg(
        F.count(F.lit(1)).alias("null_rows")
    )
    return (
        g.crossJoin(F.broadcast(t))
        .crossJoin(F.broadcast(z))
        .select(
            F.col("n").cast("bigint").alias("n_keys"),
            F.col("s0").cast("bigint").alias("n_rows"),
            F.col("null_rows"),
            F.expr(
                "CAST(CAST(10000 AS DECIMAL(38,0)) * CAST(top1 AS DECIMAL(38,0))"
                " div CAST(s0 AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("top1_share_bp"),
            F.expr(
                "CAST(CAST(10000 AS DECIMAL(38,0)) * CAST(top10 AS DECIMAL(38,0))"
                " div CAST(s0 AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("top10_share_bp"),
            F.expr(
                "CAST(CAST(10000 AS DECIMAL(38,0))"
                " * (CAST(2 AS DECIMAL(38,0)) * s1"
                "    - (CAST(n AS DECIMAL(38,0)) + CAST(1 AS DECIMAL(38,0)))"
                "      * CAST(s0 AS DECIMAL(38,0)))"
                " div (CAST(n AS DECIMAL(38,0)) * CAST(s0 AS DECIMAL(38,0)))"
                " AS BIGINT)"
            ).alias("gini_bp"),
        )
        .orderBy("n_keys")
    )


# --------------------------------------------------------------------------
# grouped OLS fit via sufficient statistics (B11/B24 ML-adjacent aggregate)
# --------------------------------------------------------------------------
@register(
    "q168_group_ols",
    oracle="""
    WITH pts AS (
        SELECT n.n_name,
               CAST(l.l_quantity AS HUGEINT) AS x,
               CAST(ROUND(l.l_extendedprice * 100) AS HUGEINT) AS y
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
    ),
    suff AS (
        SELECT n_name,
               CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(x) AS HUGEINT) AS sx,
               CAST(SUM(y) AS HUGEINT) AS sy,
               CAST(SUM(x * x) AS HUGEINT) AS sxx,
               CAST(SUM(x * y) AS HUGEINT) AS sxy
        FROM pts GROUP BY n_name
    ),
    d AS (
        SELECT n_name, n,
               n * sxy - sx * sy AS ps,
               sy * sxx - sx * sxy AS pi,
               NULLIF(n * sxx - sx * sx, 0) AS q
        FROM suff
    )
    SELECT n_name,
           CAST(n AS BIGINT) AS n_pts,
           CAST(CASE WHEN ps < 0
                THEN -((2*(-ps)*1000000 + q) // (2*q))
                ELSE  ((2*ps*1000000 + q) // (2*q))
           END AS DOUBLE) / 1000000.0 AS slope_cents,
           CAST(CASE WHEN pi < 0
                THEN -((2*(-pi)*1000000 + q) // (2*q))
                ELSE  ((2*pi*1000000 + q) // (2*q))
           END AS DOUBLE) / 1000000.0 AS intercept_cents
    FROM d ORDER BY n_name
    """,
    doc="per-nation least-squares fit of line-item price (cents) against "
    "quantity, computed from the five OLS sufficient statistics in ONE "
    "hash aggregate over the fact table — the 'train a per-group linear "
    "model without an ML library' pattern. 100 TB: two broadcast dim "
    "joins (supplier, nation — the fact side never shuffles for the "
    "join), one map-side-combining agg on a 25-key group; no per-group "
    "iteration, no collect. Cross-engine exactness: x and cent-scaled y "
    "are integers; every sum/product runs in DECIMAL(38,0)/HUGEINT "
    "(bit-exact both engines), and — because the intercept numerator "
    "|sy*sxx - sx*sxy| already reaches ~1.07e18 at sf0.1 and crosses "
    "2^64 near sf0.4, where int128->double casts stop being correctly "
    "rounded in every engine (q173's measured 1-ULP divergence) — each "
    "coefficient is resolved as an EXACT integral micro-cents quotient "
    "(round-half-away-from-zero via `(2|p|+q) div 2q`; q = n*sxx - sx^2 "
    ">= 0 by Cauchy-Schwarz, NULL on degenerate groups) and only that "
    "small integer (<2^53) is divided by 1e6 in float space, which "
    "IEEE754 makes bit-identical across engines (same guard as q173; "
    "the sums themselves outgrow DECIMAL(38,0) only beyond ~sf100, "
    "where the documented centering rewrite applies).",
    tags=("B4", "B11", "B24"),
)
def q168(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem").select(
        "l_suppkey",
        F.col("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("y"),
    )
    sup = load(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    nat = load(spark, sf, "nation").select("n_nationkey", "n_name")
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    suff = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
            F.sum(d38("x")).alias("sx"),
            F.sum(d38("y")).alias("sy"),
            F.sum(d38("x") * d38("x")).alias("sxx"),
            F.sum(d38("x") * d38("y")).alias("sxy"),
        )
    )
    d = suff.select(
        "n_name",
        "n",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("ps"),
        (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")).alias("pi"),
        F.nullif(
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")), F.lit(0)
        ).alias("q"),
    )

    def coef(p: str) -> str:
        # round-half-up of p/q at 6 decimals in pure integer arithmetic;
        # names match the branch each expression serves (q is NULLIF'd > 0)
        when_neg = f"((2*(-{p})*1000000 + q) div (2*q))"
        when_nonneg = f"((2*{p}*1000000 + q) div (2*q))"
        return f"cast(if({p} < 0, -{when_neg}, {when_nonneg}) as double) / 1000000.0"

    return d.select(
        "n_name",
        F.col("n").cast("bigint").alias("n_pts"),
        F.expr(coef("ps")).alias("slope_cents"),
        F.expr(coef("pi")).alias("intercept_cents"),
    ).orderBy("n_name")


# --------------------------------------------------------------------------
# multi-feature OLS via normal equations (q168's d>1 generalization)
# --------------------------------------------------------------------------
@register(
    "q173_normal_equations",
    oracle="""
    WITH pts AS (
        SELECT l_returnflag AS flag,
               CAST(l_quantity AS HUGEINT) AS x1,
               CAST(ROUND(l_discount * 100) AS HUGEINT) AS x2,
               CAST(ROUND(l_extendedprice * 100) AS HUGEINT) AS y
        FROM lineitem
    ),
    s AS (
        SELECT flag,
               CAST(COUNT(*) AS HUGEINT) AS n,
               SUM(x1) AS sx1, SUM(x2) AS sx2, SUM(y) AS sy,
               SUM(x1*x1) AS s11, SUM(x1*x2) AS s12, SUM(x2*x2) AS s22,
               SUM(x1*y) AS s1y, SUM(x2*y) AS s2y
        FROM pts GROUP BY flag
    ),
    d AS (
        SELECT flag, n,
               n*(s11*s22 - s12*s12) - sx1*(sx1*s22 - s12*sx2)
                 + sx2*(sx1*s12 - s11*sx2) AS det,
               sy*(s11*s22 - s12*s12) - sx1*(s1y*s22 - s12*s2y)
                 + sx2*(s1y*s12 - s11*s2y) AS det0,
               n*(s1y*s22 - s12*s2y) - sy*(sx1*s22 - s12*sx2)
                 + sx2*(sx1*s2y - s1y*sx2) AS det1,
               n*(s11*s2y - s1y*s12) - sx1*(sx1*s2y - s1y*sx2)
                 + sy*(sx1*s12 - s11*sx2) AS det2
        FROM s
    )
    SELECT flag, CAST(n AS BIGINT) AS n_pts,
           CAST(CASE WHEN det0 < 0
                THEN -((2*(-det0)*1000000 + NULLIF(det, 0)) // (2*NULLIF(det, 0)))
                ELSE  ((2*det0*1000000 + NULLIF(det, 0)) // (2*NULLIF(det, 0)))
           END AS DOUBLE) / 1000000.0 AS b0_cents,
           CAST(CASE WHEN det1 < 0
                THEN -((2*(-det1)*1000000 + NULLIF(det, 0)) // (2*NULLIF(det, 0)))
                ELSE  ((2*det1*1000000 + NULLIF(det, 0)) // (2*NULLIF(det, 0)))
           END AS DOUBLE) / 1000000.0 AS b1_cents,
           CAST(CASE WHEN det2 < 0
                THEN -((2*(-det2)*1000000 + NULLIF(det, 0)) // (2*NULLIF(det, 0)))
                ELSE  ((2*det2*1000000 + NULLIF(det, 0)) // (2*NULLIF(det, 0)))
           END AS DOUBLE) / 1000000.0 AS b2_cents
    FROM d ORDER BY flag
    """,
    doc="per-returnflag TWO-feature least squares (price ~ quantity + "
    "discount, cents): the d>1 generalization of q168 — one hash "
    "aggregate emits the 9 normal-equation sufficient statistics "
    "(X'X upper triangle + X'y), the 3x3 system is solved CLOSED-FORM "
    "by Cramer determinants. The d-dimensional production shape is the "
    "same: distributed gram aggregate (O(groups*d^2) output, never "
    "O(rows)), tiny solve outside the scan (`operators/vector.py` "
    "gram_matrix for the Arrow variant). Exactness: integer features, "
    "every sum and determinant in DECIMAL(38,0)/HUGEINT (determinant "
    "terms ~(rows*maxval^2)^3 stay < 1e38 through sf0.1; the beyond-"
    "sf100 path centers features first — documented, not needed for "
    "the oracle). The ~1e25 determinants exceed 2^53, and int128->double "
    "casts are NOT correctly rounded in every engine (measured 1-ULP "
    "divergence), so each coefficient is resolved as an EXACT integral "
    "micro-cents quotient — round-half-away-from-zero via `(2|p|+q) div "
    "2q` on the decimals (X'X is positive definite, det>0) — and only "
    "that small integer (<2^53) is divided by 1e6 in float space, which "
    "IEEE754 makes bit-identical across engines.",
    tags=("B11", "B24"),
)
def q173(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators import ensure_parallelism

    # nine Decimal128 product-sums per row is compute-heavy relative to the
    # narrow 4-column projection; guard the 3-split local scan (no-op on
    # multi-split tables; decimal sums are order-independent).
    li = ensure_parallelism(
        load(spark, sf, "lineitem").select(
            "l_returnflag", "l_quantity", "l_discount", "l_extendedprice"
        )
    ).select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("decimal(38,0)").alias("x1"),
        F.round(F.col("l_discount") * 100, 0).cast("decimal(38,0)").alias("x2"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("decimal(38,0)").alias("y"),
    )
    s = li.groupBy("flag").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x1").alias("sx1"),
        F.sum("x2").alias("sx2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
    )
    d = s.select(
        "flag",
        "n",
        F.expr(
            "n*(s11*s22 - s12*s12) - sx1*(sx1*s22 - s12*sx2)"
            " + sx2*(sx1*s12 - s11*sx2)"
        ).alias("det"),
        F.expr(
            "sy*(s11*s22 - s12*s12) - sx1*(s1y*s22 - s12*s2y)"
            " + sx2*(s1y*s12 - s11*s2y)"
        ).alias("det0"),
        F.expr(
            "n*(s1y*s22 - s12*s2y) - sy*(sx1*s22 - s12*sx2)"
            " + sx2*(sx1*s2y - s1y*sx2)"
        ).alias("det1"),
        F.expr(
            "n*(s11*s2y - s1y*s12) - sx1*(sx1*s2y - s1y*sx2)"
            " + sy*(sx1*s12 - s11*sx2)"
        ).alias("det2"),
    )
    def coef(det_i: str) -> str:
        q = "nullif(det, 0)"
        pos = f"((2*(-{det_i})*1000000 + {q}) div (2*{q}))"
        neg = f"((2*{det_i}*1000000 + {q}) div (2*{q}))"
        return f"cast(if({det_i} < 0, -{pos}, {neg}) as double) / 1000000.0"

    return d.select(
        "flag",
        F.col("n").cast("bigint").alias("n_pts"),
        F.expr(coef("det0")).alias("b0_cents"),
        F.expr(coef("det1")).alias("b1_cents"),
        F.expr(coef("det2")).alias("b2_cents"),
    ).orderBy("flag")


# --------------------------------------------------------------------------
# deterministic Poisson bootstrap: per-group variance of the mean
# --------------------------------------------------------------------------
@register(
    "q182_bootstrap_variance",
    oracle="""
    WITH pts AS (
        SELECT l_returnflag AS flag,
               CAST(ROUND(l_extendedprice * 100) AS HUGEINT) AS x,
               CAST(l_orderkey AS VARCHAR) || ':'
                   || CAST(l_linenumber AS VARCHAR) AS key
        FROM lineitem
    ),
    hashed AS (
        SELECT flag, x,
               CAST(('0x' || substr(md5('seed182:' || key), 1, 15))
                    AS BIGINT) AS h
        FROM pts
    ),
    reps AS (
        SELECT flag, x, b,
               (h // CAST(power(3, b) AS BIGINT)) % 3 AS w
        FROM hashed, UNNEST(range(0, 16)) AS r(b)
    ),
    per_rep AS (
        SELECT flag, b,
               CAST(SUM(w * x) AS HUGEINT) // CAST(SUM(w) AS HUGEINT) AS m
        FROM reps GROUP BY flag, b
    ),
    s AS (
        SELECT flag,
               CAST(COUNT(*) AS HUGEINT) AS nb,
               CAST(SUM(m) AS HUGEINT) AS sm,
               CAST(SUM(m * m) AS HUGEINT) AS smm
        FROM per_rep GROUP BY flag
    )
    SELECT flag,
           CAST(nb AS INT) AS n_reps,
           CAST(sm // nb AS BIGINT) AS boot_mean_cents,
           CAST((nb * smm - sm * sm) // (nb * (nb - 1)) AS BIGINT)
               AS boot_var_cents2
    FROM s ORDER BY flag
    """,
    doc="per-returnflag POISSON BOOTSTRAP of the mean price (B=16 "
    "replicates): each row enters replicate b with weight = the b-th "
    "base-3 digit of ONE md5-derived 60-bit integer per row — 16 "
    "independent-enough {0,1,2} weights (mean 1, the Poisson(1) "
    "bootstrap's integer-deterministic stand-in) from a single hash "
    "(3^16 < 2^60; hashing per (row, replicate) instead measured 16 s "
    "vs ~2 s at sf0.1 — md5 dominates, digits are free); per-replicate "
    "weighted means and the across-replicate "
    "variance estimate the sampling error of the group mean WITHOUT "
    "re-reading the data B times — the standard distributed-bootstrap "
    "formulation (Kleiner et al.'s bag-of-little-bootstraps lineage; "
    "Poisson weights in place of multinomial resampling because row "
    "independence is what makes it one-pass). Exactness end-to-end: "
    "md5-derived weights reproduce bit-identically on any engine/retry "
    "(the q140 convention), per-replicate means are integral-division "
    "cents, the variance is the integer sufficient-stats form "
    "(B*Sum(m^2) - (Sum m)^2) // (B(B-1)) in DECIMAL(38,0)/HUGEINT — no "
    "float anywhere, no RNG anywhere. 100 TB: the explode is a narrow "
    "16x map-side expansion feeding ONE (flag, b) hash aggregate with "
    "map-side partials (48 groups), then a 3-group rollup; nothing "
    "buffers rows, nothing depends on partitioning.",
    tags=("B11", "B24", "B31"),
)
def q182(spark: SparkSession, sf: str) -> DataFrame:
    # BIGINT throughout, not DECIMAL: worst products are nb*smm ~ 16*16e14
    # ~ 2.6e16 and swx ~ 4e12 at sf0.1 (4e15 at sf100) — orders of magnitude
    # under 2^63, and bigint hash-aggregation measurably beats Decimal128
    # state at 9.6M exploded rows. The DuckDB oracle's HUGEINT computes the
    # same exact values.
    from ..operators import ensure_parallelism, seeded_hash60

    # narrow 3-column projection, then guard: the md5 + 16x replicate
    # explode + bigint partial agg is expansion-heavy per row and must not
    # inherit a 3-split local scan (no-op on multi-split tables).
    li = ensure_parallelism(
        load(spark, sf, "lineitem").select(
            F.col("l_returnflag").alias("flag"),
            F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("x"),
            F.concat_ws(
                ":", F.col("l_orderkey").cast("string"), F.col("l_linenumber").cast("string")
            ).alias("key"),
        )
    )
    # key comes from concat_ws and is never NULL, so every row draws a hash
    # (seeded_hash60 maps a NULL key to NULL, like the oracle's ||).
    hashed = li.withColumn("h", seeded_hash60("seed182:", F.col("key")))
    reps = hashed.withColumn("b", F.explode(F.sequence(F.lit(0), F.lit(15))))
    w = F.expr("(h div cast(power(3, b) as bigint)) % 3")
    per_rep = (
        reps.groupBy("flag", "b")
        .agg(
            F.sum(w * F.col("x")).alias("swx"),
            F.sum(w).alias("sw"),
        )
        .select("flag", "b", F.expr("swx div sw").alias("m"))
    )
    s = per_rep.groupBy("flag").agg(
        F.count(F.lit(1)).alias("nb"),
        F.sum("m").alias("sm"),
        F.sum(F.col("m") * F.col("m")).alias("smm"),
    )
    return s.select(
        "flag",
        F.col("nb").cast("int").alias("n_reps"),
        F.expr("sm div nb").alias("boot_mean_cents"),
        F.expr("(nb * smm - sm * sm) div (nb * (nb - 1))").alias("boot_var_cents2"),
    ).orderBy("flag")


# --------------------------------------------------------------------------
# distribution-free two-sample drift test (Mann-Whitney rank sum)
# --------------------------------------------------------------------------
@register(
    "q183_rank_sum_drift",
    oracle="""
    WITH pts AS (
        SELECT CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS ship_year,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v,
               (l_returnflag = 'A') AS is_a
        FROM lineitem WHERE l_returnflag IN ('A', 'R')
    ),
    r AS (
        SELECT ship_year, is_a,
               RANK() OVER (PARTITION BY ship_year ORDER BY v) AS rmin,
               COUNT(*) OVER (PARTITION BY ship_year, v) AS c
        FROM pts
    )
    SELECT ship_year,
           CAST(COUNT(*) FILTER (is_a) AS BIGINT) AS n_a,
           CAST(COUNT(*) FILTER (NOT is_a) AS BIGINT) AS n_b,
           CAST(SUM(CASE WHEN is_a THEN 2*rmin + c - 1 ELSE 0 END)
                - COUNT(*) FILTER (is_a)
                  * (COUNT(*) FILTER (is_a) + 1) AS BIGINT) AS u_a_x2
    FROM r GROUP BY ship_year ORDER BY ship_year
    """,
    doc="Mann-Whitney rank-sum test per ship year: are 'A'-flag line item "
    "prices distributed differently from 'R'-flag ones? The classic "
    "distribution-free two-sample drift test — the robust alternative to "
    "the parametric z/t gates (q115, q141's KL needs binning; this needs "
    "only an order). Statistic DOUBLED (u_a_x2 = 2*U_A) so tie midranks "
    "stay integer — every quantity is exact integral arithmetic, no "
    "float boundary (the n(n+1)-growth rank sum accumulates in "
    "DECIMAL(38,0) and the BIGINT output cast raises loudly past ~3e9 "
    "rows per side, same contract as q184's ks_d_numerator); "
    "under H0 its expectation is n_a*n_b (the z normalization needs a "
    "sqrt and is left to callers — libm does not reproduce across "
    "engines). The oracle computes midranks with a plain corpus-wide "
    "RANK() window; the Spark side "
    "(`operators/stats.mann_whitney_u_x2`) must NOT (7 year keys = "
    "corpus/7-row single-task windows), so it applies the q151 two-level "
    "banded idiom to midranks: distinct-value collapse, within-band "
    "running counts at |years| x |bands| parallelism, metadata-sized "
    "band-offset window broadcast back — the decorrelation itself is "
    "hash-checked.",
    tags=("B11", "B15", "B24"),
)
def q183(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.stats import mann_whitney_u_x2

    li = (
        load(spark, sf, "lineitem")
        .filter(F.col("l_returnflag").isin("A", "R"))
        .select(
            F.year("l_shipdate").cast("int").alias("ship_year"),
            (F.col("l_returnflag") == "A").alias("is_a"),
            F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("v"),
        )
    )
    return mann_whitney_u_x2(
        li, group_col="ship_year", side_col="is_a", value_col="v",
        band_width=65536,
    )


# --------------------------------------------------------------------------
# two-sample Kolmogorov-Smirnov drift statistic (exact integer numerator)
# --------------------------------------------------------------------------
@register(
    "q184_ks_drift",
    oracle="""
    WITH pts AS (
        SELECT CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS ship_year,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v,
               (l_returnflag = 'A') AS is_a
        FROM lineitem WHERE l_returnflag IN ('A', 'R')
    ),
    vals AS (
        SELECT ship_year, v,
               CAST(COUNT(*) FILTER (is_a) AS BIGINT) AS ca,
               CAST(COUNT(*) FILTER (NOT is_a) AS BIGINT) AS cb
        FROM pts GROUP BY ship_year, v
    ),
    c AS (
        SELECT ship_year,
               SUM(ca) OVER (PARTITION BY ship_year ORDER BY v) AS cuma,
               SUM(cb) OVER (PARTITION BY ship_year ORDER BY v) AS cumb,
               SUM(ca) OVER (PARTITION BY ship_year) AS na,
               SUM(cb) OVER (PARTITION BY ship_year) AS nb
        FROM vals
    )
    SELECT ship_year,
           CAST(na AS BIGINT) AS n_a,
           CAST(nb AS BIGINT) AS n_b,
           CAST(MAX(ABS(CAST(cuma AS HUGEINT) * nb
                        - CAST(cumb AS HUGEINT) * na)) AS BIGINT) AS d_num
    FROM c GROUP BY ship_year, na, nb ORDER BY ship_year
    """,
    doc="two-sample Kolmogorov-Smirnov drift statistic per ship year ('A' "
    "vs 'R' line item prices): D = max CDF gap, reported as the EXACT "
    "integer numerator d_num = max|cumA*n_b - cumB*n_a| so D = "
    "d_num/(n_a*n_b) with no float division or libm inside the engine "
    "(the Kolmogorov tail bound needs an exp() and is callers' "
    "downstream). Complements q183's rank-sum (location shift) with the "
    "any-shape-difference test — together the distribution-free drift "
    "pair every data-quality gate wants. The CDF gap changes only at "
    "observed values, so distinct values suffice; the oracle uses plain "
    "per-year ordered windows, the Spark side "
    "(`operators/stats.ks_d_numerator`) must not (7 year keys = "
    "corpus-sized single-task windows) and applies the two-level banded "
    "running-count idiom to BOTH sides' cumulative counts at |years| x "
    "|bands| parallelism — the decorrelation is hash-checked.",
    tags=("B11", "B15", "B24"),
)
def q184(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.stats import ks_d_numerator

    li = (
        load(spark, sf, "lineitem")
        .filter(F.col("l_returnflag").isin("A", "R"))
        .select(
            F.year("l_shipdate").cast("int").alias("ship_year"),
            (F.col("l_returnflag") == "A").alias("is_a"),
            F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("v"),
        )
    )
    return ks_d_numerator(
        li, group_col="ship_year", side_col="is_a", value_col="v",
        band_width=65536,
    )


# --------------------------------------------------------------------------
# session path analytics: event-type transition matrix
# --------------------------------------------------------------------------
@register(
    "q185_transition_matrix",
    oracle="""
    WITH nxt AS (
        SELECT event_type AS prev_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS next_type
        FROM events
    ),
    t AS (
        SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n_trans
        FROM nxt WHERE next_type IS NOT NULL
        GROUP BY prev_type, next_type
    ),
    tot AS (
        SELECT prev_type, CAST(SUM(n_trans) AS BIGINT) AS row_total
        FROM t GROUP BY prev_type
    )
    SELECT t.prev_type, t.next_type, t.n_trans,
           CAST((10000 * t.n_trans) // tot.row_total AS BIGINT) AS p_bp
    FROM t JOIN tot USING (prev_type)
    ORDER BY prev_type, next_type
    """,
    doc="per-user event-type transition matrix (Markov path analytics): "
    "each user's event sequence ordered by (ts, event_id — unique "
    "tiebreak, deterministic), consecutive pairs via lead(), transition "
    "counts and row-conditional probabilities in integer basis points "
    "(10000*n div row_total — no float boundary). The sequence-analytics "
    "complement to the funnel (q94: fixed 3-stage order) and "
    "sessionization (q63: gap cutting): this is the full first-order "
    "path structure product teams diff between releases. Sibling: q113 "
    "computes the same matrix via the float-floor basis-point idiom and "
    "a per-row window for the totals — the pair deliberately pins both "
    "formulations (see q113's doc); semantic changes must land in both. 100 TB: ONE "
    "shuffle — the per-user window partitions on user_id "
    "(high-cardinality); the pair aggregate collapses to at most "
    "|event_types|^2 rows before the row-total join, so everything "
    "after the window is metadata-sized.",
    tags=("B15", "B16", "B23"),
)
def q185(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = (
        ev.select(
            F.col("event_type").alias("prev_type"),
            F.lead("event_type").over(w).alias("next_type"),
        )
        .filter(F.col("next_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n_trans"))
    )
    tot = t.groupBy("prev_type").agg(F.sum("n_trans").alias("row_total"))
    return (
        t.join(F.broadcast(tot), "prev_type")
        .select(
            "prev_type",
            "next_type",
            "n_trans",
            F.expr("(10000 * n_trans) div row_total").alias("p_bp"),
        )
        .orderBy("prev_type", "next_type")
    )
