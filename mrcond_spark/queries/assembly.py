"""Corpus-assembly tier: the operations that turn a CURATED corpus into a
TRAINING corpus — deterministic global shuffle into shards, token-budget
prefix selection, and vocabulary-growth audit statistics.

These sit downstream of the curation queries (q40/q47/q91): once the kept
set is fixed, a training run needs (a) a reproducible shuffle of the docs
into N shard files, (b) a cut of the shuffled stream at a token budget, and
(c) corpus-level stats that sanity-check the data (Heaps-law vocabulary
growth). All three are deterministic — seeded md5 ordering, no ``rand()`` —
so every query carries a full DuckDB hash oracle, and all three avoid the
global-window single-reducer shape (`operators/prefix_sum.py` /
per-shard windows instead).

Reference parity note: f-squirrel/mrcond has no batch tier at all (it is a
CDC connector — see SURVEY.md §1); this module is part of the mandated
LLM-pipeline extension surface (SURVEY §2.4 E5), same as queries/llm.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load
from ..operators import hex60, text
from ..operators.prefix_sum import bucketed_running_sum
from . import register

#: documents-per-shard target is a config knob in production; 16 keeps the
#: oracle output readable and the per-shard window parallel at any SF.
N_SHARDS = 16

#: token budget for the q97 prefix cut. An absolute number (not a corpus
#: fraction) — the production semantics: "take shuffled docs until the run's
#: token budget is filled". The documents table holds 500 docs / ~27k
#: whitespace tokens at BOTH sf0.001 and sf0.01 (the generator does not
#: shrink it below sf0.01), so the cut keeps ~55% of the corpus at every
#: tested SF — the budget binds everywhere, which is what the oracle check
#: needs (a selects-everything budget would never exercise the cut).
TOKEN_BUDGET = 15_000

#: corpus-prefix checkpoints for the q98 vocabulary-growth curve (doc_id is
#: the ingestion order). Absolute sizes so the SQL stays constant across SFs;
#: checkpoints past the corpus end report the full-corpus value.
VOCAB_CHECKPOINTS = (16, 64, 256, 1024, 4096)


def _shuffle_key(seed: str) -> F.Column:
    """Deterministic per-doc shuffle key: lowercase-hex md5 of seed:doc_id.

    Reproducible across retries, partitionings, and engines (DuckDB computes
    the identical digest), unlike ``rand()``; lexicographic order of the hex
    string == numeric order of the 128-bit value, which is what lets a
    leading hex character act as an order-aligned bucket split.
    """
    from ..operators import seeded_md5

    return seeded_md5(f"{seed}:", F.col("doc_id"))


@register(
    "q96_training_shards",
    oracle=f"""
    WITH h AS (
        SELECT doc_id,
               md5('seed96:' || CAST(doc_id AS VARCHAR)) AS hk
        FROM documents
    )
    SELECT doc_id,
           CAST(CAST(('0x' || substr(hk, 1, 15)) AS BIGINT) % {N_SHARDS} AS INT) AS shard,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY CAST(('0x' || substr(hk, 1, 15)) AS BIGINT) % {N_SHARDS}
               ORDER BY hk, doc_id
           ) AS BIGINT) AS pos
    FROM h
    ORDER BY shard, pos
    """,
    doc="deterministic global shuffle into training shards: shard = seeded "
    "60-bit md5 hash mod N (uniform, key-independent — no skew regardless "
    "of the data), within-shard position = rank over the hash order. The "
    "exact (doc -> shard, pos) assignment is reproducible across retries "
    "and engines, which is what makes a training run's data order "
    "auditable. One hash shuffle on shard + per-shard window (N-way "
    "parallel, never a global sort); at 100 TB this IS the shard-writer "
    "plan — follow with partitionBy('shard') parquet write",
    tags=("E5",),
)
def q96(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    hk = _shuffle_key("seed96")
    shard = (hex60(F.col("hk")) % N_SHARDS).cast("int")
    keyed = d.select("doc_id", hk.alias("hk")).withColumn("shard", shard)
    w = Window.partitionBy("shard").orderBy("hk", "doc_id")
    return (
        keyed.withColumn("pos", F.row_number().over(w).cast("bigint"))
        .select("doc_id", "shard", "pos")
        .orderBy("shard", "pos")
    )


@register(
    "q97_token_budget_cut",
    oracle=f"""
    WITH toked AS (
        SELECT doc_id, source,
               len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                               t -> t != '')) AS n_tokens,
               md5('seed97:' || CAST(doc_id AS VARCHAR)) AS hk
        FROM documents
    ),
    cum AS (
        SELECT doc_id, source, n_tokens,
               SUM(n_tokens) OVER (
                   ORDER BY hk, doc_id ROWS UNBOUNDED PRECEDING
               ) AS cum_tokens
        FROM toked
    )
    SELECT doc_id, source,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM cum
    WHERE cum_tokens <= {TOKEN_BUDGET}
    ORDER BY cum_tokens, doc_id
    """,
    doc="token-budget prefix cut: shuffle the corpus deterministically "
    "(seeded md5 order), then keep docs while the running token total stays "
    "within the training budget — 'fill the run with the first B tokens of "
    "the shuffled stream'. The running sum is the distributed prefix-sum "
    "operator (operators/prefix_sum.py): the two leading hex chars of the "
    "ordering key are an order-aligned 256-way bucket split, per-bucket "
    "totals fold into literal offsets (bounded collect), the window runs "
    "partitioned per bucket — the oracle's global SUM OVER (ORDER BY) "
    "single-reducer shape never appears in the Spark plan (explicit "
    "Exchange-SinglePartition assertion in tests/test_prefix_sum_property.py; "
    "the unpartitioned-Window guard in tests/test_plans.py covers every "
    "query). EAGER BUILDER: the per-bucket totals job runs at "
    "construction time and snapshots into plan literals (PLANS.md)",
    tags=("E5", "B16"),
)
def q97(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    toked = d.select(
        "doc_id",
        "source",
        text.token_count(F.col("text")).alias("n_tokens"),
        _shuffle_key("seed97").alias("hk"),
    ).withColumn("bk", F.substring("hk", 1, 2))  # 256 order-aligned buckets:
    # the window stage runs one task per bucket, so two hex chars keep it
    # ahead of any realistic executor count while the offsets collect stays
    # a bounded 256 rows
    cum = bucketed_running_sum(
        toked, "bk", ["hk", "doc_id"], "n_tokens", out_col="cum_tokens"
    )
    return (
        cum.filter(F.col("cum_tokens") <= TOKEN_BUDGET)
        .select(
            "doc_id",
            "source",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.col("cum_tokens").cast("bigint").alias("cum_tokens"),
        )
        # doc_id tiebreak: a zero-token doc ties its predecessor on
        # cum_tokens, and the convention requires a total ORDER BY
        .orderBy("cum_tokens", "doc_id")
    )


@register(
    "q98_vocab_growth",
    oracle=f"""
    WITH toked AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                           t -> t != '') AS toks
        FROM documents
    ),
    cks AS (SELECT UNNEST([{", ".join(str(c) for c in VOCAB_CHECKPOINTS)}]) AS checkpoint),
    firsts AS (
        SELECT token, MIN(doc_id) AS first_doc
        FROM (SELECT doc_id, UNNEST(toks) AS token FROM toked)
        GROUP BY token
    ),
    vocab AS (
        SELECT c.checkpoint, COUNT(*) AS vocab_size
        FROM firsts f JOIN cks c ON f.first_doc < c.checkpoint
        GROUP BY c.checkpoint
    ),
    seen AS (
        SELECT c.checkpoint, COUNT(*) AS n_docs, SUM(len(d.toks)) AS tokens_seen
        FROM toked d JOIN cks c ON d.doc_id < c.checkpoint
        GROUP BY c.checkpoint
    )
    SELECT s.checkpoint,
           CAST(s.n_docs AS BIGINT) AS n_docs,
           CAST(s.tokens_seen AS BIGINT) AS tokens_seen,
           CAST(COALESCE(v.vocab_size, 0) AS BIGINT) AS vocab_size
    FROM seen s LEFT JOIN vocab v USING (checkpoint)
    ORDER BY checkpoint
    """,
    doc="Heaps-law vocabulary-growth audit: distinct-token count after each "
    "corpus-prefix checkpoint (doc_id = ingestion order), alongside docs "
    "and token occurrences seen — the curve whose flattening signals "
    "near-duplicate saturation in a crawl. Spark plan: explode tokens -> "
    "one agg shuffle on token for first-occurrence doc, then each row "
    "expands to the (bounded, literal) list of checkpoints past its "
    "first_doc via JVM array_filter + explode — no theta join, no "
    "cartesian (the oracle's f.first_doc < c join is DuckDB-side only); "
    "two tiny per-checkpoint aggs equi-join at the end. The token-explode "
    "shuffle is the only data-sized stage, with map-side partial "
    "aggregation",
    tags=("E5",),
)
def q98(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    cks = F.array(*[F.lit(c) for c in VOCAB_CHECKPOINTS])
    toked = d.select(
        "doc_id", text.tokens(F.col("text")).alias("toks")
    )
    firsts = (
        toked.select("doc_id", F.explode("toks").alias("token"))
        .groupBy("token")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    vocab = (
        firsts.select(
            F.explode(
                F.filter(cks, lambda c: F.col("first_doc") < c)
            ).alias("checkpoint")
        )
        .groupBy("checkpoint")
        .agg(F.count("*").alias("vocab_size"))
    )
    seen = (
        toked.select(
            F.size("toks").alias("n_toks"),
            F.explode(
                F.filter(cks, lambda c: F.col("doc_id") < c)
            ).alias("checkpoint"),
        )
        .groupBy("checkpoint")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").alias("tokens_seen"),
        )
    )
    return (
        seen.join(vocab, "checkpoint", "left")
        .select(
            "checkpoint",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("tokens_seen").cast("bigint").alias("tokens_seen"),
            F.coalesce("vocab_size", F.lit(0)).cast("bigint").alias("vocab_size"),
        )
        .orderBy("checkpoint")
    )
