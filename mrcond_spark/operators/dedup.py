"""Deduplication operators for LLM-training-data pipelines (SURVEY §2.4 E1/E2).

Tiers:
- exact_dedup          — hash-groupBy on normalized text (one shuffle).
- minhash_lsh_pairs    — MinHash signatures over shingles, banded into LSH
                         buckets, candidate pairs via self-join *on bucket key*.
- mllib_minhash_pairs  — the same tier on MLlib's MinHashLSH signatures, with
                         an exact shingle-Jaccard verify.
- simhash_pairs        — 64-bit SimHash fingerprints, candidates = equal
                         fingerprint (near-dup at hamming 0 on the bucketed key).
- ngram_jaccard        — exact Jaccard over shingle sets for a candidate pair
                         set (verification stage after LSH candidate gen).

The three pair operators above draw their candidates from one signature
self-join, ``operators.colliding_pairs``.

100 TB design: every stage is expressed as hash/groupBy/join on bounded-size
keys — never an all-pairs comparison. The LSH self-join shuffles on
(band, bucket-hash), so candidate generation cost is proportional to bucket
collisions, not n². All hashing runs JVM-side (xxhash64 / crc32 via built-in
functions), no Python in the hot path.
"""

from __future__ import annotations

# NOT dead code: pandas_udf resolves the string annotations ('pd.Series') of
# the nested UDFs against THIS module's globals — the factory-local
# `import pandas as pd` alone fails with UNSUPPORTED_SIGNATURE
import pandas as pd  # noqa: F401

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import colliding_pairs, ensure_parallelism, materialize_once, pin_width

#: Seed of the MinHash permutations (``minhash_band_udf`` and MLlib's
#: ``MinHashLSH``).
SEED = 42
#: MinHash signature length and LSH bands: two docs are candidates when all
#: ``MINHASH_HASHES // MINHASH_BANDS`` hashes of any one band agree.
MINHASH_HASHES = 32
MINHASH_BANDS = 8
#: Word-shingle width of the MinHash and Jaccard tiers.
SHINGLE_N = 3
#: Word-shingle width of the SimHash fingerprint.
SIMHASH_SHINGLE_N = 2
#: Disjoint 16-bit pieces of a 64-bit SimHash that ``simhash_near_pairs``
#: buckets on; the pigeonhole bound allows ``max_hamming`` up to 3.
SIMHASH_PIECES = 4
#: HashingTF width of ``mllib_minhash_pairs``.
MLLIB_NUM_FEATURES = 1 << 18


def normalized_text(col: Column) -> Column:
    """Canonical text form for exact dedup: trim, lowercase, collapse whitespace
    (explicit RE2-identical class — Java \\s also matches \\x0B, the oracles'
    RE2 \\s does not; text.WS_CLASS note)."""
    return F.regexp_replace(F.lower(F.trim(col)), "[ \\t\\n\\f\\r]+", " ")


def text_hash(col: Column) -> Column:
    """256-bit content hash of the normalized text (exact-dup key)."""
    return F.sha2(normalized_text(col), 256)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per distinct normalized text.

    One shuffle on the 256-bit hash — uniform key distribution, no skew.
    """
    return (
        df.withColumn("__h", text_hash(F.col(text_col)))
        .groupBy("__h")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_count"))
        .drop("__h")
    )


def exact_dedup_keep_best(
    df: DataFrame,
    score_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact dedup keeping the HIGHEST-``score_col`` duplicate (tie: min id)
    instead of the min-id one — the production variant where duplicates
    differ in provenance quality (e.g. keep the copy from the cleanest
    source, or the longest extraction).

    Same scale shape as ``exact_dedup``: one shuffle on the uniform 256-bit
    content hash, the per-group selection folds into the hash aggregate via
    ``min_by`` over the key ``(-score, id)`` (no window, no second pass) —
    minimizing the negated score maximizes the score, and the tie falls to
    the struct's second field, so ``id_col`` may be ANY orderable type
    (string doc ids included); only ``score_col`` must be numeric. A NULL
    score LOSES to every scored duplicate (coalesced to -inf before
    negation — a bare ``-score`` would make the NULL struct sort first and
    the unscored copy win); an all-NULL group falls back to min id.
    Returns full surviving rows.
    """
    key = F.struct(
        (-F.coalesce(F.col(score_col), F.lit(float("-inf")))).alias("negs"),
        F.col(id_col).alias("id"),
    )
    return (
        df.withColumn("__h", text_hash(F.col(text_col)))
        .groupBy("__h")
        .agg(F.min_by(F.struct(*df.columns), key).alias("__best"))
        .select("__best.*")
    )


def dedup_against_reference(
    new_df: DataFrame,
    ref_df: DataFrame,
    text_col: str = "text",
    hash_col: str | None = None,
) -> DataFrame:
    """Incremental exact dedup: drop rows of ``new_df`` whose normalized
    text already exists in ``ref_df`` — the per-snapshot ingestion step of a
    continuously-crawled corpus (the full-corpus re-dedup never reruns; each
    new batch anti-joins the accumulated reference).

    One anti join on the 256-bit content hash: both sides shuffle on a
    uniform key (no skew), the reference side carries ONLY its hash column,
    and with the reference stored as a hash-bucketed table the join is
    shuffle-free on that side. Self-duplicates WITHIN the new batch are the
    caller's ``exact_dedup`` step — this operator is strictly new-vs-old.

    ``hash_col`` names an ALREADY-computed ``text_hash`` column on
    ``new_df`` (a caller that just deduped on the hash passes it instead of
    paying the normalization + sha256 a second time); it is dropped from
    the output either way.
    """
    ref_hashes = ref_df.select(text_hash(F.col(text_col)).alias("__h")).distinct()
    if hash_col is None:
        keyed = new_df.withColumn("__h", text_hash(F.col(text_col)))
    else:
        keyed = new_df.withColumnRenamed(hash_col, "__h")
    return keyed.join(ref_hashes, "__h", "left_anti").drop("__h")


def shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingle array from whitespace-tokenized text (JVM-side).

    NOTE: prefer the two-step ``shingles_from_tokens`` over a materialized
    token column in hot paths — Catalyst re-evaluates lambda-captured
    expressions per array element, so embedding the tokenizer here is
    O(len^2) per document.
    """
    return shingles_from_tokens(F.split(normalized_text(col), " "), n)


def shingles_from_tokens(tok_col: Column, n: int = 3) -> Column:
    """Shingles over a pre-tokenized array column (expression form).

    WARNING: only O(len) if ``tok_col`` is a physically materialized
    attribute. CollapseProject will inline an upstream tokenizer projection
    into the per-element lambda, re-running split+regexp per element —
    O(len^2) per document. Hot paths use ``shingle_udf`` instead.
    """
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(tok_col) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(tok_col, i + 1, n)),
    )


def shingle_udf(n: int = SHINGLE_N, drop_empty: bool = False):
    """Arrow-batched shingler: text -> array<string> of word n-grams.

    Semantics identical to ``array_distinct(shingles_from_tokens(split(
    normalized_text(text), ' '), n))``: trim/lower/collapse-whitespace
    tokenize, n_sh = max(len-n+1, 1) grams joined by single spaces, first-
    occurrence dedup. Python-side because Catalyst cannot keep the tokenizer
    out of the transform lambda (CollapseProject inlines it, going O(len^2)
    per doc); one C-speed regex split + list slice per doc is ~10x faster
    than the interpreted HOF at equal output. Self-contained closure.

    ``drop_empty`` selects which ORACLE tokenization a consumer mirrors:
    False (default) keeps boundary empty tokens and always emits >= 1 gram
    (the q55/q75/q88 oracle style, and the q57 MLlib contract that no
    HashingTF vector is all-zero); True filters empty tokens and returns an
    EMPTY array for token-less text (the q123/q144 ``list_filter(t != '')``
    oracle style, where an empty doc joins to nothing instead of pairing
    with every other empty doc at similarity 1.0 — and where a doc with a
    trailing tab/newline must NOT grow a phantom trailing gram).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def sh(texts: pd.Series) -> pd.Series:
        import re

        # ASCII whitespace class + space-only strip: Python's \s and .strip()
        # are Unicode-aware, but the JVM expression path (trim + Java \s) and
        # the DuckDB oracles (trim + RE2 \s) are ASCII-only — the oracle
        # contract requires matching THEIR tokenization exactly
        ws = re.compile(r"[ \t\n\f\r]+")
        out = []
        for text in texts:
            toks = ws.split((text or "").strip(" ").lower())
            if drop_empty:
                toks = [t for t in toks if t]
                if not toks:
                    out.append([])
                    continue
            n_sh = max(len(toks) - n + 1, 1)
            grams = [" ".join(toks[i : i + n]) for i in range(n_sh)]
            out.append(list(dict.fromkeys(grams)))
        return pd.Series(out)

    return sh


def minhash_band_udf():
    """Arrow-batched MinHash band-bucket computation: text -> array<long> of
    one LSH bucket id per band (``MINHASH_HASHES`` hashes over
    ``SHINGLE_N``-word shingles, folded into ``MINHASH_BANDS`` bands).

    Per record batch: shingle in Python, crc32 each shingle (C speed), then a
    single numpy broadcast ``(a_k * crc + b_k) mod p`` -> min over shingles
    per hash, band-fold with a polynomial mix. ~100x less plan complexity than
    the equivalent expression tree and the classic industrial shape for
    web-scale text dedup. Closure is self-contained (works on executors
    without this package installed).
    """
    from pyspark.sql.functions import pandas_udf
    import pandas as pd

    rows_per_band = MINHASH_HASHES // MINHASH_BANDS

    @pandas_udf("array<long>")
    def band_buckets(texts: pd.Series) -> pd.Series:
        import re
        import zlib

        import numpy as np

        rng = np.random.RandomState(SEED)
        prime = (1 << 61) - 1
        a = rng.randint(1, prime, size=MINHASH_HASHES, dtype=np.int64).astype(np.uint64)
        b = rng.randint(0, prime, size=MINHASH_HASHES, dtype=np.int64).astype(np.uint64)
        # explicit class: Python re \s is Unicode-aware (wider than BOTH
        # Java and RE2); the oracles tokenize with RE2 \s = [ \t\n\f\r]
        ws = re.compile("[ \t\n\f\r]+")

        out = []
        for text in texts:
            toks = [t for t in ws.split((text or "").strip().lower()) if t]
            n_sh = max(len(toks) - SHINGLE_N + 1, 1)
            crcs = np.fromiter(
                (
                    zlib.crc32(" ".join(toks[i : i + SHINGLE_N]).encode())
                    for i in range(n_sh)
                ),
                dtype=np.uint64,
                count=n_sh,
            )
            # (MINHASH_HASHES, n_shingles) affine -> min per hash
            sig = ((a[:, None] * crcs[None, :] + b[:, None]) % prime).min(axis=1)
            bandsig = sig.reshape(MINHASH_BANDS, rows_per_band)
            # fold each band's rows into one bucket id (polynomial mix)
            bucket = np.zeros(MINHASH_BANDS, dtype=np.uint64)
            for r in range(rows_per_band):
                bucket = bucket * np.uint64(1000003) + bandsig[:, r]
            out.append((bucket % np.uint64(1 << 62)).astype(np.int64))
        return pd.Series(out)

    return band_buckets


def minhash_lsh_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) via banded MinHash-LSH.

    Two docs are candidates if any band bucket matches. The self-join key is
    (band_idx, bucket) — the shuffle is by bucket, never all-pairs.
    """
    buckets = minhash_band_udf()
    df = ensure_parallelism(df)
    # both sides of the self-join reference this UDF stage; compute it once
    banded = materialize_once(
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(buckets(F.col(text_col))).alias("band", "bucket"),
        )
    )
    return colliding_pairs(banded, ["band", "bucket"])


def minhash_probe_reference(
    new_df: DataFrame,
    reference_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental near-dup candidates: NEW-batch docs probed against a
    REFERENCE corpus's band index — ``(new_id, ref_id)`` pairs, one row
    per candidate. The daily-pipeline shape: yesterday's corpus is
    already deduped, so today's batch must never re-pair the whole
    corpus against itself (the `minhash_lsh_pairs` self-join); it only
    band-joins |new| signatures against the reference index. The E2
    counterpart of the exact-hash `dedup_against_reference`.

    100 TB: the reference side is the SAME (id, band, bucket) frame a
    production system would PERSIST once (partitioned by (band, bucket %
    k)) and incrementally append to — here it is computed on the fly so
    the operator stays self-contained; either way the join shuffles
    |new| + |reference-index| band rows on the bucket key, never
    |reference|^2, and new-vs-new pairs are intentionally absent (they
    are the NEXT batch's self-join at |new|-scale, which
    `minhash_lsh_pairs` covers).
    """
    buckets = minhash_band_udf()

    def banded(df: DataFrame, out_id: str) -> DataFrame:
        return ensure_parallelism(df).select(
            F.col(id_col).alias(out_id),
            F.posexplode(buckets(F.col(text_col))).alias("band", "bucket"),
        )

    new_b = banded(new_df, "new_id")
    ref_b = banded(reference_df, "ref_id")
    return (
        new_b.join(ref_b, ["band", "bucket"])
        .select("new_id", "ref_id")
        .distinct()
    )


def mllib_minhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hash_tables: int = 8,
    max_jaccard_distance: float = 0.6,
) -> DataFrame:
    """MLlib-native near-dup tier: HashingTF over shingles -> MinHashLSH
    signatures -> explicit banded self-join -> exact Jaccard verify (SURVEY
    E2's named composition).

    Uses the fitted ``MinHashLSHModel``'s hash functions for the signatures
    (the MLlib part), but replaces ``approxSimilarityJoin`` with our own
    (table, hash-value) self-join + JVM-side shingle-set Jaccard: the MLlib
    join computes its distance in a per-row Scala UDF on 2^18-dim sparse
    vectors over an AQE-coalesced (byte-small, CPU-heavy) single partition —
    unboundable from the outside. Candidate semantics are identical (same
    OR-amplified hash collisions); the verify distance is exact shingle-set
    Jaccard instead of hashed-index Jaccard (differs only on 2^18-space
    HashingTF collisions).
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH
    from pyspark.ml.functions import vector_to_array

    # NOT materialized: shingle arrays are large vs their (Arrow-batched UDF)
    # compute cost — recomputing per consumer beats checkpoint block IO
    sh = (
        ensure_parallelism(df)
        .select(F.col(id_col).alias("id"), shingle_udf()(F.col(text_col)).alias("sh"))
        # Defensive only: shingle_udf emits >=1 gram even for short/empty
        # text (a single sub-n-token gram), so this never drops a row and
        # MinHashLSH never sees an all-zero vector. Kept as a guard against
        # a future shingle implementation that CAN return empty.
        .filter(F.size("sh") > 0)
    )
    tf = HashingTF(
        inputCol="sh", outputCol="features", numFeatures=MLLIB_NUM_FEATURES, binary=True
    )
    feat = tf.transform(sh)
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=SEED
    ).fit(feat)
    # hashes: array of 1-dim vectors, one minhash per table -> (table, hval);
    # computed once — the TF+LSH transform would otherwise run per join side
    sig = materialize_once(
        model.transform(feat)
        .select("id", F.posexplode(F.col("hashes")).alias("table", "hvec"))
        .select("id", "table", vector_to_array(F.col("hvec"))[0].alias("hval"))
    )
    # materialized: tiny (id pairs), but consumed three times below (member
    # extraction + the two verify joins) and its lineage is the whole
    # sig self-join
    cand = materialize_once(colliding_pairs(sig, ["table", "hval"]))
    # re-shingle ONLY candidate-pair members for the exact verify: the
    # candidate id set is tiny, so a broadcast join filters the corpus BEFORE
    # the shingle UDF — two near-free passes instead of two full-corpus ones.
    # At 100 TB this is the difference between verify cost tracking
    # |candidates| vs |corpus|.
    members = (
        cand.select(F.col("id_a").alias("mid"))
        .union(cand.select(F.col("id_b")))
        .distinct()
    )
    docs_small = ensure_parallelism(df).join(
        F.broadcast(members), F.col(id_col) == F.col("mid")
    )
    # the candidate set is byte-small and the verify CPU-heavy (pin_width)
    verified = ngram_jaccard(pin_width(cand), docs_small, text_col=text_col, id_col=id_col)
    return verified.select(
        "id_a", "id_b", F.round(1 - F.col("jaccard"), 4).alias("jaccard_dist")
    ).filter(F.col("jaccard_dist") <= max_jaccard_distance)


def simhash64_udf(hash_fn: str = "blake2b"):
    """Arrow-batched 64-bit SimHash: text -> signed BIGINT fingerprint.

    Per shingle: an 8-byte digest (C speed); per doc: numpy unpackbits ->
    +-1 votes per bit -> sign -> packed uint64. Self-contained closure.

    ``hash_fn``: ``blake2b`` (default, fastest) or ``md5`` (first 8 digest
    bytes == first 16 hex chars of SQL ``md5()``, so a DuckDB oracle can
    recompute the IDENTICAL fingerprint — same design as
    ``text.doc_fingerprint_from_tokens``; q62 uses this). Tokenization is
    ASCII-whitespace + space-only strip to match the JVM/DuckDB trim+regex
    semantics the oracles use (Python's ``\\s``/``strip()`` are
    Unicode-aware).
    """
    from pyspark.sql.functions import pandas_udf
    import pandas as pd

    if hash_fn not in ("blake2b", "md5"):
        raise ValueError(f"unsupported hash_fn {hash_fn!r}")

    @pandas_udf("long")
    def simhash(texts: pd.Series) -> pd.Series:
        import hashlib
        import re

        import numpy as np

        if hash_fn == "blake2b":
            digest8 = lambda b: hashlib.blake2b(b, digest_size=8).digest()  # noqa: E731
        else:
            digest8 = lambda b: hashlib.md5(b).digest()[:8]  # noqa: E731
        ws = re.compile(r"[ \t\n\f\r]+")
        out = np.empty(len(texts), dtype=np.int64)
        for j, text in enumerate(texts):
            toks = [t for t in ws.split((text or "").strip(" ").lower()) if t]
            n_sh = max(len(toks) - SIMHASH_SHINGLE_N + 1, 1)
            digests = np.frombuffer(
                b"".join(
                    digest8(" ".join(toks[i : i + SIMHASH_SHINGLE_N]).encode())
                    for i in range(n_sh)
                ),
                dtype=np.uint8,
            ).reshape(n_sh, 8)
            bits = np.unpackbits(digests, axis=1)  # (n_sh, 64)
            votes = bits.astype(np.int32).sum(axis=0) * 2 - n_sh  # sum(+-1)
            packed = np.packbits((votes > 0).astype(np.uint8))
            out[j] = int.from_bytes(packed.tobytes(), "big", signed=True)
        return pd.Series(out)

    return simhash


def simhash_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Docs sharing an identical 64-bit SimHash (bucketed, one shuffle)."""
    sig = materialize_once(
        ensure_parallelism(df).select(
            F.col(id_col).alias("id"), simhash64_udf()(F.col(text_col)).alias("sim")
        )
    )
    return colliding_pairs(sig, ["sim"])


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    hash_fn: str = "blake2b",
) -> DataFrame:
    """Near-duplicate pairs within ``max_hamming`` bits of SimHash distance.

    Scale shape (the classic piece-bucketing construction): split the 64-bit
    fingerprint into ``SIMHASH_PIECES`` disjoint chunks; by pigeonhole, any
    pair within hamming < SIMHASH_PIECES shares at least one EXACT chunk, so
    candidate generation is an equi-join on (piece_idx, piece_value) — one
    hash shuffle, never all-pairs. Verification is a JVM-side
    ``bit_count(xor)`` on the candidate set. Requires ``max_hamming <
    SIMHASH_PIECES`` for the recall guarantee.

    The self-join is written out here rather than taken from
    ``colliding_pairs``: it carries each side's full ``sim`` into the
    per-pair Hamming verify, and the verify filters before the distinct.
    """
    if max_hamming >= SIMHASH_PIECES:
        raise ValueError(
            f"pigeonhole guarantee needs max_hamming ({max_hamming}) < {SIMHASH_PIECES}"
        )
    width = 64 // SIMHASH_PIECES
    mask = (1 << width) - 1
    sig = materialize_once(
        ensure_parallelism(df).select(
            F.col(id_col).alias("id"),
            simhash64_udf(hash_fn=hash_fn)(F.col(text_col)).alias("sim"),
        )
    )
    chunks = [
        F.shiftrightunsigned(F.col("sim"), p * width).bitwiseAND(F.lit(mask))
        for p in range(SIMHASH_PIECES)
    ]
    exploded = sig.select("id", "sim", F.posexplode(F.array(*chunks)).alias("piece", "pval"))
    a, b = exploded.alias("a"), exploded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.piece") == F.col("b.piece"))
            & (F.col("a.pval") == F.col("b.pval"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.sim").bitwiseXOR(F.col("b.sim"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def ngram_jaccard(
    pairs: DataFrame, docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs (id_a, id_b).

    Verification stage: joins the (small) candidate set back to the corpus
    twice; array intersection/union are JVM built-ins.
    """
    sh = docs.select(F.col(id_col).alias("id"), shingle_udf()(F.col(text_col)).alias("sh"))
    return (
        pairs.join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.greatest(F.size(F.array_union("sh_a", "sh_b")), F.lit(1))
            ).alias("jaccard"),
        )
    )


def remove_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_jaccard: float = 0.5,
) -> DataFrame:
    """End-to-end near-duplicate REMOVAL — the full curation composition:

        MinHash-LSH candidates  ->  exact shingle-Jaccard verify
        ->  connected components over verified pairs
        ->  keep the min-id representative per cluster, drop the rest.

    Returns ``df`` minus non-representative near-duplicates. Scale shape:
    candidate generation shuffles on LSH buckets (never all-pairs), the
    verify stage shingles ONLY candidate-pair members (broadcast id filter
    before the UDF, so its cost tracks |candidates| not |corpus|),
    components iterate O(log cluster-diameter) rounds on the (tiny) verified
    edge list, and the final drop is one broadcast-able anti join keyed on
    ids.
    """
    from .components import drop_non_representatives

    # tiny (id pairs), consumed twice below (member filter + verify join)
    cand = materialize_once(minhash_lsh_pairs(df, text_col=text_col, id_col=id_col))
    members = cand.select(F.col("id_a").alias("mid")).union(cand.select("id_b")).distinct()
    docs_small = df.join(F.broadcast(members), F.col(id_col) == F.col("mid")).drop("mid")
    edges = ngram_jaccard(cand, docs_small, text_col=text_col, id_col=id_col).filter(
        F.col("jaccard") >= min_jaccard
    )
    return drop_non_representatives(df, edges, id_col)
