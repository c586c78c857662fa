"""Similarity search over embedding columns (SURVEY §2.4 E3/E4).

- cosine_topk        — exact brute-force top-k cosine: JVM-side dot/norm via
                       zip_with + aggregate, ranked per query with a window.
- lsh_ann_topk       — scale path: random-hyperplane LSH bucketing; candidates
                       share >= 1 of `tables` bucket keys, then exact cosine
                       re-rank within candidates.
- ivf_ann_topk       — cluster-partitioned scale path: k-means cells from a
                       bounded sample, each query probes `n_probe` cells.
- embedding_near_dup_pairs — vector pairs with cosine >= threshold: LSH bucket
                       candidates (``operators.colliding_pairs``), then an
                       exact Arrow-batched cosine verify.
- remove_embedding_dups — those pairs' components, min-id representative kept.
- semantic_dedup     — SemDeDup: the same removal with candidates drawn
                       within k-means cells instead of LSH buckets.

The three top-k operators share one ranking tail, ``_top_k``.

100 TB design: brute force is O(|Q|x|N|) and only sane for small query sets
(it broadcasts the query set). The LSH variant shuffles on (table, bucket)
keys so cost tracks bucket occupancy; recall tunes via bits/tables. The
window rank partitions by query_id (high cardinality), never a global sort.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import colliding_pairs, ensure_parallelism, materialize_once, pin_width, seeded_hash60

#: Seed of the LSH hyperplanes and of the k-means sample and initial draw.
SEED = 42
#: Hyperplanes per LSH table and tables of ``embedding_near_dup_pairs``
#: (and the defaults of ``lsh_ann_topk``).
LSH_BITS = 8
LSH_TABLES = 4
#: Target sample rows and Lloyd iterations of ``sampled_kmeans_centroids``.
KMEANS_FIT_SAMPLE = 4096
KMEANS_ITERS = 5


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double (JVM, codegen'd)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Expression-form cosine (sequential fold — deterministic order, used by
    the hash-oracle-checked exact top-k). Higher-order functions run
    interpreted, so for large candidate sets prefer ``cosine_pairs_udf``."""
    return dot(a, b) / (norm(a) * norm(b))


def cosine_pairs_udf():
    """Vectorized cosine for (va, vb) array-column pairs: one numpy einsum
    per Arrow batch — ~2 orders faster than the interpreted fold on bulk
    candidate verification. Self-contained closure."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        import numpy as np

        a = np.vstack(va.to_numpy()).astype("float64")
        b = np.vstack(vb.to_numpy()).astype("float64")
        num = np.einsum("ij,ij->i", a, b)
        den = np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)
        return pd.Series(np.where(den > 0, num / np.maximum(den, 1e-300), 0.0))

    return cos


def cosine_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for the pinned query ids.

    Returns (query_id, nbr_id, cos_r DOUBLE quantized to 4dp, rank), ranked
    by ``_top_k``.
    """
    q = embeddings.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    n = embeddings.select(F.col(id_col).alias("nbr_id"), F.col(vec_col).alias("nv"))
    scored = (
        F.broadcast(q)
        .crossJoin(n)
        .filter(F.col("query_id") != F.col("nbr_id"))
        .select(
            "query_id",
            "nbr_id",
            F.round(cosine(F.col("qv"), F.col("nv")), 4).alias("cos_raw"),
        )
    )
    return _top_k(scored, k)


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """The ``k`` best ``(query_id, nbr_id, cos_raw)`` rows per query, as
    ``(query_id, nbr_id, cos_r, rank)``. ``cos_raw`` is the cosine rounded
    to 4 dp and ``nbr_id`` breaks its ties, so the ranking does not depend
    on floating-point summation order. The window partitions by the
    high-cardinality query id, never a global sort.
    """
    w = Window.partitionBy("query_id").orderBy(F.col("cos_raw").desc(), F.col("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "nbr_id",
            F.col("cos_raw").cast("decimal(10,4)").cast("double").alias("cos_r"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def lsh_buckets_udf(bits: int, tables: int):
    """Vectorized random-hyperplane LSH bucketizer.

    Returns an Arrow-batched pandas_udf: array<float> embedding -> array<long>
    of one bucket id per hash table. One numpy matmul per record batch — the
    whole batch's (n x dim) matrix against a seeded (tables*bits x dim)
    hyperplane matrix, signs packed per table into integer buckets. ``dim``
    is the batch's vector width; the planes ``SEED`` draws for a given width
    are the same in every batch, so equal vectors share buckets.

    Everything the UDF needs is defined inside the closure or is a module
    constant (cloudpickle serializes both by value), so executors never need
    this package importable.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def bucketize(vecs: pd.Series) -> pd.Series:
        import numpy as np

        mat = np.vstack(vecs.to_numpy()).astype("float64")  # (n, dim)
        planes = np.random.RandomState(SEED).standard_normal((tables * bits, mat.shape[1]))
        weights = (1 << np.arange(bits)).astype("int64")
        proj = mat @ planes.T  # (n, tables*bits)
        signs = (proj > 0).astype("int64").reshape(len(vecs), tables, bits)
        return pd.Series(list(signs @ weights))  # (n, tables) bucket ids

    return bucketize


def lsh_ann_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 3,
    bits: int = LSH_BITS,
    tables: int = LSH_TABLES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket in >=1 table, then
    exact cosine re-rank. Shuffle key = (table, bucket)."""
    buckets = lsh_buckets_udf(bits, tables)

    def bucketize(df: DataFrame, idname: str, vname: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(idname),
            F.col(vec_col).alias(vname),
            F.posexplode(buckets(F.col(vec_col))).alias("table", "bucket"),
        )

    q = bucketize(embeddings.filter(F.col(id_col).isin(query_ids)), "query_id", "qv")
    n = bucketize(ensure_parallelism(embeddings), "nbr_id", "nv")
    cand = (
        q.join(n, ["table", "bucket"])
        .filter(F.col("query_id") != F.col("nbr_id"))
        .select("query_id", "qv", "nbr_id", "nv")
        .dropDuplicates(["query_id", "nbr_id"])
    )
    scored = cand.select(
        "query_id", "nbr_id", F.round(cosine(F.col("qv"), F.col("nv")), 4).alias("cos_raw")
    )
    return _top_k(scored, k)


def sampled_kmeans_centroids(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_clusters: int = 16,
):
    """Driver-side k-means fit over a BOUNDED sample — the shared index-build
    step for the cluster-partitioned operators (IVF ANN, semantic dedup).

    Returns a ``(n_clusters, dim)`` float64 numpy array, or ``None`` on an
    empty corpus (or a sample draw that missed every row). The build never
    reads the full corpus' VECTORS outside the sample: the counting job scans
    only ``id_col`` (one narrow-column pass — the NULL-id guard needs the
    column values, so it is no longer the parquet-footer-only count the
    pre-guard version ran; budget one id-column scan per index build), the
    sample collect is the only vector read, and Lloyd iterations run on
    <=~5k rows in milliseconds.

    The sample is an md5-threshold row filter on ``id_col`` (the same
    deterministic-hash primitive as ``splits.split_assignment``), NOT
    Bernoulli ``.sample(fraction)``: a Bernoulli draw depends on the input's
    file partitioning, so the same corpus read under a different layout
    (repartition, different file split, another host) would fit different
    centroids. The hash filter is a pure function of each row's id — the
    fitted centroids are identical for identical (id, vector) contents under
    ANY partitioning. The sample rows are additionally sorted by id before
    the fit so the Lloyd iterations see a deterministic row order.

    ``id_col`` must be NULL-free: a NULL id has no deterministic hash
    (md5(concat(...NULL)) is NULL, which would silently drop the row from
    the fit), so the function raises instead — the same loud-on-NULL-keys
    contract as ``prefix_sum.bucketed_running_sum``.
    """
    import numpy as np

    n_rows, n_ids = embeddings.agg(
        F.count(F.lit(1)), F.count(F.col(id_col))
    ).first()
    if n_ids < n_rows:
        raise ValueError(
            f"sampled_kmeans_centroids: id_col {id_col!r} has "
            f"{n_rows - n_ids} NULL row(s) — NULL ids cannot be hash-sampled "
            "deterministically (they would be silently excluded from the "
            "centroid fit); assign unique non-NULL ids first"
        )
    frac = min(1.0, (KMEANS_FIT_SAMPLE * 1.2) / max(n_rows, 1))
    # layout-independent ~frac sample: md5("kmeans{SEED}:" + id) -> 60-bit
    # int; keep rows whose hash bucket (out of 2^40) is under frac * 2^40.
    # 2^40 resolution keeps the integer threshold meaningful out to
    # ~5e15-row corpora (a 2^20 denominator truncated to ZERO kept rows
    # past ~5e9 rows — a silent no-index cliff at exactly the scale this
    # build path exists for); max(1, ...) guards the residual rounding.
    denom = 1 << 40
    hk = seeded_hash60(f"kmeans{SEED}:", F.col(id_col))
    sample_rows = (
        embeddings.filter((hk % denom) < max(1, int(frac * denom)))
        .select(F.col(id_col).alias("sid"), F.col(vec_col).alias("nv"))
        .collect()
    )
    # tie-break the sort on the vector too: ids SHOULD be unique, but a
    # duplicated id would otherwise keep the partition-dependent collect()
    # order under Python's stable sort and break the determinism contract
    sample = np.array(
        [
            r["nv"]
            for r in sorted(sample_rows, key=lambda r: (r["sid"], tuple(r["nv"])))
        ],
        dtype="float64",
    )
    if len(sample) == 0:
        return None
    # expanded-form distances (one matmul, no NxCxD temp); rough centroids
    # are enough — downstream recall comes from probe breadth / verify, not
    # centroid quality
    rng = np.random.default_rng(SEED)
    centroids = sample[
        rng.choice(len(sample), size=min(n_clusters, len(sample)), replace=False)
    ]
    s2 = (sample * sample).sum(axis=1)[:, None]
    for _ in range(KMEANS_ITERS):
        d2 = s2 - 2.0 * (sample @ centroids.T) + (centroids * centroids).sum(axis=1)[None, :]
        assign = d2.argmin(axis=1)
        for c in range(len(centroids)):
            members = sample[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
    return centroids


def _cell_scores(centroids, vec: Column) -> Column:
    """Per-cell k-means assignment scores for ``vec`` as ONE array column.

    Per cell, score = -2*v.c + |c|^2 (the |v|^2 term is constant per row and
    drops out of the argmin). Honest cost model: Spark evaluates
    higher-order functions (zip_with/aggregate) INTERPRETED, not codegen'd —
    but an A/B at 16 cells x 64 dims measured the interpreted fold 2x
    FASTER than an Arrow-batched numpy argmin (0.15 s vs 0.33 s at sf0.1):
    the per-stage Python worker round-trip costs more than 16x64 lambda
    evals per row. For much wider configs (hundreds of cells x 1k+ dims)
    the crossover flips; switch to a pandas_udf argmin there. Deterministic
    for identical input bytes — identical vectors ALWAYS land in the
    identical cell, which is what the planted-duplicate oracles build on.

    CONSTRUCTION cost (round-12 event-log finding, guide §7.3 "nothing is
    running" shape): the original per-literal Column algebra built ~16x64
    ``F.lit`` nodes — several thousand Py4J socket round-trips (cProfile:
    4,487 sends), 0.96 s warm / 1.76 s cold of pure DRIVER time per build,
    the single largest cost in q99/q56 at bench scale and invisible to
    stage metrics because no job is running. (PySpark's ``F.lit(list)``
    recurses per ELEMENT, so nested-list literals pay the same wire cost.)
    The centroid matrix and the norm vector are therefore rendered as two
    D-suffixed SQL array literals — ONE ``F.expr`` parse each, measured
    0.075 s build — and only the small zip_with shell is Column algebra.
    ``repr(float)`` round-trips IEEE doubles exactly and Java's
    ``Double.parseDouble`` is correctly rounded, so every literal, the
    fold order, and the resulting scores are bit-identical to the old
    form (A/B-verified: 0 differing assignments over sf0.1, all oracle
    consumers green).
    """

    def dlit(x) -> str:
        return f"{float(x)!r}D"

    cents = F.expr(
        "array("
        + ",".join("array(" + ",".join(dlit(x) for x in c) + ")" for c in centroids)
        + ")"
    )
    norms = F.expr("array(" + ",".join(dlit((c * c).sum()) for c in centroids) + ")")
    return F.zip_with(norms, cents, lambda n2, c: n2 - 2.0 * dot(vec, c))


def with_cell(df: DataFrame, centroids, vec: Column, out: str = "cell") -> DataFrame:
    """Append nearest-centroid cell id ``out`` (argmin over ``_cell_scores``).

    Two-step projection ON PURPOSE: ``array_position(s, array_min(s))``
    references the scores array twice, and inlining the scores expression
    (the old single-Column form) duplicated the whole 16x64-literal fold
    tree — twice the analysis work and twice the per-row evaluation.
    Materializing the scores as a projected column first keeps one copy;
    CollapseProject does NOT re-inline it (multi-referenced non-cheap
    expression). Measured build+analysis 0.94 -> ~0.25 s warm; cell ids
    bit-identical (the argmin consumes the same double array).
    """
    scores = F.col("__cell_scores")
    return (
        df.withColumn("__cell_scores", _cell_scores(centroids, vec))
        .withColumn(out, (F.array_position(scores, F.array_min(scores)) - 1).cast("int"))
        .drop("__cell_scores")
    )


def ivf_ann_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 3,
    n_clusters: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) approximate nearest neighbors — the
    cluster-partitioned scale path (SURVEY E4 alternative to LSH).

    Build: k-means over a BOUNDED sample (driver-side numpy,
    ``KMEANS_FIT_SAMPLE`` rows) partitions the corpus into ``n_clusters`` cells; every vector
    stores its cell id via one broadcast-centroid pass. Search: each query
    probes its OWN cell first (structural guarantee — see the probe-list
    comment) plus its ``n_probe - 1`` nearest remaining centroids, and
    exact-cosine re-ranks only those cells' members.

    100 TB shape: the index build never reads the full corpus — centroids
    come from a fixed-size sample (the standard IVF build; recall is set by
    n_probe, not centroid quality), assignment is a single broadcast-map
    stage over the corpus, and a search touches n_probe/n_clusters of the
    data. Storing the table physically partitioned by cell id turns each
    probe into partition pruning.
    """
    import numpy as np

    # NOT materialized: each stage below consumes the
    # scan exactly once — count is a footer/metadata-cheap job, the sample
    # collect reads the data once, and the probe join reads it once more in
    # the final job. A localCheckpoint added a full write plus extra jobs
    # for zero reuse (measured: it was ~20% of q56's wall at sf0.1). A real
    # deployment materializes the ASSIGNED table with an explicit write and
    # partitions it by cell id, which is an output artifact, not a temp.
    vecs = ensure_parallelism(embeddings).select(
        F.col(id_col).alias("nbr_id"), F.col(vec_col).alias("nv")
    )
    # count runs pre-repartition (no shuffle); the md5-threshold sample makes
    # the fitted centroids identical under any input partitioning (and the
    # planted-duplicate invariant below holds regardless — belt and braces)
    centroids = sampled_kmeans_centroids(
        embeddings, vec_col=vec_col, id_col=id_col, n_clusters=n_clusters
    )
    if centroids is None:
        # empty corpus: no index to build and nothing to rank — return an
        # empty, correctly-typed result instead of letting the numpy
        # reductions raise on a 1-D empty array
        return embeddings.sparkSession.createDataFrame(
            [], "query_id LONG, nbr_id LONG, cos_r DOUBLE, rank INT"
        )
    assigned = with_cell(vecs, centroids, F.col("nv"), "cell")
    # |queries| is small and pinned by contract; collecting from `assigned`
    # (same single pass as collecting the raw vectors) also yields each query
    # row's OWN cell under the same JVM expression that assigns every corpus
    # row. That cell always leads the probe list: any exact duplicate of the
    # query vector lands in the identical cell (same expression, identical
    # input bytes -> identical deterministic fold -> identical argmin), so a
    # planted duplicate is GUARANTEED probed regardless of centroid draw —
    # that structural invariant is what lets q56 carry a planted-neighbor
    # hash oracle while centroids themselves may vary with partitioning.
    # Remaining probes come from cosine ranking over the centroids.
    q_local = assigned.filter(F.col("nbr_id").isin(query_ids)).collect()
    cnorm = np.linalg.norm(centroids, axis=1)
    probe_rows = []
    for r in q_local:
        qv = np.asarray(r["nv"], dtype="float64")
        sims = (centroids @ qv) / (np.maximum(cnorm * np.linalg.norm(qv), 1e-300))
        rest = [int(c) for c in np.argsort(-sims) if int(c) != r["cell"]]
        for cell in [r["cell"], *rest[: max(n_probe - 1, 0)]]:
            probe_rows.append((r["nbr_id"], list(map(float, qv)), int(cell)))
    probes = embeddings.sparkSession.createDataFrame(
        probe_rows, "query_id LONG, qv ARRAY<DOUBLE>, cell INT"
    )

    cos_udf = cosine_pairs_udf()
    scored = (
        F.broadcast(probes)
        .join(assigned, "cell")
        .filter(F.col("query_id") != F.col("nbr_id"))
        .select(
            "query_id",
            "nbr_id",
            F.round(cos_udf(F.col("qv"), F.col("nv").cast("array<double>")), 4).alias("cos_raw"),
        )
    )
    return _top_k(scored, k)


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate vector pairs (cosine >= threshold) via LSH candidates +
    exact verification — the embedding-space dedup tier (SURVEY E2/E4 hybrid).

    Targets true near-duplicates (cosine >= ~0.9): at that similarity an
    8-bit bucket match has p~0.43 per table -> ~0.9 recall over 4 tables,
    while weakly-similar pairs almost never collide, keeping candidate volume
    near-linear. The bucket self-join carries ONLY ids (the heavy vector
    arrays join back after pair dedup) — candidate shuffle stays id-sized.
    The verify joins the vectors back onto the candidate pairs and keeps
    those whose Arrow-batched cosine reaches ``threshold``.
    """
    buckets = lsh_buckets_udf(LSH_BITS, LSH_TABLES)
    # both self-join sides reference the bucketize-UDF stage; compute it once
    b = materialize_once(
        ensure_parallelism(embeddings).select(
            F.col(id_col).alias("id"),
            F.posexplode(buckets(F.col(vec_col))).alias("table", "bucket"),
        )
    )
    va = embeddings.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = embeddings.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    cos_udf = cosine_pairs_udf()
    # the candidate pairs are byte-small and the verify CPU-heavy (pin_width)
    return (
        pin_width(colliding_pairs(b, ["table", "bucket"]))
        .join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", cos_udf(F.col("va"), F.col("vb")).alias("cos"))
        .filter(F.col("cos") >= threshold)
        .select(
            "id_a",
            "id_b",
            F.round("cos", 4).cast("decimal(10,4)").cast("double").alias("cos_r"),
        )
    )


def remove_embedding_dups(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space near-duplicate REMOVAL (vector analog of
    ``dedup.remove_near_dups``): LSH-bucketed candidate pairs -> exact cosine
    verify -> connected components -> keep the min-id representative per
    cluster, drop the rest. Same scale shape: candidates shuffle on buckets,
    components iterate on the (tiny) verified edge list, the drop is one
    anti join."""
    from .components import drop_non_representatives

    pairs = embedding_near_dup_pairs(
        embeddings, threshold=threshold, id_col=id_col, vec_col=vec_col
    )
    return drop_non_representatives(embeddings, pairs, id_col)


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public
    arXiv:2303.09540): k-means-cluster the embedding space, verify cosine >=
    ``threshold`` only WITHIN each cluster, drop all but the min-id
    representative of each connected near-duplicate group.

    vs the LSH tier (``remove_embedding_dups``): clustering concentrates
    semantically-similar docs so candidate generation is a cell-partitioned
    self-join instead of multi-table bucket unions — fewer stages, and the
    cell assignment is reusable as a physical partitioning key for the
    written corpus. Recall is cluster-local by design (the paper's tradeoff):
    a near-dup pair split across cells is missed; n_clusters=1 degrades to
    exact all-pairs.

    100 TB shape: index build reads a bounded sample
    (``sampled_kmeans_centroids``); assignment is one codegen-free JVM pass;
    the within-cell self-join shuffles (id, cell) only — vectors join back
    per verified candidate; components iterate on the tiny edge list
    (``operators/components.py`` pointer jumping); the drop is one anti
    join. Cell population ~N/k bounds the per-cell pair blowup — pick
    n_clusters so N/k stays in the ~1e5 range and the quadratic term stays
    sub-linear in N overall. ``n_clusters`` also bounds the verify step's
    parallelism: each non-empty cell is one task, whatever the cluster's
    width, and a hot cell runs whole in one task.

    ``id_col`` must be an integral column; anything else raises
    ``ValueError`` before any job runs.
    """
    from pyspark.sql.types import IntegralType

    from .components import drop_non_representatives

    id_type = embeddings.schema[id_col].dataType
    if not isinstance(id_type, IntegralType):
        raise ValueError(
            f"semantic_dedup: id column {id_col!r} must be integral, got {id_type.simpleString()}"
        )

    centroids = sampled_kmeans_centroids(
        embeddings, vec_col=vec_col, id_col=id_col, n_clusters=n_clusters
    )
    if centroids is None:
        return embeddings  # empty corpus: nothing to dedup
    # Cell-grouped verify: each vector ships ONCE, in one shuffle of (id,
    # cell, vec) keyed by cell, and the per-cell pairwise cosines come from
    # one numpy Gram matmul per group, emitting only the qualifying
    # (id_a < id_b) pairs. A self-join into candidate PAIRS would re-attach
    # a vector to BOTH sides of every pair: ~12M pairs x two 64-double
    # arrays through two joins and the Arrow boundary at sf1 (~12 GB
    # crossing for a 10 MB corpus).
    # Exactness: the Gram block's dot products ride BLAS dgemm, whose
    # blocked summation order can move the last ulp, so the cosine is
    # rounded to 4 dp before the >= gate (as cosine_topk does): a pair one
    # ulp below the threshold then verifies on every BLAS build.
    # 100 TB: the cell shuffle is the corpus's single full pass (SemDeDup's
    # per-cell quadratic verify is the algorithm's stated cost — size
    # n_clusters so cells stay ~1e5); the row-CHUNKED loop bounds the score
    # block at chunk x |cell| so a hot cell never materializes an m x m
    # matrix, and each task holds one cell's (m x dim) float64 matrix
    # (~50 MB at m=1e5, dim=64).
    thr = float(threshold)

    def _verify_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        a = np.vstack(pdf["__vec"].to_numpy()).astype("float64")
        ids = pdf["__id"].to_numpy()
        nrm = np.linalg.norm(a, axis=1)
        out_a, out_b = [], []
        chunk = max(1, min(len(ids), 8 * 1024 * 1024 // max(len(ids), 1) + 1))
        for lo in range(0, len(ids), chunk):
            hi = min(lo + chunk, len(ids))
            g = a[lo:hi] @ a.T
            den = np.outer(nrm[lo:hi], nrm)
            cos = np.where(den > 0, g / np.maximum(den, 1e-300), 0.0)
            ii, jj = np.nonzero(np.round(cos, 4) >= thr)
            ia, jb = ids[ii + lo], ids[jj]
            keep = ia != jb  # self-pairs score 1.0; drop them, order the rest
            pa, pb = np.minimum(ia[keep], jb[keep]), np.maximum(ia[keep], jb[keep])
            out_a.append(pa)
            out_b.append(pb)
        da = np.concatenate(out_a) if out_a else np.array([], dtype="int64")
        db = np.concatenate(out_b) if out_b else np.array([], dtype="int64")
        res = pd.DataFrame({"id_a": da.astype("int64"), "id_b": db.astype("int64")})
        # each qualifying pair appears once per chunked row side (a->b and
        # b->a land in different chunks of the same cell): dedup locally
        return res.drop_duplicates()

    assigned = with_cell(ensure_parallelism(embeddings), centroids, F.col(vec_col)).select(
        F.col(id_col).alias("__id"), "cell", F.col(vec_col).alias("__vec")
    )
    pairs = assigned.groupBy("cell").applyInPandas(_verify_cell, "id_a long, id_b long")
    return drop_non_representatives(embeddings, pairs, id_col)
