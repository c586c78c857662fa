"""Operator-level tests: approximate tiers (tolerance/recall), custom
operators (as-of), and multimodal plumbing — the checks the DuckDB hash oracle
can't express (SURVEY §2.2 B30/B31, §2.4 E2/E4/E6).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from mrcond_spark.catalog import load
from mrcond_spark.operators import dedup, multimodal, similarity
from mrcond_spark.operators.asof import asof_join
from mrcond_spark.queries.llm import PINNED_VEC_IDS


def test_approx_count_distinct_tolerance(spark, sf_dir):
    """B30: HLL++ within ±5% of exact (rsd=0.01 so typically much closer)."""
    li = load(spark, sf_dir, "lineitem")
    approx = li.agg(F.approx_count_distinct("l_partkey", rsd=0.01)).collect()[0][0]
    exact = li.agg(F.countDistinct("l_partkey")).collect()[0][0]
    assert abs(approx - exact) <= 0.05 * exact


def test_sample_seeded_bounds(spark, sf_dir):
    """B31: seeded Bernoulli sample is reproducible and near the fraction."""
    o = load(spark, sf_dir, "orders")
    n = o.count()
    s1 = o.sample(fraction=0.1, seed=42).count()
    s2 = o.sample(fraction=0.1, seed=42).count()
    assert s1 == s2  # same seed -> same sample
    assert 0.03 * n <= s1 <= 0.2 * n


def test_ann_recall_vs_exact(spark, sf_dir):
    """E4: with the recall-oriented dial (4 bits x 8 tables), LSH ANN top-3
    recalls >= 60% of the exact top-3 sets even on this weakly-structured
    synthetic data (true-neighbor cosines are only ~0.3-0.4). The q49 default
    (8 bits x 4 tables) trades recall for candidate volume at scale."""
    e = load(spark, sf_dir, "embeddings")
    exact = similarity.cosine_topk(e, PINNED_VEC_IDS, k=3).collect()
    approx = similarity.lsh_ann_topk(e, PINNED_VEC_IDS, k=3, bits=4, tables=8).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["nbr_id"])
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["nbr_id"])
    hits = sum(len(exact_sets[q] & approx_sets.get(q, set())) for q in exact_sets)
    total = sum(len(s) for s in exact_sets.values())
    assert hits / total >= 0.6, f"ANN recall {hits}/{total}"


def test_embedding_near_dup_planted_recall(spark):
    """E2/E4: planted near-identical vectors (tiny perturbation, cos > 0.99)
    must surface through LSH candidates + exact verification; independent
    random vectors must not."""
    import random

    rng = random.Random(7)
    rows = []
    for i in range(40):
        v = [rng.gauss(0, 1) for _ in range(64)]
        rows.append((i, [float(x) for x in v]))
        rows.append((i + 1000, [float(x + rng.gauss(0, 0.01)) for x in v]))  # planted dup
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_near_dup_pairs(df, threshold=0.95).collect()
    }
    planted = {(i, i + 1000) for i in range(40)}
    recall = len(pairs & planted) / len(planted)
    assert recall >= 0.8, f"planted near-dup recall {recall}"
    assert not (pairs - planted), f"false positives: {pairs - planted}"


def test_ivf_recall_vs_exact(spark, sf_dir):
    """E4: IVF with n_probe=8 of 16 cells recalls >= 60% of exact top-3 on
    the weakly-structured synthetic vectors (probing half the cells)."""
    e = load(spark, sf_dir, "embeddings")
    exact = similarity.cosine_topk(e, PINNED_VEC_IDS, k=3).collect()
    approx = similarity.ivf_ann_topk(e, PINNED_VEC_IDS, k=3, n_clusters=16, n_probe=8).collect()
    es, aps = {}, {}
    for r in exact:
        es.setdefault(r["query_id"], set()).add(r["nbr_id"])
    for r in approx:
        aps.setdefault(r["query_id"], set()).add(r["nbr_id"])
    hits = sum(len(es[q] & aps.get(q, set())) for q in es)
    total = sum(len(s) for s in es.values())
    assert hits / total >= 0.6, f"IVF recall {hits}/{total}"


def test_ivf_empty_corpus(spark):
    """E4 edge: an empty embeddings table must yield an empty, correctly
    typed result — not a numpy raise from the centroid fit (round-3 advice:
    the 1-D empty sample array broke the matmul/reductions)."""
    e = spark.createDataFrame([], "vec_id LONG, embedding ARRAY<FLOAT>")
    out = similarity.ivf_ann_topk(e, PINNED_VEC_IDS, k=3)
    assert out.collect() == []
    assert [f.name for f in out.schema.fields] == ["query_id", "nbr_id", "cos_r", "rank"]


def test_ivf_unknown_query_ids(spark):
    """E4 edge: query ids absent from the corpus probe nothing and return an
    empty result (the probe list is derived from the assigned corpus rows)."""
    rows = [(i, [float(i), 1.0]) for i in range(20)]
    e = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    out = similarity.ivf_ann_topk(e, [999, 1000], k=3, n_clusters=4, n_probe=2)
    assert out.collect() == []


def test_kmeans_centroids_layout_independent(spark, sf_dir):
    """E4 build determinism: the centroid fit samples rows via an
    md5-threshold filter on the id (a pure row function), NOT Bernoulli
    .sample() (whose draw depends on file partitioning) — so the SAME corpus
    under ANY partitioning must fit byte-identical centroids. Guards the
    reproducibility contract the q56 planted-cell oracle leans on."""
    import numpy as np

    e = load(spark, sf_dir, "embeddings")
    c1 = similarity.sampled_kmeans_centroids(e.repartition(1), n_clusters=8)
    c8 = similarity.sampled_kmeans_centroids(e.repartition(8), n_clusters=8)
    assert c1 is not None and c8 is not None
    assert np.array_equal(c1, c8), "centroids drifted across partitionings"


def test_kmeans_centroids_null_id_raises(spark):
    """E4 contract: a NULL id has no deterministic hash (md5(concat(NULL))
    is NULL) and would be silently dropped from the centroid fit; the
    builder raises loudly instead — the same contract as
    prefix_sum.bucketed_running_sum's NULL-key guard."""
    import pytest

    rows = [(i, [float(i), 1.0]) for i in range(10)] + [(None, [99.0, 1.0])]
    e = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    with pytest.raises(ValueError, match="NULL"):
        similarity.sampled_kmeans_centroids(e, n_clusters=2)


def test_minhash_planted_duplicate_recall(spark):
    """E2: MinHash-LSH must surface planted near-duplicates (one token
    changed out of 40) and must not pair unrelated docs."""
    base = [f"tok{i}_{j}" for j in range(40) for i in (1,)]
    docs = []
    for d in range(10):
        words = [f"w{d}_{j}" for j in range(40)]
        docs.append((d, " ".join(words)))
        near = list(words)
        near[7] = "CHANGED"
        docs.append((d + 100, " ".join(near)))  # planted near-dup of doc d
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    pairs = {
        (r["id_a"], r["id_b"]) for r in dedup.minhash_lsh_pairs(df).collect()
    }
    planted = {(d, d + 100) for d in range(10)}
    recall = len(pairs & planted) / len(planted)
    assert recall >= 0.9, f"planted-dup recall {recall}"
    false_pairs = {p for p in pairs if p not in planted}
    assert not false_pairs, f"unrelated docs paired: {false_pairs}"


def test_mllib_minhash_planted_duplicate_recall(spark):
    """E2 (MLlib tier): planted near-dups surface with calibrated Jaccard
    distance; unrelated docs stay apart."""
    docs = []
    for d in range(8):
        words = [f"w{d}_{j}" for j in range(40)]
        docs.append((d, " ".join(words)))
        near = list(words)
        near[7] = "CHANGED"
        docs.append((d + 100, " ".join(near)))
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    got = dedup.mllib_minhash_pairs(df, max_jaccard_distance=0.6).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in got}
    planted = {(d, d + 100) for d in range(8)}
    assert len(pairs & planted) / len(planted) >= 0.9
    assert not (pairs - planted)
    # distances are calibrated: a one-token-of-40 change => small distance
    for r in got:
        if (r["id_a"], r["id_b"]) in planted:
            assert float(r["jaccard_dist"]) < 0.25


def test_asof_forward_direction(spark):
    """B10: forward as-of picks the EARLIEST right row at-or-after left.ts."""
    from pyspark.sql import functions as FF

    left = spark.createDataFrame([(1, 100), (1, 300)], "k LONG, lts LONG").withColumn(
        "lts", FF.timestamp_seconds("lts")
    )
    right = spark.createDataFrame(
        [(1, 100, 1.0), (1, 150, 2.0), (1, 250, 3.0)], "k LONG, rts LONG, v DOUBLE"
    ).withColumn("rts", FF.timestamp_seconds("rts"))
    fwd = {
        int(r["lts"].timestamp()): r["v"]
        for r in asof_join(
            left, right, on=["k"], left_ts="lts", right_ts="rts", direction="forward"
        ).collect()
    }
    assert fwd[100] == 1.0  # inclusive same-ts
    assert fwd[300] is None  # nothing at-or-after
    strict_fwd = {
        int(r["lts"].timestamp()): r["v"]
        for r in asof_join(
            left, right, on=["k"], left_ts="lts", right_ts="rts",
            direction="forward", strict=True,
        ).collect()
    }
    assert strict_fwd[100] == 2.0  # same-ts excluded -> next one


def test_simhash_exact_dup_detection(spark):
    """E2: identical docs share a SimHash; shuffled-token docs do too
    (SimHash is order-insensitive) but unrelated docs don't."""
    docs = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),
        (3, "completely different words entirely here now"),
    ]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    pairs = {(r["id_a"], r["id_b"]) for r in dedup.simhash_pairs(df).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_ngram_jaccard_verification(spark):
    docs = [
        (1, "a b c d e f g h"),
        (2, "a b c d e f g x"),
        (3, "p q r s t u v w"),
    ]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "id_a LONG, id_b LONG")
    j = {(r["id_a"], r["id_b"]): r["jaccard"] for r in dedup.ngram_jaccard(pairs, df).collect()}
    assert j[(1, 2)] > 0.4  # one-token change over 3-gram shingles
    assert j[(1, 3)] == 0.0


def test_asof_join_semantics(spark):
    """B10: inclusive backward as-of; strict mode excludes same-ts rows;
    left rows without a prior match keep NULLs."""
    left = spark.createDataFrame(
        [(1, 100), (1, 200), (2, 50)], "k LONG, lts LONG"
    ).withColumn("lts", F.timestamp_seconds("lts"))
    right = spark.createDataFrame(
        [(1, 100, 10.0), (1, 150, 15.0), (2, 60, 99.0)], "k LONG, rts LONG, v DOUBLE"
    ).withColumn("rts", F.timestamp_seconds("rts"))

    incl = {
        (r["k"], r["lts"].second + r["lts"].minute * 60): r["v"]
        for r in asof_join(left, right, on=["k"], left_ts="lts", right_ts="rts").collect()
    }
    assert incl[(1, 100)] == 10.0  # same-ts match included
    assert incl[(1, 200)] == 15.0  # latest prior
    assert incl[(2, 50)] is None  # no prior -> NULL

    strict = {
        (r["k"], r["lts"].second + r["lts"].minute * 60): r["v"]
        for r in asof_join(
            left, right, on=["k"], left_ts="lts", right_ts="rts", strict=True
        ).collect()
    }
    assert strict[(1, 100)] is None  # same-ts excluded


def test_range_join_semantics(spark):
    """Half-open vs inclusive bounds, equi-key matching, and bucket-boundary
    pairs (interval spanning buckets) all behave exactly."""
    from pyspark.sql import functions as FF

    from mrcond_spark.operators.range_join import range_join

    points = spark.createDataFrame(
        [("a", 5), ("a", 10), ("a", 15), ("b", 5)], "k STRING, p LONG"
    )
    intervals = spark.createDataFrame(
        [("a", 5, 15, "i1"), ("b", 0, 4, "i2")], "k STRING, s LONG, e LONG, iid STRING"
    )
    half_open = {
        (r["k"], r["p"], r["iid"])
        for r in range_join(
            points, intervals, "p", "s", "e", FF.lit(7), on=["k"]
        ).collect()
    }
    # [5,15): includes 5 and 10, excludes 15; b@5 not in [0,4)
    assert half_open == {("a", 5, "i1"), ("a", 10, "i1")}

    inclusive = {
        (r["k"], r["p"], r["iid"])
        for r in range_join(
            points, intervals, "p", "s", "e", FF.lit(7), on=["k"], inclusive_end=True
        ).collect()
    }
    assert inclusive == {("a", 5, "i1"), ("a", 10, "i1"), ("a", 15, "i1")}


def test_multimodal_feature_plumbing(spark):
    """E6: mapInPandas featurization — schema, determinism, batch shape."""
    assets = multimodal.synthetic_assets(spark, n=32)
    feats = multimodal.extract_features(assets, dim=8)
    rows = {r["asset_id"]: r for r in feats.collect()}
    assert len(rows) == 32
    assert len(rows[0]["feature"]) == 8
    assert rows[0]["n_bytes"] == 64
    # deterministic across runs
    rows2 = {r["asset_id"]: r for r in multimodal.extract_features(assets, dim=8).collect()}
    assert [rows[i]["feature"] for i in range(32)] == [rows2[i]["feature"] for i in range(32)]


def _ppm_bytes(w, h, value_fn):
    """Build a P6 (binary RGB) netpbm image in-test."""
    header = f"P6\n# test image\n{w} {h}\n255\n".encode()
    raster = bytes(value_fn(x, y, c) for y in range(h) for x in range(w) for c in range(3))
    return header + raster


def test_decode_image_netpbm_real_decode():
    """E6 decode is REAL for netpbm: dims, channel count, and pixel values
    round-trip exactly through the pure-numpy decoder."""
    data = _ppm_bytes(4, 2, lambda x, y, c: (x * 50 + y * 10 + c) % 256)
    arr = multimodal.decode_image(data)
    assert arr.shape == (2, 4, 3)
    assert arr[0, 0, 0] == 0 and arr[1, 3, 2] == 162  # 3*50 + 1*10 + 2
    # grayscale P5 path
    g = b"P5\n2 2\n255\n" + bytes([10, 20, 30, 40])
    garr = multimodal.decode_image(g)
    assert garr.shape == (2, 2, 1) and garr[1, 1, 0] == 40


def test_decode_image_unknown_format_raises_without_pil():
    try:
        import PIL  # noqa: F401

        pytest.skip("PIL installed — unknown formats decode via PIL here")
    except ImportError:
        pass
    with pytest.raises(multimodal.DecodeUnavailable):
        multimodal.decode_image(b"\x89PNG\r\n\x1a\n not a real png")


def test_decode_image_png_via_pil():
    """Gated on availability: when a real media lib exists, the PIL branch
    decodes compressed formats end-to-end."""
    PIL = pytest.importorskip("PIL")  # noqa: F841
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (3, 2), color=(5, 10, 15)).save(buf, format="PNG")
    arr = multimodal.decode_image(buf.getvalue())
    assert arr.shape == (2, 3, 3) and tuple(arr[0, 0]) == (5, 10, 15)


def test_decoded_image_features_distributed(spark):
    """The mapInPandas decoded-feature path: real pixel stats for decodable
    images, NULL + error tag for poison blobs (batch must not fail)."""
    rows = [
        (0, "image", None, _ppm_bytes(4, 4, lambda x, y, c: 100), "image/x-ppm", None),
        (1, "image", None, _ppm_bytes(2, 2, lambda x, y, c: (x + y + c) * 20), "image/x-ppm", None),
        (2, "image", None, b"\xffJUNKJUNK", "image/png", None),
        (3, "audio", None, b"RIFFxxxx", "audio/wav", None),
    ]
    assets = spark.createDataFrame(rows, multimodal.ASSET_SCHEMA)
    out = {r["asset_id"]: r for r in multimodal.decoded_image_features(assets).collect()}
    assert set(out) == {0, 1, 2}  # images only; audio filtered
    assert out[0]["width"] == 4 and out[0]["height"] == 4 and out[0]["channels"] == 3
    assert abs(out[0]["pixel_mean"] - 100.0) < 1e-6 and out[0]["pixel_std"] == 0.0
    assert out[1]["pixel_mean"] == pytest.approx(40.0, abs=1e-4)  # mean of (x+y+c)*20 grid
    assert out[2]["width"] is None and out[2]["decode_error"]


def test_frame_sampling_plan(spark):
    assets = multimodal.synthetic_assets(spark, n=9)  # 3 videos (ids 2,5,8)
    frames = multimodal.sample_frames(assets, every_ms=1000).collect()
    per_asset = {}
    for r in frames:
        per_asset.setdefault(r["asset_id"], []).append(r["frame_ts_ms"])
    assert set(per_asset) == {2, 5, 8}
    assert per_asset[2] == [0, 1000, 2000, 3000, 4000, 5000]  # 5s video


def test_lang_id_beats_chance(spark, sf_dir):
    """E5: the marker heuristic is deterministic and structurally sound; on
    synthetic (random-token) docs we only require it runs and emits known
    labels."""
    from mrcond_spark.operators.text import lang_id_heuristic

    d = load(spark, sf_dir, "documents")
    preds = d.select(lang_id_heuristic(F.col("text")).alias("p")).distinct().collect()
    allowed = {"en", "de", "es", "fr", "unknown"}
    assert {r["p"] for r in preds} <= allowed


def test_fingerprint_stability_and_locality(spark):
    """E5: fingerprint is stable under identity and unchanged by edits far
    from the minimum shingle (winnowing property: most small edits keep it)."""
    from mrcond_spark.operators.text import doc_fingerprint

    docs = [(1, "the quick brown fox jumps over the lazy dog again and again")]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    fp1 = df.select(doc_fingerprint(F.col("text")).alias("fp")).collect()[0]["fp"]
    fp2 = df.select(doc_fingerprint(F.col("text")).alias("fp")).collect()[0]["fp"]
    assert fp1 == fp2


def test_simhash_near_pairs_matches_bruteforce(spark):
    """E2: piece-bucketed hamming<=3 SimHash pairs == brute-force all-pairs
    (the pigeonhole construction loses NO qualifying pair)."""
    docs = []
    for f in range(6):
        words = [f"w{f}_{j}" for j in range(30)]
        docs.append((f * 10, " ".join(words)))
        docs.append((f * 10 + 1, " ".join(words)))  # exact copy -> hamming 0
        near = list(words)
        near[3] = "CHANGED"
        docs.append((f * 10 + 2, " ".join(near)))
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")

    sigs = {
        r["id"]: r["sim"]
        for r in df.select(
            df.doc_id.alias("id"), dedup.simhash64_udf()(df.text).alias("sim")
        ).collect()
    }
    ids = sorted(sigs)
    expected = {
        (a, b, bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1") <= 3
    }
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.simhash_near_pairs(df, max_hamming=3).collect()
    }
    assert got == expected
    assert {(f * 10, f * 10 + 1, 0) for f in range(6)} <= got  # exact copies


def test_remove_near_dups_drops_planted_duplicates(spark, sf_dir):
    """Planted near-duplicates (small edits of real docs) must be removed,
    originals and unrelated docs retained."""
    from pyspark.sql import functions as F

    from mrcond_spark.catalog import load
    from mrcond_spark.operators.dedup import remove_near_dups

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    base = {r["doc_id"]: r["text"] for r in d.orderBy("doc_id").limit(3).collect()}
    planted = [
        (100_000 + i, txt + " tail token")  # tiny edit -> jaccard stays high
        for i, txt in enumerate(base.values())
    ]
    corpus = d.union(spark.createDataFrame(planted, "doc_id LONG, text STRING"))
    kept = {r["doc_id"] for r in remove_near_dups(corpus).select("doc_id").collect()}
    # all originals kept (min-id representative), all planted copies dropped
    assert set(base) <= kept
    assert not kept & {pid for pid, _ in planted}
    # and planting changes nothing else: survivors = the original corpus's own
    # survivors (the corpus carries genuine near-dups of its own; each planted
    # copy only ever clusters with its origin, whose id is smaller)
    kept_original = {r["doc_id"] for r in remove_near_dups(d).select("doc_id").collect()}
    assert kept == kept_original


def test_remove_embedding_dups_drops_planted_copies(spark, sf_dir):
    """Exact-copy vectors planted under new ids must drop; originals and the
    rest of the table survive unchanged."""
    from pyspark.sql import functions as F

    from mrcond_spark.catalog import load
    from mrcond_spark.operators.similarity import remove_embedding_dups

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    originals = e.orderBy("vec_id").limit(3).collect()
    planted = [(900_000 + i, r["embedding"]) for i, r in enumerate(originals)]
    table = e.union(spark.createDataFrame(planted, e.schema))
    kept = {r["vec_id"] for r in remove_embedding_dups(table).select("vec_id").collect()}
    assert {r["vec_id"] for r in originals} <= kept
    assert not kept & {pid for pid, _ in planted}
    kept_original = {r["vec_id"] for r in remove_embedding_dups(e).select("vec_id").collect()}
    assert kept == kept_original


def test_freq_items_superset_of_true_heavy_hitters(spark, sf_dir):
    """Sketch coverage (B30 companion): freqItems (Karp-Papadimitriou-
    Shenker) must return a SUPERSET of the tokens whose true frequency
    exceeds the support threshold — the one-pass, fixed-memory heavy-hitters
    guarantee (false positives allowed, false negatives not)."""
    from mrcond_spark.operators import text

    d = load(spark, sf_dir, "documents")
    toks = d.select(F.explode(text.tokens(F.col("text"))).alias("token")).filter(
        F.col("token") != ""
    )
    support = 0.01
    total = toks.count()
    true_heavy = {
        r["token"]
        for r in toks.groupBy("token").count().filter(F.col("count") > support * total).collect()
    }
    sketched = set(toks.freqItems(["token"], support=support).collect()[0][0])
    assert true_heavy <= sketched, f"missed heavy hitters: {true_heavy - sketched}"


def test_global_ntile_matches_window_ntile(spark):
    """The distributed NTILE must be bit-identical to the built-in global
    NTILE window for awkward sizes (n % k != 0, n < k, duplicate keys)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from mrcond_spark.operators.ntile import global_ntile

    for n, k in ((97, 10), (100, 7), (5, 10), (64, 8)):
        df = spark.range(n).select(
            (F.col("id") % 13).alias("v"), F.col("id").alias("tie")
        )
        expected = df.withColumn(
            "bucket", F.ntile(k).over(Window.orderBy("v", "tie")).cast("int")
        )
        actual = global_ntile(df, k, ["v", "tie"], out_col="bucket", partitions=4)
        assert sorted(map(tuple, actual.collect())) == sorted(
            map(tuple, expected.collect())
        ), f"mismatch at n={n} k={k}"


def test_pack_next_fit_invariants(spark):
    """Sequence packing: every doc appears exactly once, bins never exceed
    capacity (except a singleton oversized doc), bin_seq is dense per bucket,
    and the assignment is deterministic."""
    from mrcond_spark.operators.packing import pack_next_fit

    rows = [(i, 30 + (i * 37) % 400) for i in range(300)] + [(1000, 5000)]  # one oversized
    df = spark.createDataFrame(rows, "doc_id LONG, n_chars LONG")
    out = pack_next_fit(df, capacity=512, n_buckets=8).collect()

    assert sorted(r["doc_id"] for r in out) == sorted(r[0] for r in rows)
    fills = {}
    for r in out:
        fills.setdefault((r["bucket"], r["bin_seq"]), []).append(r["n_chars"])
    for (b, s), sizes in fills.items():
        assert sum(sizes) <= 512 or len(sizes) == 1, f"overfull bin {(b, s)}: {sizes}"
    for b in {r["bucket"] for r in out}:
        seqs = sorted({r["bin_seq"] for r in out if r["bucket"] == b})
        assert seqs == list(range(1, len(seqs) + 1)), f"bucket {b} bins not dense: {seqs}"

    out2 = pack_next_fit(df, capacity=512, n_buckets=8).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_repetition_stats_match_pandas_reference(spark, sf_dir):
    """q89's distributed bigram/unique-token fractions equal a per-doc pandas
    computation (independent of both the Spark plan and the DuckDB oracle)."""
    from collections import Counter

    from mrcond_spark.queries import all_queries

    got = {
        r["doc_id"]: (r["n_tokens"], r["uniq_bp"], r["top_bigram_bp"])
        for r in all_queries()["q89_repetition_stats"].spark(spark, sf_dir).collect()
    }
    docs = load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    import math

    checked = 0
    for row in docs:
        toks = [t for t in row["text"].strip().lower().split() if t]
        if len(toks) < 2:
            assert row["doc_id"] not in got
            continue
        grams = Counter(zip(toks, toks[1:]))
        expect = (
            len(toks),
            math.floor(10000.0 * len(set(toks)) / len(toks)),
            math.floor(10000.0 * max(grams.values()) / sum(grams.values())),
        )
        assert got[row["doc_id"]] == expect, row["doc_id"]
        checked += 1
    assert checked == len(got)


def test_mixture_weights_invariants(spark, sf_dir):
    """q90: shares sum to ~1, weights invert shares (weight*share ~ 1/k per
    source), and every source appears exactly once."""
    from mrcond_spark.queries import all_queries

    rows = all_queries()["q90_mixture_weights"].spark(spark, sf_dir).collect()
    sources = [r["source"] for r in rows]
    assert len(sources) == len(set(sources))
    total_share = sum(r["share_bp"] for r in rows)
    # FLOOR loses <1bp per source
    assert 10000 - len(rows) <= total_share <= 10000
    k = len(rows)
    for r in rows:
        # weight_bp/10000 * n_docs ~= total/k  (uniform target), FLOOR-slack
        total = sum(x["n_docs"] for x in rows)
        lhs = r["uniform_weight_bp"] * r["n_docs"]
        assert abs(lhs - 10000 * total / k) <= r["n_docs"] + 1


def test_ewma_matches_pandas_reference(spark):
    """timeseries.ewma equals a pandas ewm(adjust=False) per-key walk,
    including out-of-order input rows and a custom alpha."""
    import pandas as pdl

    from mrcond_spark.operators.timeseries import ewma

    rows = [
        # key, order, value — deliberately shuffled order
        ("a", 3, 30.0), ("a", 1, 10.0), ("a", 2, 20.0),
        ("b", 1, 5.0), ("b", 2, 7.0),
        ("c", 1, 1.5),
    ]
    df = spark.createDataFrame(rows, "k STRING, o INT, v DOUBLE")
    got = {
        (r["k"], r["o"]): r["ewma"]
        for r in ewma(df, key_col="k", order_cols=("o",), value_col="v", alpha=0.3).collect()
    }
    pdf = pdl.DataFrame(rows, columns=["k", "o", "v"]).sort_values(["k", "o"])
    for k, g in pdf.groupby("k"):
        ref = g["v"].ewm(alpha=0.3, adjust=False).mean()
        for (_, row), e in zip(g.iterrows(), ref):
            assert got[(k, row["o"])] == pytest.approx(e, abs=1e-12)


def test_semantic_dedup_single_cluster_equals_all_pairs(spark):
    """E2/E4 SemDeDup: with n_clusters=1 the within-cell self-join IS the
    exact all-pairs verify, so planted near-identical vectors (cos > 0.99)
    must all drop and independent vectors must all survive — no
    cluster-boundary recall loss possible."""
    import random

    from mrcond_spark.operators.similarity import semantic_dedup

    rng = random.Random(11)
    rows = []
    for i in range(30):
        v = [rng.gauss(0, 1) for _ in range(64)]
        rows.append((i, [float(x) for x in v]))
        rows.append((i + 1000, [float(x + rng.gauss(0, 0.01)) for x in v]))
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    kept = {
        r["vec_id"]
        for r in semantic_dedup(df, threshold=0.95, n_clusters=1).collect()
    }
    assert kept == set(range(30)), f"kept {sorted(kept)}"


def test_semantic_dedup_clustered_recall_and_no_false_drops(spark):
    """E2/E4 SemDeDup at the operating point (16 cells): perturbed planted
    dups land in their origin's cell almost always (tiny perturbation moves
    few argmins), so recall stays high; independent vectors never verify at
    0.95 so nothing else drops."""
    import random

    from mrcond_spark.operators.similarity import semantic_dedup

    rng = random.Random(13)
    rows = []
    for i in range(60):
        v = [rng.gauss(0, 1) for _ in range(64)]
        rows.append((i, [float(x) for x in v]))
        rows.append((i + 1000, [float(x + rng.gauss(0, 0.005)) for x in v]))
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    kept = {
        r["vec_id"]
        for r in semantic_dedup(df, threshold=0.95, n_clusters=16).collect()
    }
    assert set(range(60)) <= kept, "an original was falsely dropped"
    survivors = {k for k in kept if k >= 1000}
    assert len(survivors) <= 60 * 0.2, f"planted-dup recall too low: {sorted(survivors)}"


def test_semantic_dedup_rejects_non_integral_ids_before_any_job(spark):
    from mrcond_spark.operators.similarity import semantic_dedup

    df = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [1.0, 0.0])], "doc STRING, embedding ARRAY<FLOAT>"
    )
    sc = spark.sparkContext
    sc.setJobGroup("semantic-dedup-string-ids", "id type guard")
    try:
        with pytest.raises(ValueError, match="'doc'"):
            semantic_dedup(df, id_col="doc")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("semantic-dedup-string-ids")) == []


def test_semantic_dedup_empty_corpus(spark):
    from mrcond_spark.operators.similarity import semantic_dedup

    e = spark.createDataFrame([], "vec_id LONG, embedding ARRAY<FLOAT>")
    assert semantic_dedup(e).collect() == []


def test_dedup_against_reference_drops_only_known_texts(spark):
    """E1 incremental tier: new-batch rows whose normalized text exists in
    the reference drop (case/whitespace-insensitively); novel rows survive;
    an empty reference drops nothing."""
    from mrcond_spark.operators.dedup import dedup_against_reference

    ref = spark.createDataFrame(
        [(1, "Alpha beta  gamma"), (2, "delta")], "doc_id LONG, text STRING"
    )
    new = spark.createDataFrame(
        [(10, "alpha beta gamma"), (11, "epsilon"), (12, "DELTA ")],
        "doc_id LONG, text STRING",
    )
    kept = {r["doc_id"] for r in dedup_against_reference(new, ref).collect()}
    assert kept == {11}
    empty_ref = spark.createDataFrame([], "doc_id LONG, text STRING")
    assert {
        r["doc_id"] for r in dedup_against_reference(new, empty_ref).collect()
    } == {10, 11, 12}


def test_apply_repeat_factors(spark):
    """Mixture upsampling: floor(weight) copies per row, numbered 1..n;
    weight < 1 drops the row; max_repeat clamps runaway weights."""
    from mrcond_spark.operators.packing import apply_repeat_factors

    df = spark.createDataFrame(
        [(1, 0.5), (2, 1.0), (3, 3.7), (4, 1000.0)], "doc_id LONG, w DOUBLE"
    )
    out = apply_repeat_factors(df, "w", max_repeat=5).collect()
    counts = {}
    for r in out:
        counts[r["doc_id"]] = counts.get(r["doc_id"], 0) + 1
    assert counts == {2: 1, 3: 3, 4: 5}
    idx = sorted(r["repeat_idx"] for r in out if r["doc_id"] == 3)
    assert idx == [1, 2, 3]


def test_exact_dedup_keep_best(spark):
    """Quality-aware exact dedup: the highest-score duplicate survives with
    its full row; min id breaks score ties; non-duplicates pass through."""
    from mrcond_spark.operators.dedup import exact_dedup_keep_best

    df = spark.createDataFrame(
        [
            (1, "alpha beta", 0.2, "crawl"),
            (2, "Alpha  BETA", 0.9, "curated"),   # same normalized text, better score
            (3, "gamma", 0.5, "crawl"),
            (4, "GAMMA ", 0.5, "crawl"),           # tie on score -> min id (3) wins
            (5, "delta", 0.1, "crawl"),
        ],
        "doc_id LONG, text STRING, score DOUBLE, source STRING",
    )
    kept = {r["doc_id"]: r["source"] for r in exact_dedup_keep_best(df, "score").collect()}
    assert set(kept) == {2, 3, 5}
    assert kept[2] == "curated"


def test_exact_dedup_keep_best_string_ids(spark):
    """The tiebreak must work for NON-numeric ids (the previous -id negation
    assumed numeric and failed analysis on strings): tie on score -> lexical
    min id wins."""
    from mrcond_spark.operators.dedup import exact_dedup_keep_best

    df = spark.createDataFrame(
        [
            ("doc-b", "alpha beta", 0.5),
            ("doc-a", "ALPHA  beta", 0.5),   # tie -> 'doc-a' (lexical min)
            ("doc-c", "gamma delta", 0.9),
            ("doc-d", "Gamma  DELTA", 0.2),  # lower score loses to doc-c
            ("doc-z", "unique", 0.1),
        ],
        "doc_id STRING, text STRING, score DOUBLE",
    )
    kept = sorted(r["doc_id"] for r in exact_dedup_keep_best(df, "score").collect())
    assert kept == ["doc-a", "doc-c", "doc-z"]


def test_ngram_novelty(spark):
    """Novelty in ingestion order: the first doc is fully novel, an exact
    repeat is fully stale, a half-overlapping doc lands in between."""
    from mrcond_spark.operators.text import ngram_novelty

    df = spark.createDataFrame(
        [
            (1, "a b c d e"),          # 3 distinct 3-grams, all novel
            (2, "a b c d e"),          # exact repeat -> novelty 0
            (3, "c d e f g"),          # "c d e" seen (doc 1); "d e f", "e f g" novel
        ],
        "doc_id LONG, text STRING",
    )
    out = {r["doc_id"]: r for r in ngram_novelty(df, n=3).collect()}
    assert out[1]["novelty_bp"] == 10000 and out[1]["n_grams"] == 3
    assert out[2]["novelty_bp"] == 0
    assert out[3]["n_novel"] == 2 and out[3]["novelty_bp"] == 6666


def test_resize_images_nearest_neighbor_exact(spark):
    """E6 resize is REAL: a synthetic P6 gradient resized 8x6 -> 4x3 must
    reproduce numpy's center-aligned nearest-neighbor selection exactly,
    round-tripped through the re-encoded netpbm bytes."""
    import numpy as np

    w, h = 8, 6
    arr = np.arange(w * h * 3, dtype=np.uint8).reshape(h, w, 3)
    data = b"P6\n%d %d\n255\n" % (w, h) + arr.tobytes()
    assets = spark.createDataFrame(
        [(1, "image", "mem://a", bytearray(data), "image/x-portable-pixmap", (w, h, None))],
        multimodal.ASSET_SCHEMA,
    )
    out = multimodal.resize_images(assets, out_w=4, out_h=3).collect()
    assert len(out) == 1 and out[0]["resize_error"] is None
    got = multimodal.decode_image(bytes(out[0]["data"]))
    ys = np.minimum(((np.arange(3) + 0.5) * h / 3).astype(int), h - 1)
    xs = np.minimum(((np.arange(4) + 0.5) * w / 4).astype(int), w - 1)
    assert got.shape == (3, 4, 3)
    assert (got == arr[ys][:, xs]).all()


def test_resize_images_poison_blob_tagged(spark):
    """A corrupt payload must produce an error row, not a stage failure."""
    assets = spark.createDataFrame(
        [(7, "image", "mem://bad", bytearray(b"\x00\x01garbage"), "image/png", (0, 0, None))],
        multimodal.ASSET_SCHEMA,
    )
    out = multimodal.resize_images(assets).collect()
    assert len(out) == 1
    assert out[0]["data"] is None and out[0]["resize_error"]


def test_exact_dedup_keep_best_null_score_loses(spark):
    """A NULL-scored duplicate must LOSE to any scored copy (review finding:
    the bare negated struct key made NULL sort first and win); an all-NULL
    group falls back to min id."""
    from mrcond_spark.operators.dedup import exact_dedup_keep_best

    rows = [
        (1, "same text", 0.9),
        (2, "same text", None),
        (3, "same text", 0.1),
        (10, "other text", None),
        (11, "other text", None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, score double")
    kept = {r["doc_id"] for r in exact_dedup_keep_best(df, "score").collect()}
    assert kept == {1, 10}


def test_moment_stats_single_row_key_yields_nan_sd(spark):
    """A single-row key must produce sd = NaN (the documented 'no
    standardization possible' signal), not an ANSI DIVIDE_BY_ZERO that
    kills the whole training job (review finding)."""
    import math

    from mrcond_spark.operators.stats import moment_stats

    df = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0), ("b", 4.0)], "k string, value double"
    )
    out = {r["k"]: r for r in moment_stats(df, ["k"]).collect()}
    assert math.isnan(out["a"]["sd"]) and out["a"]["n"] == 1
    assert out["b"]["sd"] > 0


def test_decode_wav_pcm16_round_trip():
    """E6 audio: a synthetic PCM16 WAV decodes back to the exact samples
    and sample rate (pure-numpy RIFF walker, no media libs)."""
    import numpy as np

    sr = 8000
    t = np.arange(800)
    sine = (np.sin(2 * np.pi * 440 * t / sr) * 12000).astype(np.int16)
    got_sr, got = multimodal.decode_wav_pcm16(multimodal.make_wav_pcm16(sr, sine))
    assert got_sr == sr
    assert np.array_equal(got, sine)


def test_decode_wav_rejects_non_wav_and_compressed():
    import struct

    with pytest.raises(multimodal.DecodeUnavailable):
        multimodal.decode_wav_pcm16(b"\x89PNG not audio")
    # valid RIFF but non-PCM format code (e.g. 85 = MP3-in-WAV)
    hdr = (
        b"RIFF" + struct.pack("<I", 36) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 85, 1, 8000, 16000, 2, 16)
        + b"data" + struct.pack("<I", 0)
    )
    with pytest.raises(multimodal.DecodeUnavailable, match="PCM16"):
        multimodal.decode_wav_pcm16(hdr)


def test_decode_wav_truncated_chunks_stay_in_contract():
    """Chunk sizes that overrun the buffer must raise DecodeUnavailable,
    not leak struct.error/ValueError (the standalone-helper contract)."""
    import struct

    import numpy as np

    good = multimodal.make_wav_pcm16(8000, np.arange(16, dtype=np.int16))
    # truncated fmt chunk: declared 16 bytes but the payload ends early
    cut_fmt = good[:20] + good[20:24]  # RIFF..WAVE + 'fmt ' + size only
    with pytest.raises(multimodal.DecodeUnavailable, match="truncated|short"):
        multimodal.decode_wav_pcm16(cut_fmt)
    # data chunk declaring more bytes than remain
    lying = bytearray(good)
    data_pos = good.index(b"data")
    struct.pack_into("<I", lying, data_pos + 4, 1 << 20)
    with pytest.raises(multimodal.DecodeUnavailable, match="truncated"):
        multimodal.decode_wav_pcm16(bytes(lying))
    # fmt chunk declaring fewer than the 16 required bytes
    short_fmt = bytearray(good)
    fmt_pos = good.index(b"fmt ")
    struct.pack_into("<I", short_fmt, fmt_pos + 4, 8)
    with pytest.raises(multimodal.DecodeUnavailable):
        multimodal.decode_wav_pcm16(bytes(short_fmt))


def test_decoded_audio_features_real_decode(spark):
    """E6 audio featurization over mapInPandas: loud sine vs silence vs a
    poison blob — RMS/ZCR/peak computed from REAL decoded samples; the
    poison row error-tags instead of failing the stage."""
    import numpy as np

    sr = 8000
    t = np.arange(sr)  # 1 second
    sine = (np.sin(2 * np.pi * 100 * t / sr) * 16384).astype(np.int16)
    silence = np.zeros(sr // 2, np.int16)
    rows = [
        (1, "audio", None, bytearray(multimodal.make_wav_pcm16(sr, sine)), "audio/wav", None),
        (2, "audio", None, bytearray(multimodal.make_wav_pcm16(sr, silence)), "audio/wav", None),
        (3, "audio", None, bytearray(b"JUNKJUNKJUNK"), "audio/wav", None),
        (4, "image", None, bytearray(b"P6 ignored"), "image/x-portable-pixmap", None),
    ]
    assets = spark.createDataFrame(rows, multimodal.ASSET_SCHEMA)
    got = {r["asset_id"]: r for r in multimodal.decoded_audio_features(assets).collect()}
    assert set(got) == {1, 2, 3}  # image row filtered out, not decoded
    s1 = got[1]
    assert s1["sample_rate"] == sr and s1["n_samples"] == sr
    assert s1["duration_ms"] == 1000
    # 100 Hz sine crosses zero 2x per cycle: ZCR ~= 200/8000
    assert s1["zero_crossing_rate"] == pytest.approx(200 / sr, rel=0.05)
    assert s1["rms"] == pytest.approx(16384 / 32768 / np.sqrt(2), rel=0.01)
    assert s1["peak"] == pytest.approx(16384 / 32768, rel=0.01)
    assert got[2]["rms"] == 0.0 and got[2]["peak"] == 0.0
    assert got[3]["decode_error"] and got[3]["rms"] is None


def test_hll_rollup_bounds_and_merge_consistency(spark, sf_dir):
    """q149: the union-merged per-type estimate must sit within ±5% of the
    exact distinct-user count, and merging the per-day sketches must give
    EXACTLY the estimate a whole-table sketch gives (HLL union is lossless
    over sketches built at the same lgK)."""
    from mrcond_spark.catalog import load
    from mrcond_spark.queries import all_queries

    got = {
        r["event_type"]: r["est_users"]
        for r in all_queries()["q149_hll_rollup"].spark(spark, sf_dir).collect()
    }
    ev = load(spark, sf_dir, "events")
    exact = {
        r["event_type"]: r["x"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("x"))
        .collect()
    }
    assert set(got) == set(exact)
    for t, est in got.items():
        assert abs(est - exact[t]) <= 0.05 * exact[t], (t, est, exact[t])
    whole = {
        r["event_type"]: r["e"]
        for r in ev.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).cast("bigint").alias("e"))
        .collect()
    }
    assert got == whole  # merge-consistency: partials union == one pass


def test_minhash_probe_reference_recall_and_rejection(spark):
    """E2 incremental path: every exact copy of a reference doc must hit
    its source through the band index (identical signature -> guaranteed
    candidate), and novel text with no shared shingles must produce zero
    candidates."""
    ref_rows = [
        (i, f"the quick brown fox document number {i} jumps over the lazy dog " * 3)
        for i in range(20)
    ]
    ref = spark.createDataFrame(ref_rows, "doc_id LONG, text STRING")
    copies = [(100 + i, ref_rows[i][1]) for i in range(0, 20, 4)]
    novel = [(900, "zzz qqq completely unrelated vocabulary xyzzy plugh " * 4)]
    new = spark.createDataFrame(copies + novel, "doc_id LONG, text STRING")
    pairs = {
        (r["new_id"], r["ref_id"])
        for r in dedup.minhash_probe_reference(new, ref).collect()
    }
    for i in range(0, 20, 4):
        assert (100 + i, i) in pairs, f"planted copy {100 + i} missed its source"
    assert not any(n == 900 for n, _ in pairs), "novel doc produced candidates"


def test_decode_image_malformed_payloads_raise_decode_unavailable():
    """Truncated/malformed netpbm must raise DecodeUnavailable (the one
    catchable type), never a raw ValueError from int()/np.frombuffer, and
    low-maxval rasters scale to true 0-255 intensity."""
    # truncated raster: header declares 10x10 but only a few bytes follow
    with pytest.raises(multimodal.DecodeUnavailable, match="truncated netpbm raster"):
        multimodal.decode_image(b"P5\n10 10\n255\n" + bytes(5))
    # non-numeric header token
    with pytest.raises(multimodal.DecodeUnavailable, match="malformed netpbm header"):
        multimodal.decode_image(b"P5\nabc 10\n255\n" + bytes(100))
    # header cut off mid-token stream
    with pytest.raises(multimodal.DecodeUnavailable, match="truncated netpbm header"):
        multimodal.decode_image(b"P6")
    # NULL/empty payload
    with pytest.raises(multimodal.DecodeUnavailable, match="empty payload"):
        multimodal.decode_image(None)
    # maxval scaling: a maxval=15 raster holding its own maximum decodes to
    # full intensity 255, not raw 15
    arr = multimodal.decode_image(b"P5\n2 1\n15\n" + bytes([15, 0]))
    assert arr[0, 0, 0] == 255 and arr[0, 1, 0] == 0


def test_decoded_audio_features_distributed_truncation_guard(spark):
    """The DISTRIBUTED wav decoder is the same canonical walker as the
    module-level one (the executor copy once silently dropped the
    truncation and fmt-size guards): a data chunk declaring more bytes
    than remain must produce the walker's own diagnostic tag, not a raw
    numpy buffer error."""
    import struct

    good = multimodal.make_wav_pcm16(8000, [0] * 16)
    bad = bytearray(good)
    data_pos = good.index(b"data")
    struct.pack_into("<I", bad, data_pos + 4, 9999)  # declares 9999 bytes
    rows = [(1, "audio", None, bytes(bad), "audio/wav", None)]
    assets = spark.createDataFrame(rows, multimodal.ASSET_SCHEMA)
    got = multimodal.decoded_audio_features(assets).collect()
    assert len(got) == 1
    assert got[0]["decode_error"] and "truncated chunk" in got[0]["decode_error"]
    assert got[0]["rms"] is None
