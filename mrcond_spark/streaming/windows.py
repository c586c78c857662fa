"""Event-time streaming operators (SURVEY §2.3 S5–S12).

North-star additions beyond the reference's pipeline (which has no event-time
logic): watermarks, tumbling/session windows, stateful dedup, stream
joins, and arbitrary state via ``applyInPandasWithState``.

All operators take/return streaming DataFrames and are replay-tested with a
deterministic file source (tests/test_streaming.py).

Deployment note: every stateful operator here opens one state store per
shuffle partition per micro-batch, and the partition count FREEZES into the
query's state layout at first start. Set ``spark.sql.shuffle.partitions``
from the expected per-trigger volume BEFORE starting the query —
``streaming/sizing.stream_shuffle_partitions`` is the measured rule
(1.6-2.8x throughput on 100k-row triggers going 32 -> 4 partitions;
PERF.md "Size streaming state partitions to per-trigger volume").
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def tumbling_counts(
    events: DataFrame, ts_col: str = "ts", duration: str = "5 minutes",
    watermark: str = "10 minutes", keys: Iterable[str] = ("event_type",),
) -> DataFrame:
    """S5+S6: watermarked tumbling-window counts + value sum."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), duration).alias("win"), *keys)
        .agg(F.count("*").alias("cnt"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("win_start"), F.col("win.end").alias("win_end"),
            *keys, "cnt", "sum_value",
        )
    )


def session_counts(
    events: DataFrame, ts_col: str = "ts", gap: str = "5 minutes",
    watermark: str = "10 minutes", key: str = "user_id",
) -> DataFrame:
    """S7: session windows (gap-based) per key."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("win"), key)
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("win.start").alias("win_start"), F.col("win.end").alias("win_end"), key, "cnt"
        )
    )


def dedup_within_watermark(
    events: DataFrame, keys: list[str], ts_col: str = "ts", watermark: str = "10 minutes"
) -> DataFrame:
    """S8: stateful dedup bounded by the watermark (state stays finite)."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def stream_static_join(stream: DataFrame, dim: DataFrame, on: list[str]) -> DataFrame:
    """S9: streaming fact ⋈ static dimension (dimension broadcast per batch)."""
    return stream.join(F.broadcast(dim), on, "left")


def stream_dedup_against_reference(
    stream: DataFrame, reference: DataFrame, text_col: str = "text"
) -> DataFrame:
    """S9/E1 hybrid: drop streamed docs whose normalized text already exists
    in a static reference corpus — the streaming counterpart of
    ``operators.dedup.dedup_against_reference`` (a continuously-ingesting
    crawl dedups each micro-batch against the accumulated corpus).

    Stream-static LEFT ANTI joins are supported by Structured Streaming (the
    static side is re-resolvable per micro-batch, so a reference REWRITTEN
    between batches is picked up). Delegates to the batch operator — the
    identical DataFrame plan works unchanged on a streaming input, and the
    normalization/anti-join semantics stay defined in exactly one place.
    """
    from ..operators.dedup import dedup_against_reference

    return dedup_against_reference(stream, reference, text_col)


def stream_zscore_anomalies(
    stream: DataFrame,
    stats: DataFrame,
    value_col: str = "value",
    key_cols: list[str] | None = None,
    z_threshold: float = 3.0,
) -> DataFrame:
    """S9/E5+ hybrid: flag streamed events whose value is a z-score outlier
    against per-key reference statistics — the streaming half of the q115
    standardization audit (train the stats in batch with
    ``operators.stats.moment_stats``, apply them to the live stream).

    ``stats`` must carry ``key_cols + (mu, sd)``; it is broadcast per
    micro-batch (|keys|-sized), so a nightly-refreshed stats table is
    picked up without restarting the query. Keys with NaN or zero ``sd``
    (single-row or zero-spread training keys) are dropped from the stats
    side BEFORE the join — "no standardization possible" (the explicit
    filter matters: Spark orders NaN above every double, so a naive
    ``z > thr`` would flag every NaN). Stateless — no watermark, no state
    store; scales as a plain per-row filter.
    """
    keys = key_cols or ["event_type"]
    usable = stats.select(*keys, "mu", "sd").filter(
        ~F.isnan("sd") & (F.col("sd") > 0)
    )
    z = F.abs((F.col(value_col) - F.col("mu")) / F.col("sd"))
    return (
        stream.join(F.broadcast(usable), keys)
        .withColumn("z", z)
        .filter(F.col("z") > float(z_threshold))
        .drop("mu", "sd")
    )


def curate_stream(
    stream: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    min_tokens: int = 10,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming mirror of the q91 batch curation pipeline: quality gate
    (token floor + >=30% unique tokens, stateless JVM filters) -> in-stream
    exact dedup (``dropDuplicatesWithinWatermark`` on the normalized-text
    hash — state bounded by the watermark) -> anti join against the static
    accumulated corpus. Output rows are publication-ready curated docs.

    State story at scale: the only stateful stage keys on a uniform 256-bit
    hash and evicts past the watermark; the gate is stateless; the
    reference join is per-micro-batch static. The batch pipeline's
    mixture-cap and packing stages are deliberately absent — they need
    corpus-global coordination and run downstream in batch over the
    accumulated output.
    """
    from ..operators.dedup import dedup_against_reference, text_hash
    from ..operators.text import tokens

    toks = tokens(F.col(text_col))
    gated = stream.filter(
        (F.size(toks) >= min_tokens)
        & (F.size(F.array_distinct(toks)) * 10 >= F.size(toks) * 3)
    )
    deduped = (
        gated.withColumn("__th", text_hash(F.col(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["__th"])
    )
    # hand the already-computed hash to the anti join — one normalization +
    # sha256 per row, not two
    return dedup_against_reference(deduped, reference, text_col, hash_col="__th")


def stream_stream_join(
    left: DataFrame, right: DataFrame, key: str,
    left_ts: str = "ts", right_ts: str = "ts",
    watermark: str = "10 minutes", max_gap: str = "15 minutes",
    how: str = "inner",
) -> DataFrame:
    """S10: watermarked stream-stream join with a bounded time range (both
    state stores evict past watermark + gap).

    ``how='left_outer'`` emits unmatched left rows with NULL right columns —
    but only once the watermark proves no match can still arrive, so outer
    results trail the inner ones by the watermark delay (the state-expiry
    semantics Structured Streaming requires for outer stream-stream joins).
    """
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    return l.join(
        r,
        F.expr(
            f"l.{key} = r.{key} AND r.{right_ts} BETWEEN l.{left_ts} "
            f"AND l.{left_ts} + INTERVAL {max_gap}"
        ),
        how,
    )


def with_late_data_metrics(events: DataFrame, ts_col: str = "ts") -> DataFrame:
    """S12: attach an ``observe`` metric stream counting rows per batch and
    the max event time seen — the driver-side signal for late-data monitoring
    (read via QueryProgressEvent.observedMetrics['late_data'])."""
    return events.observe(
        "late_data",
        F.count(F.lit(1)).alias("rows"),
        F.max(F.col(ts_col)).alias("max_event_time"),
    )


USER_STATE_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)
_STATE_INTERNAL = StructType(
    [StructField("n", LongType()), StructField("total", DoubleType())]
)


def running_user_totals(events: DataFrame) -> DataFrame:
    """S11: arbitrary stateful op via applyInPandasWithState — running
    per-user event count and value total, emitted each batch the user appears.

    Self-contained closure (executor-safe without the package installed).
    """

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [total]})

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=USER_STATE_SCHEMA,
            stateStructType=_STATE_INTERNAL,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_cusum(
    stream: DataFrame,
    reference_means: DataFrame,
    slack: float = 0.5,
    threshold: float = 3.0,
) -> DataFrame:
    """S11/E5 hybrid: streaming one-sided CUSUM — the live half of the q133
    change-point statistic (train per-user reference means in batch with
    decimal-exact arithmetic, carry ``S = max(0, S + drift)`` per user in
    the state store across micro-batches, emit rows whose updated S
    crosses the alarm threshold).

    ``reference_means`` must carry ``(user_id, mu)``; it is broadcast per
    micro-batch so a nightly-refreshed mean table is picked up without a
    restart, and users ABSENT from it are dropped — no reference, no
    drift signal (the ``stream_zscore_anomalies`` contract). Rows walk in
    (ts, event_id) order WITHIN each micro-batch; cross-batch order is
    arrival order — the standard at-least-once streaming recurrence
    caveat (an in-order replay reproduces the batch q133 alarms exactly;
    the suite pins that equivalence).

    Scale: state is ONE double per user; each micro-batch shuffles only
    on user_id (same key as every stateful op here).
    """
    drifted = stream.join(F.broadcast(reference_means), "user_id").select(
        "user_id",
        "ts",
        "event_id",
        (F.col("value") - F.col("mu") - F.lit(float(slack))).alias("drift"),
    )
    out_schema = StructType(
        [
            StructField("user_id", LongType(), False),
            StructField("event_id", LongType(), False),
            StructField("cusum", DoubleType(), False),
        ]
    )
    state_schema = StructType([StructField("s", DoubleType(), False)])
    h = float(threshold)

    def update(key, pdfs, state: GroupState):
        s = state.get[0] if state.exists else 0.0
        rows = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            for eid, d in zip(pdf["event_id"], pdf["drift"]):
                s = max(0.0, s + float(d))
                if s > h:
                    rows.append((int(key[0]), int(eid), s))
        state.update((s,))
        yield pd.DataFrame(rows, columns=["user_id", "event_id", "cusum"])

    return (
        drifted.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


DRIFT_SCHEMA = StructType(
    [
        StructField("bucket", LongType()),
        StructField("n_bucket", LongType()),
        StructField("a_partial", DoubleType()),
    ]
)
_DRIFT_STATE = StructType(
    [StructField("sketch", StringType())]  # json {item: [count, p_ref]}
)


def stream_distribution_drift(
    stream: DataFrame,
    reference: DataFrame,
    item_col: str = "event_type",
    n_buckets: int = 8,
) -> DataFrame:
    """S11/E5 hybrid: streaming KL-divergence drift of an item
    distribution against a batch-trained reference — the live half of the
    q141 token-KL / q160 independence audits ('is today's traffic still
    shaped like the training corpus?').

    KL(obs || ref) needs the WHOLE observed distribution, which no single
    distributed state key may hold. Instead each hash bucket accumulates
    counts for ITS items and emits a MERGEABLE partial per update:

        a_partial = sum_i  n_i * ln(n_i / p_ref_i)      (its items only)
        n_bucket  = sum_i  n_i

    because KL = (1/N) * sum_i n_i*ln(n_i/(N*p_i)) = (sum a)/N - ln N
    with N = sum n_bucket — so the consumer combines B bounded rows
    (``combine_drift_partials``) into the exact statistic, the same
    partial-then-merge discipline as the q149 HLL rollup and the MG
    heavy hitters. ``reference`` must carry ``(item_col, p_ref)`` shares;
    it is broadcast per micro-batch (nightly refresh without restart) and
    items ABSENT from it are dropped before the stateful op — no
    reference mass, no defined KL term (the stream_zscore contract; it
    also bounds per-bucket state by |reference vocab| / n_buckets).
    Update mode re-emits a bucket's partial each batch; counts are
    monotone, so the latest row per bucket is the one with max n_bucket.
    """
    keyed = stream.join(
        F.broadcast(reference.select(item_col, "p_ref")), item_col
    ).select(
        F.pmod(F.xxhash64(F.col(item_col)), F.lit(n_buckets)).alias("bucket"),
        F.col(item_col).cast("string").alias("item"),
        F.col("p_ref").cast("double").alias("p_ref"),
    )

    def update(key, pdfs, state: GroupState):
        import json as _json
        import math as _math

        sketch = _json.loads(state.get[0]) if state.exists else {}
        for pdf in pdfs:
            for item, p in zip(pdf["item"], pdf["p_ref"]):
                sketch.setdefault(item, [0, float(p)])
            for item, c in pdf["item"].value_counts().items():
                sketch[item][0] += int(c)
        state.update((_json.dumps(sketch),))
        n = sum(c for c, _p in sketch.values())
        a = sum(c * _math.log(c / p) for c, p in sketch.values() if c > 0)
        yield pd.DataFrame(
            {"bucket": [key[0]], "n_bucket": [n], "a_partial": [a]}
        )

    return keyed.groupBy("bucket").applyInPandasWithState(
        update,
        outputStructType=DRIFT_SCHEMA,
        stateStructType=_DRIFT_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def combine_drift_partials(partials: DataFrame) -> DataFrame:
    """Merge ``stream_distribution_drift`` partials (latest row per
    bucket) into the exact ``(kl, n)``: KL = (sum a)/N - ln N. A bounded
    |buckets|-row batch aggregate — run it on the sink snapshot or a
    dashboard query, not inside the stream."""
    agg = partials.agg(
        F.sum("a_partial").alias("__a"), F.sum("n_bucket").alias("__n")
    )
    return agg.select(
        (F.col("__a") / F.col("__n") - F.log(F.col("__n"))).alias("kl"),
        F.col("__n").cast("bigint").alias("n"),
    )


HH_OUTPUT_SCHEMA = StructType(
    [
        StructField("bucket", LongType()),
        StructField("item", StringType()),
        StructField("est", LongType()),
        StructField("err", LongType()),
        StructField("n_bucket", LongType()),
    ]
)
_HH_STATE = StructType(
    [
        StructField("sketch", StringType()),  # json {item: residual count}
        StructField("err", LongType()),
        StructField("n", LongType()),
    ]
)


def stream_heavy_hitters(
    events: DataFrame,
    item_col: str = "event_type",
    k: int = 8,
    n_buckets: int = 16,
) -> DataFrame:
    """S11/E5: streaming top-item tracking with BOUNDED state — merge-form
    Misra-Gries (Agarwal et al., "Mergeability of Summaries", PODS'12)
    carried across micro-batches in the state store.

    Exact streaming counts of a high-cardinality item column need state
    proportional to |distinct items| — unbounded on a 100 TB/day feed. The
    MG sketch keeps AT MOST ``k`` counters per state key and still
    guarantees, per bucket: every item whose true count exceeds the
    bucket's accumulated ``err`` is PRESENT, and every emitted estimate
    satisfies ``true - err <= est <= true`` (merge step: fold the batch's
    exact counts in, then subtract the (k+1)-th largest residual from all
    and drop non-positives; the subtracted value accumulates into ``err``,
    which classically stays <= n_bucket/(k+1)).

    Items are hash-partitioned into ``n_buckets`` state keys, so (a) the
    per-key guarantee applies to DISJOINT item sets (a bucket's heavy
    items never fight another bucket's traffic for counters), and (b)
    state updates parallelize across the shuffle — per-key state is the
    sketch's fixed k counters, never the item universe. Emitted each
    batch in ``update`` mode: the bucket's surviving candidates with
    their error bar. Self-contained closure (executor-safe without the
    package installed). NULL items are dropped BEFORE the stateful op:
    pandas ``value_counts`` never tracks NaN/None, so counting them into
    ``n`` would inflate the err-bound denominator with rows the sketch
    never saw — the per-bucket MG guarantee refers to counted items only.
    """

    def update(key, pdfs, state: GroupState):
        import json as _json

        if state.exists:
            sketch, err, n = state.get
            counts = {m: int(c) for m, c in _json.loads(sketch).items()}
        else:
            counts, err, n = {}, 0, 0
        for pdf in pdfs:
            n += len(pdf)
            for item, c in pdf["item"].value_counts().items():
                counts[item] = counts.get(item, 0) + int(c)
        if len(counts) > k:
            cut = sorted(counts.values(), reverse=True)[k]
            counts = {m: c - cut for m, c in counts.items() if c - cut > 0}
            err += cut
        state.update((_json.dumps(counts), int(err), int(n)))
        items = sorted(counts)
        yield pd.DataFrame(
            {
                "bucket": [key[0]] * len(items),
                "item": items,
                "est": [counts[m] for m in items],
                "err": [err] * len(items),
                "n_bucket": [n] * len(items),
            }
        )

    keyed = events.filter(F.col(item_col).isNotNull()).select(
        F.pmod(F.xxhash64(F.col(item_col)), F.lit(n_buckets)).alias("bucket"),
        F.col(item_col).cast("string").alias("item"),
    )
    return keyed.groupBy("bucket").applyInPandasWithState(
        update,
        outputStructType=HH_OUTPUT_SCHEMA,
        stateStructType=_HH_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


RESERVOIR_SCHEMA = StructType(
    [
        StructField("bucket", LongType()),
        StructField("item_id", LongType()),
        StructField("weight", LongType()),
        StructField("sel_key", DoubleType()),
        StructField("n_seen", LongType()),
    ]
)
_RES_STATE = StructType(
    [StructField("sketch", StringType()), StructField("n", LongType())]
)


def stream_weighted_sample(
    stream: DataFrame,
    id_col: str = "doc_id",
    weight_col: str = "n_chars",
    seed: str = "seed140",
    k: int = 100,
    n_buckets: int = 8,
) -> DataFrame:
    """S11/B31: streaming mirror of the q140 deterministic weighted sample —
    an A-ES reservoir carried across micro-batches.

    The A-ES selection key (``operators/sampling.aes_key``: ``ln(u)/w``
    with a seeded-md5 ``u``) is computed JVM-side per row BEFORE the
    stateful op; per hash bucket the state keeps only the current top-k
    (id, weight, key) triples. Top-k-by-key is a mergeable summary, so the
    final reservoir equals the batch query's selection over the SAME rows
    regardless of how the stream was micro-batched — the reproducible-
    sample contract survives the move to streaming (asserted against the
    static computation in tests). Consumer takes the global top-k of the
    B*k emitted candidates. Bounded state: B buckets x k triples, never
    the item universe. Self-contained closure (executor-safe without the
    package installed).
    """
    from ..operators.sampling import aes_key

    keyed = stream.select(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_buckets)).alias("bucket"),
        F.col(id_col).cast("long").alias("item_id"),
        F.col(weight_col).cast("long").alias("weight"),
        aes_key(F.col(id_col), F.col(weight_col), seed).alias("sel_key"),
    )

    def update(key, pdfs, state: GroupState):
        import json as _json

        if state.exists:
            sketch, n = state.get
            entries = [tuple(e) for e in _json.loads(sketch)]
        else:
            entries, n = [], 0
        for pdf in pdfs:
            n += len(pdf)
            entries.extend(
                zip(
                    (int(v) for v in pdf["item_id"]),
                    (int(v) for v in pdf["weight"]),
                    (float(v) for v in pdf["sel_key"]),
                )
            )
        # same order as the batch query: key DESC, id ASC; json round-trips
        # the float key exactly (repr-precision), so resorting is stable
        entries.sort(key=lambda e: (-e[2], e[0]))
        entries = entries[:k]
        state.update((_json.dumps(entries), int(n)))
        yield pd.DataFrame(
            {
                "bucket": [key[0]] * len(entries),
                "item_id": [e[0] for e in entries],
                "weight": [e[1] for e in entries],
                "sel_key": [e[2] for e in entries],
                "n_seen": [n] * len(entries),
            }
        )

    return keyed.groupBy("bucket").applyInPandasWithState(
        update,
        outputStructType=RESERVOIR_SCHEMA,
        stateStructType=_RES_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
