"""Streaming CDC pipeline tests, replicating the reference's e2e contracts:

- ordered fullDocument equality sent == received (mrcond/tests/e2e.rs:401-413)
- resume-after-restart at-least-once (mrcon/src/mongo/connector.rs:150-163)
- collection drop -> clean stop, no restart (connector.rs:169-171,
  server.rs:205-207)
- sink failure -> classified restart + redelivery (server.rs:215-248)
- the five engine_* metric series + /health /metrics HTTP (metrics.rs, main.rs)
- event-time operators (S5-S12) via deterministic file replay
"""

from __future__ import annotations

import json
import os
import urllib.request
import uuid

import pytest

from pyspark.sql import functions as F

from mrcond_spark.streaming import windows
from mrcond_spark.streaming.envelope import to_payload
from mrcond_spark.streaming.metrics import Metrics
from mrcond_spark.streaming.pipeline import start_cdc_query
from mrcond_spark.streaming.sink import MemoryPublisher
from mrcond_spark.streaming.source import file_replay_stream
from mrcond_spark.streaming.supervisor import ConnectorServer, StreamSpec, classify_error

DOCS = [
    {"name": "Alice", "age": 30},
    {"name": "Bob", "age": 25},
    {"name": "Charlie", "age": 35},
]


def write_envelope_file(dirpath: str, fname: str, events: list[dict]) -> None:
    os.makedirs(dirpath, exist_ok=True)
    tmp = os.path.join(dirpath, f".{fname}.tmp")
    with open(tmp, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")
    os.rename(tmp, os.path.join(dirpath, fname))


def insert_event(i: int, doc: dict) -> dict:
    return {
        "_id": f"{i:08d}",
        "operationType": "insert",
        "clusterTime": f"2024-01-01T00:00:{i % 60:02d}.000Z",
        "ns": {"db": "test", "coll": "testcoll"},
        "documentKey": json.dumps({"_id": i}),
        "fullDocument": json.dumps(doc),
    }


def drop_event(i: int) -> dict:
    return {
        "_id": f"{i:08d}",
        "operationType": "drop",
        "clusterTime": "2024-01-01T00:01:00.000Z",
        "ns": {"db": "test", "coll": "testcoll"},
        "documentKey": None,
        "fullDocument": None,
    }


def make_server(spark, tmp_path, name: str, available_now=True, publisher=None) -> tuple:
    events_dir = str(tmp_path / f"{name}-events")
    ckpt = str(tmp_path / f"{name}-ckpt")
    os.makedirs(events_dir, exist_ok=True)
    pub = publisher or MemoryPublisher.named(name)
    spec = StreamSpec(
        stream_name=name,
        source_factory=lambda: file_replay_stream(spark, events_dir),
        publisher=pub,
        checkpoint_dir=ckpt,
        available_now=available_now,
    )
    return events_dir, ckpt, pub, spec


def received_docs(pub: MemoryPublisher, stream: str) -> list[dict]:
    out = []
    for payload in pub.messages[stream]:
        env = json.loads(payload)
        if env.get("fullDocument"):
            out.append(json.loads(env["fullDocument"]))
    return out


def test_ordered_fulldocument_equality(spark, tmp_path):
    """Golden contract: ordered sent == received (e2e.rs:401-413)."""
    name = f"q-{uuid.uuid4().hex[:8]}"
    events_dir, _, pub, spec = make_server(spark, tmp_path, name)
    write_envelope_file(events_dir, "b0.json", [insert_event(i, d) for i, d in enumerate(DOCS)])

    server = ConnectorServer([spec])
    server.start()
    server.await_all(poll_interval_s=0.2, timeout_s=120)

    assert received_docs(pub, name) == DOCS  # values AND order
    assert name in pub.declared  # queue declared idempotently (amqp.rs:40-46)


def test_resume_after_restart_at_least_once(spark, tmp_path):
    """Kill between batches; a new query on the same checkpoint must deliver
    the remaining events exactly after the committed prefix (R2/R6)."""
    name = f"q-{uuid.uuid4().hex[:8]}"
    events_dir, ckpt, pub, spec = make_server(spark, tmp_path, name)

    write_envelope_file(events_dir, "b0.json", [insert_event(0, DOCS[0])])
    s1 = ConnectorServer([spec])
    s1.start()
    s1.await_all(poll_interval_s=0.2, timeout_s=120)
    assert received_docs(pub, name) == DOCS[:1]

    # "restart the process": new server, same checkpoint, more input
    write_envelope_file(events_dir, "b1.json", [insert_event(i, d) for i, d in enumerate(DOCS[1:], start=1)])
    s2 = ConnectorServer([spec])
    s2.start()
    s2.await_all(poll_interval_s=0.2, timeout_s=120)

    got = received_docs(pub, name)
    # at-least-once: the committed prefix is not re-sent (checkpoint), and
    # order within the stream is preserved
    assert got == DOCS


def test_drop_means_clean_stop_no_restart(spark, tmp_path):
    """Terminal drop event: publish it, stop clean, clear state, never
    restart (connector.rs:169-171, server.rs:205-207)."""
    name = f"q-{uuid.uuid4().hex[:8]}"
    events_dir, ckpt, pub, spec = make_server(spark, tmp_path, name)
    write_envelope_file(
        events_dir, "b0.json", [insert_event(0, DOCS[0]), drop_event(1)]
    )

    metrics = Metrics()
    server = ConnectorServer([spec], metrics=metrics)
    server.start()
    server.await_all(poll_interval_s=0.2, timeout_s=120)

    assert name in server.stopped_clean
    assert not os.path.exists(ckpt)  # R7 clean(): resume state removed
    assert metrics.restarts == {}  # "not restarting"
    # the drop event itself was forwarded (reference forwards all events)
    ops = [json.loads(p)["operationType"] for p in pub.messages[name]]
    assert ops == ["insert", "drop"]


def test_sink_failure_classified_and_redelivered(spark, tmp_path):
    """Sink error fails the batch; supervisor classifies 'sink', restarts from
    checkpoint, batch is redelivered (at-least-once, server.rs:215-248)."""
    name = f"q-{uuid.uuid4().hex[:8]}"
    events_dir, _, pub, spec = make_server(spark, tmp_path, name)
    pub.fail_next = 1
    write_envelope_file(events_dir, "b0.json", [insert_event(i, d) for i, d in enumerate(DOCS)])

    metrics = Metrics()
    server = ConnectorServer([spec], metrics=metrics)
    server.start()
    server.await_all(poll_interval_s=0.2, timeout_s=180)

    assert received_docs(pub, name) == DOCS  # redelivered after restart
    assert metrics.restarts.get((name, "sink")) == 1
    assert metrics.failures.get((name, "sink")) == 1


def test_mid_batch_failure_at_least_once_duplicates(spark, tmp_path):
    """Broker dies after 1 of 3 messages: the batch retries from the
    checkpoint, so the consumer sees a duplicated prefix — at-least-once,
    exactly the reference's crash-between-publish-and-token-save window
    (connector.rs:150-163)."""
    name = f"q-{uuid.uuid4().hex[:8]}"
    events_dir, _, pub, spec = make_server(spark, tmp_path, name)
    pub.fail_after = 1
    write_envelope_file(events_dir, "b0.json", [insert_event(i, d) for i, d in enumerate(DOCS)])

    server = ConnectorServer([spec])
    server.start()
    server.await_all(poll_interval_s=0.2, timeout_s=180)

    got = received_docs(pub, name)
    assert got == [DOCS[0]] + DOCS  # duplicated prefix, then the full ordered batch
    # dedup by document identity recovers exactly-once content
    seen, unique = set(), []
    for d in got:
        k = tuple(sorted(d.items()))
        if k not in seen:
            seen.add(k)
            unique.append(d)
    assert unique == DOCS


def published_tokens(pub: MemoryPublisher, stream: str) -> list:
    return [json.loads(p).get("_id") for p in pub.messages[stream]]


def test_drain_orders_a_multi_file_batch_by_token(spark, tmp_path):
    """One micro-batch over two files whose tokens interleave and run
    backwards, plus a malformed line (null token): payloads come out in
    ascending token order with the null-token payload first — the order a
    Spark ``orderBy`` on the token (UTF8_BINARY, nulls first) gives."""
    name = f"ord-{uuid.uuid4().hex[:8]}"
    events_dir = str(tmp_path / "ord-events")
    write_envelope_file(events_dir, "a.json", [insert_event(i, {"i": i}) for i in (9, 7, 5, 3, 1)])
    with open(os.path.join(events_dir, "b.json"), "w") as f:
        for i in (8, 6, 4):
            f.write(json.dumps(insert_event(i, {"i": i})) + "\n")
        f.write("{not json\n")
        for i in (2, 0):
            f.write(json.dumps(insert_event(i, {"i": i})) + "\n")

    pub = MemoryPublisher.named(name)
    cq = start_cdc_query(
        file_replay_stream(spark, events_dir, max_files_per_trigger=2),
        pub, name, str(tmp_path / "ord-ckpt"), available_now=True,
    )
    cq.query.awaitTermination(120)

    assert len([p for p in cq.query.recentProgress if p.numInputRows]) == 1
    assert published_tokens(pub, name) == [None] + [f"{i:08d}" for i in range(10)]
    MemoryPublisher.reset(name)


def test_drain_runs_one_job_and_no_shuffle_per_batch(spark, tmp_path):
    """Each drain micro-batch is one Spark job of one stage that writes no
    shuffle bytes, counted on the query's run-id job group."""
    name = f"jobs-{uuid.uuid4().hex[:8]}"
    events_dir = str(tmp_path / "jobs-events")
    for f in range(3):
        write_envelope_file(events_dir, f"b{f}.json",
                            [insert_event(10 * f + i, {"n": i}) for i in range(10)])
    pub = MemoryPublisher.named(name)
    cq = start_cdc_query(file_replay_stream(spark, events_dir), pub, name,
                         str(tmp_path / "jobs-ckpt"), available_now=True)
    cq.query.awaitTermination(120)
    assert len(pub.messages[name]) == 30

    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job and stage ends reach the store
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(cq.query.runId)
    stages = [s for j in jobs for s in tracker.getJobInfo(j).stageIds]
    assert len([p for p in cq.query.recentProgress if p.numInputRows]) == 3
    assert (len(jobs), len(stages)) == (3, 3)
    assert sum(store.lastStageAttempt(s).shuffleWriteBytes() for s in stages) == 0
    MemoryPublisher.reset(name)


def test_resume_across_the_drain_plan_change(spark, tmp_path):
    """A checkpoint committed by a query that projected and sorted inside
    foreachBatch resumes under ``start_cdc_query``, which projects before
    ``writeStream``: only the uncommitted remainder is delivered, in token
    order (at-least-once across the plan change)."""
    name = f"up-{uuid.uuid4().hex[:8]}"
    events_dir, ckpt = str(tmp_path / "up-events"), str(tmp_path / "up-ckpt")
    pub = MemoryPublisher.named(name)
    write_envelope_file(events_dir, "b0.json", [insert_event(i, {"i": i}) for i in (1, 0)])

    def project_in_batch(batch_df, epoch_id):
        pdf = to_payload(batch_df, include_operation=True).orderBy("_token").toPandas()
        pub.publish_batch(name, pdf["value"].tolist())

    q = (
        file_replay_stream(spark, events_dir).writeStream.foreachBatch(project_in_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert published_tokens(pub, name) == ["00000000", "00000001"]

    write_envelope_file(events_dir, "b1.json", [insert_event(i, {"i": i}) for i in (4, 2, 3)])
    write_envelope_file(events_dir, "b2.json", [insert_event(i, {"i": i}) for i in (6, 5)])
    cq = start_cdc_query(file_replay_stream(spark, events_dir), pub, name, ckpt,
                         available_now=True)
    cq.query.awaitTermination(120)

    assert published_tokens(pub, name) == [f"{i:08d}" for i in range(7)]
    MemoryPublisher.reset(name)


def test_classify_error_table():
    assert classify_error("SINK_ERROR[q]: injected") == "sink"
    assert classify_error("MongoServerError: not primary") == "source"
    assert classify_error("java.lang.IllegalStateException: boom") == "other"


def test_metrics_export_and_http():
    m = Metrics()
    m.record_server_started("c1")
    m.record_restart("c1", "sink")
    m.record_failure("c1", "sink")
    text = m.export()
    for series in (
        "engine_servers_started_total",
        "engine_running_servers_total",
        'engine_collection_running_servers{collection="c1"} 1',
        'engine_server_restarts_total{collection="c1",reason="sink"} 1',
        'engine_failures_total{collection="c1",error_type="sink"} 1',
    ):
        assert series in text

    from mrcond_spark.streaming.http import start_http

    srv = start_http(m, host="127.0.0.1", port=0)
    port = srv.server_address[1]
    try:
        assert urllib.request.urlopen(f"http://127.0.0.1:{port}/health").read() == b"OK"
        body = urllib.request.urlopen(f"http://127.0.0.1:{port}/metrics").read().decode()
        assert "engine_running_servers_total 1" in body
    finally:
        srv.shutdown()


def test_metrics_export_escapes_label_values():
    # MongoDB allows '"' in a collection name; the text format needs \\, \" and \n
    m = Metrics()
    m.record_server_started('a"b\\c')
    m.record_restart('a"b\\c', "sink")
    m.record_failure('a"b\\c', "line\nbreak")
    text = m.export()
    coll = 'collection="a\\"b\\\\c"'
    for series in (
        f"engine_collection_running_servers{{{coll}}} 1",
        f'engine_server_restarts_total{{{coll},reason="sink"}} 1',
        f'engine_failures_total{{{coll},error_type="line\\nbreak"}} 1',
    ):
        assert series in text.splitlines()


# ---------------------------------------------------------------------------
# Event-time operators (S5-S12) over deterministic replay
# ---------------------------------------------------------------------------
EVENT_ROWS = [
    # (ts, user_id, event_type, value)
    ("2024-01-01T00:00:10.000Z", 1, "view", 1.0),
    ("2024-01-01T00:01:10.000Z", 1, "click", 2.0),
    ("2024-01-01T00:02:10.000Z", 2, "view", 3.0),
    ("2024-01-01T00:07:10.000Z", 1, "view", 4.0),
    ("2024-01-01T00:07:20.000Z", 2, "click", 5.0),
    ("2024-01-01T00:20:10.000Z", 1, "view", 6.0),
    ("2024-01-01T00:01:10.000Z", 1, "click", 2.0),  # exact duplicate (late)
]


@pytest.fixture()
def event_stream_dir(tmp_path):
    d = str(tmp_path / "events-json")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "part0.json"), "w") as f:
        for i, (ts, uid, et, v) in enumerate(EVENT_ROWS):
            f.write(
                json.dumps(
                    {"event_id": i, "ts": ts, "user_id": uid, "event_type": et, "value": v}
                )
                + "\n"
            )
    return d


def replay_events(spark, d):
    schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE"
    return spark.readStream.schema(schema).json(d)


def run_to_memory(spark, df, name: str, mode: str) -> None:
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_tumbling_window_counts(spark, event_stream_dir):
    df = windows.tumbling_counts(replay_events(spark, event_stream_dir), duration="5 minutes")
    run_to_memory(spark, df, "tumb", "complete")
    rows = {
        (r["win_start"].minute, r["event_type"]): (r["cnt"], r["sum_value"])
        for r in spark.sql("SELECT * FROM tumb").collect()
    }
    # window [00:00,00:05): views 2 (1.0+3.0), clicks 2 (2.0+2.0 dup counted)
    assert rows[(0, "view")] == (2, 4.0)
    assert rows[(0, "click")] == (2, 4.0)
    assert rows[(5, "view")] == (1, 4.0)
    assert rows[(20, "view")] == (1, 6.0)


def test_session_windows(spark, event_stream_dir):
    df = windows.session_counts(replay_events(spark, event_stream_dir), gap="5 minutes")
    run_to_memory(spark, df, "sess", "complete")
    per_user = {}
    for r in spark.sql("SELECT * FROM sess").collect():
        per_user.setdefault(r["user_id"], []).append(r["cnt"])
    # user 1: {00:00:10, 00:01:10, dup} one session (gaps < 5 min); 00:07:10
    # is 6 min after the last -> new session; 00:20:10 isolated
    assert sorted(per_user[1]) == [1, 1, 3]
    assert sorted(per_user[2]) == [1, 1]  # 00:02:10 -> 00:07:20 gap is 5m10s


def test_dedup_within_watermark(spark, event_stream_dir):
    df = windows.dedup_within_watermark(
        replay_events(spark, event_stream_dir), keys=["user_id", "ts", "event_type"]
    )
    run_to_memory(spark, df, "dedup", "append")
    assert spark.sql("SELECT count(*) AS c FROM dedup").collect()[0]["c"] == len(EVENT_ROWS) - 1


def test_stream_static_join(spark, sf_dir, event_stream_dir):
    from mrcond_spark.catalog import load

    dims = (
        load(spark, sf_dir, "events")
        .select("event_type")
        .distinct()
        .withColumn("dim_tag", F.upper("event_type"))
    )
    df = windows.stream_static_join(replay_events(spark, event_stream_dir), dims, ["event_type"])
    run_to_memory(spark, df, "ssj", "append")
    rows = spark.sql("SELECT DISTINCT event_type, dim_tag FROM ssj").collect()
    assert {(r["event_type"], r["dim_tag"]) for r in rows} == {
        ("view", "VIEW"),
        ("click", "CLICK"),
    }


def test_stream_stream_join(spark, event_stream_dir):
    views = replay_events(spark, event_stream_dir).filter(F.col("event_type") == "view")
    clicks = replay_events(spark, event_stream_dir).filter(F.col("event_type") == "click")
    joined = windows.stream_stream_join(
        views.select("user_id", "ts", F.col("value").alias("view_value")),
        clicks.select("user_id", "ts", F.col("value").alias("click_value")),
        key="user_id",
    )
    run_to_memory(spark, joined, "stst", "append")
    rows = spark.sql("SELECT * FROM stst").collect()
    # user1 view@00:00:10 joins click@00:01:10 (x2 duplicates); user2
    # view@00:02:10 joins click@00:07:20
    assert len(rows) == 3


def test_running_user_totals_stateful(spark, event_stream_dir):
    df = windows.running_user_totals(replay_events(spark, event_stream_dir))
    run_to_memory(spark, df, "state", "update")
    last = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in spark.sql(
            "SELECT user_id, n_events, total_value FROM state"
        ).collect()
    }
    assert last[1] == (5, 15.0)  # 1+2+4+6+2(dup)
    assert last[2] == (2, 8.0)


def test_windowed_agg_to_parquet_file_sink(spark, event_stream_dir, tmp_path):
    """S14 append mode + the exactly-once FILE sink: only watermark-finalized
    windows are written to parquet. Data spans 00:00-00:20 with a 10-minute
    watermark, so at availableNow completion the watermark sits at 00:10:10 —
    the 00:00 and 00:05 windows are final and on disk; the 00:20 window is
    still open and must NOT appear."""
    out = str(tmp_path / "win-parquet")
    df = windows.tumbling_counts(replay_events(spark, event_stream_dir), duration="5 minutes")
    q = (
        df.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    back = {
        (r["win_start"].minute, r["event_type"]): (r["cnt"], r["sum_value"])
        for r in spark.read.parquet(out).collect()
    }
    assert back[(0, "view")] == (2, 4.0)
    assert back[(0, "click")] == (2, 4.0)
    assert back[(5, "view")] == (1, 4.0)
    assert not any(minute == 20 for minute, _ in back), back  # window still open


def test_stream_stream_left_outer_join(spark, event_stream_dir):
    """S10 outer variant: left rows with no in-range right match emit with
    NULL right columns once the watermark proves no match can arrive. The
    00:20:10 view has no click within 15 minutes after it — it must appear
    exactly once, unmatched; matched rows equal the inner-join result."""
    views = replay_events(spark, event_stream_dir).filter(F.col("event_type") == "view")
    clicks = replay_events(spark, event_stream_dir).filter(F.col("event_type") == "click")
    joined = windows.stream_stream_join(
        views.select("user_id", F.col("ts").alias("vts"), F.col("value").alias("view_value")),
        clicks.select("user_id", F.col("ts").alias("cts"), F.col("value").alias("click_value")),
        key="user_id",
        left_ts="vts",
        right_ts="cts",
        how="left_outer",
    )
    run_to_memory(spark, joined, "ststlo", "append")
    rows = spark.sql("SELECT * FROM ststlo").collect()
    matched = [r for r in rows if r["click_value"] is not None]
    unmatched = [r for r in rows if r["click_value"] is None]
    assert len(matched) == 3  # same pairs as the inner join
    # the final view (00:20:10, value 6.0) is beyond every click's range but
    # the watermark can only finalize rows it has moved past — at least the
    # provably-unmatchable earlier views must NOT appear here, and every
    # unmatched emission keeps its left values with NULL right side
    for r in unmatched:
        assert r["view_value"] is not None
    assert {r["view_value"] for r in unmatched} <= {4.0, 6.0}


def test_raw_capture_replay_through_pipeline(spark, tmp_path):
    """S1→S2→S3 integration over RAW change-stream documents: replay the
    wire-shape capture (extended JSON, the form the connector consumes)
    through raw_change_event_to_envelope into the publish pipeline, and
    assert the sink sees the same ordered fullDocument stream plus the
    drop-terminal contract — the closest no-mongod analog of the reference's
    live e2e."""
    import shutil
    import uuid as _uuid

    from mrcond_spark.streaming.pipeline import start_cdc_query
    from mrcond_spark.streaming.source import raw_change_event_to_envelope

    fixture = os.path.join(os.path.dirname(__file__), "fixtures", "change_events_v10.jsonl")
    events_dir = str(tmp_path / "raw-events")
    os.makedirs(events_dir)
    shutil.copy(fixture, os.path.join(events_dir, "b0.jsonl"))

    name = f"raw-{_uuid.uuid4().hex[:8]}"
    pub = MemoryPublisher.named(name)
    raw = spark.readStream.format("text").load(events_dir)
    cq = start_cdc_query(
        raw_change_event_to_envelope(raw, event_col="value"),
        pub,
        name,
        str(tmp_path / "raw-ckpt"),
        available_now=True,
    )
    cq.query.awaitTermination(120)

    payloads = [json.loads(p) for p in pub.messages[name]]
    assert [p["operationType"] for p in payloads] == ["insert", "insert", "delete", "drop"]
    docs = [json.loads(p["fullDocument"]) for p in payloads if p.get("fullDocument")]
    assert [d["name"] for d in docs] == ["Alice", "Bob"]
    assert payloads[0]["ns"] == {"db": "appdb", "coll": "people"}
    # the drop event must have flagged the query terminal (R7 clean stop)
    assert cq.terminal.is_set()
    MemoryPublisher.reset(name)


def test_stream_dedup_against_reference(spark, tmp_path):
    """S9/E1: streamed docs whose normalized text exists in the static
    reference drop (case/whitespace-insensitively); novel docs pass through."""
    d = str(tmp_path / "docs-json")
    os.makedirs(d, exist_ok=True)
    docs = [
        (1, "alpha beta gamma"),   # duplicates ref 100 (case-folded)
        (2, "epsilon zeta"),       # novel
        (3, "DELTA  "),            # duplicates ref 101 (whitespace/case)
        (4, "eta theta"),          # novel
    ]
    with open(os.path.join(d, "part0.json"), "w") as f:
        for i, t in docs:
            f.write(json.dumps({"doc_id": i, "text": t}) + "\n")
    stream = spark.readStream.schema("doc_id BIGINT, text STRING").json(d)
    ref = spark.createDataFrame(
        [(100, "Alpha beta  gamma"), (101, "delta")], "doc_id LONG, text STRING"
    )
    out = windows.stream_dedup_against_reference(stream, ref)
    run_to_memory(spark, out, "sdedup", "append")
    kept = {r["doc_id"] for r in spark.sql("SELECT doc_id FROM sdedup").collect()}
    assert kept == {2, 4}


def test_curate_stream_pipeline(spark, tmp_path):
    """Streaming curation composition: the low-quality doc (token floor),
    the two repeated-token docs (unique ratio), the in-stream duplicate, and
    the reference duplicate all drop; the two novel quality docs survive."""
    d = str(tmp_path / "curate-json")
    os.makedirs(d, exist_ok=True)
    good_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    good_b = "one two three four five six seven eight nine ten"
    docs = [
        (1, "2024-01-01T00:00:01Z", good_a),                     # survives
        (2, "2024-01-01T00:00:02Z", "too short"),                # token floor
        (3, "2024-01-01T00:00:03Z", "spam " * 12),               # unique ratio
        (4, "2024-01-01T00:00:04Z", good_a.upper()),             # in-stream dup of 1
        (5, "2024-01-01T00:00:05Z", "ref known text " * 4),      # unique ratio (3 of 12)
        (6, "2024-01-01T00:00:06Z", good_b),                     # survives
        (7, "2024-01-01T00:00:07Z", "known alpha one beta two gamma three delta four epsilon"),  # reference dup
    ]
    with open(os.path.join(d, "part0.json"), "w") as f:
        for i, ts, t in docs:
            f.write(json.dumps({"doc_id": i, "ts": ts, "text": t}) + "\n")
    stream = spark.readStream.schema("doc_id BIGINT, ts TIMESTAMP, text STRING").json(d)
    ref = spark.createDataFrame(
        [(100, "Known alpha one beta two gamma three delta four EPSILON")],
        "doc_id LONG, text STRING",
    )
    out = windows.curate_stream(stream, ref)
    run_to_memory(spark, out, "curated", "append")
    kept = {r["doc_id"] for r in spark.sql("SELECT doc_id FROM curated").collect()}
    # exactly one of the two same-normalized-text docs survives (which one is
    # micro-batch-internal order, not a contract), plus the other novel doc
    assert len(kept & {1, 4}) == 1 and 6 in kept and len(kept) == 2, kept


def test_stream_zscore_anomalies(spark, event_stream_dir):
    """Batch-trained stats applied to the live stream: only values beyond
    3 sigma of their key's reference distribution flag; keys with NaN or
    zero sd are unusable and must flag nothing (the NaN-orders-high trap)."""
    stats = spark.createDataFrame(
        [
            ("view", 2.0, 1.0),          # views: mu=2, sd=1 -> |z|>3 means v>5 or v<-1
            ("click", 2.0, 0.0),         # zero spread: unusable
            ("purchase", 1.0, float("nan")),  # single-row training key: unusable
        ],
        "event_type string, mu double, sd double",
    )
    df = windows.stream_zscore_anomalies(replay_events(spark, event_stream_dir), stats)
    run_to_memory(spark, df, "zanom", "append")
    rows = spark.sql("SELECT event_type, value, z FROM zanom").collect()
    # view values: 1,3,4,6 -> only 6.0 has |z| = 4 > 3; clicks (2,5,2) never
    # flag despite 5.0 being far off a zero-spread distribution
    assert {(r["event_type"], r["value"]) for r in rows} == {("view", 6.0)}
    assert rows[0]["z"] == pytest.approx(4.0, abs=1e-12)


def test_stream_cusum_matches_batch_recurrence(spark, event_stream_dir):
    """Streaming CUSUM alarms over an in-order replay must equal the plain
    batch recurrence on the same rows (the q133 <-> stream_cusum mirror):
    mu trained on the full fixture, slack 0, alarm at S > 3."""
    import pandas as _pd

    rows = sorted(
        ((i, ts, uid, v) for i, (ts, uid, _et, v) in enumerate(EVENT_ROWS)),
        key=lambda r: (r[2], r[1], r[0]),
    )
    mu = {}
    for _i, _ts, uid, v in rows:
        mu.setdefault(uid, []).append(v)
    mu = {u: sum(vs) / len(vs) for u, vs in mu.items()}
    expected = set()
    state = {}
    for i, _ts, uid, v in rows:
        s = max(0.0, state.get(uid, 0.0) + (v - mu[uid] - 0.0))
        state[uid] = s
        if s > 3.0:
            expected.add((uid, i))
    means = spark.createDataFrame(
        [(u, m) for u, m in mu.items()], "user_id long, mu double"
    )
    df = windows.stream_cusum(
        replay_events(spark, event_stream_dir), means, slack=0.0, threshold=3.0
    )
    run_to_memory(spark, df, "cusum_stream", "append")
    got = {(r["user_id"], r["event_id"]) for r in spark.sql("select * from cusum_stream").collect()}
    assert expected, "fixture must produce at least one alarm"
    assert got == expected


def test_heavy_hitters_exact_when_under_capacity(spark, event_stream_dir):
    """S11: with fewer distinct items than k counters the MG sketch never
    evicts — estimates are EXACT and the error bar is zero."""
    df = windows.stream_heavy_hitters(
        replay_events(spark, event_stream_dir), item_col="event_type", k=8
    )
    run_to_memory(spark, df, "hh_exact", "update")
    got = {
        r["item"]: (r["est"], r["err"])
        for r in spark.sql(
            # update mode re-emits per batch; one batch here, but keep the
            # latest-row discipline anyway
            "SELECT item, est, err FROM hh_exact"
        ).collect()
    }
    exact = {}
    for _, _, et, _ in EVENT_ROWS:
        exact[et] = exact.get(et, 0) + 1
    assert got == {item: (n, 0) for item, n in exact.items()}


def test_heavy_hitters_bounds_over_capacity(spark, tmp_path):
    """S11: skewed stream with more distinct items than counters, replayed
    as TWO micro-batches so state merges across batches. The MG guarantees
    must hold: every item with true count > err survives, and every
    estimate sits in [true - err, true]."""
    d = str(tmp_path / "hh-json")
    os.makedirs(d, exist_ok=True)
    # skew: 'a' x 30, 'b' x 14, then a long tail of singletons
    batch1 = ["a"] * 20 + ["b"] * 6 + [f"t{i}" for i in range(8)]
    batch2 = ["a"] * 10 + ["b"] * 8 + [f"u{i}" for i in range(8)]
    for bi, items in enumerate((batch1, batch2)):
        with open(os.path.join(d, f"part{bi}.json"), "w") as f:
            for it in items:
                f.write(json.dumps({"item_id": it}) + "\n")
    stream = (
        spark.readStream.schema("item_id STRING")
        .option("maxFilesPerTrigger", 1)
        .json(d)
    )
    df = windows.stream_heavy_hitters(stream, item_col="item_id", k=3, n_buckets=1)
    run_to_memory(spark, df, "hh_bound", "update")
    rows = spark.sql("SELECT item, est, err, n_bucket FROM hh_bound").collect()
    # keep only the final state (n_bucket == total stream length)
    total = len(batch1) + len(batch2)
    final = {r["item"]: (r["est"], r["err"]) for r in rows if r["n_bucket"] == total}
    assert final, "no final-batch emission"
    exact = {}
    for it in batch1 + batch2:
        exact[it] = exact.get(it, 0) + 1
    err = next(iter(final.values()))[1]
    assert 0 < err <= total // (3 + 1)  # classic MG bound n/(k+1)
    for item, true in exact.items():
        if true > err:
            assert item in final, f"heavy item {item} evicted (true={true}, err={err})"
    for item, (est, e) in final.items():
        assert true_bounds_ok(exact[item], est, e), (item, exact[item], est, e)


def true_bounds_ok(true: int, est: int, err: int) -> bool:
    return true - err <= est <= true


def test_stream_weighted_sample_matches_batch_selection(spark, tmp_path):
    """S11/B31: the streaming A-ES reservoir must select EXACTLY the rows
    the batch q140-style computation selects over the same input, however
    the stream was micro-batched — the reproducible-sample contract."""
    from pyspark.sql import functions as F

    from mrcond_spark.operators.sampling import aes_key

    d = str(tmp_path / "docs-json")
    os.makedirs(d, exist_ok=True)
    rows = [{"doc_id": i, "n_chars": 50 + (i * 37) % 200} for i in range(60)]
    with open(os.path.join(d, "part0.json"), "w") as f:
        for r in rows[:25]:
            f.write(json.dumps(r) + "\n")
    with open(os.path.join(d, "part1.json"), "w") as f:
        for r in rows[25:]:
            f.write(json.dumps(r) + "\n")

    schema = "doc_id BIGINT, n_chars BIGINT"
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(d)
    )
    df = windows.stream_weighted_sample(stream, k=5, n_buckets=2)
    run_to_memory(spark, df, "res", "update")
    emitted = spark.sql("SELECT * FROM res").collect()
    # final reservoir per bucket = rows from that bucket's last emission
    final_n = {}
    for r in emitted:
        final_n[r["bucket"]] = max(final_n.get(r["bucket"], 0), r["n_seen"])
    candidates = [
        (r["item_id"], r["sel_key"])
        for r in emitted
        if r["n_seen"] == final_n[r["bucket"]]
    ]
    candidates.sort(key=lambda e: (-e[1], e[0]))
    got = [item for item, _ in candidates[:5]]

    static = spark.read.schema(schema).json(d)
    expect = [
        r["doc_id"]
        for r in static.select(
            "doc_id",
            aes_key(F.col("doc_id"), F.col("n_chars"), "seed140").alias("k"),
        )
        .orderBy(F.col("k").desc(), "doc_id")
        .limit(5)
        .collect()
    ]
    assert got == expect


def _latest_drift_partials(spark, table):
    """Update mode re-emits per batch; counts are monotone, so the latest
    partial per bucket is the one with max n_bucket."""
    rows = spark.sql(f"SELECT * FROM {table}").collect()
    latest = {}
    for r in rows:
        cur = latest.get(r["bucket"])
        if cur is None or r["n_bucket"] > cur["n_bucket"]:
            latest[r["bucket"]] = r
    return [(r["bucket"], r["n_bucket"], r["a_partial"]) for r in latest.values()]


def test_stream_drift_zero_when_reference_matches(spark, event_stream_dir):
    """S11: KL(obs || ref) == 0 when the reference IS the observed
    distribution — the combined partials must recover that exactly."""
    from collections import Counter

    c = Counter(et for _, _, et, _ in EVENT_ROWS)
    n = sum(c.values())
    ref = spark.createDataFrame(
        [(et, cnt / n) for et, cnt in c.items()], "event_type STRING, p_ref DOUBLE"
    )
    df = windows.stream_distribution_drift(
        replay_events(spark, event_stream_dir), ref, n_buckets=4
    )
    run_to_memory(spark, df, "drift_zero", "update")
    latest = _latest_drift_partials(spark, "drift_zero")
    partials = spark.createDataFrame(
        latest, "bucket LONG, n_bucket LONG, a_partial DOUBLE"
    )
    out = windows.combine_drift_partials(partials).collect()[0]
    assert out["n"] == n
    assert abs(out["kl"]) < 1e-12


def test_stream_drift_matches_direct_batch_kl(spark, event_stream_dir):
    """S11: against a skewed (uniform) reference the combined streaming
    partials must equal the direct batch KL over the same rows."""
    import math
    from collections import Counter

    c = Counter(et for _, _, et, _ in EVENT_ROWS)
    n = sum(c.values())
    types = sorted(c)
    ref = spark.createDataFrame(
        [(et, 1.0 / len(types)) for et in types], "event_type STRING, p_ref DOUBLE"
    )
    expected = sum(
        (cnt / n) * math.log((cnt / n) / (1.0 / len(types)))
        for cnt in c.values()
    )
    df = windows.stream_distribution_drift(
        replay_events(spark, event_stream_dir), ref, n_buckets=4
    )
    run_to_memory(spark, df, "drift_skew", "update")
    latest = _latest_drift_partials(spark, "drift_skew")
    partials = spark.createDataFrame(
        latest, "bucket LONG, n_bucket LONG, a_partial DOUBLE"
    )
    out = windows.combine_drift_partials(partials).collect()[0]
    assert out["n"] == n
    assert expected > 0.01  # the skew is real
    assert abs(out["kl"] - expected) < 1e-9


def test_stream_drift_state_carries_across_micro_batches(spark, tmp_path):
    """Replay the fixture as THREE micro-batches (one file per trigger):
    the bucket sketches must accumulate across batches, and the latest
    combined partials must equal the direct batch KL over ALL rows —
    pinning the state-store carry path a single-batch drain never
    exercises."""
    import math
    import os as _os
    from collections import Counter

    d = str(tmp_path / "drift-batches")
    _os.makedirs(d, exist_ok=True)
    chunks = [EVENT_ROWS[:3], EVENT_ROWS[3:5], EVENT_ROWS[5:]]
    for b, chunk in enumerate(chunks):
        with open(_os.path.join(d, f"part{b}.json"), "w") as f:
            for i, (ts, uid, et, v) in enumerate(chunk):
                f.write(
                    json.dumps(
                        {
                            "event_id": b * 100 + i,
                            "ts": ts,
                            "user_id": uid,
                            "event_type": et,
                            "value": v,
                        }
                    )
                    + "\n"
                )
    schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(d)
    )
    c = Counter(et for _, _, et, _ in EVENT_ROWS)
    n = sum(c.values())
    types = sorted(c)
    ref = spark.createDataFrame(
        [(et, 1.0 / len(types)) for et in types], "event_type STRING, p_ref DOUBLE"
    )
    df = windows.stream_distribution_drift(stream, ref, n_buckets=2)
    run_to_memory(spark, df, "drift_multi", "update")
    rows = spark.sql("SELECT * FROM drift_multi").collect()
    # more than one emission per bucket proves multiple triggers fired
    from collections import defaultdict

    per_bucket = defaultdict(list)
    for r in rows:
        per_bucket[r["bucket"]].append((r["n_bucket"], r["a_partial"]))
    assert any(len(v) > 1 for v in per_bucket.values())
    # counts accumulate across triggers: some bucket emitted strictly
    # increasing totals (set comparison — memory-sink row order is not a
    # contract)
    assert any(len({x[0] for x in v}) > 1 for v in per_bucket.values())
    latest = [max(v) for v in per_bucket.values()]
    partials = spark.createDataFrame(
        [(b, nb, a) for b, (nb, a) in zip(per_bucket, latest)],
        "bucket LONG, n_bucket LONG, a_partial DOUBLE",
    )
    out = windows.combine_drift_partials(partials).collect()[0]
    expected = sum(
        (cnt / n) * math.log((cnt / n) / (1.0 / len(types)))
        for cnt in c.values()
    )
    assert out["n"] == n
    assert abs(out["kl"] - expected) < 1e-9
