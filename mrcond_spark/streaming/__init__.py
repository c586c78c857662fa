"""Structured-Streaming surface: the reference's CDC pipeline re-expressed
Spark-first (SURVEY §2.1 R1–R14 → §2.3 S1–S14).

- ``envelope``   — change-event schema + payload serialization
- ``source``     — CDC sources: MongoDB connector factory + file-replay double
- ``sink``       — queue sinks behind the ``Publish`` seam (memory / RabbitMQ)
- ``pipeline``   — one checkpointed query per watched collection
- ``supervisor`` — fan-out + restart-classification loop (server.rs semantics)
- ``metrics``    — the five engine_* series + Prometheus text exposition
- ``http``       — /health + /metrics endpoint
- ``windows``    — event-time operators: watermarks, tumbling/session
                   windows, stateful dedup, stream joins, custom state
"""
