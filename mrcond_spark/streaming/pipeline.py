"""Per-collection CDC pipeline (SURVEY §2.1 R1–R7 → §2.3 S1–S4).

One checkpointed streaming query per watched collection:

    source (change stream / file replay)
      -> to_json(struct(*)) payload projection, built once per query
      -> foreachBatch: one Spark job drains the batch to Arrow; the driver
         sorts it by resume token and publishes
      -> checkpoint commit (R2/R6: replaces the resume-token store)

Token order is restored in Arrow on the driver, not by a Spark sort: a
global ``orderBy`` would add a range exchange (a second job under AQE, and
a sampling job once shuffle partitions exceed 1) to every micro-batch.
Arrow's sort is stable and compares UTF-8 bytes, nulls first, which is
Spark's ``UTF8_BINARY`` ascending order.

Terminal handling (R7): a ``drop``/``invalidate`` event in a batch is
published (the reference forwards every event the cursor yields,
`connector.rs:145-167`) and then flags the query terminal; the supervisor
stops it cleanly and does NOT restart (`connector.rs:169-171`,
`server.rs:205-207`).

Sink failures raise out of foreachBatch tagged ``SINK_ERROR`` so the
supervisor can classify them (mirror of `server.rs:215-230`).
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from .envelope import TERMINAL_OPERATIONS, to_payload
from .sink import Publish


@dataclass
class CdcQuery:
    """Handle pairing a StreamingQuery with its terminal-event flag."""

    stream_name: str
    query: StreamingQuery
    terminal: threading.Event = field(default_factory=threading.Event)

    @property
    def is_active(self) -> bool:
        return self.query.isActive


def start_cdc_query(
    source_df: DataFrame,
    publisher: Publish,
    stream_name: str,
    checkpoint_dir: str,
    available_now: bool = False,
) -> CdcQuery:
    """Start the publish pipeline for one collection's change stream.

    ``available_now=True`` drains everything currently available then stops —
    the replay-test mode; production runs continuous micro-batches.
    """
    publisher.declare(stream_name)
    terminal = threading.Event()
    terminal_ops = pa.array(TERMINAL_OPERATIONS)

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        # The drain is the serial section of the per-queue ordering contract
        # (e2e.rs:413), so its fixed cost per micro-batch is the queue's
        # throughput ceiling (PERF.md "Per-queue CDC publish ceiling"): one
        # job with no shuffle brings token, payload and operationType to the
        # driver as Arrow, which sorts there and detects terminal events
        # without a second pass.
        batch = batch_df.toArrow().sort_by([("_token", "ascending")], null_placement="at_start")
        if batch.num_rows:
            try:
                publisher.publish_batch(stream_name, batch["value"].to_pylist())
            except Exception as e:
                # tag sink-origin failures for supervisor classification
                raise RuntimeError(f"SINK_ERROR[{stream_name}]: {e}") from e
            if pc.any(pc.is_in(batch["__op"], value_set=terminal_ops)).as_py():
                terminal.set()

    writer = (
        to_payload(source_df, include_operation=True)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(stream_name)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    query = writer.start()
    return CdcQuery(stream_name=stream_name, query=query, terminal=terminal)
