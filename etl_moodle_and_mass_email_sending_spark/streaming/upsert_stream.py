"""Streaming upsert: drain a stream into a latest-wins parquet snapshot
via ``foreachBatch`` — the standard Structured-Streaming-to-lakehouse
MERGE pattern (each micro-batch is a bounded DataFrame, so the batch
sink's merge logic applies unchanged; exactly-once comes from the
checkpoint's batch-id tracking plus the sink swap being idempotent for
a replayed batch: re-merging the same rows is a no-op).

The per-batch reduction (latest row per key WITHIN the batch, by event
time) runs before the merge so the snapshot write is one row per key
regardless of how many updates a key received in the batch — state
stays in the snapshot, not in the stream (no watermark needed; this is
the stateless-stream + stateful-sink decomposition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.util import top_k
from ..sinks.upsert import merge_upsert


def on_batch(snapshot_dir: str, batch: DataFrame, batch_id: int) -> None:
    """Merge one micro-batch's latest event per ``user_id`` into the
    snapshot."""
    if not batch.take(1):
        return
    latest = top_k(
        batch, ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()], 1
    ).drop("rank")
    merge_upsert(batch.sparkSession, snapshot_dir, latest, key="user_id")
