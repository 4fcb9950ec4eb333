"""Streaming distinct-count via HyperLogLog register merge: each
micro-batch's register state max-merges into a parquet-backed sketch
store through ``foreachBatch`` — the textbook streaming-sketch pattern
(registers are max-merged, so merge order, batch boundaries, and even
recovery re-merges CANNOT change the final state; the streamed sketch
is bit-identical to the batch sketch over the same data, which is what
lets an approximate streaming aggregate hash-gate exactly).

Contrast with the exact alternative: streaming COUNT(DISTINCT key)
needs per-key state (unbounded); the register store is m=64 rows per
group forever. This is the state-size argument for sketches at
100 TB/stream-scale, realized.

The store commit is ``replay.swap_store`` (new version written beside
the old, then rename-swapped; a crash between the renames only costs a
re-merge of the interrupted batch, which max-merge absorbs).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.sketches import hll_registers
from .replay import swap_store


def on_batch(store_dir: str, batch: DataFrame, batch_id: int) -> None:
    """Max-merge one micro-batch's per-group HLL registers into
    ``<store_dir>/regs`` (read it back and call ``hll_estimate``)."""
    if not batch.take(1):
        return
    regs = hll_registers(
        batch.select("event_type", "event_id"), "event_type", "event_id"
    )

    def merged(prior: str | None) -> DataFrame:
        if prior is None:
            return regs
        return (
            batch.sparkSession.read.parquet(prior)
            .unionByName(regs)
            .groupBy("event_type", "_idx")
            .agg(F.max("_mj").alias("_mj"))
        )

    swap_store(os.path.join(store_dir, "regs"), merged)
