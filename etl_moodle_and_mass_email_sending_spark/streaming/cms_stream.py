"""Streaming count-min sketch: each micro-batch's counter table
SUM-merges into a parquet-backed store through ``foreachBatch`` — the
additive sibling of the HLL stream's max-merge (CMS counters are plain
sums, so batch boundaries and merge order cannot change the final
table, and the streamed sketch is bit-identical to the batch sketch
over the same data).

State is ≤ CMS_ROWS × CMS_WIDTH (1024) integer cells FOREVER,
regardless of key cardinality or stream duration — the streaming
frequency-tracking state-size argument. NOTE the honest limitation
this module keeps: a pure CMS answers point queries for keys you ask
about; it cannot enumerate heavy hitters without a candidate set
(production pairs it with a heap of candidates). The registered query
probes a fixed key spine.

The store commit is ``replay.swap_store``; a crash between its renames
restores the pre-batch counters, and the checkpoint replays the batch.
A batch can also re-run after its commit, when the process dies before
the checkpoint records it: the store version carries the id of the
last batch it summed, and ``swap_store`` skips a batch it already holds,
so no batch is summed twice.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.sketches import cms_counters
from .replay import swap_store


def on_batch(store_dir: str, batch: DataFrame, batch_id: int) -> None:
    """Sum-merge one micro-batch's CMS counters into
    ``<store_dir>/counters`` (read it back and call ``cms_probe``)."""
    if not batch.take(1):
        return
    ctrs = cms_counters(batch, "user_id")

    def merged(prior: str | None) -> DataFrame:
        if prior is None:
            return ctrs
        return (
            batch.sparkSession.read.parquet(prior)
            .unionByName(ctrs)
            .groupBy("r", "bucket")
            .agg(F.sum("_cnt").alias("_cnt"))
        )

    swap_store(os.path.join(store_dir, "counters"), merged, batch_id)
