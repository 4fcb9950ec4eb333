"""Streaming bloom membership: the OR-merge (set-union) member of the
mergeable-sketch family — per micro-batch, the batch keys' bloom
bucket ids union-distinct into a stored "bitset" frame (≤ BLOOM_BITS
rows, semantically the set bits). Union is idempotent and
order-independent, so the streamed bitset equals the batch bitset over
the same data and membership probes hash-gate exactly; the
no-false-negative contract (every truly-seen key probes positive)
survives streaming unchanged.

State: ≤ BLOOM_BITS rows forever — the streaming watchlist/dedup-
prefilter primitive (has this key EVER been seen?) at fixed state,
where exact tracking needs unbounded per-key state.

The store commit is ``replay.swap_store``, like the other sketch
streams.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.sketches import _bloom_buckets
from .replay import swap_store


def on_batch(store_dir: str, batch: DataFrame, batch_id: int) -> None:
    """Union one micro-batch's bloom bucket ids into ``<store_dir>/bits``
    (read it back and probe)."""
    if not batch.take(1):
        return
    bits = (
        batch.filter(F.col("user_id").isNotNull())
        .select(F.explode(_bloom_buckets("user_id")).alias("bit"))
        .distinct()
    )

    def merged(prior: str | None) -> DataFrame:
        if prior is None:
            return bits
        prev = batch.sparkSession.read.parquet(prior)
        return prev.unionByName(bits).distinct()

    swap_store(os.path.join(store_dir, "bits"), merged)
