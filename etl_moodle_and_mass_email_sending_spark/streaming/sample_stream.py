"""Streaming bottom-k hash sample: the RANK-merge member of the
mergeable-sketch trio (HLL streams by register MAX, CMS by counter
SUM, the bottom-k sample by union-and-re-rank — keep the k smallest
hash fractions ever seen per group). Because the hash fraction is a
pure function of the key, the merged sample is exactly the bottom-k of
all data seen, independent of batch boundaries and merge order — the
streamed sample equals the batch sample bit-for-bit, and everything
derived from it (the nearest-rank quantile estimates the registered
query emits) hash-gates against the batch oracle.

State per group: k sample rows + one row count, forever. A per-group
exact quantile would need every value retained; this is the streaming
quantile answer at fixed state.

The two stores commit through ``replay.swap_store`` one after the
other, each recording the batch id it applied, so a batch re-run after
either commit skips the store that already holds it: the sum-merged
counts never add a batch twice (the dropDuplicates on (group, key)
already made a re-merge of the sample idempotent).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import hash_frac
from ..operators.sketches import QSK_K
from ..operators.util import top_k
from .replay import swap_store


def on_batch(store_dir: str, batch: DataFrame, batch_id: int) -> None:
    """Merge one micro-batch into the per-group bottom-k hash samples
    (``<store_dir>/sample``) and exact row counts (``<store_dir>/counts``)."""
    if not batch.take(1):
        return
    spark = batch.sparkSession
    rows = batch.filter(F.col("value").isNotNull()).select(
        F.col("event_type").alias("g"),
        F.col("event_id").alias("_k"),
        F.col("value").alias("_v"),
    )
    hashed = rows.withColumn("_frac", F.expr(hash_frac("cast(_k as string)")))
    counts = rows.groupBy("g").agg(F.count("*").alias("n_rows"))

    def merged_sample(prior: str | None) -> DataFrame:
        both = hashed if prior is None else (
            spark.read.parquet(prior).unionByName(hashed)
        )
        return top_k(
            both.dropDuplicates(["g", "_k"]), ["g"], ["_frac", "_k"], QSK_K
        ).drop("rank")

    def merged_counts(prior: str | None) -> DataFrame:
        if prior is None:
            return counts
        return (
            spark.read.parquet(prior)
            .unionByName(counts)
            .groupBy("g")
            .agg(F.sum("n_rows").alias("n_rows"))
        )

    swap_store(os.path.join(store_dir, "sample"), merged_sample, batch_id)
    swap_store(os.path.join(store_dir, "counts"), merged_counts, batch_id)
