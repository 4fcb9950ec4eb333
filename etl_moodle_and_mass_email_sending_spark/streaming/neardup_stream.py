"""Streaming near-duplicate filter: admit documents as they arrive,
dropping any doc that is a MinHash-LSH near-duplicate of an EARLIER
document (smaller doc_id — arrival order in the staged replay). This is
the online form of the batch `dedup_minhash_lsh` operator: the state a
production stream keeps is exactly the LSH index (band buckets + the
signatures behind them), appended per micro-batch via ``foreachBatch``
— the stateless-stream + stateful-sink decomposition, same as
``upsert_stream``.

Semantics (deliberately order-independent so the result is exact and
batch-checkable): doc X is dropped iff SOME doc Y with doc_id < X
shares an LSH band with X and the signature-agreement estimate is ≥
NEAR_THRESHOLD — whether or not Y itself was dropped (the index keeps
every seen doc; dropping dropped docs' signatures would make the answer
depend on micro-batch boundaries).

Scale design: the stored index is NARROW — (doc_id, band, key) rows
plus a separate (doc_id, sig) store, the same split the batch verified
form uses, so the per-batch candidate join carries band keys only and
signatures are fetched once per candidate pair. State grows with
corpus size, not stream duration × rate; a production deployment would
back the same two frames with a key-value store and TTL/compaction.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import dedup


def on_batch(
    store_dir: str, out_dir: str, batch: DataFrame, batch_id: int
) -> None:
    """Filter one (doc_id, text, ...) micro-batch. Decisions land in
    ``out_dir`` as (doc_id, n_earlier_dups, dropped); the band/signature
    index accumulates under ``store_dir``."""
    bands_dir = os.path.join(store_dir, "bands")
    sigs_dir = os.path.join(store_dir, "sigs")
    if not batch.take(1):
        return
    spark = batch.sparkSession
    # the batch's index feeds the band explode, the within-batch
    # candidates, the verify and the index append — pinned once here
    index = dedup.minhash_index(batch).localCheckpoint()
    sigs = index.select("doc_id", "sig")
    bands = dedup._band_frame(index)
    # earlier candidates: smaller doc_ids within this batch plus the
    # stored index (all strictly earlier batches)
    cand = dedup._lsh_candidates(index)
    have_store = os.path.isdir(bands_dir) and any(
        f.endswith(".parquet") for f in os.listdir(bands_dir)
    )
    if have_store:
        stored = spark.read.parquet(bands_dir).withColumnRenamed(
            "doc_id", "doc_a"
        )
        cand_store = (
            stored.join(
                bands.withColumnRenamed("doc_id", "doc_b"),
                on=["band", "key"],
            )
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
        )
        cand = cand.unionByName(cand_store).distinct()
    # signature fetch: the batch's own sigs plus the stored ones
    # dropDuplicates: insurance against a recovery-replayed batch
    # having double-appended index rows (decisions would otherwise
    # double-count through the sig join)
    all_sigs = (
        sigs.unionByName(spark.read.parquet(sigs_dir))
        if have_store
        else sigs
    ).dropDuplicates(["doc_id"])
    dups = (
        cand.join(dedup._side(all_sigs, "a", "sig"), on="doc_a")
        .join(dedup._side(sigs, "b", "sig"), on="doc_b")
        .filter(dedup._agreement() >= dedup.NEAR_THRESHOLD)
        .groupBy(F.col("doc_b").alias("doc_id"))
        .agg(F.count("*").alias("n_earlier_dups"))
    )
    decisions = (
        sigs.select("doc_id")
        .join(dups, on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce("n_earlier_dups", F.lit(0))
            .cast("bigint")
            .alias("n_earlier_dups"),
            (F.coalesce("n_earlier_dups", F.lit(0)) > 0).alias(
                "dropped"
            ),
        )
    )
    decisions.write.mode("append").parquet(out_dir)
    # grow the index AFTER the decisions are computed: a doc never
    # matches itself, and a replayed batch (failure recovery)
    # recomputes identical decisions because the candidate filter
    # is earlier < doc, immune to its own rows being re-appended
    bands.write.mode("append").parquet(bands_dir)
    sigs.write.mode("append").parquet(sigs_dir)
