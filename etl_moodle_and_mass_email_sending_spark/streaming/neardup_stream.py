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

from ..operators.dedup import (
    LSH_BANDS,
    LSH_ROWS,
    MINHASH_K,
    NEAR_THRESHOLD,
    minhash_signatures,
)

_BAND_EXPR = f"""transform(sequence(0, {LSH_BANDS - 1}), b ->
    array_join(transform(slice(sig, b * {LSH_ROWS} + 1, {LSH_ROWS}),
               x -> cast(x as string)), '-'))"""


def _bands_of(sigs: DataFrame) -> DataFrame:
    return sigs.select(
        "doc_id", F.posexplode(F.expr(_BAND_EXPR)).alias("band", "key")
    )


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
    # sigs feed the band explode, the within-batch verify, and the
    # index append — checkpoint so the shingle+minhash expression
    # runs once (the batch minhash_lsh_pairs lesson)
    sigs = minhash_signatures(batch).localCheckpoint()
    bands = _bands_of(sigs)
    new = bands.select(
        F.col("doc_id").alias("doc"), "band", "key"
    )
    # earlier candidates: the stored index (all strictly earlier
    # batches) plus smaller doc_ids within this batch
    cand_within = (
        bands.select(F.col("doc_id").alias("earlier"), "band", "key")
        .join(new, on=["band", "key"])
        .filter(F.col("earlier") < F.col("doc"))
    )
    have_store = os.path.isdir(bands_dir) and any(
        f.endswith(".parquet") for f in os.listdir(bands_dir)
    )
    if have_store:
        stored = spark.read.parquet(bands_dir).select(
            F.col("doc_id").alias("earlier"), "band", "key"
        )
        cand_store = stored.join(new, on=["band", "key"]).filter(
            F.col("earlier") < F.col("doc")
        )
        cand = cand_within.unionByName(cand_store)
    else:
        cand = cand_within
    pairs = cand.select("earlier", "doc").distinct()
    # signature fetch: the batch's own sigs plus the stored ones
    # dropDuplicates: insurance against a recovery-replayed batch
    # having double-appended index rows (decisions would otherwise
    # double-count through the sig join)
    all_sigs = (
        sigs.unionByName(spark.read.parquet(sigs_dir))
        if have_store
        else sigs
    ).dropDuplicates(["doc_id"])
    est = (
        F.size(
            F.expr(
                "filter(zip_with(sig_e, sig_d, (x, y) -> x = y), v -> v)"
            )
        )
        / F.lit(float(MINHASH_K))
    ).alias("est")
    dups = (
        pairs.join(
            all_sigs.select(
                F.col("doc_id").alias("earlier"),
                F.col("sig").alias("sig_e"),
            ),
            on="earlier",
        )
        .join(
            sigs.select(
                F.col("doc_id").alias("doc"), F.col("sig").alias("sig_d")
            ),
            on="doc",
        )
        .select("earlier", "doc", est)
        .filter(F.col("est") >= NEAR_THRESHOLD)
        .groupBy("doc")
        .agg(F.count("*").alias("n_earlier_dups"))
    )
    decisions = (
        sigs.select("doc_id")
        .join(
            dups.withColumnRenamed("doc", "doc_id"), on="doc_id",
            how="left",
        )
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
