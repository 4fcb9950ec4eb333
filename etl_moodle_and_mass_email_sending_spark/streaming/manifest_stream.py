"""Streaming manifest ingest: maintain the file-skipping manifest
(per-month min/max/rowcount on the sort column — the stats
``sources/manifest.py``'s scan planner prunes with) INCREMENTALLY as
data arrives, instead of rebuilding it with a full-table rollup.

This is the write-side half of the lakehouse contract: a table format
appends per-file stats to its manifest at COMMIT time, so the scan
planner never needs a stats pass over the data. Here each micro-batch
contributes its per-month (min, max, count) PARTIALS; the live
manifest is the associative merge of all partials (min of mins, max of
maxes, sum of counts) — a read-time rollup over a KB-sized partials
table.

Exactly-once without a transaction log: counts are NOT idempotent
under replay (re-merging a retried batch would double-count), so the
sink never merges in place — each batch writes its partials into its
own ``batch_id=<id>`` partition with dynamic partition overwrite (the
repo-standard idempotent-sink idiom; a replayed batch overwrites only
its own previous partial output). min/max/sum over the partials table
then reconstructs the exact manifest regardless of retries.

100 TB shape: the per-batch partial is a map-side-combined hash
aggregation to |months-in-batch| rows; the partials table grows by
|months touched| rows per batch (KBs); the read-time merge rolls up a
KB-sized frame. No step ever rescans previously-ingested data — the
property that makes manifest maintenance viable on a continuously
ingesting 100 TB table, where ``sources/manifest.py``'s one-pass
rollup stand-in would be a daily full-table scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .replay import land_batch


def on_batch(partials_path: str, batch: DataFrame, batch_id: int) -> None:
    """Land one orders micro-batch's per-month (lo, hi, n_rows) partials
    in its own partition of ``partials_path``."""
    if not batch.take(1):
        return
    month = F.year("o_orderdate") * 100 + F.month("o_orderdate")
    part = batch.groupBy(month.cast("int").alias("file_mo")).agg(
        F.min("o_orderdate").alias("lo"),
        F.max("o_orderdate").alias("hi"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    )
    land_batch(part, batch_id, partials_path)


def read_manifest(spark, partials_path: str) -> DataFrame:
    """The live manifest: associative merge of all batches' partials —
    (file_mo, lo, hi, n_rows, n_batches). ``n_batches`` is the number
    of micro-batches that contributed rows to the month (arrival
    spread: 1 = the month landed in one batch, >1 = it straddled
    arrivals)."""
    return (
        spark.read.parquet(partials_path)
        .groupBy("file_mo")
        .agg(
            F.min("lo").alias("lo"),
            F.max("hi").alias("hi"),
            F.sum("n_rows").cast("bigint").alias("n_rows"),
            F.countDistinct("batch_id").cast("bigint").alias("n_batches"),
        )
    )
