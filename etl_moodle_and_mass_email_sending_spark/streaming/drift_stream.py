"""[EXT] Streaming drift monitor — per-arrival-batch distribution
tracking: every micro-batch lands its own per-event_type sufficient
statistics (count / non-null count / DECIMAL-exact value sum), and the
readout keeps the batches SEPARATE — per (chunk, event_type) mean next
to its deviation from the all-time mean. This is the dashboard a
100 TB ingest watches for regime change (a source flips its value
scale, a schema migration nulls a column): stream_profile answers
"what has landed in total", this answers "is what's landing NOW
different".

Architecture: ``foreachBatch`` with one hash aggregation per batch
(shuffle is |event_types| rows), partials written into idempotent
per-``batch_id`` partitions (the round-9 exactly-once sink pattern).
The global reference mean is derived at read time from the same
partials — exact, no second pass over history. The testbed replay
chunks by event_id ntile with strictly increasing file mtimes, so
batch b is exactly chunk b+1 and the DuckDB oracle reproduces the
batching with the same ntile.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .replay import land_batch


def batch_partial_stats(batch_df: DataFrame) -> DataFrame:
    """One micro-batch → per-event_type algebraic partials."""
    return batch_df.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.count("value").cast("bigint").alias("_nn"),
        F.sum(
            F.round(F.col("value").cast("double"), 6).cast(
                "decimal(18,6)"
            )
        )
        .cast("decimal(28,6)")
        .alias("_sv"),
    )


def drift_report(partials: DataFrame) -> DataFrame:
    """Partials (with ``batch_id``) → (chunk, event_type, n_events,
    mean_value, delta_vs_global)."""
    wtype = Window.partitionBy("event_type")
    mean_chunk = F.col("_sv").cast("double") / F.col("_nn")
    mean_global = F.sum("_sv").over(wtype).cast("double") / F.sum(
        "_nn"
    ).over(wtype)
    return partials.select(
        (F.col("batch_id") + 1).cast("int").alias("chunk"),
        "event_type",
        "n_events",
        F.round(mean_chunk, 6).alias("mean_value"),
        F.round(mean_chunk - mean_global, 6).alias("delta_vs_global"),
    )


def on_batch(out_path: str, batch: DataFrame, batch_id: int) -> None:
    """Land one micro-batch's partials in its own partition of
    ``out_path``."""
    land_batch(batch_partial_stats(batch), batch_id, out_path)
