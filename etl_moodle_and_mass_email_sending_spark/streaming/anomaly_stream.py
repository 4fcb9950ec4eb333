"""[EXT] Streaming anomaly screen — each micro-batch flags the values
that sit more than 3σ from the mean of EVERYTHING THAT ARRIVED BEFORE
it. This is the stateful shape the other round-9 streams don't have:
drift_stream's batches write partials independently and compare at
read time; here every batch READS the accumulated prior state, scores
its own rows against it, then appends its own sufficient statistics —
the read-prior-then-append loop of a real online monitor (fraud
screens, sensor QA, ingest guards).

Exactness and idempotence:
- State is per-event_type algebraic sufficient statistics (non-null
  count / DECIMAL-exact sum / DECIMAL-exact sum of squares over
  round-6 values), so prior mean/σ are bit-reproducible regardless of
  batching; σ is the population form sqrt(E[x²] − E[x]²) computed in
  double from the exact sums.
- The prior read filters ``batch_id < current`` — a retried batch that
  already half-wrote its own partition can never see itself.
- Both sinks (flags, state) are idempotent per-batch_id dynamic
  partition overwrites (the round-9 exactly-once pattern).
- Batch 0 has no prior: its flag row carries NULL anomaly counts
  rather than a fabricated zero.

Per batch the state read and the score join are |event_types|-row
broadcasts; nothing corpus-sized shuffles.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .replay import land_batch

SIGMA = 3.0


def _rounded(batch_df: DataFrame) -> DataFrame:
    return batch_df.select(
        "event_type",
        F.round(F.col("value").cast("double"), 6).alias("r"),
    )


def prior_aggregate(partials: DataFrame) -> DataFrame:
    """Accumulated partials → per-event_type prior (pn, ps, pss)."""
    return partials.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("pn"),
        F.sum("s").cast("decimal(28,6)").alias("ps"),
        F.sum("ss").cast("decimal(38,12)").alias("pss"),
    )


def anomaly_report(flags: DataFrame) -> DataFrame:
    """Flags (with batch_id) → (chunk, event_type, n_events,
    n_anomalies, anomaly_rate)."""
    return flags.select(
        (F.col("batch_id") + 1).cast("int").alias("chunk"),
        "event_type",
        "n_events",
        "n_anomalies",
        F.round(
            F.col("n_anomalies").cast("double") / F.col("n_events"), 6
        ).alias("anomaly_rate"),
    )


def on_batch(
    store_path: str, flags_path: str, batch: DataFrame, batch_id: int
) -> None:
    """Score one micro-batch against the partials of every earlier batch
    in ``store_path``, land its flag counts in ``flags_path`` and its
    own partials in ``store_path`` (both per-batch partitions)."""
    spark = batch.sparkSession
    prior = None
    if os.path.exists(store_path):
        partials = spark.read.parquet(store_path).filter(
            F.col("batch_id") < batch_id
        )
        prior = prior_aggregate(partials)
    # ONE pass over the batch computes the score counts AND the
    # sufficient statistics; the combined |event_types|-row frame is
    # checkpointed once and feeds both idempotent sinks.
    base = _rounded(batch)
    d = F.col("r").cast("decimal(15,6)")
    stat_aggs = [
        F.count("r").cast("bigint").alias("n_events"),
        F.sum(d).cast("decimal(28,6)").alias("s"),
        F.sum(d * d).cast("decimal(38,12)").alias("ss"),
    ]
    if prior is None:
        combined = (
            base.groupBy("event_type")
            .agg(*stat_aggs)
            .withColumn("n_anomalies", F.lit(None).cast("bigint"))
            .localCheckpoint()
        )
    else:
        joined = base.join(F.broadcast(prior), "event_type", "left")
        mean = F.col("ps").cast("double") / F.col("pn")
        var = F.col("pss").cast("double") / F.col("pn") - mean * mean
        std = F.sqrt(F.greatest(var, F.lit(0.0)))
        hit = F.when(
            F.abs(F.col("r") - mean) > F.lit(SIGMA) * std, 1
        ).otherwise(0)
        combined = (
            joined.groupBy("event_type")
            .agg(
                *stat_aggs,
                F.sum(hit).cast("bigint").alias("_hits"),
                F.first("pn").alias("_pn"),
            )
            .select(
                "event_type",
                "n_events",
                "s",
                "ss",
                F.when(
                    F.col("_pn").isNull(),
                    F.lit(None).cast("bigint"),
                )
                .otherwise(F.col("_hits"))
                .alias("n_anomalies"),
            )
            .localCheckpoint()
        )
    land_batch(
        combined.select("event_type", "n_events", "n_anomalies"),
        batch_id,
        flags_path,
    )
    land_batch(
        combined.select("event_type", F.col("n_events").alias("n"), "s", "ss"),
        batch_id,
        store_path,
    )
