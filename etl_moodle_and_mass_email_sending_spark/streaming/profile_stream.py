"""[EXT] Streaming incremental table profiling — the online twin of
queries/quality.py::rel_profile_table: events arrive as a stream and
every micro-batch contributes an ALGEBRAIC partial profile per column
(count / nulls / min / max / DECIMAL-exact sum); the final profile is
the merge of the partials. This is how a 100 TB ingest keeps a live
"DESCRIBE" of what has landed so far without ever rescanning history:
counts and sums add, mins and maxes fold, and the mean is derived at
read time from the merged sufficient statistics.

Exact distinct is deliberately absent: it is holistic (not mergeable
from per-batch partials without carrying the full value set); the
scale path is a per-batch HLL sketch merged with hll_union_agg, which
trades the oracle-exact contract for boundedness — documented here,
not silently approximated.

Architecture: ``foreachBatch`` — each batch runs one hash aggregation
(no shuffle wider than the column list), writes its partial rows into
its own ``batch_id`` partition with dynamic partition overwrite
(idempotent on batch retry — the round-9 exactly-once sink pattern).
Because every statistic is algebraic, the merged result equals the
batch profile regardless of how the replay chunks — the exact batch
oracle holds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .replay import land_batch

PROFILE_NUM = ["value", "user_id"]
PROFILE_STR = ["event_type", "props"]


def batch_partial_profile(batch_df: DataFrame) -> DataFrame:
    """One micro-batch → long-format algebraic partials, one row per
    profiled column."""
    aggs = [F.count(F.lit(1)).alias("_rows")]
    for c in PROFILE_NUM + PROFILE_STR:
        aggs.append(F.count(c).alias(f"_nn_{c}"))
    for c in PROFILE_NUM:
        aggs += [
            F.min(F.col(c).cast("double")).alias(f"_mn_{c}"),
            F.max(F.col(c).cast("double")).alias(f"_mx_{c}"),
            F.sum(
                F.round(F.col(c).cast("double"), 6).cast("decimal(18,6)")
            ).alias(f"_sv_{c}"),
        ]
    wide = batch_df.agg(*aggs)
    rows = []
    for c in PROFILE_NUM:
        rows.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col("_rows").cast("bigint").alias("n_rows"),
                (F.col("_rows") - F.col(f"_nn_{c}"))
                .cast("bigint")
                .alias("n_null"),
                F.col(f"_mn_{c}").alias("min_val"),
                F.col(f"_mx_{c}").alias("max_val"),
                F.col(f"_sv_{c}").cast("decimal(28,6)").alias("sum_val"),
            )
        )
    for c in PROFILE_STR:
        rows.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col("_rows").cast("bigint").alias("n_rows"),
                (F.col("_rows") - F.col(f"_nn_{c}"))
                .cast("bigint")
                .alias("n_null"),
                F.lit(None).cast("double").alias("min_val"),
                F.lit(None).cast("double").alias("max_val"),
                F.lit(None).cast("decimal(28,6)").alias("sum_val"),
            )
        )
    return wide.select(F.explode(F.array(*rows)).alias("u")).select("u.*")


def merge_partials(partials: DataFrame) -> DataFrame:
    """Merged partials → the final profile. All-NULL min/max/sum groups
    (string columns) merge to NULL; the mean divides the exact DECIMAL
    sum by the non-null count."""
    merged = partials.groupBy("column").agg(
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.sum("n_null").cast("bigint").alias("n_null"),
        F.min("min_val").alias("_mn"),
        F.max("max_val").alias("_mx"),
        F.sum("sum_val").alias("_sv"),
    )
    nn = F.col("n_rows") - F.col("n_null")
    return merged.select(
        "column",
        "n_rows",
        "n_null",
        F.round("_mn", 6).alias("min_val"),
        F.round("_mx", 6).alias("max_val"),
        F.round(
            F.try_divide(F.col("_sv").cast("double"), nn), 6
        ).alias("mean_val"),
    )


def on_batch(out_path: str, batch: DataFrame, batch_id: int) -> None:
    """Land one micro-batch's partial profile in its own partition of
    ``out_path``."""
    land_batch(batch_partial_profile(batch), batch_id, out_path)
