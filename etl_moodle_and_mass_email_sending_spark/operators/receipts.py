"""[EXT] Materialized governance receipts table (round 12, VERDICT r11
item 3).

Round 11's ``rel_quarantine_rollup`` unified four receipt producers
(JSONL/CSV ingest quarantines, the FK integrity gate, the deletion
audit) into one frame but computed every producer's rows INLINE,
re-running the FK anti-joins the gate had already run. The production
shape — and the reference precedent: the run receipts the reference
scatters as log lines per send batch (app.py:340, 367, 371, 375) —
is producers APPENDING their receipt rows to ONE shared, run-stamped
table, with governance queries as plain rollups over it.

Receipt schema (shared by every producer):
    producer   string  — producing gate, e.g. 'rel_fk_integrity:o-c'
    reason     string  — 'corrupt_record' | 'orphan' | ...
    n_audited  bigint  — rows the producer examined
    n_flagged  bigint  — rows it flagged
    flag_rate  double  — n_flagged / n_audited, 6 dp
    sample_key bigint  — MIN flagged key (triage start), NULL if none
plus a ``run_id`` partition column stamped at append time.

The ingest monitors' section sheets (llm_ingest_health: schema drift,
FK guard, mixture monitor, freshness) keep the same contract in a
second table, ``INGEST``, where each monitor owns one ``section``.

Idempotence contract: ``append_receipts`` is a dynamic-partition
overwrite of exactly the (run_id, owner) partitions present in the
frame — re-running a producer for the same run replaces its own rows
and touches nothing else. This is the same per-batch idempotence
contract every foreachBatch sink in ``streaming/`` uses (batch_id
dynamic overwrite), applied to batch governance.

100 TB shape: the receipts table is O(producers x runs) rows — metadata
scale — no matter how big the audited tables are; producers carry the
heavy scans/anti-joins, the rollup is a tiny-table read. The rollup
resolves the LATEST run per (producer, reason) — per section in the
ingest table — so stale runs never shadow fresh ones.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class ReceiptTable(NamedTuple):
    """A receipts table's row columns, the partition column each producer
    owns, and the key whose latest run the rollup keeps."""

    columns: tuple[str, ...]
    owner: str
    latest_by: tuple[str, ...]


GOVERNANCE = ReceiptTable(
    (
        "producer",
        "reason",
        "n_audited",
        "n_flagged",
        "flag_rate",
        "sample_key",
    ),
    "producer",
    ("producer", "reason"),
)
# one monitor's section rows
INGEST = ReceiptTable(
    ("section", "key", "n", "metric", "flag"), "section", ("section",)
)


def append_receipts(
    table: ReceiptTable, df: DataFrame, path: str, run_id: str
) -> None:
    """Append ``df``'s receipt rows to the shared table at ``path``,
    stamped with ``run_id``. Idempotent per (run_id, owner): the
    dynamic overwrite replaces exactly the partitions present in
    ``df`` and leaves every other producer's / run's rows intact."""
    (
        df.select(*table.columns)
        .withColumn("run_id", F.lit(run_id))
        # receipts are a handful of rows per producer — one file per
        # partition keeps the table tidy without a shuffle of note
        .coalesce(1)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("run_id", table.owner)
        .parquet(path)
    )


def latest_rollup(
    table: ReceiptTable, spark: SparkSession, path: str
) -> DataFrame:
    """Every ``latest_by`` key's rows from its LATEST run — a plain read
    + max-run resolve over a metadata-scale table; no producer work
    re-runs here."""
    t = spark.read.parquet(path)
    latest = t.groupBy(*table.latest_by).agg(F.max("run_id").alias("run_id"))
    return t.join(latest, [*table.latest_by, "run_id"]).select(*table.columns)
