"""Merge-upsert sink: latest-wins MERGE of an updates batch into a
parquet snapshot directory, by full rewrite.

[EXT] the pattern behind Delta/Iceberg MERGE INTO, expressed on plain
parquet: read the current snapshot, anti-join it against the update
keys (rows NOT being replaced), union the updates, and write a NEW
snapshot directory, then swap it in.

Durability, stated honestly: plain directories cannot give an atomic
commit. The swap is ``streaming.replay.swap_store``: the new snapshot
is written in full into the sibling ``<dir>.staging``, then renamed in
(``<dir>`` → ``<dir>.old``, staging → ``<dir>``); a crash between the
two renames leaves the data intact in ``<dir>.old`` and the next call
recovers it. A table format replaces this window with an atomic
manifest commit; that's the upgrade path, not extra code here.

Scale notes: the anti-join shuffles on the merge key, the unavoidable
cost of key-level reconciliation without file-level pruning; a real
deployment partitions the snapshot (``partition_by``) so only
partitions containing update keys rewrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.util import top_k
from ..streaming.replay import swap_store


def merge_upsert(
    spark: SparkSession,
    snapshot_dir: str,
    updates: DataFrame,
    key: str,
    version_col: str | None = None,
) -> str:
    """Merge ``updates`` (latest wins on ``key``) into the parquet
    snapshot at ``snapshot_dir``; returns the snapshot path. Creates the
    snapshot if absent.

    If ``version_col`` is given, duplicate keys WITHIN the updates batch
    keep the highest version (CDC batches routinely carry several
    changes per key); without it, duplicate update keys raise — silently
    writing both would break the one-row-per-key contract.
    """
    if version_col is not None:
        updates = top_k(
            updates, [key], [F.col(version_col).desc()], 1, "_rn"
        ).drop("_rn")
    else:
        dup = (
            updates.groupBy(key)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .count()
        )
        if dup:
            raise ValueError(
                "updates batch has duplicate keys; pass version_col to "
                "resolve latest-wins inside the batch"
            )

    def merged(prior: str | None) -> DataFrame:
        if prior is None:
            return updates
        kept = spark.read.parquet(prior).join(
            updates.select(key).distinct(), on=key, how="left_anti"
        )
        return kept.unionByName(updates)

    swap_store(snapshot_dir, merged)
    return snapshot_dir
