"""The stream-replay harness every foreachBatch ``stream_*`` query runs on.

Three pieces, each the one copy of a pattern the streams share:

- :func:`replay` stages a bounded frame as ordered single-file parquet
  chunks and returns it as a file stream that runs one real micro-batch
  per chunk, in arrival order.
- :func:`drain` runs a stream to completion through a per-batch
  function (foreachBatch, checkpoint, availableNow, start, await), and
  :func:`land_batch` is the idempotent per-batch sink most of those
  functions end in.
- :func:`swap_store` commits a new version of a parquet store directory
  (the sketch stores, the upsert snapshot) with crash recovery.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.util import ntile_from_rank, staged_path, two_pass_rank

# fixed base for the staged chunks' mtimes: the file source orders new
# files by modification time, so chunk i gets BASE + i
_MTIME_BASE = 1_700_000_000


def staged_chunks(
    frame: DataFrame,
    order_col: str | Column,
    n_chunks: int,
    cache_key: tuple,
) -> list[str]:
    """Stage ``frame`` once per session as ``n_chunks`` single-file
    parquet chunks and return their paths in arrival order. Chunk i holds
    ``ntile(n_chunks) OVER (ORDER BY order_col) = i``, computed from the
    two-pass global rank (no unpartitioned window), so ``order_col`` must
    be a total order. Chunk mtimes strictly increase. The chunking is
    deterministic, so every later call with the same key reads the first
    copy."""
    oc = F.col(order_col) if isinstance(order_col, str) else order_col

    def _build(base: str) -> None:
        stage = os.path.join(base, "stage")
        os.makedirs(stage)
        total = frame.count()
        chunked = two_pass_rank(frame, [oc], out_col="_rk").withColumn(
            "_chunk", ntile_from_rank(F.col("_rk"), F.lit(total), n_chunks)
        ).drop("_rk")
        for i in range(1, n_chunks + 1):
            part_dir = os.path.join(base, f"w{i}")
            (
                chunked.filter(F.col("_chunk") == i)
                .drop("_chunk")
                .coalesce(1)
                .write.parquet(part_dir)
            )
            src = next(
                f for f in os.listdir(part_dir) if f.endswith(".parquet")
            )
            dst = os.path.join(stage, f"chunk{i:02d}.parquet")
            shutil.move(os.path.join(part_dir, src), dst)
            os.utime(dst, (_MTIME_BASE + i, _MTIME_BASE + i))

    # the projection and chunk count are part of the key: several
    # queries stage the same table under different column subsets
    full_key = (*cache_key, frame.schema.simpleString(), n_chunks)
    base = staged_path(frame.sparkSession, full_key, _build)
    return [
        os.path.join(base, "stage", f"chunk{i:02d}.parquet")
        for i in range(1, n_chunks + 1)
    ]


def replay(
    spark: SparkSession,
    frame: DataFrame,
    order_col: str | Column,
    n_chunks: int,
    cache_key: tuple,
    first_chunk: int = 1,
) -> DataFrame:
    """``frame`` as a file stream of its staged chunks (see
    :func:`staged_chunks`), one chunk per micro-batch, so batch b is
    chunk ``first_chunk + b``. ``first_chunk`` > 1 replays only the tail
    (a stream starting from a checkpoint part-way through the data).
    Test-harness staging, not an operator: a production stream arrives
    pre-chunked by time."""
    paths = staged_chunks(frame, order_col, n_chunks, cache_key)
    reader = spark.readStream.schema(frame.schema).option(
        "maxFilesPerTrigger", 1
    )
    if first_chunk > 1:
        names = ",".join(os.path.basename(p) for p in paths[first_chunk - 1:])
        reader = reader.option("pathGlobFilter", "{" + names + "}")
    return reader.parquet(os.path.dirname(paths[0]))


def drain(
    stream: DataFrame,
    on_batch: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
) -> None:
    """Run ``stream`` through ``on_batch(batch_df, batch_id)`` until every
    input available at start is consumed (availableNow), then return.
    The checkpoint's batch-id tracking gives each batch exactly one
    committed run; ``on_batch`` must make a retried batch idempotent."""
    (
        stream.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def land_batch(
    frame: DataFrame, batch_id: int, path: str, *partition_cols: str
) -> None:
    """Write one micro-batch's output into its own ``batch_id`` partition
    of ``path`` (under any ``partition_cols``) with dynamic partition
    overwrite: a batch retried after a partial write replaces only its
    own rows, so the sink holds exactly-once row counts."""
    (
        frame.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols, "batch_id")
        .parquet(path)
    )


def has_parquet(d: str) -> bool:
    """True when the directory ``d`` holds a parquet file at any depth."""
    return os.path.isdir(d) and any(
        f.endswith(".parquet") for _, _, fs in os.walk(d) for f in fs
    )


# the file inside a store version that names the last batch it applied
# (leading underscore: parquet readers skip it)
_APPLIED = "_batch_id"


def _applied_batch(live: str) -> int:
    try:
        with open(os.path.join(live, _APPLIED)) as f:
            return int(f.read())
    except FileNotFoundError:
        return -1


def swap_store(
    live: str,
    build: Callable[[str | None], DataFrame],
    batch_id: int | None = None,
) -> None:
    """Replace the parquet store at ``live`` with ``build(prior)``, where
    ``prior`` is ``live`` when it holds data and None otherwise.

    Plain directories cannot commit atomically, so the new version is
    written in full into the sibling ``<live>.staging`` first, then
    swapped in by two renames (live -> ``.old``, staging -> live) on the
    same filesystem, and ``.old`` is removed. A crash at any point leaves
    either the previous or the new version whole: one between the two
    renames leaves no live dir, and the next call restores ``.old``
    before building (re-applying the interrupted batch, which the
    stream's checkpoint replays). A stale ``.staging`` from a crash
    before the first rename is overwritten.

    A stream batch can also re-run after its swap, when the process dies
    before the checkpoint commits it. For a store that merges by sum
    that would apply the batch twice, so such a store passes
    ``batch_id``: it is written into the new version and commits with
    it, and a call whose ``batch_id`` the live version already holds
    (or passed) returns without building."""
    live = live.rstrip("/")
    old, staging = live + ".old", live + ".staging"
    if not os.path.isdir(live) and has_parquet(old):
        os.rename(old, live)
    shutil.rmtree(old, ignore_errors=True)
    if batch_id is not None and _applied_batch(live) >= batch_id:
        return
    build(live if has_parquet(live) else None).write.mode(
        "overwrite"
    ).parquet(staging)
    if batch_id is not None:
        with open(os.path.join(staging, _APPLIED), "w") as f:
            f.write(str(batch_id))
    if os.path.isdir(live):
        os.rename(live, old)
    os.rename(staging, live)
    shutil.rmtree(old, ignore_errors=True)
