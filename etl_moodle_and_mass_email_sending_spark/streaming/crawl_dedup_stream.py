"""[EXT] Streaming incremental crawl dedup — the online twin of
operators/dedup.py::incremental_dedup: new-crawl documents arrive as a
stream and every micro-batch is scored against the STATIC frozen
snapshot's MinHash signature index ("index once, score every crawl").
A doc is admitted iff no frozen near-duplicate reaches the threshold.

Architecture: ``foreachBatch`` — each batch runs the exact batch
scorer (sign → band → (band, key) equi-join against the frozen index →
per-doc verdict rollup) and writes its verdicts into its own
``batch_id`` partition with dynamic partition overwrite, so a batch
retry after a partial write replaces its own output (exactly-once row
counts; the round-9 idempotent-sink pattern from decon_stream.py).
Docs arrive whole and the verdict depends only on (doc, frozen index),
so emission is independent of how the replay batches — which is what
lets the exact batch oracle in queries/streaming_q.py hold.

100 TB shape: the frozen index is a distributed (doc_id, sig) table —
the per-batch join co-partitions on (band, key); state is ZERO (the
index is config, not stream state — a crawl-ingest pipeline rebuilds
it per snapshot, not per batch), so there is no store to compact and
no watermark to reason about.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators import dedup
from .replay import land_batch


def on_batch(
    frozen_sigs: DataFrame, out_path: str, batch: DataFrame, batch_id: int
) -> None:
    """Score one (doc_id, text) micro-batch against the static
    (doc_id, sig) index ``frozen_sigs``; verdicts (doc_id,
    n_frozen_matches, match_id, match_est, admitted) land in the batch's
    own partition of ``out_path``."""
    verdicts = dedup.incremental_dedup(
        frozen_sigs, dedup.minhash_index(batch).localCheckpoint()
    )
    land_batch(verdicts, batch_id, out_path)
