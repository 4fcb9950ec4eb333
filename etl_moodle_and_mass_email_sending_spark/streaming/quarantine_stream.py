"""[EXT] Streaming ingest quarantine — the online twin of
sources/jsonl.py: a JSONL drop lands as a FILE STREAM (the
autoloader shape: new files appear, each micro-batch reads what
arrived), every batch parses under the same explicit-schema PERMISSIVE
contract, and the per-source health rollup — including the
``__corrupt__`` quarantine bucket — is maintained INCREMENTALLY
instead of by re-scanning the whole drop.

Architecture: ``foreachBatch`` — each batch runs the exact batch
rollup (``jsonl_health``) and writes its partial counts into its own
``batch_id`` partition with dynamic partition overwrite (idempotent
batch retries, the decon_stream.py pattern). Per-source counts are
SUMS, so the cross-batch rollup of partials equals the whole-drop
rollup no matter how the files batch — which is what lets the exact
batch oracle hold.

100 TB shape: state is ZERO (counts are additive partials in the
sink, not stream state — no store to compact, no watermark); each
batch's work is one scan-shaped aggregation over the newly-arrived
files; the final read aggregates |sources|·|batches| partial rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..sources import jsonl
from .replay import land_batch


def on_batch(out_path: str, batch: DataFrame, batch_id: int) -> None:
    """One PERMISSIVE-parsed micro-batch → partial (source, n_docs) health
    rows (corrupt lines under ``__corrupt__``) in the batch's own
    partition of ``out_path``."""
    land_batch(jsonl.jsonl_health(batch), batch_id, out_path)
