"""[EXT] Streaming PII filter — the online twin of
operators/text_analysis.py::scrub_pii: documents arrive as a stream
and every micro-batch is scrubbed (emails, then phone-ish sequences)
with per-doc hit counts stamped on the verdict — the filter a crawl
ingest runs BEFORE landing raw text, so unscrubbed documents never
touch durable storage.

Architecture: ``foreachBatch`` — each batch runs the exact batch
scrubber (pure JVM regexp column expressions, whole-stage codegen; no
Python in the hot path) and writes its verdicts into its own
``batch_id`` partition with dynamic partition overwrite (idempotent on
batch retry — the round-9 exactly-once sink pattern). Verdicts are
per-doc and stateless, so the exact batch oracle holds regardless of
how the replay batches.

100 TB shape: zero stream state (the regex set is config); the scrub
is a scan-transform inside each batch — no shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import text_analysis
from .replay import land_batch


def on_batch(out_path: str, batch: DataFrame, batch_id: int) -> None:
    """Scrub one (doc_id, text) micro-batch; verdicts (doc_id, n_emails,
    n_phones, has_pii) land in the batch's own partition of ``out_path``.
    The scrubbed text itself is computed in-batch (same expression the
    batch operator uses) but only the audit columns land — the scrubbed
    payload would go to the pipeline's landing sink in production."""
    verdicts = text_analysis.scrub_pii(batch).select(
        "doc_id",
        "n_emails",
        "n_phones",
        ((F.col("n_emails") + F.col("n_phones")) > 0).alias("has_pii"),
    )
    land_batch(verdicts, batch_id, out_path)
