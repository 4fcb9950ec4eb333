"""[EXT] Online benchmark decontamination — the streaming twin of
operators/text_analysis.py::decontaminate: documents arrive as a
stream, the held-out benchmark's distinct n-gram set is a STATIC frame
(an eval suite is megabytes at any corpus scale), and every incoming
training document is stamped with its hit count and a drop flag.

Architecture: ``foreachBatch`` — each micro-batch runs the exact batch
pipeline (gram fan-out → broadcast join against the static bench set →
per-doc hit count → left join back so CLEAN docs emit too) and appends
its verdicts. Documents arrive whole (a doc never spans batches), so
per-doc results are complete within the batch that carried the doc and
the emission is independent of how the replay batches — which is what
makes the exact batch oracle in queries/streaming_q.py hold.

100 TB shape: the bench set broadcasts into every batch join (no
shuffle of stream data for the join); the per-doc count partial-
aggregates within the batch; state is ZERO (stateless filter — the
bench set is config, not stream state), so there is no store to
compact and no watermark to reason about.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.text_analysis import (
    _SPARK_TOKS,
    DECON_NGRAM,
    gram_stream,
)
from .replay import land_batch


def on_batch(
    bench_grams: DataFrame, out_path: str, batch: DataFrame, batch_id: int
) -> None:
    """Stamp one (doc_id, text) micro-batch against the static (gram)
    frame ``bench_grams``: rows (doc_id, n_hit_ngrams, n_grams,
    contaminated) land in the batch's own partition of ``out_path`` (a
    plain append would duplicate the verdicts of a batch retried after a
    partial write)."""
    hits = (
        gram_stream(batch, DECON_NGRAM)
        .join(F.broadcast(bench_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit_ngrams"))
    )
    # n_grams from the SAME canonical tokenization the gram fan-out
    # uses (a divergent re-tokenization here would break the exact
    # oracle); short docs clamp to 0
    docs = batch.select(
        "doc_id",
        F.greatest(F.size(F.expr(_SPARK_TOKS)) - (DECON_NGRAM - 1), F.lit(0))
        .cast("bigint")
        .alias("n_grams"),
    )
    n_hit = F.coalesce(F.col("n_hit_ngrams"), F.lit(0))
    out = docs.join(hits, "doc_id", "left").select(
        "doc_id",
        n_hit.cast("bigint").alias("n_hit_ngrams"),
        "n_grams",
        (n_hit > 0).alias("contaminated"),
    )
    land_batch(out, batch_id, out_path)
