"""[EXT] Streaming IVF index append — the online twin of
operators/similarity.py::ivf_append: new vectors arrive as a stream
and every micro-batch is routed into the FROZEN index's centroids
(the production ingest contract — centroids retrain offline, the
ingest path only assigns); per-list partial counts land in each
batch's own ``batch_id`` partition.

Architecture: ``foreachBatch`` — each batch runs the exact batch
assignment (ivf_assign's broadcast-centroid struct-max argmax: one
narrow row per vector, nothing sorted) and writes its |lists|-row
partial rollup with dynamic partition overwrite (idempotent batch
retries). Per-list counts are SUMS, so the cross-batch rollup equals
the whole-slice assignment no matter how the replay batches — the
exact batch oracle (sql_ivf_append verbatim) holds.

100 TB shape: state is ZERO (the frozen centroid table is config, not
stream state); per-batch work is one broadcast-join scan over the
newly-arrived vectors; the final receipt reads |lists|·|batches|
partial rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.similarity import ivf_assign
from .replay import land_batch


def on_batch(
    cent: DataFrame, out_path: str, batch: DataFrame, batch_id: int
) -> None:
    """Route one (vec_id, vec) micro-batch into the static ``cent``
    centroid table; its partial (cid, n_new) list-growth rows land in the
    batch's own partition of ``out_path``."""
    growth = (
        ivf_assign(batch, cent, n_best=1)
        .groupBy("cid")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_new"))
    )
    land_batch(growth, batch_id, out_path)
