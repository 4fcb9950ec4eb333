"""Central query registry: every implemented operator's (Spark query,
DuckDB oracle SQL) pair, consumed by ``__spark_entry__.py`` and by
``tests/test_oracle_parity.py`` (a local mirror of the driver's t2 gate).

Each Spark callable takes ``(spark, sf_dir)`` and returns a DataFrame whose
column names match the oracle SQL's aliases exactly (driver hashes sort
columns by name).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, fn: QueryFn, oracle: str | None = None) -> None:
    if name in _QUERIES:
        raise KeyError(f"duplicate query name {name!r}")
    _QUERIES[name] = fn
    if oracle is not None:
        _ORACLES[name] = oracle


# An external correctness gate certifies the first 50 entries in order:
# _WINDOW puts recently re-planned and longest-uncertified names first.
_WINDOW = [
    # (a) round-14 plan-rewritten paths (VERDICT r14 item 2 head list);
    # stream_rate_limit and rel_poisson_bootstrap changed again in
    # round 15, so the window certifies the newest code
    "stream_rate_limit",
    "stream_cdc_apply",
    "stream_anomaly",
    "stream_mixture_monitor",
    "rel_zorder_execute",
    "rel_poisson_bootstrap",
    "dedup_ngram_jaccard",
    "sim_ivf_nprobe_sweep",
    "sim_recall_at_k_sweep",
    "sim_recall_after_recluster",
    # (b) round-15 plan-changed names (standing policy)
    "text_mixture_execute",
    "llm_corpus_release",
    "rel_deletion_audit",
    "llm_ingest_health",
    "sim_ann_recall",
    "rel_profile_table",
    # (c) round-14 tail additions, never externally certified
    "rel_cdc_merge",
    "sim_index_tombstone",
    "sim_spectral_health",
    "text_bloom_decontaminate",
    "rel_bitemporal_asof",
    "sim_graph_ann_topk",
    "text_watermark_detect",
    "src_orc_documents",
    "src_schema_evolution",
    # (d) the 10 remaining round-8-stale names
    "sim_pq_topk",
    "text_idf_drift",
    "text_length_histogram",
    "text_pmi_collocations",
    "text_repetition",
    "text_sequence_pack",
    "text_top_terms",
    "text_train_val_split",
    "text_vocab_coverage",
    "text_zipf_fit",
    # (e) round-14 window-free-sweep plan-changed names
    "rel_market_basket",
    "rel_changepoint",
    "rel_compaction_plan",
    "rel_compaction_execute",
    "text_burstiness",
    "text_js_divergence",
    "text_oov_rate",
    "text_heaps_law",
    "text_dsir_execute",
    "ref_header_promotion",
    "rel_kmv_setops",
    "rel_event_paths",
    "sim_dim_health",
    # (f) oldest round-9 refreshes (alphabetical head; 47 remain)
    "dedup_cluster_quota",
    "dedup_components",
]


def _ordered(d: dict) -> dict:
    head = {k: d[k] for k in _WINDOW if k in d}
    tail = {k: v for k, v in d.items() if k not in set(_WINDOW)}
    return {**head, **tail}


def queries() -> dict[str, QueryFn]:
    _load_all()
    return _ordered(_QUERIES)


def oracle_sql() -> dict[str, str]:
    _load_all()
    return _ordered(_ORACLES)


_loaded = False


def _load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    global _loaded
    if _loaded:
        return
    from . import queries as _q  # noqa: F401  (side-effect registration)

    _loaded = True
