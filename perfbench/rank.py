"""Rank registered queries by driver-side share.

    python3 perfbench/rank.py [--seed 1] [query ...]

Runs one traced pass over the named queries (default: ``CANDIDATES``)
in a fresh process on the seed's query_mix tables, each query once, in
the order given, and prints them sorted by ``driver_share``: the part of
the query's registry call and noop action during which none of its own
Spark jobs was running. Every result is checked against its oracle as in
a benchmark run. Run from the repository root; takes a few minutes.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402
import workloads  # noqa: E402

#: The query_mix and stream-replay candidates: relational, LLM-data and
#: stream queries (``dedup_mirror_score`` is left out: over two minutes a
#: call at this scale).
CANDIDATES = (
    "rel_q1_pricing_summary", "rel_q3_shipping_priority",
    "rel_q5_region_revenue", "rel_q7_nation_volume", "rel_q13_custdist",
    "rel_sessionize", "rel_asof_join", "rel_profile_table",
    "dedup_minhash_lsh", "dedup_cascade_execute", "text_mixture_execute",
    "llm_corpus_release", "sim_embedding_near_dup", "text_bm25_topk",
    "text_boilerplate_ngrams", "mm_extract_features", "graph_pagerank",
    "llm_corpus_pipeline", "stream_hll_distinct", "stream_cms_counts",
    "stream_bloom_membership", "stream_upsert_latest", "stream_sessionize",
    "stream_cdc_apply",
)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("queries", nargs="*", default=list(CANDIDATES))
    a = ap.parse_args()
    run_dir = os.path.join(run.ROOT, ".perfbench_work", f"rank-{os.getpid()}")
    try:
        workloads.make_inputs("query_mix", a.seed, os.path.join(run_dir, "inputs"))
        rec = run.run_pass("query_mix", os.path.join(run_dir, "inputs"),
                           os.path.join(run_dir, "pass"), trace=True,
                           timeout_s=1800.0, queries=a.queries)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    if "error" in rec:
        print(rec["error"], file=sys.stderr)
        return 1
    per_query = rec["layers"]["queries"]
    wall = {o["name"]: o["wall_s"] for o in rec["ops"]}
    ranked = sorted(per_query, key=lambda n: -per_query[n]["driver_share"])
    print("| # | query | share | jobs | wall s |")
    print("|---|---|---|---|---|")
    for i, name in enumerate(ranked, 1):
        q = per_query[name]
        print(f"| {i} | `{name}` | {q['driver_share']:.2f} | {q['jobs']} | "
              f"{wall[name]:.1f} |")
    failed = {n: v for n, v in rec["verdict"].items() if v is not None}
    for name, why in failed.items():
        print(f"FAILED {name}: {why}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
