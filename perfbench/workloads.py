"""The benchmark's workloads, each as one pass run inside a fresh process.

A pass is a closed loop with one client: the next operation starts only
after the previous one returned. ``run_pass`` returns one record per
operation; the checker (``check.py``) decides afterwards, untimed,
whether each operation's output is correct.
"""

from __future__ import annotations

import contextlib
import io
import os
import shutil
import time
from dataclasses import dataclass, field

#: roster_cli: the reference desktop user's session, one CLI command
#: each, then two send-stream drains of a roster drop dir with one new
#: file landing between them.
ROSTER_ROWS = 40_000
DROP_FILES = 3
DROP_ROWS = 2_000

#: query_mix: registered queries, run once each in this order. JVM-only
#: relational paths first, then session-staged builds (the LSH pairs in
#: the query module's own cache; the mixture plan and its emitted spine
#: through ``operators.util.staged_frame``), the Python/Arrow boundary, and
#: an availableNow replay into the rename-swap upsert store (checkpoint,
#: WAL, snapshot merge and swap).
QUERY_MIX = (
    "rel_q1_pricing_summary",
    "rel_q3_shipping_priority",
    "rel_q5_region_revenue",
    "rel_q13_custdist",
    "rel_sessionize",
    "dedup_minhash_lsh",
    "text_mixture_execute",
    "sim_embedding_near_dup",
    "text_bm25_topk",
    "mm_extract_features",
    "llm_corpus_pipeline",
    "stream_upsert_latest",
)

#: Table scale of query_mix (testbed ratios; lineitem has 60k rows).
TABLE_SF = 0.01

WORKLOADS = ("roster_cli", "query_mix")


@dataclass
class Op:
    """One timed operation of a pass."""

    name: str
    kind: str  # "cli" or "query"
    wall_s: float = 0.0
    build_s: float = 0.0
    run_s: float = 0.0
    error: str | None = None
    stdout: str = ""
    rc: int | None = None
    frame: object = None  # query result frame, kept for the checker
    extra: dict = field(default_factory=dict)


def _cli(tracer, name: str, argv: list[str]) -> Op:
    from etl_moodle_and_mass_email_sending_spark.__main__ import main

    op = Op(name, "cli")
    buf = io.StringIO()
    t0 = time.perf_counter()
    try:
        with tracer.span("cli", name), contextlib.redirect_stdout(buf):
            op.rc = main(argv)
    except Exception as e:  # noqa: BLE001 — a failed operation is data
        op.error = f"{type(e).__name__}: {e}"
    op.wall_s = time.perf_counter() - t0
    op.stdout = buf.getvalue()
    return op


def roster_pass(spark, inputs: str, work: str, tracer) -> list[Op]:
    roster = os.path.join(inputs, "roster")
    moodle = os.path.join(work, "moodle.csv")
    r1 = os.path.join(work, "receipts.csv")
    r2 = os.path.join(work, "receipts_resend.csv")
    ops = [
        _cli(tracer, "normalize",
             ["normalize", os.path.join(roster, "participants.csv"), moodle]),
        _cli(tracer, "preview", ["preview", moodle]),
        _cli(tracer, "send", ["send", moodle, "--dry-run", "--receipts", r1]),
        _cli(tracer, "resend",
             ["send", moodle, "--dry-run", "--receipts", r2,
              "--receipts-ledger", os.path.join(roster, "ledger.csv")]),
    ]
    drop = os.path.join(work, "drop")
    state = os.path.join(work, "send_stream")
    shutil.copytree(os.path.join(inputs, "drop"), drop)
    receipts = os.path.join(state, "receipts")
    argv = ["send-stream", drop, state, "--dry-run"]
    d1 = _cli(tracer, "drain1", argv)
    d1.extra["files"] = sorted(
        f for f in os.listdir(receipts) if f.endswith(".parquet")
    ) if os.path.isdir(receipts) else []
    late = os.path.join(inputs, "drop_late")
    for f in os.listdir(late):  # the new file lands between the drains
        shutil.copy(os.path.join(late, f), os.path.join(drop, f))
    return ops + [d1, _cli(tracer, "drain2", argv)]


def _query(spark, tracer, name: str, sf_dir: str) -> Op:
    from etl_moodle_and_mass_email_sending_spark import registry

    op = Op(name, "query")
    t0 = time.perf_counter()
    try:
        with tracer.span("queries", f"{name}:build"):
            df = registry.queries()[name](spark, sf_dir)
        t1 = time.perf_counter()
        with tracer.span("queries", f"{name}:run"):
            df.write.format("noop").mode("overwrite").save()
        op.frame = df
        op.build_s, op.run_s = t1 - t0, time.perf_counter() - t1
    except Exception as e:  # noqa: BLE001
        op.error = f"{type(e).__name__}: {e}"
    op.wall_s = time.perf_counter() - t0
    return op


def query_pass(spark, inputs: str, work: str, tracer,
               names: tuple[str, ...] = QUERY_MIX) -> list[Op]:
    sf_dir = os.path.join(inputs, "tables")
    return [_query(spark, tracer, n, sf_dir) for n in names]


PASSES = {
    "roster_cli": roster_pass,
    "query_mix": query_pass,
}


def make_inputs(workload: str, seed: int, inputs: str) -> None:
    """Write the workload's seeded inputs under ``inputs``."""
    import gen

    if workload == "query_mix":
        gen.write_tables(os.path.join(inputs, "tables"), seed, TABLE_SF)
        return
    gen.write_roster(os.path.join(inputs, "roster"), seed, ROSTER_ROWS)
    for i in range(DROP_FILES):
        gen.write_drop(os.path.join(inputs, "drop"), seed, i, DROP_ROWS)
    gen.write_drop(os.path.join(inputs, "drop_late"), seed, DROP_FILES,
                   DROP_ROWS)
