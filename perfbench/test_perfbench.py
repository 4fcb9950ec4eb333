"""Tests of the benchmark itself: seeded inputs, the output checker, the
failure count, and the shape of the per-layer numbers on tiny inputs.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import csv
import hashlib
import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402


def _digest(d: str) -> dict[str, str]:
    out = {}
    for base, _dirs, files in os.walk(d):
        for f in files:
            with open(os.path.join(base, f), "rb") as fh:
                out[os.path.relpath(os.path.join(base, f), d)] = (
                    hashlib.sha256(fh.read()).hexdigest())
    return out


# --------------------------------------------------------------------------
# Seeded inputs
# --------------------------------------------------------------------------


def test_same_seed_same_bytes(tmp_path):
    for name in ("a", "b"):
        gen.write_roster(str(tmp_path / name / "roster"), 7, 500)
        gen.write_drop(str(tmp_path / name / "drop"), 7, 1, 50)
        gen.write_tables(str(tmp_path / name / "tables"), 7, 0.001)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    gen.write_roster(str(tmp_path / "c" / "roster"), 8, 500)
    assert (_digest(str(tmp_path / "c" / "roster"))
            != _digest(str(tmp_path / "a" / "roster")))


def test_roster_layout_and_valid_rows(tmp_path):
    r = gen.write_roster(str(tmp_path), 3, 2000)
    with open(r.path, newline="", encoding="utf-8") as f:
        rows = list(csv.reader(f))
    assert len(rows) == 4 + 2000
    assert rows[3] == gen.HEADER and rows[3][1] == "Nombres "
    data = rows[4:]
    valid = sum(1 for row in data if row[0] and row[1])
    assert r.valid_rows == valid
    share = lambda pred: sum(map(pred, data)) / len(data)  # noqa: E731
    assert share(lambda row: not row[0]) >= 0.08
    assert share(lambda row: not row[1]) >= 0.08
    assert share(lambda row: any(c in row[1] + row[2] for c in "áéíóúñü")) >= 0.2
    assert share(lambda row: row[3].count("@") > 1) >= 0.1
    assert share(lambda row: " " not in row[2]) >= 0.05
    with open(r.ledger_path, newline="") as f:
        ledger = list(csv.reader(f))[1:]
    assert 0.4 < len(ledger) / valid < 0.6
    assert all(row[2] == "SENT" for row in ledger)


def test_documents_near_duplicates_point_both_ways():
    import numpy as np

    texts = gen._documents(np.random.default_rng(4), 2000).column("text").to_pylist()
    first = {}
    for i, t in enumerate(texts):
        first.setdefault(t, i)
    near = [(i, first[t[:-4]]) for i, t in enumerate(texts)
            if t.endswith(" dup") and t[:-4] in first]
    assert 95 <= len(near) <= 100  # 5%, less the originals overwritten later
    assert 0.3 < sum(j > i for i, j in near) / len(near) < 0.7
    assert 1 <= len(texts) - len(first) <= 10  # exact copies, ~0.16%


# --------------------------------------------------------------------------
# Checker and failure count (DuckDB only, no Spark)
# --------------------------------------------------------------------------


class _Op:
    def __init__(self, stdout: str) -> None:
        self.stdout = stdout


def _write_csv(path, header, rows) -> None:
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def _good_roster_outputs(inputs, work):
    """Outputs a correct engine would write, built from the oracle."""
    import duckdb

    roster = os.path.join(inputs, "roster")
    res = duckdb.connect().execute(
        check.moodle_oracle_sql(os.path.join(roster, "participants.csv")))
    header = [d[0] for d in res.description]
    rows = [["" if v is None else str(v) for v in r] for r in res.fetchall()]
    _write_csv(os.path.join(work, "moodle.csv"), header, rows)
    emails = sorted({r[header.index("email")] for r in rows})
    _, ledger = check.read_csv_rows(os.path.join(roster, "ledger.csv"))
    skip = {r[1] for r in ledger}
    rh = ["idx", "email", "status", "attempts", "error", "remaining"]
    _write_csv(os.path.join(work, "receipts.csv"), rh,
               [[i, e, "SENT", 1, "", 0] for i, e in enumerate(emails, 1)])
    _write_csv(os.path.join(work, "receipts_resend.csv"), rh,
               [[i, e, "SENT", 1, "", 0]
                for i, e in enumerate(sorted(set(emails) - skip), 1)])
    ops = {"normalize": _Op(f"wrote {len(rows)} rows -> x"),
           "preview": _Op("--- subject ---\n")}
    return header, rows, ops


def test_checker_accepts_correct_and_counts_one_corrupted_result(tmp_path):
    inputs, work = tmp_path / "in", tmp_path / "work"
    work.mkdir()
    gen.write_roster(str(inputs / "roster"), 5, 300)
    header, rows, ops = _good_roster_outputs(str(inputs), str(work))
    verdict, counts = check.check_roster(str(inputs), str(work), ops)
    assert verdict == dict.fromkeys(("normalize", "preview", "send", "resend"))
    assert counts["sent"] == counts["rendered"] - counts["ledger_skipped"]

    rows[7][header.index("username")] += "x"  # one corrupted cell
    _write_csv(str(work / "moodle.csv"), header, rows)
    verdict, _ = check.check_roster(str(inputs), str(work), ops)
    assert verdict["normalize"] is not None
    assert [k for k, v in verdict.items() if v] == ["normalize"]

    record = {"setup_s": 1.0, "pass_s": 2.0, "pass_cpu_s": 3.0,
              "ops": [{"name": "normalize", "wall_s": 1.0}], "verdict": verdict}
    units = {"setup_s": "s", "pass_s": "s", "pass_cpu_s": "s", "ok_ratio": "ratio"}
    result, lines = run.summarize([record], units, trace=False)
    assert (result["correct"], result["attempted"], result["failed"]) == (False, 4, 1)
    assert result["metrics"]["ok_ratio"]["value"] == 0.75
    assert any(line.startswith("FAILED normalize") for line in lines)


def test_same_result_is_order_insensitive_and_catches_a_changed_value():
    cols, rows = ["b", "a"], [(1.0, "x"), (2.0, "y")]
    assert check.same_result(cols, rows, ["a", "b"], [("y", 2.0), ("x", 1.0)]) is None
    assert check.same_result(cols, rows, ["a", "b"], [("y", 2.5), ("x", 1.0)])
    assert check.same_result(cols, rows, ["a", "b"], [("x", 1.0)])


def test_drain_receipts_must_be_sent_exactly_once():
    assert check._sent_once([{"email": "a", "status": "SENT"}], {"a"}) is None
    twice = [{"email": "a", "status": "SENT"}] * 2
    assert check._sent_once(twice, {"a"}) is not None
    assert check._sent_once([{"email": "a", "status": "FAILED"}], {"a"}) is not None


def test_parse_time_ms():
    assert tracing.parse_time_ms("1.5 s") == 1500.0
    assert tracing.parse_time_ms(
        "total (min, med, max (stageId: taskId))\n8.2 s (2.0 s, 2.0 s)") == 8200.0
    assert tracing.parse_time_ms("0 ms") == 0.0


# --------------------------------------------------------------------------
# Shape of the per-layer numbers (tiny Spark session)
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from etl_moodle_and_mass_email_sending_spark.session import get_spark

    s = get_spark(app_name="perfbench-test", master="local[2]",
                  shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_status_store_reader_fields_for_a_one_job_query(spark):
    tracer = tracing.Tracer(pass_id="t", spark=spark)
    with tracer.span("queries", "one"):
        spark.range(0, 1000, 1, 2).where("id % 7 = 0").collect()
    jobs = tracing.read_jobs(spark)
    per_span = tracing.attribute_jobs(tracer, jobs)
    assert len(per_span[tracer.spans[0].id]) == 1
    out = tracing.layer_metrics(tracer, jobs, tracing.read_python_ms(spark))
    for layer in tracing.LAYERS:
        for f in tracing.EXEC_FIELDS + ("self_s",):
            assert f"{layer}.{f}" in out
    assert out["queries.exec_run_ms"] >= 0 and out["queries.exec_cpu_ms"] > 0
    assert out["queries.jobs"] == 1
    assert 0 <= out["queries.driver_ms"] <= tracer.spans[0].wall_s * 1000


def test_spans_nest_and_self_times_add_up(spark):
    tracer = tracing.Tracer(pass_id="t", spark=spark)
    t0 = time.time()
    with tracer.span("cli", "outer"):
        with tracer.span("sources", "inner"):
            spark.range(10).count()
            with tracer.span("plans", "leaf"):
                time.sleep(0.01)
        with tracer.span("sinks", "second"):
            spark.range(10).count()
    wall = time.time() - t0
    outer, inner, leaf, second = tracer.spans
    assert inner.parent == outer.id and leaf.parent == inner.id
    assert second.parent == outer.id and outer.parent is None
    selfs = [tracer.self_s(s) for s in tracer.spans]
    assert all(x >= 0 for x in selfs)
    assert sum(selfs) <= wall + 1e-6
    assert abs(sum(selfs) - outer.wall_s) < 1e-6


def test_stream_listener_sees_a_batch(spark, tmp_path):
    from etl_moodle_and_mass_email_sending_spark import registry

    sf_dir = gen.write_tables(str(tmp_path / "tables"), 1, 0.001)
    listener = tracing.make_stream_listener()
    spark.streams.addListener(listener)
    try:
        registry.queries()["stream_upsert_latest"](spark, sf_dir).collect()
        listener.drain()
    finally:
        spark.streams.removeListener(listener)
    snap = listener.snapshot()
    assert snap["streaming.batches"] >= 1
    assert snap["streaming.trigger_ms"] > 0
