"""Per-group top-k is defined once per engine: ``operators/util.py::top_k``
(with its salted two-stage form ``salted_top_k``) for Spark, and its
DuckDB twin ``sql_top_k`` for the oracles.

A ``row_number()`` window computed by ``withColumn`` or ``select`` and
then cut by ``.filter``/``.where`` anywhere else in the package is a hand
copy growing back; so is a second salt-count constant. Both are matched
on the AST, so comments do not count. In SQL text (string constants and
f-string parts) every ``row_number() OVER`` outside the helpers must be
a named ``SQL_WINDOWS`` entry: a window that is not a top-k cut.

The helpers are also checked against a plain-Python sort on a hand-made
frame: one group far larger than ``k``, one smaller than ``k``, score
ties that only the id breaks, and the global (ungrouped) form.
"""

from __future__ import annotations

import ast
import collections
import pathlib
import re

import pytest

PKG = pathlib.Path(__file__).resolve().parents[1] / (
    "etl_moodle_and_mass_email_sending_spark"
)
HELPERS = "operators/util.py"


def _has_row_number(node: ast.AST) -> bool:
    return any(
        isinstance(n, ast.Call)
        and (
            isinstance(n.func, ast.Attribute) and n.func.attr == "row_number"
            or isinstance(n.func, ast.Name) and n.func.id == "row_number"
        )
        for n in ast.walk(node)
    )


def _rank_and_cut_sites(pkg: pathlib.Path) -> list[str]:
    """``file:line`` of every ``<frame>.withColumn/select(<row_number
    window>...).filter/where(...)`` chain outside the helpers."""
    sites = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel == HELPERS:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("filter", "where")
            ):
                continue
            ranked = node.func.value
            if (
                isinstance(ranked, ast.Call)
                and isinstance(ranked.func, ast.Attribute)
                and ranked.func.attr in ("withColumn", "select")
                and any(_has_row_number(a) for a in ranked.args)
            ):
                sites.append(f"{rel}:{ranked.lineno}")
    return sites


def test_no_hand_written_rank_and_cut():
    sites = _rank_and_cut_sites(PKG)
    assert not sites, (
        "per-group top-k must go through util.top_k / util.salted_top_k; "
        "hand-written row_number rank-and-cut at:\n" + "\n".join(sites)
    )


# (module, top-level scope) -> (number of windows, why none is a top-k cut)
SQL_WINDOWS = {
    ("operators/dedup.py", "sql_incremental_dedup"): (
        1, "the winner sits beside count(*) OVER, its group's match count",
    ),
    ("operators/text_analysis.py", "sql_vocab_coverage"): (
        1, "a global rank read at each k of a spine, never cut",
    ),
    ("operators/multimodal.py", "sql_detect_silence_runs"): (
        1, "gaps-and-islands: frame_idx - row_number() labels runs",
    ),
    ("operators/sketches.py", "sql_sample_quantiles"): (
        2, "nearest-rank positions beside count(*) OVER, read at ceil(q*n)",
    ),
    ("queries/reference.py", "ref_send_counter"): (
        2, "every row's positional index and its remaining count",
    ),
    ("queries/finance.py", "rel_revenue_gini"): (
        1, "every row's positional index, the i in the Gini sum",
    ),
    ("queries/finance.py", "rel_changepoint"): (
        1, "every day's positional index in the cumulative-revenue split",
    ),
    ("queries/streaming_q.py", "STREAM_SESSIONIZE_SQL"): (
        1, "rn > 1 keeps every session but the open last one",
    ),
    ("queries/streaming_q.py", "_stream_rate_limit_sql"): (
        1, "every event's positional index beside its ntile chunk",
    ),
}
_SQL_WINDOW = re.compile(r"row_number\(\)\s*OVER", re.IGNORECASE)


def _scope(stmt: ast.stmt) -> str:
    """A top-level statement's name: the def, the assigned constant, or
    the name a ``register("name", ...)`` call registers."""
    if isinstance(stmt, (ast.FunctionDef, ast.ClassDef)):
        return stmt.name
    if isinstance(stmt, ast.Assign) and isinstance(stmt.targets[0], ast.Name):
        return stmt.targets[0].id
    if (
        isinstance(stmt, ast.Expr)
        and isinstance(stmt.value, ast.Call)
        and stmt.value.args
        and isinstance(stmt.value.args[0], ast.Constant)
    ):
        return str(stmt.value.args[0].value)
    return "<module>"


def _sql_windows(pkg: pathlib.Path) -> collections.Counter:
    """(module, scope) -> count of ``row_number() OVER`` in SQL text,
    string constants and f-string literal parts, outside the helpers."""
    found = collections.Counter()
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel == HELPERS:
            continue
        for stmt in ast.parse(path.read_text()).body:
            for node in ast.walk(stmt):
                # f-string literal parts are Constant children of the
                # JoinedStr, so walking Constants covers both forms
                if isinstance(node, ast.Constant) and isinstance(
                    node.value, str
                ):
                    n = len(_SQL_WINDOW.findall(node.value))
                    if n:
                        found[(rel, _scope(stmt))] += n
    return found


def test_no_hand_written_sql_rank_and_cut():
    found = _sql_windows(PKG)
    unexplained = [
        f"{rel} {scope}: {n} window(s)"
        for (rel, scope), n in sorted(found.items())
        if n != SQL_WINDOWS.get((rel, scope), (0, ""))[0]
    ]
    stale = [k for k in SQL_WINDOWS if k not in found]
    assert not unexplained and not stale, (
        "oracle top-k cuts must go through util.sql_top_k; other "
        "row_number windows need a SQL_WINDOWS entry with a reason:\n"
        + "\n".join(unexplained + [f"stale entry {k}" for k in stale])
    )


def test_one_salt_count():
    owners = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.Assign):
                owners += [
                    f"{rel} {t.id}"
                    for t in node.targets
                    if isinstance(t, ast.Name) and t.id.endswith("_SALTS")
                ]
    assert owners == [f"{HELPERS} TOP_K_SALTS"], owners


def _rows():
    """(g, id, score): group "big" has 1,000 rows whose scores repeat
    every 7 ids, group "small" has 3 rows with one tie."""
    big = [("big", i, i % 7) for i in range(1000)]
    small = [("small", 2, 1), ("small", 1, 1), ("small", 3, 0)]
    return big + small


def _expected(k: int, grouped: bool) -> list:
    """The Python sort: (g, id, score, rank) rows, sorted."""
    groups = ("big", "small") if grouped else (None,)
    want = []
    for g in groups:
        rows = sorted(
            (r for r in _rows() if g is None or r[0] == g),
            key=lambda r: (-r[2], r[1]),
        )
        want += [(*r, rank) for rank, r in enumerate(rows[:k], start=1)]
    return sorted(want)


@pytest.mark.parametrize("k", [1, 5])
def test_top_k_helpers_match_python_sort(spark, k):
    """Spark ``top_k`` (and ``salted_top_k``), DuckDB ``sql_top_k`` and a
    Python sort keep the same rows with the same INTEGER ranks, per
    group and globally."""
    import duckdb

    from pyspark.sql import functions as F

    from etl_moodle_and_mass_email_sending_spark.operators.util import (
        salt,
        salted_top_k,
        sql_top_k,
        top_k,
    )

    frame = spark.createDataFrame(_rows(), "g string, id long, score long")
    order = [F.col("score").desc(), F.col("id")]
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE t (g VARCHAR, id BIGINT, score BIGINT)")
        con.executemany("INSERT INTO t VALUES (?, ?, ?)", _rows())
        for by in (["g"], []):
            want = _expected(k, grouped=bool(by))
            got = {"spark": top_k(frame, by, order, k)}
            if by:
                got["salted"] = salted_top_k(
                    frame.select("*", salt("id")), by, order, k
                )
            for name, df in got.items():
                rows = df.select("g", "id", "score", "rank").collect()
                assert df.schema["rank"].dataType.simpleString() == "int"
                assert sorted(map(tuple, rows)) == want, (name, by)
            duck = con.execute(
                f"SELECT g, id, score, rank, typeof(rank) FROM "
                f"({sql_top_k('t', by, ['score DESC', 'id'], k)})"
            ).fetchall()
            assert {r[-1] for r in duck} == {"INTEGER"}
            assert sorted(r[:-1] for r in duck) == want, ("duckdb", by)
    finally:
        con.close()
