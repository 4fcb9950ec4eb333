"""Per-group top-k is defined once: ``operators/util.py::top_k`` and its
salted two-stage form ``salted_top_k``.

A ``row_number()`` window computed by ``withColumn`` or ``select`` and
then cut by ``.filter``/``.where`` anywhere else in the package is a hand
copy growing back; so is a second salt-count constant. Both are matched
on the AST, so comments and oracle SQL strings do not count.

The two helpers are also checked against a plain-Python sort on a
hand-made frame: one group far larger than ``k``, one smaller than
``k``, and score ties that only the id breaks.
"""

from __future__ import annotations

import ast
import pathlib

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


def _expected(k: int) -> set:
    want = set()
    for g in ("big", "small"):
        rows = sorted(
            (r for r in _rows() if r[0] == g), key=lambda r: (-r[2], r[1])
        )
        want |= {(*r, rank) for rank, r in enumerate(rows[:k], start=1)}
    return want


@pytest.mark.parametrize("k", [1, 5])
def test_top_k_helpers_match_python_sort(spark, k):
    from pyspark.sql import functions as F

    from etl_moodle_and_mass_email_sending_spark.operators.util import (
        salt,
        salted_top_k,
        top_k,
    )

    frame = spark.createDataFrame(_rows(), "g string, id long, score long")
    order = [F.col("score").desc(), F.col("id")]
    plain = top_k(frame, ["g"], order, k)
    salted = salted_top_k(frame.select("*", salt("id")), ["g"], order, k)
    for got in (plain, salted):
        rows = got.select("g", "id", "score", "rank").collect()
        assert {tuple(r) for r in rows} == _expected(k)
        assert len(rows) == len(_expected(k))
