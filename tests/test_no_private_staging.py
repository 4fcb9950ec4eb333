"""Lint: session staging and the two-pass prefix core live in one place.

``operators/util.py`` owns the one session staging store (keyed by
``applicationId``) and the one range-partition two-pass core
(``repartitionByRange`` + ``spark_partition_id``). A read of
``.applicationId`` or a ``repartitionByRange(...)`` /
``spark_partition_id()`` call anywhere else in the package is a private
cache or a two-pass copy growing back: use ``staged_frame`` /
``staged_path`` or a ``two_pass_*`` helper instead. Matched in the AST,
so prose in comments and docstrings does not count.
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / (
    "etl_moodle_and_mass_email_sending_spark"
)
ALLOWED = {"operators/util.py"}
CALLS = {"repartitionByRange", "spark_partition_id"}


def _offence(node: ast.AST) -> str | None:
    if isinstance(node, ast.Attribute) and node.attr == "applicationId":
        return ".applicationId"
    if isinstance(node, ast.Call):
        f = node.func
        name = getattr(f, "attr", None) or getattr(f, "id", None)
        if name in CALLS:
            return f"{name}(...)"
    return None


def test_no_private_staging_caches_or_two_pass_copies():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel in ALLOWED:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if what := _offence(node):
                offenders.append(f"{rel}:{node.lineno} {what}")
    assert not offenders, (
        "use operators/util.py (staged_frame / staged_path / two_pass_*):\n"
        + "\n".join(offenders)
    )
