"""Lint: no package definition that only tests reach.

Every top-level function, class and assigned name in the package must be
reachable from an entry point: the registry modules' ``register(...)``
calls (and any other module-level statement), ``__main__.py``,
``__spark_entry__.py``, ``bench.py`` or ``perfbench/``. A definition only
``tests/`` reach is dead weight or a second copy of a registered path:
delete it, or give it a caller. Reachability is by name over the AST
(bare names, attributes, identifier-shaped strings such as the names
``perfbench`` wraps), so a shared name can hide dead code but a live
definition is never flagged. ``ALLOWED`` lists the test seams kept on
purpose, one reason each.
"""

from __future__ import annotations

import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parents[1]
PKG = REPO / "etl_moodle_and_mass_email_sending_spark"
ENTRY_FILES = [
    REPO / "__spark_entry__.py",
    REPO / "bench.py",
    *sorted((REPO / "perfbench").glob("*.py")),
]
ALLOWED = {
    "ivf_recluster_frame": "seam: tests recluster a hand-built vector frame",
    "_ingest_receipt_frames": "seam: tests read llm_ingest_health's inputs",
}
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _defined(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, DEFS):
        return [stmt.name]
    targets = []
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    return [
        n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)
    ]


def _refs(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias) and n.asname:
            out.add(n.name)  # `import f as g` reaches f
        elif (
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and n.value.isidentifier()
        ):
            out.add(n.value)
    return out


def test_every_package_definition_is_reachable_without_tests():
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    seen: set[str] = set()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for stmt in ast.parse(path.read_text()).body:
            if rel == "__main__.py":
                seen |= _refs(stmt)
            elif isinstance(stmt, (ast.Import, ast.ImportFrom)):
                # `from m import f as g`: g is a use of f once g is used
                for a in stmt.names:
                    if a.asname:
                        defs.setdefault(a.asname, []).append((rel, a))
            elif names := _defined(stmt):
                for name in names:
                    if not name.startswith("__"):
                        defs.setdefault(name, []).append((rel, stmt))
            else:
                seen |= _refs(stmt)
    for path in ENTRY_FILES:
        seen |= _refs(ast.parse(path.read_text()))
    done: set[str] = set()
    while todo := [n for n in defs if n in seen and n not in done]:
        for name in todo:
            done.add(name)
            for _, node in defs[name]:
                seen |= _refs(node)
    offenders = [
        f"{rel}:{node.lineno} {name}"
        for name, sites in sorted(defs.items())
        if name not in seen and name not in ALLOWED
        for rel, node in sites
        if not isinstance(node, ast.alias)
    ]
    assert set(ALLOWED) <= set(defs), "stale ALLOWED entry"
    assert not offenders, (
        "definitions only tests reach (delete, or give them a caller):\n"
        + "\n".join(offenders)
    )
