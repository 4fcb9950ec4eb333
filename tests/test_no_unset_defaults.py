"""Lint: no package function parameter with a default that no call sets.

A defaulted parameter that no caller ever passes is a knob nobody turns:
every test and oracle has to trust that it stays at its default. Delete
it and let the body read the module constant it defaulted to, so an
operator and its DuckDB twin read one value. A call sets a parameter
when it passes it by keyword, reaches its position, splats ``*args`` or
``**kwargs``, or passes it through ``functools.partial``. Call sites are
matched by name (bare or attribute) across the package, ``tests/``,
``perfbench/``, ``bench.py`` and ``__spark_entry__.py``, so a shared
name can hide an unset parameter but a set one is never flagged.
``ALLOWED`` lists the parameters a name-based scan cannot see being set,
one reason each.
"""

from __future__ import annotations

import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parents[1]
PKG = REPO / "etl_moodle_and_mass_email_sending_spark"
CALLER_FILES = [
    *sorted(PKG.rglob("*.py")),
    *sorted((REPO / "tests").rglob("*.py")),
    *sorted((REPO / "perfbench").glob("*.py")),
    REPO / "bench.py",
    REPO / "__spark_entry__.py",
]
_CLI_HEADER = "__main__.cmd_normalize passes --header-row via its `read` alias"
ALLOWED = {
    ("sources/excel.py", "read_participants_csv", "header_row"): _CLI_HEADER,
    ("sources/excel.py", "read_participants_csv", "data_start"): _CLI_HEADER,
    ("sources/excel.py", "read_participants_excel", "header_row"): _CLI_HEADER,
    ("sources/excel.py", "read_participants_excel", "data_start"): _CLI_HEADER,
}
FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _name(func: ast.expr) -> str | None:
    if isinstance(func, ast.Name):
        return func.id
    if isinstance(func, ast.Attribute):
        return func.attr
    return None


def _calls() -> dict[str, list[tuple[int, set[str], bool]]]:
    """callee name -> [(positional count, keyword names, splatted)]."""
    out: dict[str, list[tuple[int, set[str], bool]]] = {}
    for path in CALLER_FILES:
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            name, args = _name(node.func), list(node.args)
            if name == "partial" and args:
                name, args = _name(args[0]), args[1:]
            if name is None:
                continue
            splat = any(isinstance(a, ast.Starred) for a in args) or any(
                k.arg is None for k in node.keywords
            )
            kws = {k.arg for k in node.keywords if k.arg}
            out.setdefault(name, []).append((len(args), kws, splat))
    return out


def _defaulted(fn: ast.FunctionDef) -> list[tuple[int | None, str]]:
    """(position or None for keyword-only, name) of each defaulted
    parameter."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    return [(i, p.arg) for i, p in enumerate(pos) if i >= first] + [
        (None, p.arg)
        for p, d in zip(a.kwonlyargs, a.kw_defaults)
        if d is not None
    ]


def test_every_defaulted_parameter_is_set_by_some_call():
    calls = _calls()
    offenders, allowed_seen = [], set()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for fn in ast.walk(ast.parse(path.read_text())):
            if not isinstance(fn, FUNCS):
                continue
            for i, param in _defaulted(fn):
                if any(
                    splat or param in kws or (i is not None and n_pos > i)
                    for n_pos, kws, splat in calls.get(fn.name, [])
                ):
                    continue
                if (rel, fn.name, param) in ALLOWED:
                    allowed_seen.add((rel, fn.name, param))
                    continue
                offenders.append(f"{rel}:{fn.lineno} {fn.name}({param})")
    assert allowed_seen == set(ALLOWED), (
        "stale ALLOWED entry: " + repr(set(ALLOWED) - allowed_seen)
    )
    assert not offenders, (
        "defaulted parameters no call sets (delete them and read the "
        "module constant):\n" + "\n".join(offenders)
    )
