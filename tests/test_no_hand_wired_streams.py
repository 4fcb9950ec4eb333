"""Lint: stream drains and store swaps go through the one harness.

``streaming/replay.py`` owns the foreachBatch drain (``drain``) and the
rename-swap store commit (``swap_store``); ``windows.py`` keeps its
memory-sink drain. A
``foreachBatch(...)``, ``trigger(availableNow=...)`` or ``os.rename(...)``
call anywhere else in the package is a hand-wired copy growing back.
Calls are matched in the AST, so prose in docstrings does not count.
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / (
    "etl_moodle_and_mass_email_sending_spark"
)
ALLOWED = {
    "streaming/replay.py",
    "streaming/windows.py",
}


def _offence(call: ast.Call) -> str | None:
    f = call.func
    if not isinstance(f, ast.Attribute):
        return None
    if f.attr == "foreachBatch":
        return "foreachBatch(...)"
    if f.attr == "trigger" and any(
        k.arg == "availableNow" for k in call.keywords
    ):
        return "trigger(availableNow=...)"
    if (
        f.attr == "rename"
        and isinstance(f.value, ast.Name)
        and f.value.id == "os"
    ):
        return "os.rename(...)"
    return None


def test_no_hand_wired_stream_drains_or_store_swaps():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel in ALLOWED:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call) and (what := _offence(node)):
                offenders.append(f"{rel}:{node.lineno} {what}")
    assert not offenders, (
        "use streaming/replay.py (drain / swap_store):\n"
        + "\n".join(offenders)
    )
