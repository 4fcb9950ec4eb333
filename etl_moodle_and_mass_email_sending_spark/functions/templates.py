"""Template/pattern → Column-expression compiler (SURVEY.md §2.4
F-str11/F-str12; reference app.py:214–222 and 49–167, 342–359).

The reference re-renders ``str.format`` password patterns and four
``string.Template`` email templates per row in Python. Here the pattern is
parsed ONCE on the driver and compiled into a single ``concat(lit(frag0),
col(v1), lit(frag1), ...)`` expression — constant fragments are folded at
plan time and the render runs JVM-side inside whole-stage codegen for every
row. At 100 TB this is the difference between a Python loop and a scan-rate
columnar render.

Two hole syntaxes, matching the reference:
- ``{var}``  — str.format style (password patterns, app.py:36)
- ``$var`` / ``${var}`` — string.Template style (email templates, app.py:49)
"""

from __future__ import annotations

import re
from collections.abc import Mapping

from pyspark.sql import Column
from pyspark.sql import functions as F

_BRACE_RE = re.compile(r"\{(\w+)\}")
_DOLLAR_RE = re.compile(r"\$(?:(\w+)|\{(\w+)\})")


def _split(pattern: str, rx: re.Pattern) -> list[tuple[str, str | None]]:
    """Split a pattern into [(literal_fragment, var_or_None), ...]."""
    parts: list[tuple[str, str | None]] = []
    pos = 0
    for m in rx.finditer(pattern):
        var = m.group(1) or (m.group(2) if m.lastindex and m.lastindex >= 2 else None)
        parts.append((pattern[pos : m.start()], var))
        pos = m.end()
    parts.append((pattern[pos:], None))
    return parts


def _rx(style: str) -> re.Pattern:
    if style == "format":
        return _BRACE_RE
    if style == "template":
        return _DOLLAR_RE
    raise ValueError(f"style must be 'format' or 'template', got {style!r}")


def compile_pattern(
    pattern: str,
    bindings: Mapping[str, Column],
    style: str = "format",
) -> Column:
    """Compile a pattern into one concat Column.

    ``bindings`` maps hole names to Columns; holes bound to Columns render
    per row (null-safe: null renders as empty string, matching
    ``str.format`` of ``''``), unknown holes raise at compile time (as
    ``str.format`` would at run time).
    """
    pieces: list[Column] = []
    for frag, var in _split(pattern, _rx(style)):
        if frag:
            pieces.append(F.lit(frag))
        if var is not None:
            if var not in bindings:
                raise KeyError(f"unbound template variable {var!r} in pattern")
            pieces.append(F.coalesce(bindings[var].cast("string"), F.lit("")))
    if not pieces:
        return F.lit("")
    return F.concat(*pieces)


def sql_compile_pattern(
    pattern: str,
    bindings: Mapping[str, str],
    style: str = "format",
) -> str:
    """DuckDB twin: same pattern + SQL-expression bindings → one `||` chain."""
    pieces: list[str] = []
    for frag, var in _split(pattern, _rx(style)):
        if frag:
            pieces.append("'" + frag.replace("'", "''") + "'")
        if var is not None:
            if var not in bindings:
                raise KeyError(f"unbound template variable {var!r} in pattern")
            pieces.append(f"coalesce(CAST({bindings[var]} AS VARCHAR), '')")
    if not pieces:
        return "''"
    return "(" + " || ".join(pieces) + ")"
