"""Columnar string/normalization functions — the heart of the reference
(SURVEY.md §2.4, reference app.py:169–222) re-expressed as Spark Column
expressions, each with a DuckDB-SQL twin generated from the SAME constants
so the oracle can never drift from the Spark implementation.

Design notes (scale):
- Everything here is a pure Column-in/Column-out expression → stays inside
  whole-stage codegen; no Python in the hot path.
- ``fold_accents`` is a ``translate``-based fold (JVM-side,
  SQL-expressible, pinned semantics for goldens) over the Spanish
  alphabet the reference's NFKD fold targets. Reference: app.py:169–173.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# Shared constants — single source of truth for Spark AND DuckDB sides.
# --------------------------------------------------------------------------

# Latin-1 accent fold map (covers the Spanish alphabet the reference's NFKD
# fold targets, app.py:169–173, plus the common western-European vowels).
_ACC = [
    ("áàâäã", "a"),
    ("éèêë", "e"),
    ("íìîï", "i"),
    ("óòôöõ", "o"),
    ("úùûü", "u"),
    ("ý", "y"),
    ("ñ", "n"),
    ("ç", "c"),
]
ACCENT_SRC = "".join(s for s, _ in _ACC) + "".join(s.upper() for s, _ in _ACC)
ACCENT_DST = "".join(d * len(s) for s, d in _ACC) + "".join(
    d.upper() * len(s) for s, d in _ACC
)
assert len(ACCENT_SRC) == len(ACCENT_DST)

# Characters stripped by normalize_username (reference app.py:176–187):
# space, period, comma, single quote, double quote.
USERNAME_STRIP = " .,'\""

# --------------------------------------------------------------------------
# Spark side — Column expressions.
# --------------------------------------------------------------------------


def fold_accents(col: Column) -> Column:
    """Accent fold via ``translate`` (JVM, codegen'd).

    Pinned subset of the reference's NFKD fold (app.py:169–173).
    """
    return F.translate(col, ACCENT_SRC, ACCENT_DST)


def normalize_username(col: Column) -> Column:
    """Lowercase; strip spaces/periods/commas/quotes; fold accents.

    Reference ``normalize_username`` app.py:176–187 (accent gate
    USERNAME_NORMALIZE_ACCENTS=True, app.py:47).
    """
    # translate(col, SRC, DST) with DST shorter than SRC deletes the
    # unmatched SRC chars — exactly the reference's chained .replace(x, "").
    return fold_accents(F.translate(F.lower(col), USERNAME_STRIP, ""))


def ws_tokens(col: Column) -> Column:
    """Whitespace tokenization of a trimmed string → array<string> with no
    empty tokens (mirrors Python ``str.split()``)."""
    return F.split(F.trim(col.cast("string")), r"\s+")


def first_token(col: Column) -> Column:
    """First whitespace token (Python ``s.split()[0]`` with '' for empty)."""
    return F.coalesce(F.get(ws_tokens(col), 0), F.lit(""))


def build_username(nombres: Column, apellidos: Column) -> Column:
    """first-name token + first surname + first 2 chars of second surname,
    then :func:`normalize_username`. Reference app.py:201–211; rule is also
    documented in reference README.md:16."""
    ap = ws_tokens(apellidos)
    raw = F.concat(
        first_token(nombres),
        F.coalesce(F.get(ap, 0), F.lit("")),
        F.coalesce(F.substring(F.get(ap, 1), 1, 2), F.lit("")),
    )
    return normalize_username(raw)


def pick_email(col: Column) -> Column:
    """First ``[,\\s;]+``-separated token containing '@', else the cleaned
    whole string. Reference ``select_single_email`` app.py:190–198."""
    cleaned = F.trim(F.regexp_replace(col.cast("string"), r"\n", " "))
    toks = F.split(cleaned, r"[,\s;]+")
    first_at = F.try_element_at(F.filter(toks, lambda t: t.contains("@")), F.lit(1))
    return F.coalesce(first_at, cleaned)


def title_case(col: Column) -> Column:
    """Title-case pinned to ``initcap`` semantics (capitalize after
    whitespace only). The reference uses Python ``str.title()``
    (app.py:251, 253) which also capitalizes after apostrophes — SURVEY.md
    §2.4 F-str5 pins initcap for oracle parity and notes the divergence.
    Whitespace runs are normalized to single spaces first so the DuckDB
    emulation (split/rejoin) matches for every input."""
    return F.initcap(F.regexp_replace(F.trim(col.cast("string")), r"\s+", " "))


def local_part(col: Column) -> Column:
    """Email local part (reference app.py:299, 304)."""
    return F.split(col.cast("string"), "@").getItem(0)


# --------------------------------------------------------------------------
# DuckDB side — SQL snippet generators (same constants).
# --------------------------------------------------------------------------


def sql_fold_accents(expr: str) -> str:
    return f"translate({expr}, '{ACCENT_SRC}', '{ACCENT_DST}')"


def sql_normalize_username(expr: str) -> str:
    # DuckDB translate also deletes chars with no counterpart; escape the
    # single quote in the strip set for the SQL literal.
    strip_lit = USERNAME_STRIP.replace("'", "''")
    return sql_fold_accents(f"translate(lower({expr}), '{strip_lit}', '')")


def sql_ws_tokens(expr: str) -> str:
    return rf"string_split_regex(trim(CAST({expr} AS VARCHAR)), '\s+')"


def sql_first_token(expr: str) -> str:
    return f"coalesce({sql_ws_tokens(expr)}[1], '')"


def sql_build_username(nombres: str, apellidos: str) -> str:
    ap = sql_ws_tokens(apellidos)
    raw = (
        f"({sql_first_token(nombres)} || coalesce(({ap})[1], '') "
        f"|| coalesce(substr(({ap})[2], 1, 2), ''))"
    )
    return sql_normalize_username(raw)


def sql_pick_email(expr: str) -> str:
    cleaned = rf"trim(regexp_replace(CAST({expr} AS VARCHAR), '\n', ' ', 'g'))"
    toks = rf"string_split_regex({cleaned}, '[,\s;]+')"
    return (
        f"coalesce(list_filter({toks}, t -> contains(t, '@'))[1], {cleaned})"
    )


def sql_title_case(expr: str) -> str:
    """initcap emulation for DuckDB (no initcap builtin in 1.0):
    per whitespace-word, uppercase first char + lowercase rest."""
    return (
        "array_to_string(list_transform("
        rf"string_split_regex(trim(CAST({expr} AS VARCHAR)), '\s+'), "
        "w -> upper(w[1]) || lower(w[2:])), ' ')"
    )


def sql_local_part(expr: str) -> str:
    return f"string_split(CAST({expr} AS VARCHAR), '@')[1]"

