"""Schema-variant dispatch normalizer (SURVEY.md §2.5 F1–F4; reference
``load_users_from_csv`` app.py:277–315).

The reference's closest analogue to query planning: inspect the input
schema (which lowercased headers exist), choose a rewrite, produce the
canonical ``(email, nombre, usuario, contrasena)`` projection. Here the
dispatch is a driver-side "analyzer" rule over ``df.columns`` that emits a
single declarative ``select`` — the chosen plan is pure Column expressions,
so Catalyst folds it into the scan.

Truthiness parity: Python's ``a or b`` treats '' (but not whitespace) as
falsy and strips AFTER selection; the Column mirror is
``trim(coalesce(nullif(a, ''), nullif(b, ''), ...))`` which yields
identical results for every case including whitespace-only fields.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import text

def _lower_map(df: DataFrame) -> dict[str, str]:
    """lowercased name → actual name (first wins, like csv.DictReader)."""
    m: dict[str, str] = {}
    for c in df.columns:
        m.setdefault(c.lower(), c)
    return m


def _get(df: DataFrame, m: dict[str, str], name: str) -> Column:
    """Column by lowercase name, '' when the column is absent or null
    (mirrors ``row.get(name) or ''``)."""
    if name in m:
        return F.coalesce(F.col(m[name]).cast("string"), F.lit(""))
    return F.lit("")


def detect_variant(df: DataFrame) -> str:
    """F1 variant detection (reference app.py:284–287)."""
    cols = set(_lower_map(df))
    if "email" in cols and "usuario" in cols:
        return "old"
    if "email" in cols and "username" in cols and "password" in cols:
        return "moodle"
    return "fallback"


def normalize_recipients(df: DataFrame) -> DataFrame:
    """F1–F4 + P4: any recipient schema → canonical 4-column frame with
    blank-email rows dropped (reference app.py:284–314)."""
    m = _lower_map(df)
    variant = detect_variant(df)
    email = F.trim(_get(df, m, "email"))

    if variant == "old":
        # F2 (app.py:290–294)
        nombre = F.trim(_get(df, m, "nombre"))
        usuario = F.trim(_get(df, m, "usuario"))
        contrasena = F.trim(_get(df, m, "contrasena"))
    elif variant == "moodle":
        # F3 (app.py:295–301)
        full = F.trim(
            F.concat(
                F.trim(_get(df, m, "firstname")),
                F.lit(" "),
                F.trim(_get(df, m, "lastname")),
            )
        )
        nombre = F.coalesce(
            F.nullif(full, F.lit("")),
            text.title_case(text.local_part(email)),
        )
        usuario = F.trim(_get(df, m, "username"))
        contrasena = F.trim(_get(df, m, "password"))
    else:
        # F4 column-coalescing fallback (app.py:302–306)
        nombre = F.coalesce(
            F.nullif(F.trim(_get(df, m, "nombre")), F.lit("")),
            text.title_case(text.local_part(email)),
        )
        usuario = F.trim(
            F.coalesce(
                F.nullif(_get(df, m, "usuario"), F.lit("")),
                F.nullif(_get(df, m, "username"), F.lit("")),
                text.local_part(email),
            )
        )
        contrasena = F.trim(
            F.coalesce(
                F.nullif(_get(df, m, "contrasena"), F.lit("")),
                F.nullif(_get(df, m, "password"), F.lit("")),
                F.lit(""),
            )
        )

    out = df.select(
        email.alias("email"),
        nombre.alias("nombre"),
        usuario.alias("usuario"),
        contrasena.alias("contrasena"),
    )
    return out.filter(F.col("email") != "")


# --------------------------------------------------------------------------
# DuckDB twins — same rewrite over a subquery with the variant's columns.
# --------------------------------------------------------------------------


def sql_normalize_old(users_sql: str) -> str:
    return f"""
    SELECT email, nombre, usuario, contrasena FROM (
      SELECT trim(coalesce(CAST(email AS VARCHAR), '')) AS email,
             trim(coalesce(CAST(nombre AS VARCHAR), '')) AS nombre,
             trim(coalesce(CAST(usuario AS VARCHAR), '')) AS usuario,
             trim(coalesce(CAST(contrasena AS VARCHAR), '')) AS contrasena
      FROM ({users_sql})
    ) WHERE email <> ''
    """


def sql_normalize_moodle(users_sql: str) -> str:
    email = "trim(coalesce(CAST(email AS VARCHAR), ''))"
    full = (
        "trim(trim(coalesce(CAST(firstname AS VARCHAR), '')) || ' ' || "
        "trim(coalesce(CAST(lastname AS VARCHAR), '')))"
    )
    nombre = (
        f"coalesce(nullif({full}, ''), "
        f"{text.sql_title_case(text.sql_local_part(email))})"
    )
    return f"""
    SELECT email, nombre, usuario, contrasena FROM (
      SELECT {email} AS email,
             {nombre} AS nombre,
             trim(coalesce(CAST(username AS VARCHAR), '')) AS usuario,
             trim(coalesce(CAST(password AS VARCHAR), '')) AS contrasena
      FROM ({users_sql})
    ) WHERE email <> ''
    """


def sql_normalize_fallback(users_sql: str, present: set[str]) -> str:
    """Fallback twin; ``present`` = lowercased columns existing in the input
    (absent columns contribute '' exactly like ``row.get`` on a dict)."""

    def get(name: str) -> str:
        if name in present:
            return f"coalesce(CAST({name} AS VARCHAR), '')"
        return "''"

    email = f"trim({get('email')})"
    nombre = (
        f"coalesce(nullif(trim({get('nombre')}), ''), "
        f"{text.sql_title_case(text.sql_local_part(email))})"
    )
    usuario = (
        f"trim(coalesce(nullif({get('usuario')}, ''), "
        f"nullif({get('username')}, ''), {text.sql_local_part(email)}))"
    )
    contrasena = (
        f"trim(coalesce(nullif({get('contrasena')}, ''), "
        f"nullif({get('password')}, ''), ''))"
    )
    return f"""
    SELECT email, nombre, usuario, contrasena FROM (
      SELECT {email} AS email,
             {nombre} AS nombre,
             {usuario} AS usuario,
             {contrasena} AS contrasena
      FROM ({users_sql})
    ) WHERE email <> ''
    """
