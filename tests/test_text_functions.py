"""Unit + property tests for the scalar function library, with the
reference's functions (SURVEY.md §2.4, app.py:169–222) as the spec."""

from __future__ import annotations

import re
import unicodedata

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F


def _run1(spark, col_expr, value):
    df = spark.createDataFrame([(value,)], "v string")
    return df.select(col_expr.alias("r")).collect()[0]["r"]


# ---- reference-semantics twins implemented in pure Python (the spec) ----


def ref_normalize_simple(s):  # app.py:169–173
    if not isinstance(s, str):
        s = str(s)
    nfkd = unicodedata.normalize("NFKD", s)
    return "".join(c for c in nfkd if not unicodedata.combining(c))


def ref_normalize_username(u):  # app.py:176–187
    u = (
        u.lower()
        .replace(" ", "")
        .replace(".", "")
        .replace(",", "")
        .replace("'", "")
        .replace('"', "")
    )
    return ref_normalize_simple(u)


def ref_build_username(nombres, apellidos):  # app.py:201–211
    nombres, apellidos = str(nombres).strip(), str(apellidos).strip()
    first = nombres.split()[0] if nombres else ""
    ap = apellidos.split()
    raw = f"{first}{ap[0] if ap else ''}{ap[1][:2] if len(ap) >= 2 else ''}"
    return ref_normalize_username(raw)


def ref_pick_email(raw):  # app.py:190–198
    txt = str(raw).replace("\n", " ").strip()
    for t in re.split(r"[,\s;]+", txt):
        if "@" in t:
            return t
    return txt


CASES = [
    ("maría josé", "o'higgins del río"),
    ("PEDRO", ""),
    ("ana", "pérez"),
    ("  juan  carlos ", "  de la fuente "),
    ("Ñandú", 'd"angelo ñuñez'),
    ("x", "y z w v"),
]


@pytest.mark.parametrize("nombres,apellidos", CASES)
def test_build_username_matches_reference(spark, nombres, apellidos):
    from etl_moodle_and_mass_email_sending_spark.functions import text

    df = spark.createDataFrame([(nombres, apellidos)], "n string, a string")
    got = df.select(
        text.build_username(F.col("n"), F.col("a")).alias("u")
    ).collect()[0]["u"]
    assert got == ref_build_username(nombres, apellidos)


EMAILS = [
    "a@b.cl",
    "x y@z.cl w@q.cl",
    "uno@x.cl;dos@y.cl, tres@z.cl",
    "sin arroba aqui",
    "salto\nde@linea.cl",
    "  padded@x.cl  ",
    "",
]


@pytest.mark.parametrize("raw", EMAILS)
def test_pick_email_matches_reference(spark, raw):
    from etl_moodle_and_mass_email_sending_spark.functions import text

    got = _run1(spark, text.pick_email(F.col("v")), raw)
    assert got == ref_pick_email(raw)


def test_translate_fold_matches_nfkd_on_spanish_alphabet(spark):
    """The pinned translate fold equals NFKD on the Spanish charset it
    covers (divergence only outside that set, e.g. ligatures)."""
    from etl_moodle_and_mass_email_sending_spark.functions import text

    v = "áàâäãéèêëíìîïóòôöõúùûüýñç ÁÀÂÄÃÉÈÊËÍÌÎÏÓÒÔÖÕÚÙÛÜÝÑÇ"
    assert _run1(spark, text.fold_accents(F.col("v")), v) == ref_normalize_simple(v)


# ---- property-based (hypothesis), per SURVEY.md §5.2 ----

name_alphabet = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz ÁÉÍÓÚÜÑáéíóúüñ'.,\" ABCXYZ",
    max_size=30,
)


@settings(max_examples=25, deadline=None)
@given(nombres=name_alphabet, apellidos=name_alphabet)
def test_username_property_clean(spark_global, nombres, apellidos):
    """Usernames contain no spaces/punct/accents after normalization."""
    from etl_moodle_and_mass_email_sending_spark.functions import text

    df = spark_global.createDataFrame([(nombres, apellidos)], "n string, a string")
    got = df.select(
        text.build_username(F.col("n"), F.col("a")).alias("u")
    ).collect()[0]["u"]
    assert got == ref_build_username(nombres, apellidos)
    assert not re.search(r"[ .,'\"áéíóúüñÁÉÍÓÚÜÑ]", got)


@pytest.fixture(scope="session")
def spark_global(spark):
    return spark


def test_title_case_pins_initcap_in_normalize(spark):
    """normalize_to_moodle title-cases firstname/lastname with the pinned
    initcap rule (SURVEY.md §2.4 F-str5): no capital after an apostrophe,
    where Python str.title() would give O'Brien."""
    from etl_moodle_and_mass_email_sending_spark.plans.moodle import (
        normalize_to_moodle,
    )

    df = spark.createDataFrame(
        [("1-9", "ana maría", "o'brien díaz", "a@x.cl")],
        "rut string, nombres string, apellidos string, email string",
    )
    row = normalize_to_moodle(df).first()
    assert row.lastname == "O'brien Díaz"
    assert row.firstname == "Ana"
