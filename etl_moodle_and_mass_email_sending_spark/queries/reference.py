"""[REF] queries — reference-parity operators (SURVEY.md §2) exercised over
the testbed tables so the DuckDB oracle can check them row-for-row."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import text
from ..plans import mailer, moodle
from ..registry import register
from ..sources import csv_variants

# --------------------------------------------------------------------------
# ref_roster_normalize — flagship: full Pipeline-A derivation (F-str1..11,
# P3/P5/P6) over synthesized participants. Reference app.py:225–274.
# --------------------------------------------------------------------------

register(
    "ref_roster_normalize",
    lambda spark, sf_dir: moodle.roster_from_customer(spark, sf_dir),
    moodle.roster_sql(),
)

# --------------------------------------------------------------------------
# ref_roster_segments — roster + group-by: distinct usernames per market
# segment (A1 counts over the derived frame).
# --------------------------------------------------------------------------


def _roster_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    roster = moodle.roster_from_customer(spark, sf_dir).select(
        "c_custkey", "username"
    )
    return (
        roster.join(customer, "c_custkey")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").cast("bigint").alias("n_users"),
            F.countDistinct("username").cast("bigint").alias("n_usernames"),
        )
    )


register(
    "ref_roster_segments",
    _roster_segments,
    f"""
    WITH roster AS ({moodle.roster_sql()})
    SELECT c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(count(DISTINCT username) AS BIGINT) AS n_usernames
    FROM roster JOIN customer USING (c_custkey)
    GROUP BY c_mktsegment
    """,
)

# --------------------------------------------------------------------------
# ref_pick_email — F-str4 email token selection over adversarial synthetic
# cells (multi-token, no-@ fallback). Reference app.py:190–198.
# --------------------------------------------------------------------------


def _pick_email(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    local = F.lower(F.regexp_replace(F.col("c_name"), "#", ""))
    raw = (
        F.when(F.col("c_custkey") % 4 == 0,
               F.concat(F.lit("sin-arroba "), local))
        .when(F.col("c_custkey") % 4 == 1,
              F.concat(F.lit("a: "), local, F.lit("@x.cl;"), local, F.lit("@y.cl")))
        .when(F.col("c_custkey") % 4 == 2,
              F.concat(local, F.lit("@z.cl\nsegunda linea")))
        .otherwise(F.concat(F.lit("  "), local, F.lit("@w.cl  ")))
    )
    return customer.select(
        F.col("c_custkey"),
        raw.alias("raw_email"),
        text.pick_email(raw).alias("picked"),
    )


_PICK_RAW_SQL = """
    CASE
      WHEN c_custkey % 4 = 0 THEN 'sin-arroba ' || lower(replace(c_name, '#', ''))
      WHEN c_custkey % 4 = 1 THEN 'a: ' || lower(replace(c_name, '#', '')) || '@x.cl;' || lower(replace(c_name, '#', '')) || '@y.cl'
      WHEN c_custkey % 4 = 2 THEN lower(replace(c_name, '#', '')) || '@z.cl' || chr(10) || 'segunda linea'
      ELSE '  ' || lower(replace(c_name, '#', '')) || '@w.cl  '
    END
"""

register(
    "ref_pick_email",
    _pick_email,
    f"""
    WITH t AS (SELECT c_custkey, {_PICK_RAW_SQL} AS raw_email FROM customer)
    SELECT c_custkey, raw_email, {text.sql_pick_email('raw_email')} AS picked
    FROM t
    """,
)

# --------------------------------------------------------------------------
# ref_mail_variant_* — F1–F4 schema-variant dispatch + P4 blank-email filter
# (reference app.py:277–315), driven through synthetic recipient frames
# derived from the roster so every branch (fallbacks, blank rows) executes.
# --------------------------------------------------------------------------


def _variant_old_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = moodle.roster_from_customer(spark, sf_dir)
    return r.select(
        F.when(F.col("c_custkey") % 11 == 0, F.lit("  ")).otherwise(
            F.col("email")
        ).alias("email"),
        F.concat(F.col("firstname"), F.lit(" "), F.col("lastname")).alias("nombre"),
        F.concat(F.lit("  "), F.col("username")).alias("usuario"),
        F.col("password").alias("contrasena"),
    )


_VARIANT_OLD_INPUT_SQL = f"""
    WITH roster AS ({moodle.roster_sql()})
    SELECT CASE WHEN c_custkey % 11 = 0 THEN '  ' ELSE email END AS email,
           firstname || ' ' || lastname AS nombre,
           '  ' || username AS usuario,
           password AS contrasena
    FROM roster
"""

register(
    "ref_mail_variant_old",
    lambda spark, sf_dir: csv_variants.normalize_recipients(
        _variant_old_input(spark, sf_dir)
    ),
    csv_variants.sql_normalize_old(_VARIANT_OLD_INPUT_SQL),
)


def _variant_moodle_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = moodle.roster_from_customer(spark, sf_dir)
    blank_names = F.col("c_custkey") % 7 == 0
    return r.select(
        F.col("email"),
        F.col("username"),
        F.col("password"),
        F.when(blank_names, F.lit("")).otherwise(F.col("firstname")).alias(
            "firstname"
        ),
        F.when(blank_names, F.lit(" ")).otherwise(F.col("lastname")).alias(
            "lastname"
        ),
    )


_VARIANT_MOODLE_INPUT_SQL = f"""
    WITH roster AS ({moodle.roster_sql()})
    SELECT email, username, password,
           CASE WHEN c_custkey % 7 = 0 THEN '' ELSE firstname END AS firstname,
           CASE WHEN c_custkey % 7 = 0 THEN ' ' ELSE lastname END AS lastname
    FROM roster
"""

register(
    "ref_mail_variant_moodle",
    lambda spark, sf_dir: csv_variants.normalize_recipients(
        _variant_moodle_input(spark, sf_dir)
    ),
    csv_variants.sql_normalize_moodle(_VARIANT_MOODLE_INPUT_SQL),
)


def _variant_fallback_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = moodle.roster_from_customer(spark, sf_dir)
    return r.select(
        F.when(F.col("c_custkey") % 13 == 0, F.lit("")).otherwise(
            F.col("email")
        ).alias("email"),
        F.when(F.col("c_custkey") % 3 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("password"))
        .alias("password"),
    )


_VARIANT_FALLBACK_INPUT_SQL = f"""
    WITH roster AS ({moodle.roster_sql()})
    SELECT CASE WHEN c_custkey % 13 = 0 THEN '' ELSE email END AS email,
           CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE password END AS password
    FROM roster
"""

register(
    "ref_mail_variant_fallback",
    lambda spark, sf_dir: csv_variants.normalize_recipients(
        _variant_fallback_input(spark, sf_dir)
    ),
    csv_variants.sql_normalize_fallback(
        _VARIANT_FALLBACK_INPUT_SQL, present={"email", "password"}
    ),
)

# --------------------------------------------------------------------------
# ref_template_render — F-str12: compiled subject/preheader/plain/html per
# row (reference app.py:342–359) over canonicalized recipients.
# --------------------------------------------------------------------------

_COURSE = "Analitica de Datos I"
_AULA = "https://aula.example.org/"

register(
    "ref_template_render",
    lambda spark, sf_dir: mailer.render_messages(
        csv_variants.normalize_recipients(_variant_moodle_input(spark, sf_dir)),
        course_name=_COURSE,
        aula_url=_AULA,
    ),
    mailer.sql_render_messages(
        csv_variants.sql_normalize_moodle(_VARIANT_MOODLE_INPUT_SQL),
        course_name=_COURSE,
        aula_url=_AULA,
    ),
)

# --------------------------------------------------------------------------
# ref_password_patterns — F-str11 pattern compiler with a multi-hole
# pattern (placeholders {username} {year} {rut} {email}, app.py:34–36,
# 214–222).
# --------------------------------------------------------------------------

_PWPARAMS = moodle.MoodleParams(
    password_pattern="{rut}:{username}@{year}", password_year=2031
)

register(
    "ref_password_patterns",
    lambda spark, sf_dir: moodle.roster_from_customer(spark, sf_dir, _PWPARAMS),
    moodle.roster_sql(_PWPARAMS),
)

# --------------------------------------------------------------------------
# ref_preview_limit — P7 (first 8 cols) + A3 (50-row limit) preview,
# reference app.py:754–787; deterministic via explicit sort key.
# --------------------------------------------------------------------------


def _preview(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = moodle.roster_from_customer(spark, sf_dir)
    return r.orderBy("c_custkey").limit(50).select(r.columns[:8])


register(
    "ref_preview_limit",
    _preview,
    f"""
    WITH roster AS ({moodle.roster_sql()})
    SELECT c_custkey, username, password, firstname, lastname, email,
           profile_field_rut, type1
    FROM roster ORDER BY c_custkey LIMIT 50
    """,
)

# --------------------------------------------------------------------------
# ref_send_counter — A2 running counter + countdown (reference
# app.py:334–339) with the input order made explicit (sort by email).
# --------------------------------------------------------------------------


def _send_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the same counter as the sink's stamp (sinks/smtp.py, one global
    # Window.orderBy, then the send runs as one task), computed here with
    # the two-pass range-partition + broadcast-offsets rank and the total
    # as a broadcast one-row aggregate: same output, and this read-only
    # query needs no single-partition Exchange.
    from ..operators.util import two_pass_rank

    users = csv_variants.normalize_recipients(
        _variant_moodle_input(spark, sf_dir)
    )
    stamped = two_pass_rank(
        users, [F.col("email")], out_col="idx", num_partitions=8
    )
    total = users.agg(F.count("*").alias("_total"))
    return stamped.crossJoin(F.broadcast(total)).select(
        F.col("idx").cast("bigint").alias("idx"),
        F.col("email"),
        (F.col("_total") - F.col("idx")).cast("bigint").alias("remaining"),
    )


register(
    "ref_send_counter",
    _send_counter,
    f"""
    WITH users AS ({csv_variants.sql_normalize_moodle(_VARIANT_MOODLE_INPUT_SQL)})
    SELECT CAST(row_number() OVER (ORDER BY email) AS BIGINT) AS idx,
           email,
           CAST(count(*) OVER () - row_number() OVER (ORDER BY email) AS BIGINT)
             AS remaining
    FROM users
    """,
)


# --------------------------------------------------------------------------
# P1 — positional header promotion exercised as a driver-gate query: a
# header-displaced "sheet" (3 junk rows, header at row 3, data from row 4 —
# reference app.py:236–238) synthesized from customer, pushed through
# promote_header, so the zipWithIndex promotion path itself is oracle-gated.
# --------------------------------------------------------------------------


def _header_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.util import two_pass_rank
    from ..sources.excel import promote_header

    c = load_table(spark, sf_dir, "customer")
    # row positions via the two-pass global rank (round 14): no
    # registered query's plan carries an unpartitioned WindowExec (the
    # send sink's stamp in sinks/smtp.py is one, on purpose)
    data = two_pass_rank(
        c.select("c_custkey", "c_name", "c_mktsegment"),
        [F.col("c_custkey")],
        out_col="_rk",
    ).select(
        F.col("c_custkey").cast("string").alias("v0"),
        F.col("c_name").alias("v1"),
        F.col("c_mktsegment").alias("v2"),
        (F.col("_rk") + 3).cast("int").alias("_pos"),
    )
    head = spark.createDataFrame(
        [
            ("junk a", "junk b", "junk c", 0),
            ("", None, "x", 1),
            ("junk", "junk", "junk", 2),
            ("custkey", "name", "mktsegment", 3),
        ],
        schema=data.schema,
    )
    raw = (
        head.unionByName(data)
        .orderBy("_pos")
        .coalesce(1)
        .drop("_pos")
    )
    return promote_header(raw, header_row=3, data_start=4)


register(
    "ref_header_promotion",
    _header_promotion,
    """
    SELECT CAST(c_custkey AS VARCHAR) AS custkey, c_name AS name,
           c_mktsegment AS mktsegment
    FROM customer
    """,
)


# --------------------------------------------------------------------------
# ref_duplicate_usernames — the reference's own unimplemented roadmap item
# ("validaciones previas de duplicidad", README.md:72–74; SURVEY.md §2.6
# notes duplicate usernames are NOT detected in the reference). Here it's
# a first-class query: username collisions after normalization, with the
# colliding source rows listed — groupBy(username) having count > 1.
# --------------------------------------------------------------------------


def _duplicate_usernames(spark: SparkSession, sf_dir: str) -> DataFrame:
    roster = moodle.roster_from_customer(spark, sf_dir)
    return (
        roster.groupBy("username")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("c_custkey").alias("first_custkey"),
            F.max("c_custkey").alias("last_custkey"),
        )
        .filter(F.col("n_rows") > 1)
    )


register(
    "ref_duplicate_usernames",
    _duplicate_usernames,
    f"""
    SELECT username, count(*) AS n_rows,
           min(c_custkey) AS first_custkey, max(c_custkey) AS last_custkey
    FROM ({moodle.roster_sql()})
    GROUP BY username HAVING count(*) > 1
    """,
)

# --------------------------------------------------------------------------
# ref_first_user_render — A4 first-row selection, oracle-gated (round 13,
# VERDICT r12 item 7): the reference's first-user email preview
# (app.py:877–915 `update_email_preview_first_user`, `users_mail[0]`)
# renders the SAME subject/preheader/plain/html quartet the send loop
# uses — the preview plan IS the send plan (SURVEY §3.3 plan reuse). The
# reference's "first" is CSV load order; here it's made deterministic as
# min(email) over the normalized recipients. Spark plan: render columns
# are pure concat expressions, so orderBy(email).limit(1) compiles to
# TakeOrderedAndProject — a per-partition top-1 plus a 1-row driver merge,
# no global sort at any scale.
# --------------------------------------------------------------------------

_RENDER_COLS = [
    "email",
    "nombre",
    "usuario",
    "contrasena",
    "subject",
    "preheader",
    "plain",
    "html",
]


def _first_user_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    rendered = mailer.render_messages(
        csv_variants.normalize_recipients(_variant_moodle_input(spark, sf_dir)),
        course_name=_COURSE,
        aula_url=_AULA,
    )
    return rendered.orderBy("email").limit(1).select(*_RENDER_COLS)


register(
    "ref_first_user_render",
    _first_user_render,
    f"""
    WITH rendered AS ({mailer.sql_render_messages(
        csv_variants.sql_normalize_moodle(_VARIANT_MOODLE_INPUT_SQL),
        course_name=_COURSE,
        aula_url=_AULA,
    )})
    SELECT {", ".join(_RENDER_COLS)}
    FROM rendered ORDER BY email LIMIT 1
    """,
)
