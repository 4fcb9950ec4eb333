"""Pipeline A — "Normalize": participants → Moodle-import roster.

Declarative re-expression of the reference's ``normalize_excel_to_moodle_csv``
(app.py:225–274): filter invalid rows, derive firstname/lastname/email/rut/
username/password, attach enrollment constants, project the fixed 8-column
contract (app.py:269–271). Everything is a Column expression — a single
narrow select over the scan; Catalyst prunes unused input columns and pushes
the not-null filters into the source.

``roster_from_customer`` synthesizes a participants frame from the testbed
``customer`` ⨝ ``nation`` tables (broadcast join — nation is 25 rows; at
100 TB customer scans stay shuffle-free) so the full derivation is
oracle-checkable; ``roster_sql`` emits the DuckDB twin built from the same
constants/snippets.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import templates, text


@dataclass(frozen=True)
class MoodleParams:
    """Job parameters (reference defaults app.py:29–37)."""

    course_field: str = "SPARK-101"
    type1_value: int = 1
    profile_field_name: str = "profile_field_rut"
    password_pattern: str = "{username}{year}"
    password_year: int = 2025


def normalize_to_moodle(
    participants: DataFrame,
    params: MoodleParams = MoodleParams(),
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """participants(rut, nombres, apellidos, email, ...) → 8-col Moodle frame.

    Mirrors reference app.py:247–271: not-null filter on rut/nombres, column
    derivations, constants, contract-ordered projection. ``keep`` prepends
    passthrough key columns (for row-level oracle comparison).
    """
    p = params
    df = participants.filter(
        F.col("rut").isNotNull() & F.col("nombres").isNotNull()
    )
    username = text.build_username(F.col("nombres"), F.col("apellidos"))
    email = text.pick_email(F.col("email"))
    rut = F.trim(F.col("rut").cast("string"))
    password = text.fold_accents(
        templates.compile_pattern(
            p.password_pattern,
            {
                "username": username,
                "year": F.lit(str(p.password_year)),
                "rut": rut,
                "email": email,
            },
            style="format",
        )
    )
    return df.select(
        *[F.col(k) for k in keep],
        username.alias("username"),
        password.alias("password"),
        text.first_token(text.title_case(F.col("nombres"))).alias("firstname"),
        text.title_case(F.col("apellidos")).alias("lastname"),
        email.alias("email"),
        rut.alias(p.profile_field_name),
        F.lit(p.type1_value).cast("int").alias("type1"),
        F.lit(p.course_field).alias("course1"),
    )


# --------------------------------------------------------------------------
# Testbed synthesis: participants from customer ⨝ nation (oracle-checkable).
# --------------------------------------------------------------------------


def synth_participants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic participants frame from the testbed star schema.

    Exercises every derivation: multi-token surnames ("UNITED STATES" →
    second-surname initials), accent-foldable lowercase names, messy
    multi-token email cells (reference app.py:190–198) on every 5th row.
    """
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    base_email = F.concat(
        F.lower(F.regexp_replace(F.col("c_name"), "#", "")),
        F.lit("@"),
        F.regexp_replace(F.lower(F.col("n_name")), r"\s+", ""),
        F.lit(".example.com"),
    )
    messy_email = F.when(
        F.col("c_custkey") % 5 == 0,
        F.concat(F.lit("contacto: "), base_email, F.lit("; alt@backup.example.com")),
    ).otherwise(base_email)
    return (
        customer.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("c_custkey"),
            F.concat(
                F.col("c_custkey").cast("string"),
                F.lit("-"),
                (F.col("c_custkey") % 10).cast("string"),
            ).alias("rut"),
            F.lower(F.regexp_replace(F.col("c_name"), "#", " ")).alias("nombres"),
            F.lower(F.col("n_name")).alias("apellidos"),
            messy_email.alias("email"),
        )
    )


def roster_from_customer(
    spark: SparkSession, sf_dir: str, params: MoodleParams = MoodleParams()
) -> DataFrame:
    """Flagship query: full normalize pipeline over synthesized participants,
    keyed by c_custkey for row-level oracle comparison."""
    return normalize_to_moodle(
        synth_participants(spark, sf_dir), params, keep=("c_custkey",)
    )


def synth_participants_sql() -> str:
    """DuckDB twin of :func:`synth_participants` (views: customer, nation)."""
    base_email = (
        "(lower(replace(c_name, '#', '')) || '@' || "
        r"regexp_replace(lower(n_name), '\s+', '', 'g') || '.example.com')"
    )
    messy = (
        f"CASE WHEN c_custkey % 5 = 0 THEN 'contacto: ' || {base_email} || "
        f"'; alt@backup.example.com' ELSE {base_email} END"
    )
    return f"""
    SELECT c_custkey,
           CAST(c_custkey AS VARCHAR) || '-' || CAST(c_custkey % 10 AS VARCHAR) AS rut,
           lower(replace(c_name, '#', ' ')) AS nombres,
           lower(n_name) AS apellidos,
           {messy} AS email
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    """


def roster_sql(params: MoodleParams = MoodleParams()) -> str:
    """DuckDB twin of :func:`roster_from_customer`."""
    p = params
    username = text.sql_build_username("nombres", "apellidos")
    email = text.sql_pick_email("email")
    rut = "trim(CAST(rut AS VARCHAR))"
    password = text.sql_fold_accents(
        templates.sql_compile_pattern(
            p.password_pattern,
            {
                "username": username,
                "year": f"'{p.password_year}'",
                "rut": rut,
                "email": email,
            },
        )
    )
    return f"""
    WITH participants AS ({synth_participants_sql()})
    SELECT c_custkey,
           {username} AS username,
           {password} AS password,
           {text.sql_first_token(text.sql_title_case('nombres'))} AS firstname,
           {text.sql_title_case('apellidos')} AS lastname,
           {email} AS email,
           {rut} AS {p.profile_field_name},
           CAST({p.type1_value} AS INTEGER) AS type1,
           '{p.course_field}' AS course1
    FROM participants
    WHERE rut IS NOT NULL AND nombres IS NOT NULL
    """
