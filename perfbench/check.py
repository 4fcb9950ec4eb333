"""Output checker: every operation of a pass against an oracle, untimed.

* Queries and streams: the result set against the query's DuckDB oracle
  (``registry.oracle_sql()``) over the same generated tables, compared
  order-insensitively with the canonicalisation of the engine's oracle
  parity test (doubles to 9 significant digits, columns by name).
* Roster: the Moodle CSV against the package's own ``sql_*`` twins run by
  DuckDB over the generated participants CSV; every send receipt SENT
  exactly once; the resend skips exactly the ledger's emails.
* send-stream drains: after each drain, every recipient dropped so far is
  SENT exactly once in the receipt ledger.
"""

from __future__ import annotations

import csv
import glob
import math
import os

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def canon(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def rowset(cols, rows) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(canon(r[i]) for i in order) for r in rows)


def duck_tables(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{os.path.join(sf_dir, t + '.parquet')}'"
        )
    return con


def same_result(cols, rows, oracle_cols, oracle_rows) -> str | None:
    """None when equal, else a one-line reason."""
    if sorted(cols) != sorted(oracle_cols):
        return f"columns {sorted(cols)} != {sorted(oracle_cols)}"
    if len(rows) != len(oracle_rows):
        return f"row count {len(rows)} != {len(oracle_rows)}"
    a, b = rowset(cols, rows), rowset(oracle_cols, oracle_rows)
    if a != b:
        first = next(i for i, (x, y) in enumerate(zip(a, b)) if x != y)
        return f"value mismatch, first: {a[first][:120]!r} != {b[first][:120]!r}"
    return None


def check_query(con, name: str, frame) -> str | None:
    from etl_moodle_and_mass_email_sending_spark import registry

    rows = [tuple(r) for r in frame.collect()]
    res = con.execute(registry.oracle_sql()[name])
    return same_result(frame.columns, rows, [d[0] for d in res.description],
                       res.fetchall())


# --------------------------------------------------------------------------
# Roster
# --------------------------------------------------------------------------


def moodle_oracle_sql(participants_csv: str) -> str:
    """The package's normalize twins over the header-displaced CSV."""
    from etl_moodle_and_mass_email_sending_spark.functions import templates, text
    from etl_moodle_and_mass_email_sending_spark.plans.moodle import MoodleParams

    p = MoodleParams()
    username = text.sql_build_username("nombres", "apellidos")
    email = text.sql_pick_email("email")
    rut = "trim(CAST(rut AS VARCHAR))"
    password = text.sql_fold_accents(templates.sql_compile_pattern(
        p.password_pattern,
        {"username": username, "year": f"'{p.password_year}'", "rut": rut,
         "email": email},
    ))
    cols = {f"c{i}": "VARCHAR" for i in range(6)}
    return f"""
    WITH participants AS (
      SELECT c0 AS rut, c1 AS nombres, c2 AS apellidos, c3 AS email
      FROM read_csv('{participants_csv}', header=false, skip=4,
                    auto_detect=false, columns={cols}, delim=',',
                    quote='"', escape='"')
    )
    SELECT {username} AS username,
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


def read_csv_rows(path: str) -> tuple[list[str], list[list[str]]]:
    with open(path, newline="", encoding="utf-8") as f:
        rows = list(csv.reader(f))
    return rows[0], rows[1:]


def _sent_once(receipts: list[dict], expected: set[str]) -> str | None:
    emails = [r["email"] for r in receipts]
    if any(r["status"] != "SENT" for r in receipts):
        return "a receipt is not SENT"
    if len(emails) != len(set(emails)):
        return "an email has more than one receipt"
    if set(emails) != expected:
        return (f"receipts cover {len(set(emails))} emails, expected "
                f"{len(expected)} ({len(set(emails) ^ expected)} differ)")
    return None


def _receipts(path: str) -> list[dict]:
    header, rows = read_csv_rows(path)
    return [dict(zip(header, r)) for r in rows]


def check_roster(inputs: str, work: str, ops: dict) -> tuple[dict, dict]:
    """Per CLI command: None (correct) or a reason; and the sink counts
    (sent, ledger_skipped, rendered)."""
    import duckdb

    roster = os.path.join(inputs, "roster")
    moodle = os.path.join(work, "moodle.csv")
    verdict: dict[str, str | None] = {}
    res = duckdb.connect().execute(
        moodle_oracle_sql(os.path.join(roster, "participants.csv")))
    ocols = [d[0] for d in res.description]
    orows = [["" if v is None else str(v) for v in r] for r in res.fetchall()]
    header, rows = read_csv_rows(moodle)
    verdict["normalize"] = (
        f"header {header} != {ocols}" if header != ocols
        else same_result(header, rows, ocols, orows)
    )
    if verdict["normalize"] is None and f"wrote {len(rows)} rows" not in ops["normalize"].stdout:
        verdict["normalize"] = "normalize did not report the row count"
    recipients = {r[header.index("email")].strip() for r in rows} - {""}
    verdict["preview"] = (
        None if "--- subject ---" in ops["preview"].stdout
        else "preview printed no rendered mail"
    )
    first = _receipts(os.path.join(work, "receipts.csv"))
    verdict["send"] = _sent_once(first, recipients)
    _, ledger_rows = read_csv_rows(os.path.join(roster, "ledger.csv"))
    ledger = {r[1] for r in ledger_rows if r[2] == "SENT"}
    second = _receipts(os.path.join(work, "receipts_resend.csv"))
    verdict["resend"] = _sent_once(second, recipients - ledger)
    counts = {
        "sent": sum(r["status"] == "SENT" for r in first + second),
        "rendered": 2 * len(recipients),
        "ledger_skipped": len(recipients) - len(second),
    }
    return verdict, counts


def drop_emails(paths: list[str]) -> set[str]:
    out: set[str] = set()
    for p in paths:
        header, rows = read_csv_rows(p)
        i = header.index("email")
        out |= {r[i].strip() for r in rows} - {""}
    return out


def check_drains(inputs: str, work: str, drain1_files: list[str]) -> dict:
    import pyarrow.parquet as pq

    receipts = os.path.join(work, "send_stream", "receipts")

    def rows(files):
        out = []
        for f in files:
            out += pq.read_table(os.path.join(receipts, f),
                                 columns=["email", "status"]).to_pylist()
        return out

    early = sorted(glob.glob(os.path.join(inputs, "drop", "*.csv")))
    late = sorted(glob.glob(os.path.join(inputs, "drop_late", "*.csv")))
    every = sorted(f for f in os.listdir(receipts) if f.endswith(".parquet"))
    return {
        "drain1": _sent_once(rows(drain1_files), drop_emails(early)),
        "drain2": _sent_once(rows(every), drop_emails(early + late)),
    }
