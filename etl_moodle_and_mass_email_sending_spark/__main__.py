"""CLI entry point — the engine's equivalent of the reference's desktop
app surface (app.py entry points, SURVEY.md §3): three subcommands mapping
1:1 to the reference's buttons, minus the Tk GUI.

  normalize  — participants sheet (.xlsx workbook or its CSV export;
               header-displaced) → Moodle-import CSV (reference
               "Generar CSV Moodle", app.py:936–972)
  send       — recipients CSV (any schema variant) → rendered credential
               mails through the SMTP sink; DRY-RUN by default, receipts
               written as CSV           (reference "Enviar correos",
               app.py:974–1033; the dry-run default replaces the
               confirmation modal app.py:1004–1009)
  preview    — first N rows of the normalized recipients + the first
               user's rendered subject/plain body (reference preview tabs,
               app.py:826–934)

Credentials come from SMTP_PASSWORD in the environment — never argv, never
persisted (reference acquires them via a modal, app.py:992–999).
"""

from __future__ import annotations

import argparse
import os
import sys


def _spark():
    from .session import get_spark

    return get_spark(app_name="etl-moodle-cli")


def _status_counts():
    """The SENT and FAILED receipt counts, as aggregate columns."""
    from pyspark.sql import functions as F

    return [
        F.count_if(F.col("status") == s).alias(s) for s in ("SENT", "FAILED")
    ]


def _is_xlsx(path: str) -> bool:
    """True when ``path`` starts with the ZIP magic every .xlsx carries."""
    try:
        with open(path, "rb") as f:
            return f.read(4) == b"PK\x03\x04"
    except OSError:  # missing or a directory: the CSV reader reports it
        return False


def cmd_normalize(args: argparse.Namespace) -> int:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from .plans.moodle import MoodleParams, normalize_to_moodle
    from .sinks.csv_single import write_csv_single
    from .sources.excel import (
        read_participants_csv,
        read_participants_excel,
        rename_participant_columns,
    )

    spark = _spark()
    read = (
        read_participants_excel if _is_xlsx(args.input)
        else read_participants_csv
    )
    raw = read(spark, args.input, args.header_row, args.header_row + 1)
    params = MoodleParams(
        course_field=args.course,
        type1_value=args.type1,
        password_pattern=args.password_pattern,
        password_year=args.password_year,
    )
    out = normalize_to_moodle(rename_participant_columns(raw), params)
    # counted while the write runs: a count() would re-run the whole plan
    written = Observation("normalize")
    write_csv_single(
        out.observe(written, F.count(F.lit(1)).alias("n")), args.output
    )
    print(f"wrote {written.get['n']} rows -> {args.output}")
    return 0


def cmd_send(args: argparse.Namespace) -> int:
    from pyspark.sql import Observation

    from .plans.mailer import render_messages
    from .sinks.csv_single import write_csv_single
    from .sinks.smtp import SmtpConfig, send_all
    from .sources.csv_variants import normalize_recipients
    from .sources.readers import read_csv_all_string

    spark = _spark()
    users = normalize_recipients(read_csv_all_string(spark, args.input))
    n = users.count()
    if n == 0:
        print("no valid recipients; aborting", file=sys.stderr)
        return 1
    if not args.yes and not args.dry_run:
        print(
            f"refusing to send to {n} recipients without --yes "
            "(the reference's confirmation gate)",
            file=sys.stderr,
        )
        return 1
    cfg = SmtpConfig(
        host=args.smtp_host,
        port=args.smtp_port,
        sender=args.sender,
        password=os.environ.get("SMTP_PASSWORD", ""),
        throttle_seconds=args.throttle,
        dry_run=args.dry_run,
    )
    messages = render_messages(users, args.course_name, args.aula_url)
    already = None
    # gate on the ledger alone: passing --receipts-ledger without
    # --receipts must still honour the effectively-once guarantee.
    # spark.read.csv accepts both a directory of receipt CSVs and a single
    # receipt file (the round-trip of this tool's own --receipts output);
    # a MISSING ledger path is an error, not a silent full re-send.
    if args.receipts_ledger:
        if not os.path.exists(args.receipts_ledger):
            print(
                f"receipts ledger {args.receipts_ledger!r} does not exist; "
                "refusing to send without the idempotence guarantee",
                file=sys.stderr,
            )
            return 1
        already = spark.read.option("header", True).csv(
            args.receipts_ledger
        ).where("status = 'SENT'").select("email")
    receipts = send_all(messages, cfg, already_sent=already)
    # EXACTLY ONE action may consume the receipt plan: it embeds the
    # side-effecting SMTP mapInPandas, so every extra action is a full
    # re-send. Counts are observed on the write (or are that one action).
    if args.receipts:
        written = Observation("receipts")
        write_csv_single(
            receipts.observe(written, *_status_counts()), args.receipts
        )
        print(f"receipts -> {args.receipts}")
        counts = written.get
    else:
        counts = receipts.agg(*_status_counts()).first()
    sent, failed = counts["SENT"], counts["FAILED"]
    mode = "DRY-RUN " if args.dry_run else ""
    print(f"{mode}sent={sent} failed={failed} total={n}")
    return 0 if failed == 0 else 2


def cmd_preview(args: argparse.Namespace) -> int:
    from .plans.mailer import render_messages
    from .sources.csv_variants import normalize_recipients
    from .sources.readers import read_csv_all_string

    spark = _spark()
    users = normalize_recipients(read_csv_all_string(spark, args.input))
    rows = users.limit(args.rows).collect()
    total = users.count()
    for r in rows:
        print(f"{r.email} | {r.nombre} | {r.usuario}")
    if total > len(rows):
        print(f"... ({total - len(rows)} filas mas)")  # app.py:779
    if total:
        msg = render_messages(
            users.limit(1), args.course_name, args.aula_url
        ).first()
        print("--- subject ---")
        print(msg.subject)
        print("--- plain ---")
        print(msg.plain)
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="etl_moodle_and_mass_email_sending_spark",
        description="PySpark roster-ETL and mail-delivery engine",
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    n = sub.add_parser(
        "normalize", help="participants sheet (.xlsx or CSV) -> Moodle CSV"
    )
    n.add_argument("input")
    n.add_argument("output")
    n.add_argument("--course", default="SPARK-101")
    n.add_argument("--type1", type=int, default=1)
    n.add_argument("--password-pattern", default="{username}{year}")
    n.add_argument("--password-year", type=int, default=2025)
    n.add_argument("--header-row", type=int, default=3)
    n.set_defaults(fn=cmd_normalize)

    # the delivery flags `send` and `send-stream` share
    delivery = argparse.ArgumentParser(add_help=False)
    delivery.add_argument("--dry-run", action="store_true", default=True)
    delivery.add_argument(
        "--no-dry-run", dest="dry_run", action="store_false",
        help="actually deliver (requires --yes and SMTP_PASSWORD)",
    )
    delivery.add_argument("--yes", action="store_true")
    delivery.add_argument("--smtp-host", default="smtp.example.com")
    delivery.add_argument("--smtp-port", type=int, default=465)
    delivery.add_argument("--sender", default="sender@example.com")
    delivery.add_argument("--course-name", default="Curso")
    delivery.add_argument("--aula-url", default="https://aula.example.com")

    s = sub.add_parser(
        "send", parents=[delivery],
        help="recipients CSV -> SMTP (dry-run default)",
    )
    s.add_argument("input")
    s.add_argument("--throttle", type=float, default=0.0)
    s.add_argument("--receipts", help="write receipt CSV here")
    s.add_argument(
        "--receipts-ledger",
        help="dir of prior receipt CSVs for effectively-once re-runs",
    )
    s.set_defaults(fn=cmd_send)

    v = sub.add_parser("preview", help="preview recipients + first mail")
    v.add_argument("input")
    v.add_argument("--rows", type=int, default=50)  # app.py:766
    v.add_argument("--course-name", default="Curso")
    v.add_argument("--aula-url", default="https://aula.example.com")
    v.set_defaults(fn=cmd_preview)

    ss = sub.add_parser(
        "send-stream", parents=[delivery],
        help="drain a roster drop-dir via Structured Streaming",
    )
    ss.add_argument("roster_dir")
    ss.add_argument("work_dir", help="checkpoint + receipt-ledger root")
    ss.set_defaults(fn=cmd_send_stream)
    return p


def cmd_send_stream(args: argparse.Namespace) -> int:
    """Streaming variant of `send` (M6): drain a roster drop-directory
    once (availableNow) with watermarked dedup + the durable receipt
    ledger; re-running after new drops only sends new recipients."""
    from .sinks.smtp import SmtpConfig
    from .streaming.send_stream import run_send_stream_once

    spark = _spark()
    cfg = SmtpConfig(
        host=args.smtp_host,
        port=args.smtp_port,
        sender=args.sender,
        password=os.environ.get("SMTP_PASSWORD", ""),
        dry_run=args.dry_run,
    )
    if not args.dry_run and not args.yes:
        print("refusing real delivery without --yes", file=sys.stderr)
        return 1
    receipts = run_send_stream_once(
        spark,
        args.roster_dir,
        args.work_dir,
        smtp_cfg=cfg,
        course_name=args.course_name,
        aula_url=args.aula_url,
    )
    counts = receipts.agg(*_status_counts()).first()
    sent, failed = counts["SENT"], counts["FAILED"]
    mode = "DRY-RUN " if args.dry_run else ""
    print(f"{mode}ledger: sent={sent} failed={failed} "
          f"(receipts parquet in {args.work_dir}/receipts)")
    return 0 if failed == 0 else 2


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
