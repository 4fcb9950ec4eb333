"""K2–K5 — SMTP delivery sink with retry, throttle, receipts, dry-run and
an idempotence ledger (reference ``send_all`` app.py:328–377; SURVEY.md
§2.2 and §4.1 fault-tolerance note).

Differences from the reference, by design:
- **Receipts are data, not log lines** (K5): the sink returns a DataFrame
  ``(idx, email, status, attempts, error, remaining)`` (FIXTURES.md §4)
  instead of UI callbacks.
- **One send task** (K2): the global send-order stamp (a ``row_number``
  over an unpartitioned window) gathers the rows into one partition, so
  the send runs as one task on one SMTP connection, like the reference's
  one global connection (app.py:335–337); ``throttle_seconds`` is the
  pause after each row, so the global rate is 1 / throttle.
- **Idempotence ledger** (§4.1): pass ``already_sent`` (a 1-column frame of
  emails) to make re-runs effectively-once — Spark task retry alone would
  resend a partially-sent partition.
- **Dry-run** (reference's confirmation gate app.py:1004–1009 becomes an
  explicit flag): renders and accounts everything, opens no connection.

The per-row Python here is inherent — SMTP is a side-effecting I/O sink,
not a transformation; throughput is connection-bound, not CPU-bound.
"""

from __future__ import annotations

import smtplib
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MAX_RETRIES = 3  # reference MAX_RETRIES, app.py:45
BACKOFF_BASE_SECONDS = 2.0  # sleep(2*attempt), app.py:364–372

RECEIPT_SCHEMA = StructType(
    [
        StructField("idx", LongType()),
        StructField("email", StringType()),
        StructField("status", StringType()),
        StructField("attempts", IntegerType()),
        StructField("error", StringType()),
    ]
)


@dataclass(frozen=True)
class SmtpConfig:
    """Connection + policy knobs (reference defaults app.py:41–45)."""

    host: str = "smtp.example.com"
    port: int = 465
    sender: str = "sender@example.com"
    password: str = ""
    throttle_seconds: float = 0.0  # reference THROTTLE_SECONDS=1.0, app.py:44
    dry_run: bool = True


def _send_partition_factory(
    cfg: SmtpConfig,
    fail_spec: dict[str, int] | None,
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """Build the mapInPandas worker. ``fail_spec`` injects failures for
    tests: email → number of failing attempts (-1 = always fail). Plain
    data, so it pickles cleanly to executors."""

    def fail_hook(email: str, attempt: int) -> bool:
        if not fail_spec or email not in fail_spec:
            return False
        n = fail_spec[email]
        return n < 0 or attempt <= n

    def connect() -> smtplib.SMTP_SSL:
        conn = smtplib.SMTP_SSL(cfg.host, cfg.port)
        conn.login(cfg.sender, cfg.password)
        return conn

    def close(conn: smtplib.SMTP_SSL) -> None:
        try:
            conn.quit()
        except smtplib.SMTPServerDisconnected:
            pass  # the server already dropped it: nothing left to close

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # None in a dry run, and after the server drops the connection:
        # the next attempt reconnects, so a drop costs one attempt, not
        # every remaining row's retries on a dead socket
        conn = None if cfg.dry_run else connect()
        try:
            for pdf in batches:
                out = []
                for row in pdf.itertuples(index=False):
                    status, attempts, error = "SENT", 0, None
                    for attempt in range(1, MAX_RETRIES + 1):
                        attempts = attempt
                        try:
                            if fail_hook(row.email, attempt):
                                raise RuntimeError("injected failure")
                            if not cfg.dry_run:
                                if conn is None:
                                    conn = connect()
                                msg = _build_message(cfg.sender, row)
                                conn.send_message(msg)
                            break
                        except Exception as exc:  # noqa: BLE001
                            error = str(exc)
                            if conn is not None and isinstance(
                                exc, smtplib.SMTPServerDisconnected
                            ):
                                close(conn)
                                conn = None
                            if attempt == MAX_RETRIES:
                                status = "FAILED"
                            elif not cfg.dry_run:
                                # linear backoff 2s,4s (reference app.py:370)
                                time.sleep(BACKOFF_BASE_SECONDS * attempt)
                    if status == "SENT":
                        error = None
                    out.append(
                        (int(row.idx), row.email, status, attempts, error)
                    )
                    # gated on dry_run like the backoff sleep: a dry run
                    # opens no connection, so pacing it is pure waste
                    if cfg.throttle_seconds > 0 and not cfg.dry_run:
                        time.sleep(cfg.throttle_seconds)
                yield pd.DataFrame(
                    out, columns=["idx", "email", "status", "attempts", "error"]
                )
        finally:
            if conn is not None:
                close(conn)

    return run


def _build_message(sender: str, row):  # type: ignore[no-untyped-def]
    """Multipart MIME assembly (reference ``build_message`` app.py:318–325)."""
    from email.message import EmailMessage

    msg = EmailMessage()
    msg["Subject"] = row.subject
    msg["From"] = sender
    msg["To"] = row.email
    msg.set_content(row.plain)
    msg.add_alternative(row.html, subtype="html")
    return msg


def send_all(
    messages: DataFrame,
    cfg: SmtpConfig = SmtpConfig(),
    already_sent: DataFrame | None = None,
    fail_spec: dict[str, int] | None = None,
) -> DataFrame:
    """Deliver rendered messages; return the receipt DataFrame.

    ``messages`` needs columns email/subject/plain/html. Rows are sent in
    email order, which makes the reference's input-order counter (A2,
    app.py:338–339) explicit — a partitioned source has no inherent
    order. Receipts carry ``remaining = total - idx`` (countdown,
    app.py:339).
    """
    if already_sent is not None:
        messages = messages.join(
            already_sent.select(F.col(already_sent.columns[0]).alias("email")),
            on="email",
            how="left_anti",
        )
    stamped = messages.withColumn(
        "idx", F.row_number().over(Window.orderBy(F.col("email")))
    )
    receipts = stamped.mapInPandas(
        _send_partition_factory(cfg, fail_spec), RECEIPT_SCHEMA
    )
    total = F.max("idx").over(Window.partitionBy())
    return receipts.withColumn(
        "remaining", (total - F.col("idx")).cast("long")
    )
