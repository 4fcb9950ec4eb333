"""SMTP sink behavior (K2–K5, reference app.py:328–377): dry-run receipts,
injected-failure retry accounting, idempotence ledger, CSV sink contract."""

from __future__ import annotations

import os


def _messages(spark, n=6):
    from etl_moodle_and_mass_email_sending_spark.plans import mailer

    rows = [
        (f"user{i}@x.cl", f"Nombre{i}", f"user{i}", f"pw{i}") for i in range(n)
    ]
    users = spark.createDataFrame(
        rows, "email string, nombre string, usuario string, contrasena string"
    )
    return mailer.render_messages(users, "Curso X", "https://aula.example.org/")


def test_dry_run_receipts(spark):
    from etl_moodle_and_mass_email_sending_spark.sinks.smtp import (
        SmtpConfig,
        send_all,
    )

    receipts = send_all(_messages(spark), SmtpConfig(dry_run=True)).collect()
    assert len(receipts) == 6
    by_idx = sorted(receipts, key=lambda r: r["idx"])
    assert [r["idx"] for r in by_idx] == list(range(1, 7))
    # countdown semantics (app.py:339): remaining = total - idx
    assert [r["remaining"] for r in by_idx] == [5, 4, 3, 2, 1, 0]
    assert all(r["status"] == "SENT" and r["attempts"] == 1 for r in receipts)


def test_two_pass_stamp_plan_has_no_global_sort(spark):
    """The distributed stamp's plan must not contain a partition-less
    Window sort (the single-task funnel the two-pass path removes)."""
    from pyspark.sql import functions as F

    from etl_moodle_and_mass_email_sending_spark.operators.util import (
        two_pass_rank,
    )

    plan = two_pass_rank(
        _messages(spark, n=23), [F.col("email")], out_col="idx",
        num_partitions=4,
    )._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Window" in line:
            assert "_pid" in line, f"global window in plan: {line}"


def test_retry_accounting(spark):
    from etl_moodle_and_mass_email_sending_spark.sinks.smtp import (
        SmtpConfig,
        send_all,
    )

    receipts = {
        r["email"]: r
        for r in send_all(
            _messages(spark),
            SmtpConfig(dry_run=True),
            fail_spec={"user2@x.cl": 2},
        ).collect()
    }
    # transient failure → succeeds on 3rd attempt (app.py:363–372)
    assert receipts["user2@x.cl"]["status"] == "SENT"
    assert receipts["user2@x.cl"]["attempts"] == 3
    assert receipts["user0@x.cl"]["attempts"] == 1


def test_permanent_failure_marks_failed(spark):
    from etl_moodle_and_mass_email_sending_spark.sinks.smtp import (
        SmtpConfig,
        send_all,
    )

    receipts = {
        r["email"]: r
        for r in send_all(
            _messages(spark),
            SmtpConfig(dry_run=True),
            fail_spec={"user3@x.cl": -1},
        ).collect()
    }
    # after MAX_RETRIES the row is FAILED and skipped (app.py:374–375)
    assert receipts["user3@x.cl"]["status"] == "FAILED"
    assert receipts["user3@x.cl"]["attempts"] == 3
    assert receipts["user3@x.cl"]["error"] == "injected failure"
    assert sum(1 for r in receipts.values() if r["status"] == "SENT") == 5


def test_idempotence_ledger(spark):
    """Re-run with a receipt ledger → already-sent recipients excluded
    (effectively-once; SURVEY.md §4.1 fault-tolerance note)."""
    from etl_moodle_and_mass_email_sending_spark.sinks.smtp import (
        SmtpConfig,
        send_all,
    )

    ledger = spark.createDataFrame(
        [("user0@x.cl",), ("user1@x.cl",)], "email string"
    )
    receipts = send_all(
        _messages(spark), SmtpConfig(dry_run=True), already_sent=ledger
    ).collect()
    emails = {r["email"] for r in receipts}
    assert emails == {f"user{i}@x.cl" for i in range(2, 6)}
    # idx re-stamped 1..4 over the remaining set
    assert sorted(r["idx"] for r in receipts) == [1, 2, 3, 4]


def test_csv_single_file_sink(spark, tmp_path):
    from etl_moodle_and_mass_email_sending_spark.sinks.csv_single import (
        write_csv_single,
    )

    out = str(tmp_path / "moodle.csv")
    df = spark.createDataFrame([("a", 1), ("b", 2)], "username string, type1 int")
    write_csv_single(df, out)
    assert os.path.isfile(out)
    lines = open(out, encoding="utf-8").read().strip().splitlines()
    assert lines[0] == "username,type1"
    assert sorted(lines[1:]) == ["a,1", "b,2"]


def _drive_worker(monkeypatch, cfg, fail_spec=None, n=3, drop_after=None):
    """Run the send worker in-process on one pandas batch (no Spark) with
    a fake SMTP_SSL connection; return (receipts, sleeps, sent emails,
    connections opened). With ``drop_after``, the first connection is
    dropped by the server once that many messages are sent: every later
    call on it raises, as ``smtplib`` does on a closed socket."""
    import smtplib

    import pandas as pd

    from etl_moodle_and_mass_email_sending_spark.sinks import smtp

    sleeps, sent, opened = [], [], []

    class FakeSMTP:
        def __init__(self, host, port):
            opened.append((host, port))
            self.dropped = False

        def login(self, user, password):
            pass

        def _check(self):
            if self.dropped:
                raise smtplib.SMTPServerDisconnected(
                    "please run connect() first"
                )

        def send_message(self, msg):
            self._check()
            if len(opened) == 1 and len(sent) == drop_after:
                self.dropped = True
                raise smtplib.SMTPServerDisconnected(
                    "Connection unexpectedly closed"
                )
            sent.append(msg["To"])

        def quit(self):
            self._check()

    monkeypatch.setattr(smtplib, "SMTP_SSL", FakeSMTP)
    monkeypatch.setattr(smtp.time, "sleep", sleeps.append)
    batch = pd.DataFrame(
        {
            "idx": range(1, n + 1),
            "email": [f"user{i}@x.cl" for i in range(n)],
            "subject": ["Curso X"] * n,
            "plain": ["hola"] * n,
            "html": ["<p>hola</p>"] * n,
        }
    )
    run = smtp._send_partition_factory(cfg, fail_spec)
    receipts = pd.concat(list(run(iter([batch]))))
    return receipts.set_index("email"), sleeps, sent, opened


def test_throttle_pauses_once_per_sent_row(monkeypatch):
    from etl_moodle_and_mass_email_sending_spark.sinks.smtp import SmtpConfig

    receipts, sleeps, sent, opened = _drive_worker(
        monkeypatch, SmtpConfig(dry_run=False, throttle_seconds=0.5)
    )
    assert sleeps == [0.5, 0.5, 0.5]
    assert len(opened) == 1
    assert sent == [f"user{i}@x.cl" for i in range(3)]
    assert (receipts["status"] == "SENT").all()


def test_retry_backoff_is_linear_then_sends(monkeypatch):
    from etl_moodle_and_mass_email_sending_spark.sinks.smtp import SmtpConfig

    receipts, sleeps, sent, _ = _drive_worker(
        monkeypatch, SmtpConfig(dry_run=False), fail_spec={"user1@x.cl": 2}
    )
    assert sleeps == [2.0, 4.0]
    row = receipts.loc["user1@x.cl"]
    assert row["status"] == "SENT" and row["attempts"] == 3
    assert row["error"] is None
    assert sent == [f"user{i}@x.cl" for i in range(3)]


def test_dropped_connection_reconnects_and_sends_each_row_once(monkeypatch):
    """A server drop after row 2 costs row 3 one attempt and one backoff:
    the worker reconnects, every row ends SENT exactly once, and closing
    the dead connection does not fail the task."""
    from etl_moodle_and_mass_email_sending_spark.sinks.smtp import SmtpConfig

    receipts, sleeps, sent, opened = _drive_worker(
        monkeypatch, SmtpConfig(dry_run=False), n=5, drop_after=2
    )
    emails = [f"user{i}@x.cl" for i in range(5)]
    assert sent == emails
    assert len(opened) == 2 and sleeps == [2.0]
    assert (receipts["status"] == "SENT").all()
    assert receipts["error"].isna().all()
    assert receipts["attempts"].to_dict() == {
        e: 2 if e == "user2@x.cl" else 1 for e in emails
    }


def test_dry_run_never_sleeps_or_connects(monkeypatch):
    from etl_moodle_and_mass_email_sending_spark.sinks.smtp import SmtpConfig

    receipts, sleeps, sent, opened = _drive_worker(
        monkeypatch,
        SmtpConfig(dry_run=True, throttle_seconds=0.5),
        fail_spec={"user1@x.cl": 2},
    )
    assert sleeps == [] and sent == [] and opened == []
    assert receipts.loc["user1@x.cl", "attempts"] == 3
    assert (receipts["status"] == "SENT").all()
