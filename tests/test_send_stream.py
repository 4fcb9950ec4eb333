"""File-drop send stream (M6): dedup across roster drops, the durable
receipt ledger's effectively-once re-runs, and retry receipts."""

from __future__ import annotations

import os

import pytest


def _write_roster(path: str, header: list[str], rows: list[list[str]]) -> None:
    with open(path, "w", encoding="utf-8") as f:
        f.write(",".join(header) + "\n")
        for r in rows:
            f.write(",".join(r) + "\n")


@pytest.fixture()
def roster_dirs(tmp_path):
    roster = tmp_path / "roster"
    work = tmp_path / "work"
    roster.mkdir()
    work.mkdir()
    return str(roster), str(work)


class TestSendStream:
    def test_drain_mixed_variants_and_dedup(self, spark, roster_dirs):
        from etl_moodle_and_mass_email_sending_spark.streaming import (
            send_stream,
        )

        roster, work = roster_dirs
        # variant "old" file + variant "moodle" file, with one duplicate
        # email across the two drops
        _write_roster(
            os.path.join(roster, "a.csv"),
            ["email", "nombre", "usuario", "contrasena"],
            [
                ["ana@example.com", "Ana Soto", "asoto", "pw1"],
                ["ben@example.com", "Ben Diaz", "bdiaz", "pw2"],
            ],
        )
        _write_roster(
            os.path.join(roster, "b.csv"),
            ["email", "username", "password", "firstname", "lastname"],
            [
                ["ana@example.com", "asoto", "pw1", "Ana", "Soto"],  # dup
                ["cai@example.com", "cwu", "pw3", "Cai", "Wu"],
            ],
        )
        receipts = send_stream.run_send_stream_once(spark, roster, work)
        got = {
            r.email: r.status for r in receipts.collect()
        }
        assert got == {
            "ana@example.com": "SENT",
            "ben@example.com": "SENT",
            "cai@example.com": "SENT",
        }
        # exactly one receipt per email despite the duplicate drop
        assert receipts.count() == 3

    def test_ledger_makes_rerun_effectively_once(self, spark, roster_dirs):
        from etl_moodle_and_mass_email_sending_spark.streaming import (
            send_stream,
        )

        roster, work = roster_dirs
        _write_roster(
            os.path.join(roster, "a.csv"),
            ["email", "nombre", "usuario", "contrasena"],
            [["ana@example.com", "Ana", "ana", "pw"]],
        )
        r1 = send_stream.run_send_stream_once(spark, roster, work)
        assert r1.count() == 1
        # second drop: one new recipient + the already-sent one, and a
        # FRESH checkpoint (simulating loss of streaming state) — the
        # durable receipt ledger must still prevent the resend
        _write_roster(
            os.path.join(roster, "b.csv"),
            ["email", "nombre", "usuario", "contrasena"],
            [
                ["ana@example.com", "Ana", "ana", "pw"],
                ["ben@example.com", "Ben", "ben", "pw"],
            ],
        )
        import shutil

        shutil.rmtree(os.path.join(work, "checkpoint"))
        r2 = send_stream.run_send_stream_once(spark, roster, work)
        by_email = [r for r in r2.collect() if r.email == "ana@example.com"]
        assert len(by_email) == 1  # no duplicate send for ana
        assert r2.count() == 2

    def test_failed_rows_get_retry_receipts(self, spark, roster_dirs):
        from etl_moodle_and_mass_email_sending_spark.streaming import (
            send_stream,
        )

        roster, work = roster_dirs
        _write_roster(
            os.path.join(roster, "a.csv"),
            ["email", "nombre", "usuario", "contrasena"],
            [
                ["ok@example.com", "Ok", "ok", "pw"],
                ["bad@example.com", "Bad", "bad", "pw"],
            ],
        )
        receipts = send_stream.run_send_stream_once(
            spark, roster, work, fail_spec={"bad@example.com": -1}
        )
        rows = {r.email: r for r in receipts.collect()}
        assert rows["bad@example.com"].status == "FAILED"
        assert rows["bad@example.com"].attempts == 3
        assert rows["ok@example.com"].status == "SENT"
