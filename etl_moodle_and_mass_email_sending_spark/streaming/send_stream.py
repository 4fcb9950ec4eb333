"""Streaming send pipeline — file-drop roster source → canonical users →
rendered messages → SMTP foreachBatch sink with a durable receipt ledger.

Reference behavior generalized (SURVEY.md §7.6): the batch send job
(app.py:974–1033) becomes an always-on incremental job. Roster CSVs land
in a directory; each micro-batch normalizes whichever schema variant the
file carries (F1–F4, app.py:284–306), dedups recipients across the whole
stream, renders the four templates JVM-side, and hands the batch to the
same :func:`..sinks.smtp.send_all` used by the batch path — one plan, two
execution modes (the reference's preview/send plan-reuse insight,
SURVEY.md §3.3, applied to batch/streaming).

Scale design: the source lists incrementally; dedup state is keyed by
email and bounded by the watermark; the ledger anti-join is a
broadcast-able left-anti on the receipt parquet. No driver-side collect
anywhere; receipts append as parquet partitions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..plans.mailer import render_messages
from ..sinks.smtp import SmtpConfig, send_all
from ..sources.csv_variants import normalize_recipients
from .replay import drain, has_parquet
from .windows import state_shuffle

#: Widest roster schema: union of the three variants' columns (F1–F3).
#: Streaming sources need an explicit schema — we read every known header
#: as string (the reference treats all CSV fields as string, app.py:281)
#: and let the variant normalizer coalesce whichever are present.
ROSTER_STREAM_SCHEMA = StructType(
    [
        StructField(c, StringType())
        for c in (
            "email",
            "nombre",
            "usuario",
            "contrasena",
            "username",
            "password",
            "firstname",
            "lastname",
        )
    ]
)


#: Dedup state horizon: a roster re-dropped later than this after the
#: first copy may reach the send again, where the ledger still skips it.
WATERMARK_DELAY = "30 minutes"


def stream_recipients(spark: SparkSession, roster_dir: str) -> DataFrame:
    """Watch ``roster_dir`` for CSV drops → canonical deduped user stream.

    Dedup-by-recipient uses ``dropDuplicatesWithinWatermark`` on the
    ingest timestamp: duplicate emails across files dropped within the
    watermark window are delivered once (the reference never dedups —
    README.md:72–74 lists duplicate validation as unimplemented roadmap;
    this is that roadmap item, done properly on the stream).
    """
    raw = (
        spark.readStream.schema(ROSTER_STREAM_SCHEMA)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .csv(roster_dir)
    )
    users = normalize_recipients(raw).withColumn(
        "ingest_ts", F.current_timestamp()
    )
    return users.withWatermark(
        "ingest_ts", WATERMARK_DELAY
    ).dropDuplicatesWithinWatermark(["email"])


def _ledger_emails(spark: SparkSession, receipts_dir: str) -> DataFrame | None:
    """Previously-SENT emails from the durable receipt parquet (None
    before the first receipt lands). This is the effectively-once ledger
    of SURVEY.md §4.1: stream restarts (or watermark-expired re-drops)
    anti-join against it instead of resending. A ledger that exists but
    cannot be read raises: treating it as empty would resend to
    everyone."""
    if not has_parquet(receipts_dir):
        return None
    receipts = spark.read.parquet(receipts_dir)
    return receipts.where(F.col("status") == "SENT").select("email")


def run_send_stream_once(
    spark: SparkSession,
    roster_dir: str,
    work_dir: str,
    smtp_cfg: SmtpConfig = SmtpConfig(),
    course_name: str = "Curso",
    aula_url: str = "https://aula.example.com",
    fail_spec: dict[str, int] | None = None,
) -> DataFrame:
    """Drain the roster dir once (availableNow) and return the receipts
    read back from the durable ledger under ``work_dir``. Re-running
    after new file drops only sends the not-yet-SENT recipients.

    Each micro-batch is a batch plan (the ledger anti-join, the send and
    a receipt write), so the stream runs through foreachBatch. Spark
    guarantees at-least-once foreachBatch execution; the ledger makes
    delivery effectively-once.

    A new checkpoint gets one dedup state partition per task slot of the
    host (``defaultParallelism``), not the session's shuffle width, which
    would run each micro-batch's state stage in waves of near-empty
    tasks. Spark records ``spark.sql.shuffle.partitions`` in the offset
    log when the query first starts and restores it on every restart, so
    a resumed checkpoint keeps the count it recorded.
    """
    receipts_dir = os.path.join(work_dir, "receipts")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        sent = _ledger_emails(batch_df.sparkSession, receipts_dir)
        messages = render_messages(
            batch_df.drop("ingest_ts"), course_name, aula_url
        )
        receipts = send_all(
            messages, cfg=smtp_cfg, already_sent=sent, fail_spec=fail_spec
        )
        (
            receipts.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(receipts_dir)
        )

    with state_shuffle(spark, spark.sparkContext.defaultParallelism):
        drain(
            stream_recipients(spark, roster_dir),
            process_batch,
            os.path.join(work_dir, "checkpoint"),
        )
    return spark.read.parquet(receipts_dir)
