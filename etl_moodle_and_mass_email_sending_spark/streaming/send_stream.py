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

Scale design: the source lists incrementally (``maxFilesPerTrigger``
bounds per-batch work — coarse rate control, K4 generalized); dedup state
is keyed by email and bounded by the watermark; the ledger anti-join is a
broadcast-able left-anti on the receipt parquet. No driver-side collect
anywhere; receipts append as parquet partitions.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StringType, StructField, StructType

from ..plans.mailer import render_messages
from ..sinks.smtp import SmtpConfig, send_all
from ..sources.csv_variants import normalize_recipients

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


@dataclass(frozen=True)
class StreamConfig:
    """Streaming knobs. ``watermark_delay`` bounds dedup state (late
    roster re-drops beyond it may resend — the ledger still catches them);
    ``max_files_per_trigger`` is the coarse rate limiter (K4)."""

    checkpoint_dir: str = ""
    receipts_dir: str = ""
    watermark_delay: str = "30 minutes"
    max_files_per_trigger: int | None = None
    available_now: bool = False  # drain-and-stop (tests / catch-up runs)
    trigger_seconds: float | None = None


def stream_recipients(
    spark: SparkSession,
    roster_dir: str,
    cfg: StreamConfig,
) -> DataFrame:
    """Watch ``roster_dir`` for CSV drops → canonical deduped user stream.

    Dedup-by-recipient uses ``dropDuplicatesWithinWatermark`` on the
    ingest timestamp: duplicate emails across files dropped within the
    watermark window are delivered once (the reference never dedups —
    README.md:72–74 lists duplicate validation as unimplemented roadmap;
    this is that roadmap item, done properly on the stream).
    """
    reader = (
        spark.readStream.schema(ROSTER_STREAM_SCHEMA)
        .option("header", True)
        .option("mode", "PERMISSIVE")
    )
    if cfg.max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", cfg.max_files_per_trigger)
    raw = reader.csv(roster_dir)
    users = normalize_recipients(raw).withColumn(
        "ingest_ts", F.current_timestamp()
    )
    return users.withWatermark(
        "ingest_ts", cfg.watermark_delay
    ).dropDuplicatesWithinWatermark(["email"])


def _ledger_emails(spark: SparkSession, receipts_dir: str) -> DataFrame | None:
    """Previously-SENT emails from the durable receipt parquet (None on
    first run). This is the effectively-once ledger of SURVEY.md §4.1:
    stream restarts (or watermark-expired re-drops) anti-join against it
    instead of resending."""
    try:
        receipts = spark.read.parquet(receipts_dir)
    except Exception:  # noqa: BLE001 — dir absent on first batch
        return None
    return receipts.where(F.col("status") == "SENT").select("email").distinct()


def _stream_session(spark: SparkSession) -> SparkSession:
    """A clone of ``spark`` whose NEW checkpoints get one dedup state
    partition per task slot of the host (``defaultParallelism``).

    Spark records ``spark.sql.shuffle.partitions`` in a checkpoint's
    offset log when the query first starts and restores it on every
    restart, so this only sizes new checkpoints. The session default
    (32) would run every micro-batch's state stage in waves of
    near-empty tasks. Setting it on a clone leaves the caller's conf
    untouched; the caller's streaming listeners are registered on the
    clone so they still see the query's progress.
    """
    jclone = spark._jsparkSession.cloneSession()
    for listener in spark._jsparkSession.streams().listListeners():
        jclone.streams().addListener(listener)
    clone = SparkSession(spark.sparkContext, jclone)
    clone.conf.set(
        "spark.sql.shuffle.partitions",
        str(spark.sparkContext.defaultParallelism),
    )
    return clone


def start_send_stream(
    spark: SparkSession,
    roster_dir: str,
    stream_cfg: StreamConfig,
    smtp_cfg: SmtpConfig = SmtpConfig(),
    course_name: str = "Curso",
    aula_url: str = "https://aula.example.com",
    fail_spec: dict[str, int] | None = None,
) -> StreamingQuery:
    """Launch the streaming send job; receipts append to
    ``stream_cfg.receipts_dir`` as parquet.

    foreachBatch (not a row ForeachWriter) because the sink wants
    partition-level SMTP connections, the ledger anti-join, and a receipt
    *write* — i.e. a batch plan per micro-batch. Spark guarantees
    at-least-once foreachBatch execution; the ledger makes delivery
    effectively-once.

    The query runs on :func:`_stream_session`'s clone of ``spark``, so
    it is listed in the clone's ``streams``, not the caller's.
    """
    session = _stream_session(spark)
    users = stream_recipients(session, roster_dir, stream_cfg)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        sent = _ledger_emails(batch_df.sparkSession, stream_cfg.receipts_dir)
        messages = render_messages(
            batch_df.drop("ingest_ts"), course_name, aula_url
        )
        receipts = send_all(
            messages,
            cfg=smtp_cfg,
            order_by="email",
            already_sent=sent,
            fail_spec=fail_spec,
        )
        (
            receipts.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(stream_cfg.receipts_dir)
        )

    writer = (
        users.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", stream_cfg.checkpoint_dir)
        .outputMode("update")
    )
    if stream_cfg.available_now:
        writer = writer.trigger(availableNow=True)
    elif stream_cfg.trigger_seconds:
        writer = writer.trigger(
            processingTime=f"{stream_cfg.trigger_seconds} seconds"
        )
    return writer.start()


def run_send_stream_once(
    spark: SparkSession,
    roster_dir: str,
    work_dir: str,
    smtp_cfg: SmtpConfig = SmtpConfig(),
    fail_spec: dict[str, int] | None = None,
    **kwargs,  # noqa: ANN003 — course_name / aula_url passthrough
) -> DataFrame:
    """Drain the roster dir once (availableNow) and return the receipts
    read back from the durable ledger. Re-running after new file drops
    only sends the not-yet-SENT recipients."""
    cfg = StreamConfig(
        checkpoint_dir=os.path.join(work_dir, "checkpoint"),
        receipts_dir=os.path.join(work_dir, "receipts"),
        available_now=True,
    )
    q = start_send_stream(
        spark, roster_dir, cfg, smtp_cfg, fail_spec=fail_spec, **kwargs
    )
    q.awaitTermination()
    return spark.read.parquet(cfg.receipts_dir)
