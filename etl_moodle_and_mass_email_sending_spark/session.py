"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design target (AQE on, skew-join handling,
partition coalescing) while remaining correct on local[N] test runs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "etl-moodle-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    On a real cluster ``master``/``shuffle_partitions`` come from the
    deployment; locally we default to ``local[$SPARK_GRAFT_CPUS|*]`` and a
    small partition count so tiny test inputs don't fragment into empty
    tasks (AQE coalescing handles the rest). A live session keeps its
    shuffle width unless ``shuffle_partitions`` is passed: ``getOrCreate``
    re-applies every builder setting to it, and an in-process CLI command
    must not re-size its caller's session.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Deterministic cross-engine timestamp semantics (oracle = DuckDB).
        .config("spark.sql.session.timeZone", "UTC")
        # AQE: runtime coalescing, skew-join splitting, runtime broadcast.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # An events.parquet written with TIMESTAMP(NANOS) would be rejected
        # by Spark's vectorized reader; read such columns as long and
        # convert in catalog. The current testbed stores microseconds
        # without time zone, which reads as TIMESTAMP_NTZ instead.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Arrow for any pandas_udf / toPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Dim tables (region/nation/supplier) must broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # The stderr progress bar interleaves carriage-return frames into
        # any captured output (bench artifacts, driver logs) — keep it off.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if shuffle_partitions is None and SparkSession.getActiveSession() is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    return builder.getOrCreate()
