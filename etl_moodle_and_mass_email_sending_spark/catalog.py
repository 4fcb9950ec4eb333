"""Testbed table catalog: parquet tables under a scale-factor directory.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return read_events(spark, lambda: spark.read.parquet(path))
    return spark.read.parquet(path)


def read_events(
    spark: SparkSession, read: Callable[[], DataFrame]
) -> DataFrame:
    """``read()`` an events parquet (batch or stream) with ``ts`` as the
    session-zone TIMESTAMP every downstream operator (and withWatermark)
    expects.

    The testbed stores events.ts as µs INT64
    Timestamp(isAdjustedToUTC=false); an event log written with
    TIMESTAMP(NANOS) would be rejected by default (PARQUET_TYPE_ILLEGAL).
    The legacy conf is set HERE — not only in session.py — so either
    layout reads in ANY SparkSession (the driver builds its own vanilla
    session); it is runtime-settable and takes effect before ``read()``.
    Two layouts, one TIMESTAMP out:
    - TIMESTAMP(NANOS) arrives as bigint nanos under
      spark.sql.legacy.parquet.nanosAsLong (LongType branch); integer
      division truncates ns→µs, so oracle SQL that outputs a raw ts
      wraps it in CAST(ts AS TIMESTAMP) for DuckDB to truncate alike.
    - µs Timestamp(isAdjustedToUTC=false) — the testbed's layout, also
      what perfbench writes and what DuckDB COPY emits — arrives as
      TIMESTAMP_NTZ (NTZ branch) and is cast to the session-zone
      TIMESTAMP.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read()
    if isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif isinstance(df.schema["ts"].dataType, TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    return tuple(load_table(spark, sf_dir, n) for n in names)

