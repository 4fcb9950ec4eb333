"""Source readers (SURVEY.md §2.1 S1–S4).

All-string CSV reading mirrors the reference's ``csv.DictReader`` semantics
(S2, app.py:277–315): no type inference, header row, UTF-8.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def check_exists(path: str) -> None:
    """S4 file-existence guard (reference app.py:828, 859, 940, 980):
    friendly error instead of an AnalysisException deep in the plan."""
    if not os.path.exists(path):
        raise FileNotFoundError(f"input path does not exist: {path}")


def read_csv_all_string(spark: SparkSession, path: str) -> DataFrame:
    """S2: header-ed CSV, every column StringType (csv.DictReader model)."""
    check_exists(path)
    return (
        spark.read.option("header", True)
        .option("inferSchema", False)
        .option("encoding", "UTF-8")
        .csv(path)
    )


def read_csv_headerless(spark: SparkSession, path: str) -> DataFrame:
    """Raw positional read (columns _c0.._cN, all string) — input to
    header promotion (op P1)."""
    check_exists(path)
    return (
        spark.read.option("header", False)
        .option("inferSchema", False)
        .option("encoding", "UTF-8")
        .csv(path)
    )


def read_jsonl(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON-lines reader. Pass an explicit schema in production: schema
    inference costs a full extra pass over the data, and at 100 TB an
    inferred schema can silently drift between partitions (a field that
    is null in the sampled split types differently than elsewhere).
    Corrupt lines land in `_corrupt_record` instead of failing the job
    (PERMISSIVE mode) so one bad line can't kill a long scan."""
    check_exists(path)
    reader = spark.read.option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    )
    if schema is not None:
        # Spark only captures corrupt lines if the capture column exists
        # in the supplied schema — append it so an explicit production
        # schema doesn't silently turn corrupt lines into all-null rows
        from pyspark.sql.types import StringType, StructField, StructType

        if "_corrupt_record" not in schema.fieldNames():
            schema = StructType(
                list(schema.fields)
                + [StructField("_corrupt_record", StringType())]
            )
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC reader — same columnar pushdown/pruning properties as parquet
    (both go through the vectorized reader; `.explain` shows
    PushedFilters the same way)."""
    check_exists(path)
    return spark.read.orc(path)
