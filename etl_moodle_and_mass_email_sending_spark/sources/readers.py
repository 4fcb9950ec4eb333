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

