"""[EXT] Manifest-stats file skipping — the poor-man's table format.

Lakehouse table formats (Iceberg/Delta/Hudi) plan scans from KB-sized
manifests holding per-file min/max column stats, pruning files BEFORE
any footer is opened. This module reproduces that contract with plain
parquet: a staged drop laid out one directory per order-month, plus a
manifest table of per-file (min, max, rows) on the NON-partition sort
column. The scan operator prunes with the manifest on the driver (the
planner's job — the manifest is KBs at any corpus size, one row per
file) and reads only surviving directories, reporting honest pruning
bookkeeping next to the query result.

At 100 TB the stats would come from parquet footers or the table
format's manifest files; the one-pass rollup here stands in for that
metadata with identical semantics. What matters is the CONTRACT: the
predicate touches |selected| directories, never |all| — the I/O shape
partition pruning alone cannot give you on a non-partition predicate
(here the predicate column IS the layout column's finer grain: files
are month-ranged on o_orderdate, the predicate is a day range).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.util import staged_path

# the pruning predicate: a ~7-month day range mid-corpus. The testbed
# orders span 1995-01-01..2001-08-01 at every sf, so this window selects
# a nonzero, proper subset of month files at all certified scales — a
# pruning demo must actually prune SOME and read SOME.
SCAN_LO = "1996-03-01"
SCAN_HI = "1996-09-30"


def _build_drop(spark: SparkSession, sf_dir: str) -> str:
    """Stage the month-partitioned orders drop + its manifest once per
    (session, sf_dir)."""
    import os

    from ..catalog import load_table

    def build(path: str) -> None:
        o = load_table(spark, sf_dir, "orders")
        (
            o.withColumn(
                "file_mo",
                (F.year("o_orderdate") * 100 + F.month("o_orderdate")).cast(
                    "int"
                ),
            )
            .repartition("file_mo")
            .write.partitionBy("file_mo")
            .parquet(os.path.join(path, "orders_by_mo"))
        )
        # manifest: one row per file directory — min/max of the sort
        # column + row count (what a footer/manifest read would yield)
        (
            spark.read.parquet(os.path.join(path, "orders_by_mo"))
            .groupBy("file_mo")
            .agg(
                F.min("o_orderdate").alias("lo"),
                F.max("o_orderdate").alias("hi"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            )
            .coalesce(1)
            .write.parquet(os.path.join(path, "manifest"))
        )

    return staged_path(spark, ("manifest_scan", sf_dir), build)


def manifest_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-row pruning report for the [SCAN_LO, SCAN_HI] revenue
    query: files_total, files_read (manifest-pruned), rows_in_files
    (rows the pruned scan ingests), n_orders / revenue (the query
    itself, post residual filter)."""
    import os

    base = _build_drop(spark, sf_dir)
    manifest = spark.read.parquet(os.path.join(base, "manifest")).collect()
    lo, hi = F.lit(SCAN_LO).cast("timestamp"), F.lit(SCAN_HI).cast(
        "timestamp"
    )
    import datetime as _dt

    plo = _dt.datetime.fromisoformat(SCAN_LO)
    phi = _dt.datetime.fromisoformat(SCAN_HI)
    selected = sorted(
        r["file_mo"] for r in manifest if r["lo"] <= phi and r["hi"] >= plo
    )
    scan = spark.read.parquet(os.path.join(base, "orders_by_mo")).filter(
        F.col("file_mo").isin(selected)  # partition pruning, no footers
    )
    agg = scan.filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") <= hi)
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                "double"
            ),
            2,
        ).alias("revenue"),
    )
    rows_in_files = sum(r["n_rows"] for r in manifest if r["file_mo"] in set(selected))
    return agg.select(
        F.lit(len(manifest)).cast("bigint").alias("files_total"),
        F.lit(len(selected)).cast("bigint").alias("files_read"),
        F.lit(rows_in_files).cast("bigint").alias("rows_in_files"),
        "n_orders",
        "revenue",
    )


def sql_manifest_scan() -> str:
    """Oracle: the manifest is definitionally the per-month min/max/count
    rollup, so files_read/rows_in_files reconstruct from the data."""
    return f"""
    WITH manifest AS (
      SELECT year(o_orderdate) * 100 + month(o_orderdate) AS file_mo,
             min(o_orderdate) AS lo, max(o_orderdate) AS hi,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM orders GROUP BY 1
    ),
    sel AS (
      SELECT * FROM manifest
      WHERE lo <= TIMESTAMP '{SCAN_HI}' AND hi >= TIMESTAMP '{SCAN_LO}'
    ),
    q AS (
      SELECT CAST(count(*) AS BIGINT) AS n_orders,
             round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                        AS DOUBLE), 2) AS revenue
      FROM orders
      WHERE o_orderdate BETWEEN TIMESTAMP '{SCAN_LO}'
                            AND TIMESTAMP '{SCAN_HI}'
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM manifest) AS files_total,
           (SELECT CAST(count(*) AS BIGINT) FROM sel) AS files_read,
           (SELECT CAST(coalesce(sum(n_rows), 0) AS BIGINT) FROM sel)
             AS rows_in_files,
           n_orders, revenue
    FROM q
    """
