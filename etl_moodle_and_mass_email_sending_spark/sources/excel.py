"""S1 Excel scan + P1 positional header promotion (reference app.py:234–238).

The reference's Excel sheets carry 3 junk rows, the real header at row
index 3, and data from row 4 — positional row addressing is part of the
data model (SURVEY.md §1.1).

Spark mapping (round 15, guide §4 — eliminate the Python boundary):
header promotion used ``rdd.zipWithIndex``, which pickles EVERY row out
to Python workers and back (two full row-format conversions). Only the
first ``max(header_row + 1, data_start)`` rows are positional, so only
they are addressed: a frozen ``monotonically_increasing_id`` tags every
row, one bounded ``limit(...).collect()`` returns the leading rows in
zipWithIndex order with their tags, and the data is every row whose tag
is not among the dropped ones. No row crosses the Python boundary, and
the data plan is a codegen'd filter over the checkpoint.
Excel bytes are parsed by the repo's stdlib-only SpreadsheetML reader
(:mod:`.xlsx_lite` — the format is public ECMA-376 ZIP+XML), so a
workbook's rows do not depend on which optional wheels are installed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .readers import check_exists, read_csv_headerless
from .xlsx_lite import read_sheet


def _dedupe_header_names(header_vals) -> list[str]:
    """Duplicate/blank header cells are disambiguated as ``col``, ``col_2``…
    (pandas would error; we pick the lenient path and document it)."""
    names: list[str] = []
    seen: dict[str, int] = {}
    for i, v in enumerate(header_vals):
        name = str(v) if v is not None and str(v).strip() else f"_c{i}"
        n = seen.get(name, 0) + 1
        seen[name] = n
        names.append(name if n == 1 else f"{name}_{n}")
    return names


def promote_header(
    df: DataFrame, header_row: int = 3, data_start: int = 4
) -> DataFrame:
    """Row ``header_row`` becomes the column names; rows < ``data_start``
    are dropped (reference app.py:236–238).

    ``_mid`` (``monotonically_increasing_id``) is FROZEN by an eager
    localCheckpoint — it is otherwise re-evaluated per action, and the
    drop filter below must see the tags the head collect saw. A limit
    collect takes partitions in index order and rows in partition order,
    which is zipWithIndex's order, so the head list is positions
    0..n-1 exactly. Raises ``ValueError`` when the sheet has no row
    ``header_row``.
    """
    from pyspark.sql import functions as F

    base = df.withColumn(
        "_mid", F.monotonically_increasing_id()
    ).localCheckpoint()
    head = base.limit(max(header_row + 1, data_start)).collect()
    if len(head) <= header_row:
        raise ValueError(
            f"sheet has {len(head)} rows; header row {header_row} "
            "does not exist"
        )
    names = _dedupe_header_names(head[header_row][:-1])
    dropped = [r["_mid"] for r in head[:data_start]]
    data = base.filter(~F.col("_mid").isin(dropped)).drop("_mid")
    return data.toDF(*names)


def read_participants_csv(
    spark: SparkSession, path: str, header_row: int = 3, data_start: int = 4
) -> DataFrame:
    """Header-displaced participants sheet exported as CSV → promoted frame."""
    return promote_header(
        read_csv_headerless(spark, path), header_row, data_start
    )


def read_participants_excel(
    spark: SparkSession, path: str, header_row: int = 3, data_start: int = 4
) -> DataFrame:
    """S1: Excel participants sheet (sheet 0) → promoted frame.

    The stdlib :mod:`.xlsx_lite` parser reads the rows driver-side; the
    frame gets the headerless CSV reader's all-string ``_c0.._cN`` schema,
    so a blank column stays ``string`` and an empty sheet reaches
    :func:`promote_header`'s ``ValueError``.
    """
    check_exists(path)
    from pyspark.sql.types import StringType, StructField, StructType

    rows = read_sheet(path, sheet=0)
    width = len(rows[0]) if rows else 0
    schema = StructType(
        [StructField(f"_c{i}", StringType()) for i in range(width)]
    )
    return promote_header(
        spark.createDataFrame(rows, schema), header_row, data_start
    )


RENAME_MAP = {
    # Messy source headers → canonical names (reference app.py:240–245;
    # note the trailing space in "Nombres " is in the real data).
    "Rut (con punto y con guión)": "rut",
    "Nombres ": "nombres",
    "Apellidos": "apellidos",
    "Correo electrónico": "email",
}


def rename_participant_columns(df: DataFrame) -> DataFrame:
    """P2 column rename with the reference's exact header map."""
    present = {k: v for k, v in RENAME_MAP.items() if k in df.columns}
    return df.withColumnsRenamed(present)
