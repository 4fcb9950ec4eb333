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
Excel bytes are parsed by ``pd.read_excel`` when an engine wheel
(openpyxl/xlrd) is importable, else by the repo's stdlib-only
SpreadsheetML reader (:mod:`.xlsx_lite` — the format is public ECMA-376
ZIP+XML), so ``.xlsx`` ingestion is first-class in every environment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .readers import check_exists, read_csv_headerless


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

    Driver-side pandas read (Arrow-accelerated createDataFrame) via
    ``pd.read_excel`` when an Excel engine wheel is importable, else the
    stdlib :mod:`.xlsx_lite` parser — same all-string frame either way.
    """
    check_exists(path)
    df = spark.createDataFrame(_excel_sheet_reader(path))
    return promote_header(df, header_row, data_start)


def _excel_sheet_reader(path: str):
    """Per-file reader for the single- and many-workbook scans: sheet 0 of
    an Excel workbook as an all-string pandas frame. Prefers a real Excel
    engine (openpyxl/xlrd) when one is importable — broader format support
    (xls, xlsb via extras) — and falls back to the repo's stdlib
    SpreadsheetML reader, which covers the .xlsx subset rosters use."""
    import pandas as pd

    try:
        pdf = pd.read_excel(path, sheet_name=0, header=None, dtype=str)
        return pdf.where(pdf.notna(), None)
    except ImportError:  # openpyxl/xlrd missing → stdlib parser
        from .xlsx_lite import read_sheet_pandas

        return read_sheet_pandas(path, sheet=0)


def csv_sheet_reader(path: str):
    """Headerless-CSV twin of :func:`_excel_sheet_reader` — the same
    header-displaced sheet layout exported to CSV (works everywhere; used
    by the in-container e2e test of the distributed scan)."""
    import pandas as pd

    pdf = pd.read_csv(
        path, header=None, dtype=str, keep_default_na=False, skip_blank_lines=False
    )
    return pdf.where(pdf != "", None)


def read_participants_many(
    spark: SparkSession,
    paths: list[str],
    header_row: int = 3,
    data_start: int = 4,
    reader=_excel_sheet_reader,
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed many-workbook ingestion (the scale path S1 lacks):
    ship the PATH LIST across executors and let each task open its own
    workbooks — the driver never materializes sheet data, so a thousand
    rosters ingest in parallel instead of serially through
    ``pd.read_excel`` on the driver.

    Per file (executor-side, pandas in-memory — a single sheet is small
    by construction of the format): positional header promotion at
    ``header_row``, data from ``data_start`` (reference app.py:236–238),
    the messy-header rename (app.py:240–245), then projection onto the
    canonical (rut, nombres, apellidos, email) contract — absent columns
    are null, extra columns drop. ``source_file`` carries provenance so
    downstream dedup can attribute collisions to a workbook.
    """
    import pandas as pd

    for p in paths:
        check_exists(p)
    if num_partitions is None:
        num_partitions = max(1, min(len(paths), 64))
    paths_df = spark.createDataFrame(
        [(p,) for p in paths], "path string"
    ).repartition(num_partitions)
    out_cols = ("rut", "nombres", "apellidos", "email")

    def scan(batches):
        for batch in batches:
            for path in batch["path"]:
                pdf = reader(path)
                names = _dedupe_header_names(pdf.iloc[header_row].tolist())
                data = pdf.iloc[data_start:].copy()
                data.columns = names
                data = data.rename(
                    columns={
                        k: v for k, v in RENAME_MAP.items() if k in data.columns
                    }
                )
                # explicit index: when a workbook yields NONE of the
                # canonical columns the dict would be all scalars and
                # pd.DataFrame raises an opaque "must pass an index"
                # executor error — with the index, absent columns become
                # null Series of the right length instead
                out = pd.DataFrame(
                    {
                        c: (data[c] if c in data.columns else None)
                        for c in out_cols
                    },
                    index=data.index,
                )
                out["source_file"] = path
                yield out

    return paths_df.mapInPandas(
        scan,
        "rut string, nombres string, apellidos string, email string, "
        "source_file string",
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
