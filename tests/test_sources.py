"""Header promotion (P1/P2) and variant dispatch (F1–F4) through real files
— the reference's actual input contracts (FIXTURES.md §1, §3)."""

from __future__ import annotations

import pytest


@pytest.fixture()
def participants_csv(tmp_path):
    # 3 junk rows, header at row index 3 (with the infamous trailing space
    # in "Nombres "), data from row 4 — FIXTURES.md §1 / app.py:236–238.
    lines = [
        "Listado de participantes,,,,",
        ",,,,",
        "Generado: 2026-01-01,,,,",
        'Rut (con punto y con guión),Nombres ,Apellidos,Correo electrónico,ExtraCol1',
        '11.111.111-1,maría josé,o\'higgins del río,mj@x.cl,z1',
        "22.222.222-2,pedro,soto,pedro@y.cl ; otro@z.cl,z2",
        ",sin rut,perez,x@y.cl,z3",
        "33.333.333-3,,lopez,y@z.cl,z4",
    ]
    p = tmp_path / "participants.csv"
    p.write_text("\n".join(lines), encoding="utf-8")
    return str(p)


def test_header_promotion_and_pipeline(spark, participants_csv):
    from etl_moodle_and_mass_email_sending_spark.plans.moodle import (
        MoodleParams,
        normalize_to_moodle,
    )
    from etl_moodle_and_mass_email_sending_spark.sources.excel import (
        read_participants_csv,
        rename_participant_columns,
    )

    raw = read_participants_csv(spark, participants_csv)
    assert raw.columns[:4] == [
        "Rut (con punto y con guión)",
        "Nombres ",
        "Apellidos",
        "Correo electrónico",
    ]
    df = rename_participant_columns(raw)
    out = normalize_to_moodle(df, MoodleParams(course_field="C1"))
    rows = {r["username"]: r.asDict() for r in out.collect()}
    # null-rut and null-nombres rows dropped (app.py:247)
    assert len(rows) == 2
    assert rows["mariaohigginsde"]["firstname"] == "María"
    assert rows["mariaohigginsde"]["password"] == "mariaohigginsde2025"
    assert rows["pedrosoto"]["email"] == "pedro@y.cl"
    assert rows["pedrosoto"]["profile_field_rut"] == "22.222.222-2"
    # extra sheet columns carried without breaking the pipeline
    assert "ExtraCol1" in df.columns


def test_header_promotion_duplicate_headers(spark, tmp_path):
    p = tmp_path / "dup.csv"
    p.write_text("j,,,\nj,,,\nj,,,\ncol,col,,x\na,b,c,d\n", encoding="utf-8")
    from etl_moodle_and_mass_email_sending_spark.sources.excel import (
        read_participants_csv,
    )

    df = read_participants_csv(spark, str(p))
    assert df.columns == ["col", "col_2", "_c2", "x"]
    assert df.collect()[0]["col_2"] == "b"


@pytest.mark.parametrize("header_row,data_start", [(3, 4), (1, 5), (2, 2)])
def test_header_promotion_matches_zip_with_index(
    spark, header_row, data_start
):
    """Positions are zipWithIndex's: partition index first, then row order
    inside the partition — across empty leading partitions and a first
    non-empty partition shorter than ``data_start``."""
    from etl_moodle_and_mass_email_sending_spark.sources.excel import (
        promote_header,
    )

    rows = [(f"a{i}", None if i % 5 == 0 else f"b{i}") for i in range(40)]
    rows[header_row] = ("h1", "h2")
    sizes = [0, 0, 2, 0, 3, 1, 0, 34]  # one list per partition, in order
    parts, at = [], 0
    for n in sizes:
        parts.append(rows[at:at + n])
        at += n
    rdd = spark.sparkContext.parallelize(parts, len(parts)).flatMap(
        lambda part: part
    )
    raw = spark.createDataFrame(rdd, "x string, y string")
    assert raw.rdd.glom().map(len).collect() == sizes

    indexed = raw.rdd.zipWithIndex().collect()
    header = [r for r, i in indexed if i == header_row][0]
    expected = [tuple(r) for r, i in indexed if i >= data_start]

    out = promote_header(raw, header_row, data_start)
    assert out.columns == list(header)
    assert [tuple(r) for r in out.collect()] == expected


def test_header_promotion_short_sheet_raises(spark):
    from etl_moodle_and_mass_email_sending_spark.sources.excel import (
        promote_header,
    )

    raw = spark.createDataFrame([("j",), ("j",), ("j",)], "x string")
    with pytest.raises(ValueError, match="3 rows; header row 3"):
        promote_header(raw, header_row=3, data_start=4)


@pytest.mark.parametrize(
    "header,expected",
    [
        ("email,usuario,nombre,contrasena", "old"),
        ("Email,Username,Password,firstname,lastname", "moodle"),
        ("email,password", "fallback"),
        ("email", "fallback"),
    ],
)
def test_variant_detection(spark, header, expected):
    from etl_moodle_and_mass_email_sending_spark.sources.csv_variants import (
        detect_variant,
    )

    df = spark.createDataFrame(
        [tuple("x" for _ in header.split(","))], header.split(",")
    )
    assert detect_variant(df) == expected


def test_fallback_coalesce_from_file(spark, tmp_path):
    """Reference app.py:302–306: usuario ← usuario|username|local-part,
    contrasena ← contrasena|password|''; blank-email rows dropped."""
    p = tmp_path / "mail.csv"
    p.write_text(
        "email,password\nana@x.cl,s3cret\n,skipme\nbob@y.cl,\n",
        encoding="utf-8",
    )
    from etl_moodle_and_mass_email_sending_spark.sources.csv_variants import (
        normalize_recipients,
    )
    from etl_moodle_and_mass_email_sending_spark.sources.readers import (
        read_csv_all_string,
    )

    out = normalize_recipients(read_csv_all_string(spark, str(p)))
    rows = {r["email"]: r.asDict() for r in out.collect()}
    assert set(rows) == {"ana@x.cl", "bob@y.cl"}
    assert rows["ana@x.cl"] == {
        "email": "ana@x.cl",
        "nombre": "Ana",
        "usuario": "ana",
        "contrasena": "s3cret",
    }
    assert rows["bob@y.cl"]["contrasena"] == ""


def test_missing_file_guard(spark):
    from etl_moodle_and_mass_email_sending_spark.sources.readers import (
        read_csv_all_string,
    )

    with pytest.raises(FileNotFoundError):
        read_csv_all_string(spark, "/nonexistent/x.csv")


def test_xlsx_fixture_is_regenerable(tmp_path):
    """The committed participants.xlsx must equal what the stdlib-only
    generator produces (byte-stable zip, fixed timestamps) — guards
    against a hand-edited or corrupted fixture binary."""
    import os

    from fixtures.make_participants_xlsx import build

    out = tmp_path / "participants.xlsx"
    build(str(out))
    fixture = os.path.join(
        os.path.dirname(__file__), "fixtures", "participants.xlsx"
    )
    with open(fixture, "rb") as f:
        assert out.read_bytes() == f.read()


def test_excel_end_to_end(spark):
    """S1 against a REAL .xlsx binary (4 junk rows, trailing-space header):
    read → rename → normalize, full pipeline, through the stdlib
    SpreadsheetML parser (xlsx_lite)."""
    import os

    from etl_moodle_and_mass_email_sending_spark.plans.moodle import (
        MoodleParams,
        normalize_to_moodle,
    )
    from etl_moodle_and_mass_email_sending_spark.sources.excel import (
        read_participants_excel,
        rename_participant_columns,
    )

    path = os.path.join(
        os.path.dirname(__file__), "fixtures", "participants.xlsx"
    )
    raw = read_participants_excel(spark, path)
    df = rename_participant_columns(raw)
    assert {"rut", "nombres", "apellidos", "email"} <= set(df.columns)
    rows = {
        r.email: r
        for r in normalize_to_moodle(
            df, MoodleParams(course_field="C-XL")
        ).collect()
    }
    # 8 data rows, minus the null-rut and the null-nombres row
    assert len(rows) == 6
    # multi-token first name → first token; accents folded in username
    assert rows["mjperez@u.cl"].firstname == "María"
    assert rows["mjperez@u.cl"].username.startswith("mariaperez")
    # multi-email cell → first token containing '@'
    assert "angel@u.cl" in rows
    # whitespace-padded email trimmed by pick_email
    assert "jn@u.cl" in rows
    assert all(r.course1 == "C-XL" for r in rows.values())


def test_merge_upsert_latest_wins(spark, tmp_path):
    from etl_moodle_and_mass_email_sending_spark.sinks.upsert import merge_upsert

    snap = str(tmp_path / "snap")
    base = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1), (3, "c", 1)], "k long, v string, ver int"
    )
    merge_upsert(spark, snap, base, key="k")
    upd = spark.createDataFrame(
        [(2, "B", 2), (4, "d", 2)], "k long, v string, ver int"
    )
    merge_upsert(spark, snap, upd, key="k")
    got = {
        (r["k"], r["v"], r["ver"])
        for r in spark.read.parquet(snap).collect()
    }
    assert got == {(1, "a", 1), (2, "B", 2), (3, "c", 1), (4, "d", 2)}


def test_merge_upsert_version_col_and_duplicate_guard(spark, tmp_path):
    import pytest as _pytest

    from etl_moodle_and_mass_email_sending_spark.sinks.upsert import merge_upsert

    snap = str(tmp_path / "snap2")
    base = spark.createDataFrame([(1, "a", 1)], "k long, v string, ver int")
    merge_upsert(spark, snap, base, key="k")
    dup = spark.createDataFrame(
        [(1, "B", 2), (1, "C", 3)], "k long, v string, ver int"
    )
    with _pytest.raises(ValueError, match="duplicate keys"):
        merge_upsert(spark, snap, dup, key="k")
    merge_upsert(spark, snap, dup, key="k", version_col="ver")
    got = {(r["k"], r["v"]) for r in spark.read.parquet(snap).collect()}
    assert got == {(1, "C")}


def test_merge_upsert_recovers_from_interrupted_swap(spark, tmp_path):
    import os
    import shutil

    from etl_moodle_and_mass_email_sending_spark.sinks.upsert import merge_upsert

    snap = str(tmp_path / "snap3")
    base = spark.createDataFrame([(1, "a", 1)], "k long, v string, ver int")
    merge_upsert(spark, snap, base, key="k")
    # simulate dying between the two swap renames: snapshot moved aside
    os.rename(snap, snap + ".old")
    upd = spark.createDataFrame([(2, "b", 1)], "k long, v string, ver int")
    merge_upsert(spark, snap, upd, key="k")
    got = {(r["k"], r["v"]) for r in spark.read.parquet(snap).collect()}
    assert got == {(1, "a"), (2, "b")}  # old row recovered, update applied
    assert not os.path.isdir(snap + ".old")


# --------------------------------------------------------------------------
# stdlib SpreadsheetML reader (xlsx_lite) — the one Excel parser.
# The committed fixture uses inlineStr cells; real Excel writes a
# sharedStrings table, so these tests build that layout too.
# --------------------------------------------------------------------------


def _write_shared_strings_xlsx(path, sheets):
    """Minimal sharedStrings-style workbook (the layout Excel itself
    writes): ``sheets`` is a list of (name, rows) where a row is a list of
    (col_letter_ref_or_None, type, value) triples already XML-encoded by
    the caller's choice of helper below."""
    import zipfile

    sheet_overrides = "".join(
        f'<Override PartName="/xl/worksheets/sheet{i + 1}.xml" ContentType='
        '"application/vnd.openxmlformats-officedocument.spreadsheetml.'
        'worksheet+xml"/>'
        for i in range(len(sheets))
    )
    wb_sheets = "".join(
        f'<sheet name="{name}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
        for i, (name, _) in enumerate(sheets)
    )
    wb_rels = "".join(
        f'<Relationship Id="rId{i + 1}" Type="http://schemas.openxmlformats'
        '.org/officeDocument/2006/relationships/worksheet" '
        f'Target="worksheets/sheet{i + 1}.xml"/>'
        for i in range(len(sheets))
    )
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    parts = {
        "[Content_Types].xml": (
            '<?xml version="1.0"?>'
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
            'content-types">'
            '<Default Extension="rels" ContentType="application/vnd.'
            'openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/'
            'vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/sharedStrings.xml" ContentType='
            '"application/vnd.openxmlformats-officedocument.spreadsheetml.'
            'sharedStrings+xml"/>' + sheet_overrides + "</Types>"
        ),
        "_rels/.rels": (
            '<?xml version="1.0"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
            '2006/relationships"><Relationship Id="rId1" Type="http://schemas'
            '.openxmlformats.org/officeDocument/2006/relationships/'
            'officeDocument" Target="xl/workbook.xml"/></Relationships>'
        ),
        "xl/workbook.xml": (
            f'<?xml version="1.0"?><workbook xmlns="{ns}" xmlns:r="http://'
            'schemas.openxmlformats.org/officeDocument/2006/relationships">'
            f"<sheets>{wb_sheets}</sheets></workbook>"
        ),
        "xl/_rels/workbook.xml.rels": (
            '<?xml version="1.0"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
            f'2006/relationships">{wb_rels}</Relationships>'
        ),
        # shared strings incl. a rich-text run entry (index 2)
        "xl/sharedStrings.xml": (
            f'<?xml version="1.0"?><sst xmlns="{ns}" count="3" uniqueCount='
            '"3"><si><t>hello</t></si>'
            '<si><t xml:space="preserve">trailing </t></si>'
            "<si><r><t>ri</t></r><r><t>ch</t></r></si></sst>"
        ),
    }
    for i, (_, body) in enumerate(sheets):
        parts[f"xl/worksheets/sheet{i + 1}.xml"] = (
            f'<?xml version="1.0"?><worksheet xmlns="{ns}">'
            f"<sheetData>{body}</sheetData></worksheet>"
        )
    with zipfile.ZipFile(path, "w") as z:
        for name, content in parts.items():
            z.writestr(name, content)


def test_xlsx_lite_shared_strings_types_and_sparse(tmp_path):
    """Shared strings (incl. rich-text runs), booleans, numbers, sparse
    cell refs with gaps, and a row with no r attribute all surface as the
    pandas-read-excel-equivalent all-string grid."""
    from etl_moodle_and_mass_email_sending_spark.sources.xlsx_lite import (
        read_sheet,
    )

    body = (
        # row 1: shared string, number, boolean — sparse: D1 skipped, E1 set
        '<row r="1">'
        '<c r="A1" t="s"><v>0</v></c>'
        '<c r="B1"><v>42.5</v></c>'
        '<c r="C1" t="b"><v>1</v></c>'
        '<c r="E1" t="s"><v>1</v></c>'
        "</row>"
        # row 3 (row 2 entirely absent): rich text + formula-string cell
        '<row r="3">'
        '<c r="A3" t="s"><v>2</v></c>'
        '<c r="B3" t="str"><v>computed</v></c>'
        "</row>"
        # no r attributes at all → sequential placement (row 4, cols A,B)
        "<row><c t=\"s\"><v>0</v></c><c><v>7</v></c></row>"
    )
    p = tmp_path / "t.xlsx"
    _write_shared_strings_xlsx(str(p), [("S1", body)])
    rows = read_sheet(str(p))
    assert rows[0] == ["hello", "42.5", "TRUE", None, "trailing "]
    assert rows[1] == [None] * 5
    assert rows[2] == ["rich", "computed", None, None, None]
    assert rows[3] == ["hello", "7", None, None, None]


def test_xlsx_lite_sheet_selection_and_errors(tmp_path):
    """Sheet 0 follows WORKBOOK tab order; out-of-range sheet raises."""
    import pytest

    from etl_moodle_and_mass_email_sending_spark.sources.xlsx_lite import (
        read_sheet,
    )

    first = '<row r="1"><c r="A1" t="s"><v>0</v></c></row>'
    second = '<row r="1"><c r="A1" t="s"><v>1</v></c></row>'
    p = tmp_path / "two.xlsx"
    _write_shared_strings_xlsx(str(p), [("Uno", first), ("Dos", second)])
    assert read_sheet(str(p), sheet=0) == [["hello"]]
    assert read_sheet(str(p), sheet=1) == [["trailing "]]
    with pytest.raises(IndexError):
        read_sheet(str(p), sheet=2)


def test_excel_blank_column_stays_string(spark, tmp_path):
    """A column blank in every row is a string column named like the
    headerless CSV reader names it, not an inferred void column."""
    from etl_moodle_and_mass_email_sending_spark.sources.excel import (
        read_participants_excel,
    )

    junk = "".join(
        f'<row r="{i}"><c r="A{i}" t="s"><v>0</v></c></row>'
        for i in (1, 2, 3)
    )
    body = junk + (
        '<row r="4"><c r="A4" t="str"><v>rut</v></c>'
        '<c r="C4" t="str"><v>email</v></c></row>'
        '<row r="5"><c r="A5" t="str"><v>1-9</v></c>'
        '<c r="C5" t="str"><v>a@x.cl</v></c></row>'
    )
    p = tmp_path / "blank_col.xlsx"
    _write_shared_strings_xlsx(str(p), [("S1", body)])
    df = read_participants_excel(spark, str(p))
    assert df.dtypes == [
        ("rut", "string"), ("_c1", "string"), ("email", "string")
    ]
    assert [tuple(r) for r in df.collect()] == [("1-9", None, "a@x.cl")]


def test_excel_empty_sheet_raises_value_error(spark, tmp_path):
    """An empty sheet has no header row: promote_header's ValueError."""
    import pytest

    from etl_moodle_and_mass_email_sending_spark.sources.excel import (
        read_participants_excel,
    )

    p = tmp_path / "empty.xlsx"
    _write_shared_strings_xlsx(str(p), [("S1", "")])
    with pytest.raises(ValueError, match="header row 3 does not exist"):
        read_participants_excel(spark, str(p))


def test_jsonl_permissive_quarantines_corrupt_lines(spark, tmp_path):
    """PERMISSIVE JSONL read: good lines parse to typed rows, malformed
    lines survive as _corrupt_record rows with NULL typed columns, and
    jsonl_health rolls both up per source."""
    from etl_moodle_and_mass_email_sending_spark.sources import jsonl

    p = tmp_path / "drop"
    p.mkdir()
    (p / "a.json").write_text(
        '{"doc_id": 1, "text": "hello", "lang": "en", "source": "s1", "n_chars": 5}\n'
        '{"doc_id": 2, "text": "world", "lang": "en", "source": "s2", "n_chars": 5}\n'
        "this line is not json\n"
        '{"doc_id": 3, "text": "again", "lang": "en", "source": "s1", "n_chars": 5}\n'
    )
    docs = jsonl.read_documents_jsonl(spark, str(p))
    rows = docs.collect()
    corrupt = [r for r in rows if r["_corrupt_record"] is not None]
    assert len(corrupt) == 1 and corrupt[0]["doc_id"] is None
    health = {
        r["source"]: r["n_docs"]
        for r in jsonl.jsonl_health(docs).collect()
    }
    assert health == {"s1": 2, "s2": 1, jsonl.CORRUPT_SOURCE_LABEL: 1}


def test_staged_path_builds_once_per_session(spark):
    """staged_path (round 9): the build callback runs once per
    (session, key); later calls return the SAME directory — this is
    what stops bench re-invocations writing fresh full-table copies.
    scratch dirs live under the process root that atexit removes."""
    import os

    from etl_moodle_and_mass_email_sending_spark.operators import util

    calls = []

    def build(path):
        calls.append(path)
        with open(os.path.join(path, "marker"), "w") as f:
            f.write("x")

    p1 = util.staged_path(spark, ("t_staged", "k1"), build)
    p2 = util.staged_path(spark, ("t_staged", "k1"), build)
    p3 = util.staged_path(spark, ("t_staged", "k2"), build)
    assert p1 == p2 and len(calls) == 2  # k1 built once, k2 built once
    assert p3 != p1
    # the scratch dir is named after the key's first element
    assert os.path.basename(p1).startswith("t_staged_")
    assert os.path.basename(p3).startswith("t_staged_")
    assert os.path.exists(os.path.join(p1, "marker"))
    # everything sits under the one atexit-removed scratch root
    assert util._SCRATCH_ROOT is not None
    assert p1.startswith(util._SCRATCH_ROOT)
    assert p3.startswith(util._SCRATCH_ROOT)


def test_csv_corrupt_detection_is_pruning_scoped(spark, tmp_path):
    """The dark corner sources/csv_docs.py documents: Spark's CSV
    reader only parses referenced columns, so a type failure in an
    UNREFERENCED column never fires _corrupt_record. A full-width scan
    sees two corrupt rows; the health rollup (which references n_chars
    but not doc_id) quarantines only the n_chars-corrupt one and
    passes the doc_id-corrupt row as clean — the reason the planted
    drop corrupts n_chars and the health report must reference it."""
    from etl_moodle_and_mass_email_sending_spark.sources import csv_docs

    p = tmp_path / "drop"
    p.mkdir()
    (p / "part.csv").write_text(
        "doc_id,text,lang,source,n_chars\n"
        "1,good,en,web,4\n"
        "2,badchars,en,web,not-a-number\n"
        "oops,badid,en,web,5\n"
    )
    docs = csv_docs.read_documents_csv(spark, str(p))
    full = docs.collect()
    assert sum(r["_corrupt_record"] is not None for r in full) == 2
    rows = {
        r["source"]: (r["n_docs"], r["chars_total"])
        for r in csv_docs.csv_health(docs).collect()
    }
    assert rows[csv_docs.CORRUPT_SOURCE_LABEL] == (1, None)
    assert rows["web"] == (2, 9)  # doc_id-corrupt row passes as clean


def test_orc_roundtrip_pushes_predicate_into_scan(spark):
    """ORC is a first-class source: the staged roundtrip preserves rows
    and a comparison predicate reaches the ORC scan as a pushed
    filter."""
    from pyspark.sql import functions as F

    from etl_moodle_and_mass_email_sending_spark.catalog import load_table
    from etl_moodle_and_mass_email_sending_spark.queries.llmdata import (
        ORC_LONG_MIN_CHARS,
        _staged_orc_drop,
    )

    SF = "/root/testdata/sf0.001"
    drop = _staged_orc_drop(spark, SF)
    docs = spark.read.orc(drop)
    assert docs.count() == load_table(spark, SF, "documents").count()
    plan = (
        docs.filter(F.col("n_chars") >= ORC_LONG_MIN_CHARS)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "n_chars" in plan


def test_schema_evolution_merge_read_null_semantics(spark):
    """mergeSchema serves both epochs from one read: old files surface
    the added column as NULL, new files carry it, history unrewritten."""
    from etl_moodle_and_mass_email_sending_spark.queries.llmdata import (
        SCHEMA_EVO_OFFSET,
        _staged_evolution_drop,
    )

    SF = "/root/testdata/sf0.001"
    drop = _staged_evolution_drop(spark, SF)
    merged = spark.read.option("mergeSchema", "true").parquet(drop)
    assert "quality" in merged.columns
    rows = merged.collect()
    for r in rows:
        if r["epoch"] == 1:
            assert r["quality"] is None
            assert r["doc_id"] < SCHEMA_EVO_OFFSET
        else:
            assert r["quality"] == r["n_chars"] % 100
            assert r["doc_id"] >= SCHEMA_EVO_OFFSET
    assert {r["epoch"] for r in rows} == {1, 2}
