"""Minimal stdlib-only ``.xlsx`` reader (SpreadsheetML, ECMA-376 — a
public format: a ZIP of XML parts).

S1 (reference app.py:234 ``pd.read_excel``) reads every workbook through
this parser, so the rows never depend on an optional Excel wheel
(openpyxl/xlrd). The subset implemented here is what a roster workbook
needs —
``zipfile`` + ``xml.etree`` over:

- ``xl/workbook.xml`` + ``xl/_rels/workbook.xml.rels``: sheet order →
  worksheet part path (sheet 0 selection honors workbook order, not zip
  entry order);
- ``xl/sharedStrings.xml``: the shared-string table real Excel writes
  (``<si><t>`` and rich-text ``<si><r><t>`` runs, concatenated);
- the worksheet's ``<sheetData>``: sparse cells via the ``r`` cell ref
  (absent cells → None), cell types ``s`` (shared), ``inlineStr``,
  ``str`` (formula result), ``b`` (boolean) and numeric/default ``<v>``.

Everything is returned as *strings* (or None) — the reference reads with
``dtype=str`` and all downstream normalization (rut/email cleanup) is
string-typed, so no numeric coercion belongs here. Numbers appear as
Excel stored them (e.g. ``12345.0`` stays ``12345.0``'s shortest repr).

Not implemented (documented, raises or ignores cleanly): XLSB, encrypted
workbooks, 1904 date system conversion (dates surface as serial-number
strings), and cells beyond column ZZ are supported via the general
A1-ref parser (no artificial width cap).
"""

from __future__ import annotations

import re
import zipfile
from xml.etree import ElementTree as ET

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_NS_R = (
    "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
)
_CELL_REF = re.compile(r"^([A-Z]+)(\d+)$")


def _col_index(letters: str) -> int:
    """A→0, B→1, …, Z→25, AA→26 (base-26 bijective)."""
    idx = 0
    for ch in letters:
        idx = idx * 26 + (ord(ch) - ord("A") + 1)
    return idx - 1


def _shared_strings(z: zipfile.ZipFile) -> list[str]:
    try:
        data = z.read("xl/sharedStrings.xml")
    except KeyError:
        return []
    root = ET.fromstring(data)
    out: list[str] = []
    for si in root.findall(f"{_NS}si"):
        # plain <si><t> or rich-text runs <si><r><t>…</r> — concatenate
        texts = [t.text or "" for t in si.iter(f"{_NS}t")]
        out.append("".join(texts))
    return out


def _sheet_paths(z: zipfile.ZipFile) -> list[str]:
    """Worksheet part paths in WORKBOOK order (sheet 0 = first tab)."""
    rels = {}
    for rel in ET.fromstring(z.read("xl/_rels/workbook.xml.rels")):
        target = rel.get("Target")
        if target.startswith("/"):
            target = target.lstrip("/")
        else:
            target = "xl/" + target
        rels[rel.get("Id")] = target
    wb = ET.fromstring(z.read("xl/workbook.xml"))
    paths = []
    for sheet in wb.find(f"{_NS}sheets"):
        rid = sheet.get(f"{_NS_R}id")
        if rid in rels:
            paths.append(rels[rid])
    return paths


def _cell_value(c: ET.Element, shared: list[str]) -> str | None:
    t = c.get("t", "n")
    if t == "inlineStr":
        is_el = c.find(f"{_NS}is")
        if is_el is None:
            return None
        return "".join(x.text or "" for x in is_el.iter(f"{_NS}t"))
    v = c.find(f"{_NS}v")
    if v is None or v.text is None:
        return None
    if t == "s":
        return shared[int(v.text)]
    if t == "b":
        return "TRUE" if v.text.strip() == "1" else "FALSE"
    # t in ("str", "n", "e", "d") — surface the stored text as-is
    return v.text


def read_sheet(path: str, sheet: int = 0) -> list[list[str | None]]:
    """Sheet ``sheet`` of workbook ``path`` as a rectangular list of rows
    (all values str or None; trailing all-None rows/cells preserved up to
    the max seen extent so positional header promotion stays stable)."""
    with zipfile.ZipFile(path) as z:
        shared = _shared_strings(z)
        paths = _sheet_paths(z)
        if not paths:
            raise ValueError(f"{path}: workbook declares no sheets")
        if sheet >= len(paths):
            raise IndexError(
                f"{path}: sheet {sheet} requested, workbook has {len(paths)}"
            )
        root = ET.fromstring(z.read(paths[sheet]))
    rows: dict[int, dict[int, str | None]] = {}
    max_row = -1
    max_col = -1
    sheet_data = root.find(f"{_NS}sheetData")
    if sheet_data is None:
        return []
    for row_el in sheet_data.findall(f"{_NS}row"):
        # row index from r attr (1-based); fall back to sequential
        r_attr = row_el.get("r")
        r_idx = int(r_attr) - 1 if r_attr else max_row + 1
        cells = rows.setdefault(r_idx, {})
        next_col = 0
        for c in row_el.findall(f"{_NS}c"):
            ref = c.get("r")
            if ref:
                m = _CELL_REF.match(ref)
                col = _col_index(m.group(1)) if m else next_col
            else:
                col = next_col
            next_col = col + 1
            cells[col] = _cell_value(c, shared)
            max_col = max(max_col, col)
        max_row = max(max_row, r_idx)
    return [
        [rows.get(r, {}).get(c) for c in range(max_col + 1)]
        for r in range(max_row + 1)
    ]

