"""XLSX ingestion — OOXML SpreadsheetML → structured cells.

Spreadsheets are where enterprises keep the tabular data a training/
analytics pipeline wants as rows.  An XLSX is a ZIP whose
``xl/worksheets/sheet1.xml`` holds ``<c r="B2" t="s"><v>…</v></c>``
cells — ``t="s"`` values are indexes into the shared-string table
(``xl/sharedStrings.xml``), ``t="inlineStr"`` carries inline text, no
``t`` means a number.  This module parses that structure into
``(row, col, value, is_number)`` rows: the A1-reference decode, the
shared-string indirection, and entity unescaping are the whole format
for the text-extraction purpose.

Same stance as the DOCX/sitemap parsers: regex over machine-generated
canonical XML, stdlib ``zipfile`` inflate, O6 containment (malformed
payloads yield zero cells).  One per-row ``mapInArrow`` kernel, zero
shuffles.
"""

from __future__ import annotations

import io
import re
import zipfile

from pyspark.sql import DataFrame

from ..operators._docwise import parsed_rows
from ._zip import zip_package

CELLS_SCHEMA = "doc_id string, row int, col int, value string, is_number boolean"

_CELL_RE = re.compile(
    r'(?s)<c r="([A-Z]+)([0-9]+)"((?:[^>]*))>(.*?)</c>'
)
_V_RE = re.compile(r"(?s)<v>(.*?)</v>")
_IS_RE = re.compile(r"(?s)<is><t(?: [^>]*)?>(.*?)</t></is>")
_SI_RE = re.compile(r"(?s)<si>(.*?)</si>")
_T_RE = re.compile(r"(?s)<t(?: [^>]*)?>(.*?)</t>")


def _unescape(s: str) -> str:
    for a, b in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                 ("&apos;", "'"), ("&amp;", "&")):
        s = s.replace(a, b)
    return s


def _col_index(letters: str) -> int:
    """A→0, B→1, …, Z→25, AA→26 (the bijective base-26 A1 scheme)."""
    n = 0
    for ch in letters:
        n = n * 26 + (ord(ch) - ord("A") + 1)
    return n - 1


def parse_xlsx(data: bytes, sheet: str = "xl/worksheets/sheet1.xml") -> list[dict]:
    """XLSX bytes → cells ``{row, col, value, is_number}`` (0-indexed)."""
    out: list[dict] = []
    try:
        with zipfile.ZipFile(io.BytesIO(data)) as z:
            sheet_xml = z.read(sheet).decode("utf-8", "replace")
            try:
                ss_xml = z.read("xl/sharedStrings.xml").decode("utf-8", "replace")
            except KeyError:
                ss_xml = ""
    except Exception:  # O6 containment
        return out
    shared = [
        _unescape("".join(_T_RE.findall(si))) for si in _SI_RE.findall(ss_xml)
    ]
    for letters, rownum, attrs, body in _CELL_RE.findall(sheet_xml):
        col = _col_index(letters)
        row = int(rownum) - 1
        m_t = re.search(r't="([a-zA-Z]+)"', attrs)
        t = m_t.group(1) if m_t else None
        if t == "s":
            m = _V_RE.search(body)
            if not m:
                continue
            try:
                value = shared[int(m.group(1))]
            except (ValueError, IndexError):
                continue
            out.append({"row": row, "col": col, "value": value,
                        "is_number": False})
        elif t == "inlineStr":
            m = _IS_RE.search(body)
            if m:
                out.append({"row": row, "col": col,
                            "value": _unescape(m.group(1)),
                            "is_number": False})
        else:  # numeric (or formula result)
            m = _V_RE.search(body)
            if m:
                out.append({"row": row, "col": col, "value": m.group(1),
                            "is_number": True})
    return out


def _escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _col_letters(idx: int) -> str:
    idx += 1
    s = ""
    while idx:
        idx, r = divmod(idx - 1, 26)
        s = chr(ord("A") + r) + s
    return s


def build_xlsx(rows: list[list], inline_strings: bool = False) -> bytes:
    """Fixture builder: a minimal valid XLSX from a row-major value grid —
    str values go through the shared-string table (or ``t="inlineStr"``
    when requested), int/float values inline as numbers."""
    shared: list[str] = []
    cells_xml: list[str] = []
    for ri, row in enumerate(rows):
        row_cells = []
        for ci, v in enumerate(row):
            if v is None:
                continue
            ref = f"{_col_letters(ci)}{ri + 1}"
            if isinstance(v, str):
                if inline_strings:
                    row_cells.append(
                        f'<c r="{ref}" t="inlineStr"><is><t>{_escape(v)}'
                        f"</t></is></c>"
                    )
                else:
                    if v not in shared:
                        shared.append(v)
                    row_cells.append(
                        f'<c r="{ref}" t="s"><v>{shared.index(v)}</v></c>'
                    )
            else:
                row_cells.append(f'<c r="{ref}"><v>{v}</v></c>')
        cells_xml.append(f'<row r="{ri + 1}">' + "".join(row_cells) + "</row>")
    sheet = (
        '<?xml version="1.0"?><worksheet xmlns="http://schemas.'
        'openxmlformats.org/spreadsheetml/2006/main"><sheetData>'
        + "".join(cells_xml)
        + "</sheetData></worksheet>"
    )
    ss = (
        '<?xml version="1.0"?><sst xmlns="http://schemas.openxmlformats'
        f'.org/spreadsheetml/2006/main" count="{len(shared)}" '
        f'uniqueCount="{len(shared)}">'
        + "".join(f"<si><t>{_escape(s)}</t></si>" for s in shared)
        + "</sst>"
    )
    members = [
        (
            "[Content_Types].xml",
            '<?xml version="1.0"?><Types xmlns="http://schemas.'
            'openxmlformats.org/package/2006/content-types">'
            '<Default Extension="xml" ContentType="application/xml"/>'
            "</Types>",
        ),
        ("xl/worksheets/sheet1.xml", sheet),
    ]
    if shared:
        members.append(("xl/sharedStrings.xml", ss))
    return zip_package(members)


def xlsx_cells(docs: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Arrow-batched XLSX → cell rows ``(doc_id, row, col, value,
    is_number)``.  Narrow stage, zero shuffles."""

    return parsed_rows(docs, parse_xlsx, CELLS_SCHEMA, payload_col)
