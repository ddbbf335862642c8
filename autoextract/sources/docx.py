"""DOCX ingestion — OOXML WordprocessingML → ordered spans.

The enterprise document format next to PDF: a DOCX is a ZIP (stdlib
``zipfile``) whose ``word/document.xml`` holds the body as ``<w:p>``
paragraphs of ``<w:r>`` runs of ``<w:t>`` text, with ``pStyle`` marking
headings, ``<w:tbl>``/``<w:tr>``/``<w:tc>`` tables, and ``<w:drawing>``/
``<w:blipFill>`` image anchors.  This module parses that structure into
the engine's span vocabulary — text spans in document order, heading
spans with levels, one ``table`` media span per table (its cells also
emitted as structured rows by ``parse_docx_tables``), one ``image`` media
span per drawing — matching how the PDF/HTML legs emit interleaved
text + media_ref streams (SURVEY.md §2 P-family).

Parsing is regex-over-XML on machine-generated markup (the same stance
as the sitemap/feed parsers: WordprocessingML from real writers is
canonical-form XML; a DOM library adds nothing but a dependency).
Malformed payloads yield zero spans (O6 containment).

Spark shape: one per-row ``mapInArrow`` kernel over the binary column —
narrow, zero shuffles; the ZIP inflate is stdlib C speed.
"""

from __future__ import annotations

import io
import re
import zipfile

from pyspark.sql import DataFrame

from ..operators._docwise import parsed_rows
from ._zip import zip_package

SPANS_SCHEMA = (
    "doc_id string, seq int, kind string, text string, level int"
)

_P_RE = re.compile(r"(?s)<w:p[ >].*?</w:p>|<w:p/>")
_TBL_RE = re.compile(r"(?s)<w:tbl>.*?</w:tbl>")
_T_RE = re.compile(r"(?s)<w:t(?: [^>]*)?>(.*?)</w:t>")
_STYLE_RE = re.compile(r'<w:pStyle w:val="Heading([0-9])"')
_TR_RE = re.compile(r"(?s)<w:tr[ >].*?</w:tr>|<w:tr>.*?</w:tr>")
_TC_RE = re.compile(r"(?s)<w:tc>.*?</w:tc>")
_DRAW_RE = re.compile(r"<w:drawing>|<w:pict>")


def _unescape(s: str) -> str:
    for a, b in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                 ("&apos;", "'"), ("&amp;", "&")):
        s = s.replace(a, b)
    return s


def _para_text(p_xml: str) -> str:
    return _unescape("".join(_T_RE.findall(p_xml)))


def parse_docx(data: bytes) -> list[dict]:
    """DOCX bytes → ordered spans: ``{seq, kind, text, level}`` with kind
    ∈ {``heading``, ``text``, ``table``, ``image``}.  Table spans carry
    the flattened cell text (row cells joined by `` | ``, rows by
    newline); image anchors emit an ``image`` span with empty text."""
    out: list[dict] = []
    try:
        with zipfile.ZipFile(io.BytesIO(data)) as z:
            xml = z.read("word/document.xml").decode("utf-8", "replace")
    except Exception:  # O6: not a zip / no document part
        return out
    body_m = re.search(r"(?s)<w:body>(.*)</w:body>", xml)
    if not body_m:
        return out
    body = body_m.group(1)
    # split the body into top-level blocks: tables first (they contain
    # paragraphs), then paragraphs outside tables — order preserved by
    # scanning block boundaries
    pos, seq = 0, 0
    blocks: list[tuple[str, str]] = []
    while pos < len(body):
        mt = _TBL_RE.search(body, pos)
        mp = _P_RE.search(body, pos)
        if mt and (not mp or mt.start() <= mp.start()):
            blocks.append(("tbl", mt.group(0)))
            pos = mt.end()
        elif mp:
            blocks.append(("p", mp.group(0)))
            pos = mp.end()
        else:
            break
    for kind, xml_block in blocks:
        if kind == "tbl":
            rows = []
            for tr in _TR_RE.findall(xml_block):
                cells = [_para_text(tc) for tc in _TC_RE.findall(tr)]
                rows.append(" | ".join(cells))
            out.append({"seq": seq, "kind": "table",
                        "text": "\n".join(rows), "level": None})
            seq += 1
            continue
        if _DRAW_RE.search(xml_block):
            out.append({"seq": seq, "kind": "image", "text": "", "level": None})
            seq += 1
            # a drawing paragraph may still carry caption text
        text = _para_text(xml_block)
        if not text.strip():
            continue
        m = _STYLE_RE.search(xml_block)
        out.append({
            "seq": seq,
            "kind": "heading" if m else "text",
            "text": text,
            "level": int(m.group(1)) if m else None,
        })
        seq += 1
    return out


def parse_docx_tables(data: bytes) -> list[dict]:
    """DOCX bytes → structured table cells ``{table_id, row, col, text}``
    (the DOCX analogue of ``operators/tables.reconstruct_tables``)."""
    out: list[dict] = []
    try:
        with zipfile.ZipFile(io.BytesIO(data)) as z:
            xml = z.read("word/document.xml").decode("utf-8", "replace")
    except Exception:
        return out
    for ti, tbl in enumerate(_TBL_RE.findall(xml)):
        for ri, tr in enumerate(_TR_RE.findall(tbl)):
            for ci, tc in enumerate(_TC_RE.findall(tr)):
                out.append({"table_id": ti, "row": ri, "col": ci,
                            "text": _para_text(tc)})
    return out


def _escape(s: str) -> str:
    return (s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;"))


def build_docx(blocks: list[tuple]) -> bytes:
    """Fixture builder: a minimal valid DOCX from block tuples —
    ``("text", s)``, ``("heading", level, s)``, ``("table", [[cells]])``,
    ``("image",)`` — with the required OOXML package parts."""
    parts = []
    for b in blocks:
        if b[0] == "text":
            parts.append(f"<w:p><w:r><w:t>{_escape(b[1])}</w:t></w:r></w:p>")
        elif b[0] == "heading":
            parts.append(
                f'<w:p><w:pPr><w:pStyle w:val="Heading{b[1]}"/></w:pPr>'
                f"<w:r><w:t>{_escape(b[2])}</w:t></w:r></w:p>"
            )
        elif b[0] == "table":
            rows = "".join(
                "<w:tr>" + "".join(
                    f"<w:tc><w:p><w:r><w:t>{_escape(c)}</w:t></w:r></w:p></w:tc>"
                    for c in row
                ) + "</w:tr>"
                for row in b[1]
            )
            parts.append(f"<w:tbl>{rows}</w:tbl>")
        elif b[0] == "image":
            parts.append("<w:p><w:r><w:drawing></w:drawing></w:r></w:p>")
    doc = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<w:document xmlns:w="http://schemas.openxmlformats.org/'
        'wordprocessingml/2006/main"><w:body>'
        + "".join(parts)
        + "</w:body></w:document>"
    )
    return zip_package([
        (
            "[Content_Types].xml",
            '<?xml version="1.0"?><Types xmlns="http://schemas.'
            'openxmlformats.org/package/2006/content-types">'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/word/document.xml" ContentType='
            '"application/vnd.openxmlformats-officedocument.'
            'wordprocessingml.document.main+xml"/></Types>',
        ),
        (
            "_rels/.rels",
            '<?xml version="1.0"?><Relationships xmlns="http://schemas.'
            'openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats'
            '.org/officeDocument/2006/relationships/officeDocument" '
            'Target="word/document.xml"/></Relationships>',
        ),
        ("word/document.xml", doc),
    ])


def docx_spans(docs: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Arrow-batched DOCX → span rows ``(doc_id, seq, kind, text, level)``
    in document order.  Narrow stage, zero shuffles."""

    return parsed_rows(docs, parse_docx, SPANS_SCHEMA, payload_col)
