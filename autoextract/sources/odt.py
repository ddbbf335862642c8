"""ODT ingestion — OpenDocument Text → ordered interleaved spans.

The other office standard (ODF 1.2, ISO/IEC 26300; the LibreOffice /
OpenOffice default) next to the OOXML trio: an ODT is a ZIP (stdlib
``zipfile``) whose ``content.xml`` holds the body under
``<office:body><office:text>`` as ``<text:p>`` paragraphs, ``<text:h
text:outline-level="N">`` headings, ``<table:table>`` grids,
``<text:list>`` items and ``<draw:frame>``/``<draw:image
xlink:href>`` anchors.  Parsed into the engine's span vocabulary —
heading spans with levels, text spans, one flattened ``table`` span
per grid (cells `` | ``, rows newline), ``list`` spans (one item per
line), ``image`` spans carrying the package-internal href as
``media_ref`` — matching how the PDF/HTML/DOCX legs emit interleaved
text + media streams (SURVEY.md §2 P-family).

ODF whitespace elements are honoured: ``<text:s text:c="N"/>`` expands
to N spaces, ``<text:tab/>`` to a tab, ``<text:line-break/>`` to a
newline — the spec collapses literal runs of spaces, so real writers
emit these elements and a parser that drops them corrupts text.

Parsing is regex-over-XML on machine-generated markup (the same stance
as the DOCX/sitemap/feed parsers).  Malformed payloads yield zero
spans (O6 containment).

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
    "doc_id string, seq int, kind string, text string, level int,"
    " media_ref string"
)

_H_RE = re.compile(
    r'(?s)<text:h [^>]*text:outline-level="(\d+)"[^>]*>(.*?)</text:h>')
_P_RE = re.compile(r"(?s)<text:p(?: [^>]*)?>(.*?)</text:p>|<text:p[^>]*/>")
_TABLE_RE = re.compile(r"(?s)<table:table[ >].*?</table:table>")
_ROW_RE = re.compile(r"(?s)<table:table-row[ >]?.*?</table:table-row>")
# the self-closing (empty cell) alternative must come FIRST and the
# open-tag match must refuse self-closing tags, else a lazy .*? starting
# at an empty cell would swallow through the next cell's closing tag
_CELL_RE = re.compile(
    r"(?s)<table:table-cell[^>]*/>"
    r"|<table:table-cell(?![^>]*/>)[^>]*>(.*?)</table:table-cell>")
_LIST_RE = re.compile(r"(?s)<text:list[ >].*?</text:list>")
_ITEM_RE = re.compile(r"(?s)<text:list-item>(.*?)</text:list-item>")
_IMG_RE = re.compile(r'<draw:image [^>]*xlink:href="([^"]*)"')
_SPACE_RE = re.compile(r'<text:s(?: text:c="(\d+)")?\s*/>')
_TAG_RE = re.compile(r"<[^>]+>")


def _unescape(s: str) -> str:
    for a, b in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                 ("&apos;", "'"), ("&amp;", "&")):
        s = s.replace(a, b)
    return s


def _text(xml: str) -> str:
    xml = _SPACE_RE.sub(lambda m: " " * int(m.group(1) or 1), xml)
    xml = xml.replace("<text:tab/>", "\t")
    xml = xml.replace("<text:line-break/>", "\n")
    return _unescape(_TAG_RE.sub("", xml))


def parse_odt(data: bytes) -> list[dict]:
    """ODT bytes → ordered spans ``{seq, kind, text, level, media_ref}``
    with kind ∈ {heading, text, table, list, image}."""
    out: list[dict] = []
    try:
        with zipfile.ZipFile(io.BytesIO(data)) as z:
            xml = z.read("content.xml").decode("utf-8", "replace")
    except Exception:  # O6: not a zip / no content part
        return out
    body_m = re.search(r"(?s)<office:text(?: [^>]*)?>(.*)</office:text>",
                       xml)
    if not body_m:
        return out
    body = body_m.group(1)

    seq = 0

    def span(kind, text, level=None, media_ref=None):
        nonlocal seq
        out.append({"seq": seq, "kind": kind, "text": text,
                    "level": level, "media_ref": media_ref})
        seq += 1

    pos = 0
    scanners = [("tbl", _TABLE_RE), ("list", _LIST_RE), ("h", _H_RE),
                ("p", _P_RE)]
    while pos < len(body):
        best = None
        for kind, rx in scanners:
            m = rx.search(body, pos)
            if m and (best is None or m.start() < best[1].start()):
                best = (kind, m)
        if best is None:
            break
        kind, m = best
        pos = m.end()
        if kind == "tbl":
            rows = []
            for tr in _ROW_RE.findall(m.group(0)):
                cells = [_text(c) for c in _CELL_RE.findall(tr)]
                rows.append(" | ".join(cells))
            span("table", "\n".join(rows))
        elif kind == "list":
            items = [_text(i).strip() for i in _ITEM_RE.findall(m.group(0))]
            span("list", "\n".join(x for x in items if x))
        elif kind == "h":
            span("heading", _text(m.group(2)).strip(),
                 level=int(m.group(1)))
        else:
            block = m.group(0)
            img = _IMG_RE.search(block)
            if img:
                span("image", "", media_ref=img.group(1))
            t = _text(block if m.group(1) is None else m.group(1)).strip()
            if t:
                span("text", t)
    return out


def _escape(s: str) -> str:
    return (s.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;"))


def build_odt(blocks: list[tuple]) -> bytes:
    """Fixture builder: a minimal ODF package from block tuples —
    ``("text", s)``, ``("heading", level, s)``, ``("table",
    [[cells]])``, ``("list", [items])``, ``("image", href)``."""
    parts = []
    for b in blocks:
        if b[0] == "text":
            # exercise the ODF whitespace elements: double spaces are
            # emitted as <text:s/> the way real writers do
            t = _escape(b[1]).replace("  ", " <text:s/>")
            parts.append("<text:p text:style-name=\"P1\">%s</text:p>" % t)
        elif b[0] == "heading":
            parts.append(
                '<text:h text:style-name="H%d" text:outline-level="%d">'
                "%s</text:h>" % (b[1], b[1], _escape(b[2])))
        elif b[0] == "table":
            rows = "".join(
                "<table:table-row>%s</table:table-row>" % "".join(
                    '<table:table-cell office:value-type="string">'
                    "<text:p>%s</text:p></table:table-cell>"
                    % _escape(str(c)) for c in row)
                for row in b[1])
            parts.append('<table:table table:name="T">%s</table:table>'
                         % rows)
        elif b[0] == "list":
            items = "".join(
                "<text:list-item><text:p>%s</text:p></text:list-item>"
                % _escape(x) for x in b[1])
            parts.append('<text:list text:style-name="L1">%s</text:list>'
                         % items)
        elif b[0] == "image":
            parts.append(
                '<text:p><draw:frame draw:name="Img" svg:width="2in">'
                '<draw:image xlink:href="%s" xlink:type="simple"/>'
                "</draw:frame></text:p>" % b[0 + 1])
    content = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        "<office:document-content "
        'xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" '
        'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0" '
        'xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0" '
        'xmlns:draw="urn:oasis:names:tc:opendocument:xmlns:drawing:1.0" '
        'xmlns:xlink="http://www.w3.org/1999/xlink" '
        'xmlns:svg="urn:oasis:names:tc:opendocument:xmlns:svg-compatible'
        ':1.0" office:version="1.2">'
        "<office:body><office:text>%s</office:text></office:body>"
        "</office:document-content>" % "".join(parts))
    return zip_package(
        [("mimetype", "application/vnd.oasis.opendocument.text"), ("content.xml", content)],
        stored=("mimetype",),
    )


def odt_spans(docs: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Arrow-batched ODT → span rows ``(doc_id, seq, kind, text, level,
    media_ref)`` in document order.  Narrow stage, zero shuffles."""

    return parsed_rows(docs, parse_odt, SPANS_SCHEMA, payload_col)
