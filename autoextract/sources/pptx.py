"""PPTX ingestion — OOXML PresentationML → per-slide text spans.

Completes the Office trio next to ``docx.py``/``xlsx.py``: a PPTX is a
ZIP with one ``ppt/slides/slideN.xml`` part per slide, text living in
DrawingML ``<a:p>`` paragraphs of ``<a:r>`` runs of ``<a:t>`` text inside
shape text bodies.  Slide order is the numeric part index (ZIP member
order is not meaningful); within a slide, shape/paragraph document order
is preserved.

Same stance as the siblings: stdlib ``zipfile`` + regex over canonical
machine XML, O6 containment, one per-row ``mapInArrow`` kernel.
"""

from __future__ import annotations

import io
import re
import zipfile

from pyspark.sql import DataFrame

from ..operators._docwise import parsed_rows
from ._zip import zip_package

SLIDES_SCHEMA = "doc_id string, slide int, seq int, text string"

_SLIDE_RE = re.compile(r"^ppt/slides/slide([0-9]+)\.xml$")
_P_RE = re.compile(r"(?s)<a:p>.*?</a:p>")
_T_RE = re.compile(r"(?s)<a:t>(.*?)</a:t>")


def _unescape(s: str) -> str:
    for a, b in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                 ("&apos;", "'"), ("&amp;", "&")):
        s = s.replace(a, b)
    return s


def parse_pptx(data: bytes) -> list[dict]:
    """PPTX bytes → ``{slide, seq, text}`` rows (1-indexed slides, seq in
    slide document order, empty paragraphs dropped)."""
    out: list[dict] = []
    try:
        with zipfile.ZipFile(io.BytesIO(data)) as z:
            slides = sorted(
                (int(m.group(1)), n)
                for n in z.namelist()
                if (m := _SLIDE_RE.match(n))
            )
            for num, name in slides:
                xml = z.read(name).decode("utf-8", "replace")
                seq = 0
                for p in _P_RE.findall(xml):
                    text = _unescape("".join(_T_RE.findall(p)))
                    if text.strip():
                        out.append({"slide": num, "seq": seq, "text": text})
                        seq += 1
    except Exception:  # O6 containment
        return []
    return out


def _escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def build_pptx(slides: list[list[str]]) -> bytes:
    """Fixture builder: one slide part per paragraph list."""
    members = [(
        "[Content_Types].xml",
        '<?xml version="1.0"?><Types xmlns="http://schemas.'
        'openxmlformats.org/package/2006/content-types">'
        '<Default Extension="xml" ContentType="application/xml"/>'
        "</Types>",
    )]
    for i, paras in enumerate(slides, 1):
        body = "".join(
            f"<a:p><a:r><a:t>{_escape(t)}</a:t></a:r></a:p>" for t in paras
        )
        members.append((
            f"ppt/slides/slide{i}.xml",
            '<?xml version="1.0"?><p:sld xmlns:p="http://schemas.'
            'openxmlformats.org/presentationml/2006/main" xmlns:a='
            '"http://schemas.openxmlformats.org/drawingml/2006/main">'
            f"<p:cSld><p:spTree><p:sp><p:txBody>{body}</p:txBody>"
            "</p:sp></p:spTree></p:cSld></p:sld>",
        ))
    return zip_package(members)


def pptx_slides(docs: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Arrow-batched PPTX → ``(doc_id, slide, seq, text)``.  Narrow stage,
    zero shuffles."""

    return parsed_rows(docs, parse_pptx, SLIDES_SCHEMA, payload_col)
