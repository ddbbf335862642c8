"""Jupyter notebook ingestion — nbformat v4 JSON → ordered spans.

Notebooks are a staple of code-model training corpora (GitHub hosts
tens of millions); the public nbformat v4 schema is plain JSON:
``cells[]`` of ``cell_type`` code/markdown/raw, each with ``source``
as either one string or a list of line strings (both forms occur in
the wild — writers differ), code cells carrying ``outputs[]`` and
``execution_count``, and the kernel language under
``metadata.kernelspec.language`` / ``metadata.language_info.name``.

The span mapping composes existing legs rather than re-inventing them
(the same stance as EPUB routing through the HTML extractor):

* markdown cells run through ``sources.markdown.parse_markdown`` — so
  notebook headings/tables/fences land in the SAME vocabulary as
  standalone .md files;
* code cells → one ``code`` span each, verbatim source, the notebook
  language as ``media_ref``;
* code-cell outputs: ``stream`` text and ``execute_result`` /
  ``display_data`` ``text/plain`` representations → ``output`` spans
  (image/binary mimetypes are counted, not inlined — they are media
  refs in a pipeline that stores attachments separately);
* raw cells → ``text`` spans verbatim.

Containment (O6): payloads that aren't JSON, lack a ``cells`` list, or
declare ``nbformat`` < 4 yield zero spans.

Spark shape: one per-row ``mapInArrow`` kernel over the binary column —
narrow, zero shuffles, data-parallel at 10^12-doc scale.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame

from autoextract.operators._docwise import parsed_rows
from autoextract.sources.markdown import parse_markdown

SPANS_SCHEMA = (
    "doc_id string, cell int, seq int, kind string, text string,"
    " level int, media_ref string"
)


def _source_text(src) -> str:
    if isinstance(src, list):
        return "".join(s for s in src if isinstance(s, str))
    return src if isinstance(src, str) else ""


def parse_ipynb(data: bytes) -> list[dict]:
    """Notebook bytes → ordered spans ``{cell, seq, kind, text, level,
    media_ref}``; ``cell`` is the 0-based cell index, ``seq`` the
    document-global span order."""
    try:
        nb = json.loads(bytes(data).decode("utf-8"))
    except Exception:
        return []
    if not isinstance(nb, dict) or not isinstance(nb.get("cells"), list):
        return []
    if not isinstance(nb.get("nbformat"), int) or nb["nbformat"] < 4:
        return []
    meta = nb.get("metadata") or {}
    lang = ((meta.get("kernelspec") or {}).get("language")
            or (meta.get("language_info") or {}).get("name")
            or None)

    out: list[dict] = []
    seq = 0

    def span(cell, kind, text, level=None, media_ref=None):
        nonlocal seq
        out.append({"cell": cell, "seq": seq, "kind": kind, "text": text,
                    "level": level, "media_ref": media_ref})
        seq += 1

    for ci, cell in enumerate(nb["cells"]):
        if not isinstance(cell, dict):
            continue
        ctype = cell.get("cell_type")
        src = _source_text(cell.get("source"))
        if ctype == "markdown":
            for s in parse_markdown(src.encode("utf-8")):
                span(ci, s["kind"], s["text"], s["level"], s["media_ref"])
        elif ctype == "code":
            span(ci, "code", src, media_ref=lang)
            for o in cell.get("outputs") or []:
                if not isinstance(o, dict):
                    continue
                otype = o.get("output_type")
                if otype == "stream":
                    span(ci, "output", _source_text(o.get("text")))
                elif otype in ("execute_result", "display_data"):
                    d = o.get("data") or {}
                    txt = _source_text(d.get("text/plain"))
                    if txt:
                        span(ci, "output", txt)
                elif otype == "error":
                    span(ci, "output", "%s: %s" % (
                        o.get("ename", ""), o.get("evalue", "")))
        elif ctype == "raw" and src.strip():
            span(ci, "text", src)
    return out


def build_ipynb(cells: list[tuple], lang: str = "python",
                list_sources: bool = False) -> bytes:
    """Fixture builder: an nbformat-4 notebook from cell tuples —
    ``("markdown", md_text)``, ``("code", src[, outputs])`` with
    outputs a list of plain strings (becomes stream outputs), and
    ``("raw", text)``.  ``list_sources=True`` writes each ``source``
    as a line list (the other wild form)."""

    def src_form(s: str):
        if not list_sources:
            return s
        lines = s.splitlines(keepends=True)
        return lines if lines else [""]

    out_cells = []
    for c in cells:
        if c[0] == "markdown":
            out_cells.append({"cell_type": "markdown",
                              "metadata": {}, "source": src_form(c[1])})
        elif c[0] == "code":
            outs = [{"output_type": "stream", "name": "stdout",
                     "text": src_form(t)} for t in (c[2] if len(c) > 2
                                                    else [])]
            out_cells.append({"cell_type": "code", "metadata": {},
                              "execution_count": 1,
                              "source": src_form(c[1]), "outputs": outs})
        elif c[0] == "raw":
            out_cells.append({"cell_type": "raw", "metadata": {},
                              "source": src_form(c[1])})
    nb = {
        "nbformat": 4, "nbformat_minor": 5,
        "metadata": {"kernelspec": {"name": lang, "language": lang,
                                    "display_name": lang}},
        "cells": out_cells,
    }
    return json.dumps(nb, ensure_ascii=False).encode("utf-8")


def ipynb_spans(docs: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Arrow-batched notebook → span rows ``(doc_id, cell, seq, kind,
    text, level, media_ref)`` in document order.  Narrow stage, zero
    shuffles."""

    return parsed_rows(docs, parse_ipynb, SPANS_SCHEMA, payload_col)
