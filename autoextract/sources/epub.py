"""EPUB ingestion — the book format, routed into the HTML extraction leg.

Books are a top-tier training source and arrive as EPUB: a ZIP with an
OCF container (``META-INF/container.xml`` → the OPF package path), an
OPF manifest/spine (reading order over chapter items), and XHTML chapter
documents.  This module resolves the spine and emits one row per chapter
IN READING ORDER with its raw XHTML — which then flows through the
existing ``operators/html.strip_html`` density extractor, exactly like a
crawled page.  No new text heuristics: EPUB is deliberately a *router*,
so the P6 boilerplate stance stays in one place.

Same implementation stance as the OOXML siblings: stdlib ``zipfile`` +
regex over canonical machine XML (container/OPF files are
generator-produced), O6 containment, one per-row ``mapInArrow`` kernel.
"""

from __future__ import annotations

import io
import posixpath
import re
import zipfile

from pyspark.sql import DataFrame

from ..operators._docwise import parsed_rows
from ._zip import zip_package

CHAPTERS_SCHEMA = "doc_id string, chapter int, path string, html string"

_ROOTFILE_RE = re.compile(r'<rootfile[^>]*full-path="([^"]+)"')
_ITEM_RE = re.compile(r"<item\s+[^>]*>")
_ATTR_RE = {
    k: re.compile(k + r'="([^"]*)"') for k in ("id", "href", "media-type")
}
_ITEMREF_RE = re.compile(r'<itemref[^>]*idref="([^"]+)"')


def parse_epub(data: bytes) -> list[dict]:
    """EPUB bytes → ``{chapter, path, html}`` rows in spine order
    (XHTML items only; missing parts / malformed packages → [])."""
    out: list[dict] = []
    try:
        with zipfile.ZipFile(io.BytesIO(data)) as z:
            container = z.read("META-INF/container.xml").decode(
                "utf-8", "replace"
            )
            m = _ROOTFILE_RE.search(container)
            if not m:
                return []
            opf_path = m.group(1)
            opf = z.read(opf_path).decode("utf-8", "replace")
            base = posixpath.dirname(opf_path)
            items: dict[str, tuple[str, str]] = {}
            for tag in _ITEM_RE.findall(opf):
                attrs = {
                    k: (r.search(tag).group(1) if r.search(tag) else "")
                    for k, r in _ATTR_RE.items()
                }
                if attrs["id"]:
                    items[attrs["id"]] = (attrs["href"], attrs["media-type"])
            chapter = 0
            for idref in _ITEMREF_RE.findall(opf):
                href, mtype = items.get(idref, ("", ""))
                if not href or "html" not in mtype:
                    continue
                path = posixpath.normpath(posixpath.join(base, href))
                try:
                    html = z.read(path).decode("utf-8", "replace")
                except KeyError:
                    continue
                out.append({"chapter": chapter, "path": path, "html": html})
                chapter += 1
    except Exception:  # O6 containment
        return []
    return out


def build_epub(chapters: list[str], *, opf_dir: str = "OEBPS") -> bytes:
    """Fixture builder: a valid OCF/OPF package with one XHTML chapter
    per entry (the spine deliberately lists chapters in REVERSE zip-member
    order so spine-order resolution is actually exercised)."""
    n = len(chapters)
    manifest = "".join(
        f'<item id="c{i}" href="ch{i}.xhtml" '
        'media-type="application/xhtml+xml"/>'
        for i in range(n)
    ) + '<item id="css" href="style.css" media-type="text/css"/>'
    spine = "".join(f'<itemref idref="c{i}"/>' for i in range(n))
    return zip_package([
        ("mimetype", "application/epub+zip"),
        (
            "META-INF/container.xml",
            '<?xml version="1.0"?><container version="1.0" xmlns="urn:'
            'oasis:names:tc:opendocument:xmlns:container"><rootfiles>'
            f'<rootfile full-path="{opf_dir}/content.opf" media-type='
            '"application/oebps-package+xml"/></rootfiles></container>',
        ),
        (
            f"{opf_dir}/content.opf",
            '<?xml version="1.0"?><package xmlns="http://www.idpf.org/'
            '2007/opf" version="3.0"><manifest>' + manifest
            + "</manifest><spine>" + spine + "</spine></package>",
        ),
        (f"{opf_dir}/style.css", "body{}"),
        # chapter members in reverse so zip order != spine order
        *((f"{opf_dir}/ch{i}.xhtml", chapters[i]) for i in range(n - 1, -1, -1)),
    ])


def epub_chapters(docs: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Arrow-batched EPUB → ``(doc_id, chapter, path, html)`` in spine
    order; feed the ``html`` column to ``operators/html.strip_html``."""

    return parsed_rows(docs, parse_epub, CHAPTERS_SCHEMA, payload_col)
