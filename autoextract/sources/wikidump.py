"""Wikipedia XML dump ingestion + wikitext cleanup — the encyclopedia leg
of the corpus front door.

Every serious LLM corpus carries Wikipedia; it ships as ``pages-articles``
XML (one ``<page>`` per article: title, namespace, id, optional redirect,
latest ``<revision><text>`` in wikitext markup). This module parses that
shape and flattens the wikitext into training text:

  * ``<ref>``/``<ref/>`` citations dropped (inline footnotes, not prose);
  * ``{{template}}`` calls removed innermost-first (bounded fixpoint loop,
    so nested infoboxes/cite templates unwind deterministically);
  * ``[[File:…]]``/``[[Image:…]]`` media links dropped whole, plain
    ``[[target|label]]`` → label and ``[[target]]`` → target, innermost
    first (captions may nest links inside file brackets);
  * ``'''bold'''``/``''italic''`` apostrophe runs stripped;
  * ``== Heading ==`` fences stripped, heading text kept;
  * HTML comments dropped, entities unescaped, blank runs collapsed.

Spark shape: one narrow per-row ``mapInArrow`` stage (regex loops
are per-row, same stance as the HTML/RTF/LaTeX kernels), zero shuffles,
O6 containment — a torn dump yields zero rows for that payload, never a
task failure. Namespace filtering (``ns == 0`` for articles) is a plain
pushed predicate on the output.
"""

from __future__ import annotations

import html
import re

from pyspark.sql import DataFrame

from ..operators._docwise import flat_map_rows

_PAGE_RE = re.compile(r"<page>(.*?)</page>", re.S)
_TITLE_RE = re.compile(r"<title>(.*?)</title>", re.S)
_NS_RE = re.compile(r"<ns>(\d+)</ns>")
_ID_RE = re.compile(r"<id>(\d+)</id>")
_REDIRECT_RE = re.compile(r"<redirect\b")
_TEXT_RE = re.compile(r"<text[^>]*>(.*?)</text>", re.S)

_COMMENT_RE = re.compile(r"<!--.*?-->", re.S)
_REF_RE = re.compile(r"<ref[^>/]*>.*?</ref>|<ref[^>]*/>", re.S)
_TEMPLATE_RE = re.compile(r"\{\{[^{}]*\}\}", re.S)
_FILELINK_RE = re.compile(r"\[\[(?:File|Image):[^\[\]]*\]\]")
_PIPELINK_RE = re.compile(r"\[\[(?!File:|Image:)[^\[\]|]*\|([^\[\]|]*)\]\]")
_PLAINLINK_RE = re.compile(r"\[\[(?!File:|Image:)([^\[\]|]*)\]\]")
_QUOTES_RE = re.compile(r"''+")
_HEADING_RE = re.compile(r"^=+[ \t]*(.*?)[ \t]*=+[ \t]*$", re.M)
_BLANKS_RE = re.compile(r"\n{3,}")

_FIXPOINT_ROUNDS = 10


def clean_wikitext(s: str) -> str:
    """Wikitext → plain training text (deterministic, bounded loops)."""
    s = _COMMENT_RE.sub("", s)
    s = _REF_RE.sub("", s)
    for _ in range(_FIXPOINT_ROUNDS):  # innermost-first template unwind
        nxt = _TEMPLATE_RE.sub("", s)
        if nxt == s:
            break
        s = nxt
    for _ in range(_FIXPOINT_ROUNDS):  # links may nest inside file captions
        nxt = _PIPELINK_RE.sub(r"\1", s)
        nxt = _PLAINLINK_RE.sub(r"\1", nxt)
        nxt = _FILELINK_RE.sub("", nxt)
        if nxt == s:
            break
        s = nxt
    s = _QUOTES_RE.sub("", s)
    s = _HEADING_RE.sub(r"\1", s)
    s = _BLANKS_RE.sub("\n\n", s)
    return s.strip()


def parse_wikidump(xml: str) -> list[dict]:
    """One dump payload → page dicts (title, ns, page_id, redirect, text,
    clean_text) in document order."""
    pages = []
    for m in _PAGE_RE.finditer(xml):
        block = m.group(1)
        t = _TITLE_RE.search(block)
        i = _ID_RE.search(block)  # first <id> = page id (revision ids later)
        x = _TEXT_RE.search(block)
        if not (t and i):
            continue
        raw = html.unescape(x.group(1)) if x else ""
        ns_m = _NS_RE.search(block)
        pages.append({
            "title": html.unescape(t.group(1)),
            "ns": int(ns_m.group(1)) if ns_m else 0,
            "page_id": int(i.group(1)),
            "redirect": bool(_REDIRECT_RE.search(block)),
            "text": raw,
            "clean_text": clean_wikitext(raw),
        })
    return pages


def to_wikidump(pages: list[dict]) -> str:
    """Deterministic fixture writer: the pages-articles shape (siteinfo
    header, per-page title/ns/id, optional redirect, one revision)."""
    out = [
        '<mediawiki xmlns="http://www.mediawiki.org/xml/export-0.10/">',
        "<siteinfo><sitename>fixture</sitename></siteinfo>",
    ]
    for p in pages:
        out.append("<page>")
        out.append(f"<title>{html.escape(p['title'])}</title>")
        out.append(f"<ns>{p.get('ns', 0)}</ns>")
        out.append(f"<id>{p['page_id']}</id>")
        if p.get("redirect"):
            out.append(f'<redirect title="{html.escape(p["redirect"])}" />')
        out.append(
            "<revision><id>9</id><text xml:space=\"preserve\">"
            + html.escape(p.get("text", ""))
            + "</text></revision>"
        )
        out.append("</page>")
    out.append("</mediawiki>")
    return "\n".join(out)


WIKI_SCHEMA = (
    "doc_id long, page_id long, title string, ns int, redirect boolean, "
    "clean_text string"
)


def wiki_pages_table(
    docs: DataFrame, xml_col: str = "xml", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, page_id, title, ns, redirect, clean_text) per page across
    all dump payloads — narrow Arrow stage, zero shuffles, O6 containment
    (an unparseable payload contributes zero rows)."""

    def wiki_page_rows(did, xml):
        rows = []
        try:
            for p in parse_wikidump(str(xml) if xml is not None else ""):
                rows.append((
                    int(did), p["page_id"], p["title"], p["ns"], p["redirect"],
                    p["clean_text"],
                ))
        except Exception:
            pass
        return rows

    return flat_map_rows(docs.select(id_col, xml_col), wiki_page_rows, WIKI_SCHEMA)
