"""HTML main-content extraction via DOM text-density heuristics (SURVEY.md §2 P6).

Absent in the reference (it reads images/PDFs only) but demanded by the
north rule's axis A: strip boilerplate from HTML documents and emit the main
content as interleaved text + media spans. The heuristic is the published
Content-Extraction-via-Text-Density / Arc90-readability family:

  1. parse the markup (stdlib ``html.parser`` — pure Python, one call per
     document inside a per-row ``mapInArrow`` stage; no external deps)
  2. drop tag-level boilerplate outright: ``script/style/noscript/template/
     nav/header/footer/aside`` and HTML comments
  3. score each container by text length × (1 − link density); link-heavy
     subtrees (menus, related-links sidebars) score ≈ 0
  4. the best-scoring container (``<article>``/``<main>`` preferred, then any
     block container) is the main-content subtree
  5. walk that subtree in document order: block-level text chunks → text
     spans (whitespace collapsed, empty blocks dropped); ``<img>/<figure>/
     <table>/<video>/<audio>`` → media spans carrying ``src`` when present,
     else a deterministic ``<tag>:<doc_id>:<n>`` ref
  6. link-dense blocks inside the winner (link_density > 0.6) are dropped.

Everything is deterministic: no randomness, stable tie-breaks (first node in
document order wins ties).
"""

from __future__ import annotations

from html.parser import HTMLParser

from pyspark.sql import DataFrame

from ._docwise import flat_map_rows
from .layout import SPANS_TABLE_SCHEMA

BOILERPLATE_TAGS = {"script", "style", "noscript", "template", "nav", "header", "footer", "aside"}
MEDIA_TAGS = {"img", "figure", "table", "video", "audio", "iframe", "embed"}
BLOCK_TAGS = {
    "p", "div", "section", "article", "main", "body", "li", "ul", "ol",
    "h1", "h2", "h3", "h4", "h5", "h6", "blockquote", "pre", "td", "th",
    "tr", "dl", "dt", "dd",
}
VOID_TAGS = {"img", "br", "hr", "meta", "link", "input", "source", "area", "base", "col", "wbr"}
CONTAINER_TAGS = {"article", "main", "body", "div", "section", "td"}
LINK_DENSITY_MAX = 0.6


class _Node:
    __slots__ = ("tag", "attrs", "children", "parent")

    def __init__(self, tag: str, attrs: dict | None = None, parent: "_Node | None" = None):
        self.tag = tag
        self.attrs = attrs or {}
        self.children: list[object] = []  # _Node | str
        self.parent = parent


class _TreeBuilder(HTMLParser):
    """Minimal DOM: elements + text, boilerplate tags skipped during parse."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = _Node("#root")
        self.cur = self.root
        self._skip_depth = 0

    def handle_starttag(self, tag: str, attrs) -> None:
        if self._skip_depth:
            if tag not in VOID_TAGS:
                self._skip_depth += 1
            return
        if tag in BOILERPLATE_TAGS:
            self._skip_depth = 1
            return
        # HTML5 implied end tags for table structure: a new cell closes
        # an open cell, a new row closes an open cell/row — without this
        # the wild unclosed-<td> form nests instead of forming a grid
        if tag in ("td", "th"):
            while self.cur.tag in ("td", "th"):
                self.cur = self.cur.parent
        elif tag == "tr":
            while self.cur.tag in ("td", "th", "tr"):
                self.cur = self.cur.parent
        node = _Node(tag, dict(attrs), self.cur)
        self.cur.children.append(node)
        if tag not in VOID_TAGS:
            self.cur = node

    def handle_startendtag(self, tag: str, attrs) -> None:
        if self._skip_depth:
            return
        if tag in BOILERPLATE_TAGS:
            return
        self.cur.children.append(_Node(tag, dict(attrs), self.cur))

    def handle_endtag(self, tag: str) -> None:
        if self._skip_depth:
            if tag not in VOID_TAGS:
                self._skip_depth -= 1
            return
        # close the nearest matching open element (tolerates malformed HTML)
        n = self.cur
        while n is not self.root and n.tag != tag:
            n = n.parent
        if n is not self.root:
            self.cur = n.parent

    def handle_data(self, data: str) -> None:
        if not self._skip_depth and data:
            self.cur.children.append(data)


def _stats(node: _Node, in_link: bool = False) -> tuple[int, int]:
    """(text_len, link_text_len) over a subtree, media excluded."""
    total, linked = 0, 0
    for ch in node.children:
        if isinstance(ch, str):
            n = len(ch.split()) and len(" ".join(ch.split()))
            total += n
            if in_link:
                linked += n
        elif ch.tag not in MEDIA_TAGS:
            t, l = _stats(ch, in_link or ch.tag == "a")
            total += t
            linked += l
    return total, linked


def _score(node: _Node) -> float:
    text, linked = _stats(node)
    if text == 0:
        return 0.0
    return text * (1.0 - linked / text)


def _find_main(root: _Node) -> _Node:
    """Best container by score; <article>/<main> win ties against generic
    containers by a 1.5× boost (they are explicit semantic markers)."""
    best, best_score = root, -1.0
    stack = [root]
    while stack:
        n = stack.pop()
        for ch in reversed(n.children):
            if isinstance(ch, _Node):
                stack.append(ch)
        if isinstance(n, _Node) and n.tag in CONTAINER_TAGS:
            s = _score(n)
            if n.tag in ("article", "main"):
                s *= 1.5
            if s > best_score:
                best, best_score = n, s
    return best


def html_to_spans(doc_id: str, html: str) -> list[tuple[str, str | None, str | None]]:
    """One document → ordered [(kind, text, media_ref)]. Pure Python.

    Parser failures surface as a single ``("error", <message>, None)`` span
    (O6 per-doc containment): a failed document is distinguishable from a
    genuinely empty one and never kills the task. Downstream consumers
    filter ``kind != 'error'`` (or route the rows to a quarantine table)."""
    builder = _TreeBuilder()
    try:
        builder.feed(html if html is not None else "")
        builder.close()
    except Exception as exc:
        return [("error", f"html_parse_error: {type(exc).__name__}: {exc}", None)]
    main = _find_main(builder.root)

    spans: list[tuple[str, str | None, str | None]] = []
    media_n = 0
    buf: list[str] = []

    def flush() -> None:
        text = " ".join(" ".join(buf).split())
        buf.clear()
        if text:
            spans.append(("text", text, None))

    def link_dense(node: _Node) -> bool:
        text, linked = _stats(node)
        return text > 0 and linked / text > LINK_DENSITY_MAX

    def walk(node: _Node) -> None:
        nonlocal media_n
        for ch in node.children:
            if isinstance(ch, str):
                buf.append(ch)
                continue
            if ch.tag in MEDIA_TAGS:
                flush()
                ref = ch.attrs.get("src") or ch.attrs.get("data-src")
                if not ref and ch.tag == "figure":
                    # use the nested <img src> as the figure's pointer
                    stack = list(ch.children)
                    while stack:
                        d = stack.pop(0)
                        if isinstance(d, _Node):
                            if d.tag == "img" and d.attrs.get("src"):
                                ref = d.attrs["src"]
                                break
                            stack = list(d.children) + stack
                if not ref:
                    ref = f"{ch.tag}:{doc_id}:{media_n}"
                spans.append(("media", None, ref))
                media_n += 1
                continue
            if ch.tag in BLOCK_TAGS:
                flush()
                if not link_dense(ch):
                    walk(ch)
                flush()
            else:
                walk(ch)

    walk(main)
    flush()
    return spans


#: flattened output shape, feeds the same assemble step as the OCR path
HTML_SPANS_SCHEMA = "doc_id string, seq int, kind string, text string, media_ref string"


def strip_html(html_docs: DataFrame) -> DataFrame:
    """``html_docs(doc_id, html)`` → flattened spans (doc_id, seq, kind,
    text, media_ref): one per-row Arrow stage; documents are independent,
    so this is a narrow (shuffle-free) stage.
    """

    def html_span_rows(doc_id, html):
        return [
            (doc_id, seq, kind, text, ref)
            for seq, (kind, text, ref) in enumerate(html_to_spans(doc_id, html))
        ]

    return flat_map_rows(html_docs.select("doc_id", "html"), html_span_rows, HTML_SPANS_SCHEMA)


def html_spans_table(html_docs: DataFrame) -> DataFrame:
    """End-to-end: html_docs → canonical ``documents(doc_id, spans)``, one
    nested row per document straight from ``html_to_spans``: a narrow stage
    with no grouping. A document with no spans yields no row."""

    def html_doc_spans(doc_id, html):
        spans = html_to_spans(doc_id, html)
        if not spans:
            return []
        return [(doc_id, [(k, t, ref, i) for i, (k, t, ref) in enumerate(spans)])]

    return flat_map_rows(html_docs.select("doc_id", "html"), html_doc_spans, SPANS_TABLE_SCHEMA)


# ---------------------------------------------------------------------------
# link extraction — the crawl's edge list (feeds operators/graph.pagerank)


class _LinkCollector(HTMLParser):
    """Collect every ``<a href>`` with its anchor text, in document order —
    including links inside boilerplate (nav menus ARE graph edges even
    though they are not main content)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.links: list[list] = []  # [href, [text parts]]
        self._open: list[int] = []

    def handle_starttag(self, tag, attrs):
        if tag == "a":
            self.links.append([dict(attrs).get("href"), []])
            self._open.append(len(self.links) - 1)

    def handle_endtag(self, tag):
        if tag == "a" and self._open:
            self._open.pop()

    def handle_data(self, data):
        for i in self._open:
            self.links[i][1].append(data)


def _remove_dot_segments(path: str) -> str:
    out: list[str] = []
    for seg in path.split("/"):
        if seg == ".":
            continue
        if seg == "..":
            if len(out) > 1:
                out.pop()
            continue
        out.append(seg)
    return "/".join(out) or "/"


import re as _re  # noqa: E402

_SCHEME_RE = _re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")


def resolve_href(base: str, href: str) -> str | None:
    """RFC 3986 §5 reference resolution, the subset a link graph needs:
    absolute / scheme-relative / root-relative / relative hrefs against an
    absolute http(s) base, with dot-segment removal. Returns ``None`` for
    non-graph refs (empty, fragment-only, and non-http(s) schemes like
    ``mailto:`` / ``javascript:``)."""
    href = (href or "").strip()
    if not href or href.startswith("#"):
        return None
    m = _SCHEME_RE.match(href)
    if m:
        return href if href.split(":", 1)[0].lower() in ("http", "https") else None
    scheme, rest = base.split(":", 1)
    if href.startswith("//"):
        return f"{scheme}:{href}"
    if not rest.startswith("//"):
        raise ValueError(f"base must be absolute: {base!r}")
    auth_path = rest[2:]
    cut = len(auth_path)
    for stop in "/?#":
        p = auth_path.find(stop)
        if 0 <= p < cut:
            cut = p
    authority, path = auth_path[:cut], auth_path[cut:]
    path = path.split("?", 1)[0].split("#", 1)[0] or "/"
    if href.startswith("/"):
        merged = href
    else:
        merged = path[: path.rfind("/") + 1] + href
    merged = merged.split("#", 1)[0]
    merged, q = (merged.split("?", 1) + [""])[:2]
    resolved = _remove_dot_segments(merged)
    return f"{scheme}://{authority}{resolved}" + (f"?{q}" if q else "")


#: one row per <a href> in document order
HTML_LINKS_SCHEMA = (
    "doc_id string, seq int, href string, anchor string, url string"
)


def extract_links(html_docs: DataFrame) -> DataFrame:
    """``html_docs(doc_id, html, base_url)`` → ``(doc_id, seq, href,
    anchor, url)`` — every anchor in document order with its text
    (whitespace-collapsed) and the resolved absolute URL (NULL for
    non-graph refs). Narrow Arrow-batched stage, same containment contract
    as :func:`strip_html` (a parse failure yields zero rows for that doc,
    never a task failure). The edge list for
    :func:`autoextract.operators.graph.pagerank` is
    ``select(doc_id, url).where(url is not null)``."""

    def link_rows(doc_id, html, base):
        rows = []
        try:  # O6 containment: a failure keeps the links resolved so far
            c = _LinkCollector()
            c.feed(html if html is not None else "")
            c.close()
            for seq, (href, parts) in enumerate((h, p) for h, p in c.links if h):
                anchor = " ".join(" ".join(parts).split())
                rows.append((doc_id, seq, href, anchor, resolve_href(base, href)))
        except Exception:
            pass
        return rows

    return flat_map_rows(
        html_docs.select("doc_id", "html", "base_url"), link_rows, HTML_LINKS_SCHEMA
    )


# ----------------------------------------------------------------------
# page metadata extraction — pure JVM
# ----------------------------------------------------------------------

def _unescape_basic(col):
    """Documented minimal entity set for head metadata: the named entities
    head fields actually carry (&lt; &gt; &quot; &#39; &nbsp;), with
    ``&amp;`` unescaped LAST so ``&amp;lt;`` correctly yields the literal
    ``&lt;``.  A full entity table is deliberately out of scope — head
    metadata in the wild is overwhelmingly ASCII + these six."""
    from pyspark.sql import functions as F

    out = F.regexp_replace(col, "&lt;", "<")
    out = F.regexp_replace(out, "&gt;", ">")
    out = F.regexp_replace(out, "&quot;", '"')
    out = F.regexp_replace(out, "&#39;", "'")
    out = F.regexp_replace(out, "&nbsp;", " ")
    return F.regexp_replace(out, "&amp;", "&")


def extract_metadata(html_docs: DataFrame, html_col: str = "html") -> DataFrame:
    """Per-page head metadata: the fields a crawl pipeline keys on for
    canonicalization, dedup, language routing and freshness.

    Adds ``title`` (whitespace-collapsed, basic entities unescaped),
    ``og_title``, ``meta_description``, ``canonical_url``, ``html_lang``,
    ``published_time`` (the ``article:published_time`` OpenGraph field) and
    ``noindex`` (robots meta).  Absent fields are NULL; ``og:title`` and
    ``published_time`` accept both attribute orders (``property`` before or
    after ``content``).

    Scale shape: ONE codegen'd projection — every field is a
    ``regexp_extract`` over the page string, zero shuffles, zero Python.
    This deliberately does NOT parse the DOM: head metadata is flat, and a
    regex projection runs ~100× cheaper than the tree walk the body
    extraction (``strip_html``) legitimately needs.
    """
    from pyspark.sql import functions as F

    h = F.col(html_col)

    def meta(attr, key):
        fwd = F.regexp_extract(
            h,
            '(?is)<meta[^>]*' + attr + '=["\']' + key
            + '["\'][^>]*content=["\']([^"\']*)["\']',
            1,
        )
        rev = F.regexp_extract(
            h,
            '(?is)<meta[^>]*content=["\']([^"\']*)["\'][^>]*' + attr
            + '=["\']' + key + '["\']',
            1,
        )
        return F.nullif(F.when(fwd != "", fwd).otherwise(rev), F.lit(""))

    title = F.regexp_extract(h, r"(?is)<title[^>]*>\s*(.*?)\s*</title>", 1)
    title = _unescape_basic(F.regexp_replace(title, r"\s+", " "))
    canonical = F.regexp_extract(
        h, '(?is)<link[^>]*rel=["\']canonical["\'][^>]*href=["\']([^"\']*)["\']', 1
    )
    lang = F.regexp_extract(h, '(?is)<html[^>]*\\blang=["\']([A-Za-z-]+)["\']', 1)
    robots = meta("name", "robots")
    return html_docs.select(
        "*",
        F.nullif(title, F.lit("")).alias("title"),
        meta("property", "og:title").alias("og_title"),
        meta("name", "description").alias("meta_description"),
        F.nullif(canonical, F.lit("")).alias("canonical_url"),
        F.nullif(lang, F.lit("")).alias("html_lang"),
        meta("property", "article:published_time").alias("published_time"),
        F.coalesce(
            F.lower(robots).contains("noindex"), F.lit(False)
        ).alias("noindex"),
    )


# ---------------------------------------------------------------------------
# table extraction — the HTML twin of sources.docx.parse_docx_tables
# ---------------------------------------------------------------------------

HTML_TABLES_SCHEMA = (
    "doc_id string, table_id int, row int, col int, header boolean,"
    " text string"
)


def _cell_text(node: _Node) -> str:
    """Subtree text of a cell, whitespace-collapsed, EXCLUDING any
    nested table (which is emitted as its own table_id instead)."""
    parts: list[str] = []

    def walk(n) -> None:
        for c in n.children:
            if isinstance(c, str):
                parts.append(c)
            elif c.tag != "table":
                walk(c)

    walk(node)
    return _re.sub(r"\s+", " ", "".join(parts)).strip()


def parse_html_tables(html: str) -> list[dict]:
    """HTML → structured table cells ``{table_id, row, col, header,
    text}``.  Every ``<table>`` gets its own id in document order
    (nested tables included — their text is excluded from the outer
    cell); ``colspan`` advances the column cursor with the text on the
    first spanned column; ``th`` marks ``header``.  Built on the same
    tolerant ``_TreeBuilder`` DOM the boilerplate strip uses."""
    builder = _TreeBuilder()
    try:
        builder.feed(html)
        builder.close()
    except Exception:
        return []

    tables: list[_Node] = []

    def find(n) -> None:
        for c in n.children:
            if isinstance(c, _Node):
                if c.tag == "table":
                    tables.append(c)
                find(c)

    find(builder.root)

    out: list[dict] = []
    for tid, tbl in enumerate(tables):
        rows: list[_Node] = []

        def collect_rows(n) -> None:
            for c in n.children:
                if isinstance(c, _Node) and c.tag != "table":
                    if c.tag == "tr":
                        rows.append(c)
                    else:
                        collect_rows(c)

        collect_rows(tbl)
        for ri, tr in enumerate(rows):
            ci = 0
            for c in tr.children:
                if not isinstance(c, _Node) or c.tag not in ("td", "th"):
                    continue
                out.append({
                    "table_id": tid, "row": ri, "col": ci,
                    "header": c.tag == "th", "text": _cell_text(c),
                })
                try:
                    span = max(int(c.attrs.get("colspan", 1)), 1)
                except ValueError:
                    span = 1
                ci += span
    return out


def extract_html_tables(html_docs: DataFrame, html_col: str = "html"
                        ) -> DataFrame:
    """Arrow-batched HTML table extraction → cell rows ``(doc_id,
    table_id, row, col, header, text)``.  Narrow stage, zero
    shuffles."""

    def table_rows(doc_id, h):
        return [
            (str(doc_id), r["table_id"], r["row"], r["col"], r["header"], r["text"])
            for r in parse_html_tables(h if isinstance(h, str) else "")
        ]

    return flat_map_rows(html_docs.select("doc_id", html_col), table_rows, HTML_TABLES_SCHEMA)
