"""Markdown ingestion — GFM-flavoured text → ordered interleaved spans.

Markdown is the dominant structured-plain-text format in LLM training
corpora (READMEs, docs sites, forum exports); the reference ingests
documents through upload+conversion (`lambda/api/app/utils/pdf.py`) —
here the markup is parsed directly into the engine's interleaved span
vocabulary.  Implements the subset per the public CommonMark / GFM
specs that a text-extraction pipeline needs:

* ATX headings (``#``–``######``, optional closing hashes) and setext
  headings (``===`` / ``---`` underlines) → heading spans, levels 1–6.
  The classic trap is handled: a ``---`` line *under a paragraph line*
  is a setext h2, while a ``---`` line after a blank is a thematic
  break and is dropped.
* fenced code blocks (``` ``` ``` and ``~~~``, closing fence must use
  the same character and at least the same length) → ``code`` spans,
  text verbatim, info-string language on ``media_ref`` (empty → NULL).
  Code is NEVER sent through inline cleanup.
* GFM pipe tables (header, ``|---|`` delimiter, body) → ``table``
  spans flattened exactly like the DOCX/RTF/LaTeX legs (cells
  `` | ``, rows newline; the delimiter row vanishes).
* standalone image lines ``![alt](url)`` → ``image`` spans with
  ``media_ref`` = url and the alt text carried on the span.
* list blocks (``-``/``*``/``+`` bullets and ``1.`` ordered) →
  ``list`` spans, one item per line, markers stripped.
* blockquotes (``>`` prefix at any depth) → ``quote`` spans.
* paragraphs (blank-line separated; soft line breaks join with a
  space) → ``text`` spans with inline cleanup: inline code protected
  first (emphasis markers inside backticks stay literal), images →
  alt, links → anchor text, autolinks unwrapped, ``**``/``*``/``__``/
  ``_`` emphasis unwrapped (iterated for nesting), backslash escapes
  honoured, HTML entities unescaped (``&amp;`` last), whitespace
  collapsed.

Containment (O6): payloads that don't decode as UTF-8 yield zero
spans, as do empty/whitespace-only ones.

Spark shape: one per-row ``mapInArrow`` kernel over the binary column —
narrow, zero shuffles, data-parallel at 10^12-doc scale.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from ..operators._docwise import parsed_rows

SPANS_SCHEMA = (
    "doc_id string, seq int, kind string, text string, level int,"
    " media_ref string"
)

_FENCE_RE = re.compile(r"^ {0,3}(`{3,}|~{3,})\s*([^`\s]*)\s*$")
_ATX_RE = re.compile(r"^ {0,3}(#{1,6})\s+(.*?)\s*(?:#+\s*)?$")
_SETEXT_RE = re.compile(r"^ {0,3}(=+|-+)\s*$")
_BREAK_RE = re.compile(r"^ {0,3}([-*_])( *\1){2,}\s*$")
_IMAGE_LINE_RE = re.compile(r"^ {0,3}!\[([^\]]*)\]\(([^)\s]*)[^)]*\)\s*$")
_LIST_RE = re.compile(r"^ {0,3}(?:[-*+]|\d{1,9}[.)])\s+(.*)$")
_TABLE_DELIM_RE = re.compile(r"^ {0,3}\|?\s*:?-+:?\s*(\|\s*:?-+:?\s*)*\|?\s*$")
_QUOTE_RE = re.compile(r"^ {0,3}>")

_INLINE_IMG_RE = re.compile(r"!\[([^\]]*)\]\([^)]*\)")
_LINK_RE = re.compile(r"\[([^\]]*)\]\([^)]*\)")
_AUTOLINK_RE = re.compile(r"<(https?://[^>\s]+)>")
_CODESPAN_RE = re.compile(r"(`+)(.+?)\1")
_STRONG_RE = re.compile(r"(\*\*|__)(?=\S)(.+?)(?<=\S)\1")
_EM_RE = re.compile(r"(\*|_)(?=\S)(.+?)(?<=\S)\1")
_ESCAPABLE = "\\`*_{}[]()#+-.!>|"
_ESCAPE_RE = re.compile(r"\\([" + re.escape(_ESCAPABLE) + r"])")

_ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
             ("&#39;", "'"), ("&amp;", "&")]     # &amp; LAST, always


def _unescape_entities(s: str) -> str:
    for k, v in _ENTITIES:
        s = s.replace(k, v)
    return s


def _clean_inline(s: str) -> str:
    # 1. protect backslash escapes (private-use page keeps them inert)
    s = _ESCAPE_RE.sub(lambda m: chr(0xE000 + ord(m.group(1))), s)
    # 2. protect inline code spans from emphasis processing
    codes: list[str] = []

    def stash(m):
        codes.append(m.group(2))
        return "\x00%d\x00" % (len(codes) - 1)

    s = _CODESPAN_RE.sub(stash, s)
    # 3. images before links (image syntax embeds link syntax)
    s = _INLINE_IMG_RE.sub(r"\1", s)
    s = _LINK_RE.sub(r"\1", s)
    s = _AUTOLINK_RE.sub(r"\1", s)
    for _ in range(4):                      # nested emphasis unwraps
        t = _EM_RE.sub(r"\2", _STRONG_RE.sub(r"\2", s))
        if t == s:
            break
        s = t
    s = re.sub(r"\x00(\d+)\x00", lambda m: codes[int(m.group(1))], s)
    s = "".join(chr(ord(c) - 0xE000) if 0xE000 <= ord(c) < 0xE0FF else c
                for c in s)
    s = _unescape_entities(s)
    return re.sub(r"\s+", " ", s).strip()


def _table_rows(lines: list[str]) -> str:
    rows = []
    for raw in lines:
        cells = raw.strip()
        if cells.startswith("|"):
            cells = cells[1:]
        if cells.endswith("|"):
            cells = cells[:-1]
        parts = [_clean_inline(c) for c in cells.split("|")]
        rows.append(" | ".join(p for p in parts))
    return "\n".join(rows)


def parse_markdown(data: bytes) -> list[dict]:
    """Markdown bytes → ordered spans ``{seq, kind, text, level,
    media_ref}`` with kind ∈ {heading, text, code, table, image, list,
    quote}."""
    try:
        src = bytes(data).decode("utf-8")
    except Exception:
        return []
    if not src.strip():
        return []
    lines = src.replace("\r\n", "\n").split("\n")

    out: list[dict] = []
    seq = 0
    para: list[str] = []

    def span(kind, text, level=None, media_ref=None):
        nonlocal seq
        out.append({"seq": seq, "kind": kind, "text": text,
                    "level": level, "media_ref": media_ref})
        seq += 1

    def flush():
        if para:
            t = _clean_inline(" ".join(para))
            if t:
                span("text", t)
            para.clear()

    i, n = 0, len(lines)
    while i < n:
        line = lines[i]
        if not line.strip():
            flush()
            i += 1
            continue
        fm = _FENCE_RE.match(line)
        if fm:
            flush()
            fence, lang = fm.group(1), fm.group(2)
            body = []
            i += 1
            while i < n:
                cm = _FENCE_RE.match(lines[i])
                if (cm and cm.group(1)[0] == fence[0]
                        and len(cm.group(1)) >= len(fence)
                        and not cm.group(2)):
                    i += 1
                    break
                body.append(lines[i])
                i += 1
            else:
                # unterminated fence runs to EOF; drop the artifact
                # empty line the trailing-newline split leaves behind
                while body and not body[-1]:
                    body.pop()
            span("code", "\n".join(body), media_ref=lang or None)
            continue
        am = _ATX_RE.match(line)
        if am:
            flush()
            span("heading", _clean_inline(am.group(2)),
                 level=len(am.group(1)))
            i += 1
            continue
        sm = _SETEXT_RE.match(line)
        if sm and para:
            # underline promotes the pending paragraph to a heading
            t = _clean_inline(" ".join(para))
            para.clear()
            span("heading", t, level=1 if sm.group(1)[0] == "=" else 2)
            i += 1
            continue
        if _BREAK_RE.match(line) and not para:
            i += 1                          # thematic break: dropped
            continue
        im = _IMAGE_LINE_RE.match(line)
        if im:
            flush()
            span("image", _clean_inline(im.group(1)),
                 media_ref=im.group(2) or None)
            i += 1
            continue
        if ("|" in line and i + 1 < n and "|" in lines[i + 1]
                and _TABLE_DELIM_RE.match(lines[i + 1])):
            flush()
            rows = [line]
            i += 2                          # skip the delimiter row
            while i < n and "|" in lines[i] and lines[i].strip():
                rows.append(lines[i])
                i += 1
            span("table", _table_rows(rows))
            continue
        if _QUOTE_RE.match(line):
            flush()
            q = []
            while i < n and _QUOTE_RE.match(lines[i]):
                q.append(re.sub(r"^ {0,3}>\s?", "", lines[i]))
                i += 1
            t = _clean_inline(" ".join(x for x in q if x.strip()))
            if t:
                span("quote", t)
            continue
        lm = _LIST_RE.match(line)
        if lm:
            flush()
            items = []
            while i < n:
                m2 = _LIST_RE.match(lines[i])
                if not m2:
                    break
                items.append(_clean_inline(m2.group(1)))
                i += 1
            span("list", "\n".join(items))
            continue
        para.append(line.strip())
        i += 1
    flush()
    return out


def _md_escape(s: str) -> str:
    for ch in "\\*_`[":
        s = s.replace(ch, "\\" + ch)
    return s.replace("&", "&amp;")


def build_markdown(blocks: list[tuple]) -> bytes:
    """Fixture builder: a GFM document from block tuples —
    ``("text", s)`` (plain, escaped), ``("rawtext", s)`` (verbatim
    inline markup), ``("heading", level, s)``, ``("setext", level, s)``,
    ``("code", lang, s)``, ``("table", [[cells]])``,
    ``("image", url, alt)``, ``("list", [items])``, ``("quote", s)``."""
    parts = []
    for b in blocks:
        if b[0] == "text":
            parts.append(_md_escape(b[1]))
        elif b[0] == "rawtext":
            parts.append(b[1])
        elif b[0] == "heading":
            parts.append("#" * b[1] + " " + _md_escape(b[2]))
        elif b[0] == "setext":
            parts.append(_md_escape(b[2]) + "\n"
                         + ("=" if b[1] == 1 else "-") * 8)
        elif b[0] == "code":
            parts.append("```" + b[1] + "\n" + b[2] + "\n```")
        elif b[0] == "table":
            head, *body = b[1]
            t = ["| " + " | ".join(_md_escape(str(c)) for c in head) + " |",
                 "|" + "---|" * len(head)]
            t += ["| " + " | ".join(_md_escape(str(c)) for c in row) + " |"
                  for row in body]
            parts.append("\n".join(t))
        elif b[0] == "image":
            parts.append("![" + _md_escape(b[2]) + "](" + b[1] + ")")
        elif b[0] == "list":
            parts.append("\n".join("- " + _md_escape(x) for x in b[1]))
        elif b[0] == "quote":
            parts.append("> " + _md_escape(b[1]))
    return ("\n\n".join(parts) + "\n").encode("utf-8")


def markdown_spans(docs: DataFrame, payload_col: str = "payload"
                   ) -> DataFrame:
    """Arrow-batched Markdown → span rows ``(doc_id, seq, kind, text,
    level, media_ref)`` in document order.  Narrow stage, zero
    shuffles."""

    return parsed_rows(docs, parse_markdown, SPANS_SCHEMA, payload_col)


# ----------------------------------------------------------------------
# YAML front matter — static-site metadata ahead of the body
# ----------------------------------------------------------------------

FRONT_MATTER_SCHEMA = (
    "doc_id string, title string, date string, draft boolean,"
    " tags_csv string, n_meta int, body_first_line string"
)

_FM_KV_RE = re.compile(r"^([A-Za-z_][\w-]*):\s*(.*)$")


def parse_front_matter(data: bytes) -> dict:
    """Leading ``---`` -fenced YAML front matter (the Jekyll/Hugo
    convention that dominates static-site corpora) → the curation
    fields pipelines key on.  Honest subset of YAML: scalar
    ``key: value`` (quotes stripped), inline ``[a, b]`` lists, block
    ``- item`` lists, ``true``/``false`` booleans.  Returns ``title``,
    ``date``, ``draft``, ``tags_csv``, ``n_meta`` (total keys) and the
    first body line; a document without front matter yields NULL
    fields with ``n_meta`` 0 and its real first line, so the column is
    safe to read unconditionally."""
    nulls = {"title": None, "date": None, "draft": None,
             "tags_csv": None, "n_meta": 0}
    try:
        src = bytes(data).decode("utf-8")
    except Exception:
        return {**nulls, "body_first_line": None}
    lines = src.replace("\r\n", "\n").split("\n")
    first_body = next((ln for ln in lines if ln.strip()), "")
    if not lines or lines[0].strip() != "---":
        return {**nulls, "body_first_line": first_body or None}
    meta: dict[str, object] = {}
    i = 1
    key = None
    while i < len(lines):
        ln = lines[i]
        if ln.strip() in ("---", "..."):
            i += 1
            break
        item = re.match(r"^\s*-\s+(.*)$", ln)
        if item and key is not None and isinstance(meta.get(key), list):
            meta[key].append(item.group(1).strip().strip("\"'"))
            i += 1
            continue
        kv = _FM_KV_RE.match(ln)
        if kv:
            key, val = kv.group(1), kv.group(2).strip()
            if not val:
                meta[key] = []                     # block list follows
            elif val.startswith("[") and val.endswith("]"):
                meta[key] = [v.strip().strip("\"'")
                             for v in val[1:-1].split(",") if v.strip()]
            else:
                meta[key] = val.strip("\"'")
        i += 1
    else:
        # unterminated fence: not front matter at all
        return {**nulls, "body_first_line": first_body or None}
    body_first = next((ln for ln in lines[i:] if ln.strip()), "")

    def scalar(k):
        v = meta.get(k)
        return v if isinstance(v, str) and v else None

    tags = meta.get("tags")
    draft = meta.get("draft")
    return {
        "title": scalar("title"),
        "date": scalar("date"),
        "draft": (draft == "true") if isinstance(draft, str) else None,
        "tags_csv": ",".join(tags) if isinstance(tags, list) and tags
        else None,
        "n_meta": len(meta),
        "body_first_line": body_first or None,
    }


def front_matter(docs: DataFrame, payload_col: str = "payload"
                 ) -> DataFrame:
    """Arrow-batched front-matter extraction → one row per document.
    Narrow stage, zero shuffles."""

    def front_matter_record(payload):
        return [parse_front_matter(payload)]

    return parsed_rows(docs, front_matter_record, FRONT_MATTER_SCHEMA, payload_col)
