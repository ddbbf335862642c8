"""LaTeX ingestion — TeX source → ordered interleaved spans.

Scientific-corpus leg of the document front door (arXiv-style sources
are a staple of training-data pipelines; the reference's upload path
accepts arbitrary documents via conversion, `lambda/api/app/utils/
pdf.py` — here the source markup is parsed directly).  Implements the
wild-subset a text-extraction pipeline needs, per the public TeXbook /
LaTeX2e semantics:

* ``%`` comments (``\\%`` escape respected), ``\\begin{document}`` body
* sectioning → heading spans: section/subsection/subsubsection, levels
  1–3, starred forms included
* display math → ``math`` spans: ``equation``/``align``/``displaymath``
  environments, ``\\[...\\]``, ``$$...$$`` — raw TeX preserved as span
  text (the convention used by arXiv-derived pretraining corpora)
* figures → ``image`` spans: ``media_ref`` from ``\\includegraphics``,
  caption text carried on the span
* ``tabular`` → ``table`` spans flattened exactly like the DOCX/RTF
  legs (cells `` | ``, rows newline) so downstream sees one vocabulary
* paragraphs (blank-line separated) → ``text`` spans with inline
  cleanup: style macros unwrapped (``\\emph`` etc.), ``\\cite``/
  ``\\ref`` → bracketed keys, ``\\label``/``\\footnote`` dropped,
  ``~`` → space, ``---``/``--`` → em/en dash ligatures, ``\\'e``-style
  accents composed, ``\\&``-style escapes unescaped, unknown macros and
  group braces dropped, whitespace collapsed

Containment (O6): payloads without a ``\\documentclass`` or
``\\begin{document}`` marker yield zero spans, as do undecodable ones.

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

_SEC_LEVELS = {"section": 1, "subsection": 2, "subsubsection": 3}

_COMMENT_RE = re.compile(r"(?<!\\)%[^\n]*")
_STYLE_RE = re.compile(
    r"\\(?:emph|textbf|textit|texttt|textrm|textsc|textsf|underline|"
    r"mbox|text)\{([^{}]*)\}"
)
_CITE_RE = re.compile(r"\\(?:cite|citep|citet|ref|eqref|autoref)\{([^{}]*)\}")
_DROP_ARG_RE = re.compile(r"\\(?:label|footnote|vspace|hspace)\{[^{}]*\}")
_ACCENTS = {
    "\\'a": "á", "\\'e": "é", "\\'i": "í", "\\'o": "ó", "\\'u": "ú",
    "\\`a": "à", "\\`e": "è", '\\"a': "ä", '\\"o': "ö", '\\"u': "ü",
    "\\^o": "ô", "\\~n": "ñ", "\\c{c}": "ç",
}
_CMD_RE = re.compile(r"\\[a-zA-Z]+\s?")


def _strip_comments(src: str) -> str:
    return _COMMENT_RE.sub("", src)


def _read_group(s: str, i: int) -> tuple[str, int]:
    """Read a balanced ``{...}`` group starting at ``s[i] == '{'``;
    returns (content, index past the closing brace)."""
    depth, j = 0, i
    while j < len(s):
        if s[j] == "{":
            depth += 1
        elif s[j] == "}":
            depth -= 1
            if depth == 0:
                return s[i + 1:j], j + 1
        j += 1
    return s[i + 1:], len(s)


def _inline(s: str) -> str:
    for _ in range(8):                      # unwrap nested style macros
        t = _STYLE_RE.sub(r"\1", s)
        if t == s:
            break
        s = t
    s = _CITE_RE.sub(r"[\1]", s)
    s = _DROP_ARG_RE.sub("", s)
    for k, v in _ACCENTS.items():
        s = s.replace(k, v)
    return s


def _finish_inline(s: str) -> str:
    s = s.replace("\\\\", "\n").replace("~", " ")
    s = s.replace("---", "—").replace("--", "–")
    for esc in "&%_#$":
        s = s.replace("\\" + esc, esc)
    s = s.replace("\\{", "\x00").replace("\\}", "\x01")
    s = _CMD_RE.sub("", s)
    s = s.replace("{", "").replace("}", "")
    s = s.replace("\x00", "{").replace("\x01", "}")
    s = re.sub(r"[ \t]+", " ", s)
    s = re.sub(r" ?\n ?", "\n", s)
    return s.strip()


def _clean(s: str) -> str:
    return _finish_inline(_inline(s))


_BLOCK_RE = re.compile(
    r"\\(?P<sec>section|subsection|subsubsection)\*?\{"
    r"|\\begin\{(?P<env>equation\*?|align\*?|displaymath|figure\*?|"
    r"tabular|table\*?)\}"
    r"|(?P<dmath>\\\[|\$\$)"
)

_GRAPHICS_RE = re.compile(r"\\includegraphics(?:\[[^\]]*\])?\{([^{}]*)\}")
_CAPTION_RE = re.compile(r"\\caption\{")


def _tabular_text(body: str) -> str:
    body = re.sub(r"\\hline|\\toprule|\\midrule|\\bottomrule", "", body)
    if body.startswith("{"):                # column spec group
        _, j = _read_group(body, 0)
        body = body[j:]
    rows = []
    for raw in body.split("\\\\"):
        cells = [_clean(c) for c in raw.split("&")]
        if any(cells):
            rows.append(" | ".join(cells))
    return "\n".join(rows)


def parse_latex(data: bytes) -> list[dict]:
    """LaTeX bytes → ordered spans ``{seq, kind, text, level, media_ref}``
    with kind ∈ {heading, text, math, table, image}."""
    try:
        src = data.decode("utf-8", "replace")
    except Exception:
        return []
    if "\\documentclass" not in src and "\\begin{document}" not in src:
        return []
    src = _strip_comments(src)
    m = re.search(r"(?s)\\begin\{document\}(.*?)(?:\\end\{document\}|$)", src)
    body = m.group(1) if m else src

    out: list[dict] = []
    seq = 0

    def span(kind, text, level=None, media_ref=None):
        nonlocal seq
        out.append({"seq": seq, "kind": kind, "text": text,
                    "level": level, "media_ref": media_ref})
        seq += 1

    def flush_text(chunk: str):
        for para in re.split(r"\n\s*\n", chunk):
            t = _clean(para)
            if t:
                span("text", t)

    pos = 0
    while pos < len(body):
        m = _BLOCK_RE.search(body, pos)
        if not m:
            flush_text(body[pos:])
            break
        flush_text(body[pos:m.start()])
        if m.group("sec"):
            title, pos = _read_group(body, m.end() - 1)
            span("heading", _clean(title), level=_SEC_LEVELS[m.group("sec")])
            continue
        if m.group("dmath"):
            close = r"\\\]" if m.group("dmath") == "\\[" else r"\$\$"
            e = re.search(close, body[m.end():])
            inner = body[m.end():m.end() + e.start()] if e else body[m.end():]
            pos = m.end() + (e.end() if e else len(inner))
            span("math", inner.strip())
            continue
        env = m.group("env")
        base = env.rstrip("*")
        e = re.search(r"\\end\{" + re.escape(env) + r"\}", body[m.end():])
        inner = body[m.end():m.end() + e.start()] if e else body[m.end():]
        pos = m.end() + (e.end() if e else len(inner))
        if base in ("equation", "align", "displaymath"):
            span("math", inner.strip())
        elif base in ("figure", "table"):
            g = _GRAPHICS_RE.search(inner)
            cm = _CAPTION_RE.search(inner)
            caption = ""
            if cm:
                caption, _ = _read_group(inner, cm.end() - 1)
                caption = _clean(caption)
            tab = re.search(r"(?s)\\begin\{tabular\}(.*?)\\end\{tabular\}",
                            inner)
            if g is not None:
                span("image", caption, media_ref=g.group(1))
            elif tab is not None:
                span("table", _tabular_text(tab.group(1)))
            elif caption:
                span("text", caption)
        elif base == "tabular":
            span("table", _tabular_text(inner))
    return out


def _tex_escape(s: str) -> str:
    out = []
    rev = {v: k for k, v in _ACCENTS.items()}
    for ch in s:
        if ch in "&%_#$":
            out.append("\\" + ch)
        elif ch in rev:
            out.append(rev[ch] + " ")
        else:
            out.append(ch)
    return "".join(out)


def build_latex(blocks: list[tuple]) -> bytes:
    """Fixture builder: a minimal arXiv-style LaTeX source from block
    tuples — ``("text", s)``, ``("heading", level, s)``, ``("math", s)``,
    ``("table", [[cells]])``, ``("image", file, caption)``."""
    names = {1: "section", 2: "subsection", 3: "subsubsection"}
    parts = [
        "\\documentclass{article}",
        "% fixture source — comments must vanish",
        "\\usepackage{graphicx}",
        "\\begin{document}",
    ]
    for b in blocks:
        if b[0] == "text":
            parts.append(b[1] + "\n")
        elif b[0] == "heading":
            parts.append(f"\\{names[b[1]]}{{{_tex_escape(b[2])}}}\n")
        elif b[0] == "math":
            parts.append("\\begin{equation}\n" + b[1] + "\n\\end{equation}\n")
        elif b[0] == "table":
            rows = " \\\\\n".join(
                " & ".join(_tex_escape(str(c)) for c in row) for row in b[1]
            )
            parts.append(
                "\\begin{tabular}{ll}\n\\hline\n" + rows
                + "\n\\hline\n\\end{tabular}\n"
            )
        elif b[0] == "image":
            parts.append(
                "\\begin{figure}\n\\includegraphics[width=\\linewidth]{"
                + b[1] + "}\n\\caption{" + _tex_escape(b[2])
                + "}\n\\end{figure}\n"
            )
    parts.append("\\end{document}")
    return "\n".join(parts).encode("utf-8")


def latex_spans(docs: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Arrow-batched LaTeX → span rows ``(doc_id, seq, kind, text, level,
    media_ref)`` in document order.  Narrow stage, zero shuffles."""

    return parsed_rows(docs, parse_latex, SPANS_SCHEMA, payload_col)
