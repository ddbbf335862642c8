"""RTF ingestion — Rich Text Format → ordered spans.

The legacy-office leg of the document front door (reference accepts any
uploaded office document via its conversion path, `lambda/api/app/utils/
pdf.py`; here the wire format is parsed directly).  RTF (Word 1.x-2019,
WordPad, TextEdit) is a brace-grouped control-word stream — the public
spec is the Microsoft RTF 1.9.1 specification.  This module implements
the wild-subset a text-extraction pipeline needs:

* groups ``{}`` with inherited state, ignorable destinations ``{\\*\\…}``
* control words with numeric parameters, control symbols (``\\\\ \\{ \\}``)
* skip destinations: ``fonttbl colortbl stylesheet info generator``
* text escapes: ``\\'hh`` (codepage byte, cp1252/latin-1), ``\\uN`` with
  ``\\ucN`` fallback-skip semantics, ``\\~`` nbsp, ``\\_`` nb-hyphen,
  ``\\tab`` / ``\\line``
* paragraphs via ``\\par`` (+ ``\\pard`` property reset); headings via
  ``\\outlinelevelN`` (level N → heading N+1, Word's outline mapping)
* tables via ``\\trowd`` / ``\\cell`` / ``\\row`` — one ``table`` span
  per contiguous row run, cells joined by `` | ``, rows by newline
  (same flattening as sources/docx.py so downstream sees one vocabulary)
* ``{\\pict …}`` picture destinations → one ``image`` span, hex payload
  skipped

Output is the engine's interleaved span vocabulary ``(seq, kind, text,
level)`` with kind ∈ {heading, text, table, image} — identical to the
DOCX/PPTX legs, so the span pipeline downstream is format-agnostic.
Malformed payloads yield zero spans (O6 containment).

Spark shape: one per-row ``mapInArrow`` kernel over the binary column —
narrow, zero shuffles, trivially data-parallel at 10^12-doc scale.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from ..operators._docwise import parsed_rows

SPANS_SCHEMA = (
    "doc_id string, seq int, kind string, text string, level int"
)

#: one regex pass tokenizes the whole stream: control word (optional
#: signed parameter, one optional trailing space), hex escape, control
#: symbol, group delimiters, plain-text run
_TOKEN = re.compile(
    r"\\([a-z]+)(-?\d+)? ?"      # 1,2: control word + parameter
    r"|\\'([0-9a-fA-F]{2})"      # 3: codepage hex escape
    r"|\\([^a-z])"               # 4: control symbol
    r"|([{}])"                   # 5: group open/close
    r"|([^\\{}]+)",              # 6: plain text
    re.S,
)

_SKIP_DESTS = frozenset(
    {"fonttbl", "colortbl", "stylesheet", "info", "generator",
     "themedata", "datastore", "rsidtbl", "listtable"}
)


def parse_rtf(data: bytes) -> list[dict]:
    """RTF bytes → ordered spans ``{seq, kind, text, level}`` with kind
    ∈ {``heading``, ``text``, ``table``, ``image``}."""
    try:
        src = data.decode("latin-1")
    except Exception:
        return []
    if not src.lstrip().startswith("{\\rtf"):
        return []

    out: list[dict] = []
    # group-inherited state: (skip_destination, uc_fallback_count)
    stack: list[tuple[bool, int]] = []
    skip, uc = False, 1
    star_pending = False     # saw \* — next unknown control word skips group
    pend_skip = 0            # \uN fallback chars still to drop
    text: list[str] = []     # paragraph / cell accumulator
    level: int | None = None
    cur_row: list[str] = []
    table_rows: list[str] = []
    in_table = False
    seq = 0

    def flush_table():
        nonlocal seq, table_rows
        if table_rows:
            out.append({"seq": seq, "kind": "table",
                        "text": "\n".join(table_rows), "level": None})
            seq += 1
            table_rows = []

    def flush_para():
        nonlocal seq, text, level
        t = "".join(text)
        text = []
        if t.strip():
            flush_table()
            out.append({
                "seq": seq,
                "kind": "heading" if level is not None else "text",
                "text": t,
                "level": level,
            })
            seq += 1
        level = None

    def emit(s: str):
        nonlocal pend_skip
        if skip or not s:
            return
        if pend_skip:
            drop = min(pend_skip, len(s))
            pend_skip -= drop
            s = s[drop:]
        if s:
            text.append(s)

    for m in _TOKEN.finditer(src):
        word, param, hexesc, sym, brace, plain = m.groups()
        if brace == "{":
            stack.append((skip, uc))
            star_pending = False
            continue
        if brace == "}":
            if not stack:
                break
            skip, uc = stack.pop()
            star_pending = False
            continue
        if plain is not None:
            emit(plain.replace("\r", "").replace("\n", ""))
            continue
        if hexesc is not None:
            if pend_skip:
                pend_skip -= 1
            else:
                emit(bytes([int(hexesc, 16)]).decode("cp1252", "replace"))
            continue
        if sym is not None:
            if sym == "*":
                star_pending = True
            elif sym in "\\{}":
                emit(sym)
            elif sym == "~":
                emit("\u00a0")
            elif sym == "_":
                emit("-")
            # \- optional hyphen and others: drop
            continue
        # control word
        if skip:
            continue
        n = int(param) if param is not None else None
        if word in _SKIP_DESTS or (star_pending and word not in ("u",)):
            skip = True
            star_pending = False
            continue
        star_pending = False
        if word == "pict":
            flush_table()
            out.append({"seq": seq, "kind": "image", "text": "", "level": None})
            seq += 1
            skip = True                     # hex payload: drop
        elif word == "par":
            if in_table:
                emit("\n")
            else:
                flush_para()
        elif word == "pard":
            in_table = False
        elif word == "outlinelevel":
            level = (n or 0) + 1
        elif word == "uc":
            uc = n if n is not None else 1
        elif word == "u":
            cp = n if n is not None else 63
            if cp < 0:                      # signed 16-bit wraparound
                cp += 65536
            emit(chr(cp))
            pend_skip = uc
        elif word == "tab":
            emit("\t")
        elif word == "line":
            emit("\n")
        elif word == "trowd":
            in_table = True
        elif word == "cell":
            cur_row.append("".join(text))
            text = []
        elif word == "row":
            table_rows.append(" | ".join(cur_row))
            cur_row = []
        # all other control words (formatting, fonts, metrics): ignore
    flush_para()
    flush_table()
    return out


def _escape(s: str) -> str:
    parts = []
    for ch in s:
        o = ord(ch)
        if ch in "\\{}":
            parts.append("\\" + ch)
        elif o < 128:
            parts.append(ch)
        elif o < 256:
            parts.append(f"\\'{o:02x}")
        else:
            parts.append(f"\\u{o if o < 32768 else o - 65536}?")
    return "".join(parts)


def build_rtf(blocks: list[tuple]) -> bytes:
    """Fixture builder: a minimal valid RTF from the shared block tuples
    — ``("text", s)``, ``("heading", level, s)``, ``("table", [[cells]])``,
    ``("image",)`` — with a font table the parser must skip."""
    parts = [
        "{\\rtf1\\ansi\\ansicpg1252\\deff0",
        "{\\fonttbl{\\f0\\fswiss Helvetica;}}",
        "{\\*\\generator autoextract fixtures;}",
    ]
    for b in blocks:
        if b[0] == "text":
            parts.append("\\pard " + _escape(b[1]) + "\\par")
        elif b[0] == "heading":
            parts.append(
                f"\\pard\\outlinelevel{b[1] - 1} " + _escape(b[2]) + "\\par"
            )
        elif b[0] == "table":
            for row in b[1]:
                parts.append(
                    "\\trowd "
                    + "".join(_escape(str(c)) + "\\cell " for c in row)
                    + "\\row"
                )
            parts.append("\\pard")
        elif b[0] == "image":
            parts.append("{\\pict\\pngblip 89504e470d0a1a0a}")
    parts.append("}")
    return "\n".join(parts).encode("latin-1")


def rtf_spans(docs: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Arrow-batched RTF → span rows ``(doc_id, seq, kind, text, level)``
    in document order.  Narrow stage, zero shuffles."""

    return parsed_rows(docs, parse_rtf, SPANS_SCHEMA, payload_col)
