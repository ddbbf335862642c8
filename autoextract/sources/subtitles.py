"""Subtitle ingestion — SRT and WebVTT cue streams → timed text rows.

Subtitle/caption tracks are the text half of video training corpora
(ASR alignment, caption-to-frame pairing); both wild formats are
public and line-structured:

* **SRT** (the de facto SubRip convention): blank-line-separated cue
  blocks of ``index`` / ``HH:MM:SS,mmm --> HH:MM:SS,mmm`` / text
  lines.  Comma millisecond separator; indices are advisory (the
  parser renumbers — wild files skip and repeat them).
* **WebVTT** (W3C): a ``WEBVTT`` header line, dot millisecond
  separator, optional ``MM:SS.mmm`` short form (hours omitted),
  optional cue identifiers above the timing line, cue settings after
  the timestamps (``align:start position:0%`` — dropped), ``NOTE``
  comment blocks (skipped entirely), and inline markup tags
  (``<v Name>``, ``<i>``, ``<c.class>``) which are stripped to text.

Per cue one row: ``(cue, start_ms, end_ms, text)`` with multi-line cue
text joined by newline.  A format is chosen per payload: ``WEBVTT``
magic → VTT rules, else SRT rules.

Containment (O6): payloads with no parseable timing line yield zero
rows; a malformed cue mid-stream is skipped, not fatal.

Spark shape: one per-row ``mapInArrow`` kernel over the binary column —
narrow, zero shuffles.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from ..operators._docwise import parsed_rows

CUES_SCHEMA = (
    "doc_id string, cue int, start_ms bigint, end_ms bigint, text string"
)

_TIME_RE = re.compile(
    r"(?:(\d{1,2}):)?(\d{1,2}):(\d{2})[,.](\d{3})")
_TIMING_RE = re.compile(
    r"^\s*((?:\d{1,2}:)?\d{1,2}:\d{2}[,.]\d{3})\s*-->\s*"
    r"((?:\d{1,2}:)?\d{1,2}:\d{2}[,.]\d{3})(?:\s+.*)?$")
_TAG_RE = re.compile(r"<[^>]*>")


def _ms(t: str) -> int:
    m = _TIME_RE.match(t)
    h = int(m.group(1) or 0)
    return ((h * 60 + int(m.group(2))) * 60 + int(m.group(3))) * 1000 \
        + int(m.group(4))


def parse_subtitles(data: bytes) -> list[dict]:
    """SRT/VTT bytes → ordered cue rows ``{cue, start_ms, end_ms,
    text}``."""
    try:
        src = bytes(data).decode("utf-8", "replace")
    except Exception:
        return []
    src = src.lstrip("﻿")
    lines = src.replace("\r\n", "\n").split("\n")
    is_vtt = bool(lines) and lines[0].startswith("WEBVTT")

    out: list[dict] = []
    i, n = 0, len(lines)
    while i < n:
        ln = lines[i]
        if is_vtt and ln.startswith("NOTE"):
            # comment block: skip to the next blank line
            while i < n and lines[i].strip():
                i += 1
            continue
        m = _TIMING_RE.match(ln)
        if not m:
            i += 1
            continue
        start, end = _ms(m.group(1)), _ms(m.group(2))
        i += 1
        text_lines = []
        while i < n and lines[i].strip():
            t = lines[i]
            if is_vtt:
                t = _TAG_RE.sub("", t)
            text_lines.append(t.strip())
            i += 1
        if end > start and text_lines:
            out.append({"cue": len(out), "start_ms": start,
                        "end_ms": end, "text": "\n".join(text_lines)})
    return out


def _fmt(ms: int, sep: str) -> str:
    h, rem = divmod(ms, 3600000)
    m, rem = divmod(rem, 60000)
    s, milli = divmod(rem, 1000)
    return "%02d:%02d:%02d%s%03d" % (h, m, s, sep, milli)


def build_srt(cues: list[tuple]) -> bytes:
    """Fixture builder: SRT from ``(start_ms, end_ms, text)`` tuples —
    indices deliberately written with gaps (the parser renumbers)."""
    blocks = []
    for k, (s, e, t) in enumerate(cues):
        blocks.append("%d\n%s --> %s\n%s" % (
            k * 2 + 1, _fmt(s, ","), _fmt(e, ","), t))
    return ("\n\n".join(blocks) + "\n").encode("utf-8")


def build_vtt(cues: list[tuple], note: str | None = None) -> bytes:
    """Fixture builder: WebVTT from ``(start_ms, end_ms, text)`` tuples
    with cue ids, settings after the timestamps, inline voice tags, and
    an optional NOTE block."""
    parts = ["WEBVTT"]
    if note:
        parts.append("NOTE\n" + note)
    for k, (s, e, t) in enumerate(cues):
        parts.append("cue-%d\n%s --> %s align:start\n<v Speaker>%s</v>"
                     % (k, _fmt(s, "."), _fmt(e, "."), t))
    return ("\n\n".join(parts) + "\n").encode("utf-8")


def subtitle_cues(docs: DataFrame, payload_col: str = "payload"
                  ) -> DataFrame:
    """Arrow-batched subtitle parse → cue rows.  Narrow stage, zero
    shuffles."""

    return parsed_rows(docs, parse_subtitles, CUES_SCHEMA, payload_col)
