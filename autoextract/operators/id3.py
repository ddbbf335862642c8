"""ID3v2 tag extraction from MP3 payloads (informal standard id3v2.3/2.4).

The audio twin of ``operators/exif.py``: MP3 *audio* decode stays an
honest seam (its Huffman tables can't be re-derived in-sandbox — see
COVERAGE.md), but the metadata container at the front of the file is a
simple documented structure, and curation wants it regardless of decode:
title/artist dedup keys, year for freshness windows, genre routing.

From scratch per the public spec: ``ID3`` header with syncsafe length,
frame walk (v2.3 plain-int frame sizes, v2.4 syncsafe), text frames with
the encoding byte (latin-1 / UTF-16+BOM / UTF-16BE / UTF-8), NUL
trimming.  Malformed payloads yield NULLs (O6 containment).

Spark shape: one per-row ``mapInArrow`` kernel over the binary column —
narrow, zero shuffles.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from ._docwise import map_rows

FRAMES = {"TIT2": "title", "TPE1": "artist", "TALB": "album", "TYER": "year",
          "TDRC": "year"}

ID3_SCHEMA = "title string, artist string, album string, year string"


def _syncsafe(b: bytes) -> int:
    return (b[0] << 21) | (b[1] << 14) | (b[2] << 7) | b[3]


def _decode_text(payload: bytes) -> str | None:
    if not payload:
        return None
    enc, body = payload[0], payload[1:]
    try:
        if enc == 0:
            s = body.decode("latin-1")
        elif enc == 1:
            s = body.decode("utf-16")       # BOM-led
        elif enc == 2:
            s = body.decode("utf-16-be")
        elif enc == 3:
            s = body.decode("utf-8")
        else:
            return None
    except UnicodeDecodeError:
        return None
    return s.split("\x00", 1)[0] or None


def parse_id3(data: bytes) -> dict:
    """Extract title/artist/album/year from an ID3v2.3/2.4 header."""
    out = {"title": None, "artist": None, "album": None, "year": None}
    try:
        if not data or data[:3] != b"ID3" or len(data) < 10:
            return out
        ver = data[3]
        if ver not in (3, 4):
            return out
        tag_size = _syncsafe(data[6:10])
        end = min(10 + tag_size, len(data))
        i = 10
        while i + 10 <= end:
            fid = data[i : i + 4]
            if fid == b"\x00\x00\x00\x00":
                break
            raw_size = data[i + 4 : i + 8]
            size = _syncsafe(raw_size) if ver == 4 else struct.unpack(
                ">I", raw_size
            )[0]
            payload = data[i + 10 : i + 10 + size]
            name = FRAMES.get(fid.decode("ascii", "replace"))
            if name and out[name] is None:
                val = _decode_text(payload)
                if name == "year" and val is not None:
                    val = val[:4]
                out[name] = val
            i += 10 + size
    except Exception:  # O6 containment
        pass
    return out


def build_id3(
    *,
    title: str | None = None,
    artist: str | None = None,
    album: str | None = None,
    year: str | None = None,
    version: int = 3,
    encoding: int = 0,
) -> bytes:
    """Fixture builder: a spec-shaped ID3v2.{3,4} tag (plain vs syncsafe
    frame sizes, latin-1 / UTF-16 / UTF-8 text encodings)."""

    def enc_text(s: str) -> bytes:
        if encoding == 0:
            return b"\x00" + s.encode("latin-1")
        if encoding == 1:
            return b"\x01" + s.encode("utf-16")  # includes BOM
        return b"\x03" + s.encode("utf-8")

    frames = b""
    year_fid = b"TYER" if version == 3 else b"TDRC"
    for fid, val in ((b"TIT2", title), (b"TPE1", artist),
                     (b"TALB", album), (year_fid, year)):
        if val is None:
            continue
        payload = enc_text(val)
        n = len(payload)
        size = (
            bytes([(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F])
            if version == 4
            else struct.pack(">I", n)
        )
        frames += fid + size + b"\x00\x00" + payload
    n = len(frames)
    ss = bytes([(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F])
    return b"ID3" + bytes([version, 0, 0]) + ss + frames


def id3_metadata(media: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Arrow-batched ID3 pass over a binary column: adds title/artist/
    album/year; non-MP3 / tagless payloads get NULLs.  Narrow stage."""
    cols = media.columns
    out_fields = ", ".join(
        f"`{c}` {media.schema[c].dataType.simpleString()}" for c in cols
    )
    schema = f"{out_fields}, {ID3_SCHEMA}"

    k = cols.index(payload_col)

    def id3_row(*row):
        r = parse_id3(row[k] or b"")
        return (*row, r["title"], r["artist"], r["album"], r["year"])

    return map_rows(media, id3_row, schema)
