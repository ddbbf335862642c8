"""EXIF metadata extraction from JPEG payloads (TIFF 6.0 IFD walk).

Image curation keys on EXIF before pixels: orientation decides whether the
decoded raster needs a rotate (dHash and resize are orientation-sensitive),
DateTimeOriginal drives freshness/dedup windows, and Make/Model separate
camera photos from renders/screenshots.  The reference reads none of this
(PyMuPDF rasterizes and discards metadata); at corpus scale the metadata
pass is ~1000× cheaper than decoding pixels, so it runs FIRST.

From-scratch per the public specs: JPEG APP1 segment (``Exif\\0\\0``
preamble) wrapping a TIFF 6.0 structure — byte-order mark (``II``/``MM``),
IFD0 entry walk, SHORT/LONG/ASCII value decoding with the ≤4-byte inline
vs offset rule, and the ExifIFD pointer (0x8769) for DateTimeOriginal.
Malformed payloads yield NULLs (O6 containment), never task failures.

Spark shape: one per-row ``mapInArrow`` kernel over the binary column —
narrow, zero shuffles; bytes never become JVM strings.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from ._docwise import map_rows

#: (tag, name) pairs read from IFD0 / ExifIFD
TAG_MAKE = 0x010F
TAG_MODEL = 0x0110
TAG_ORIENTATION = 0x0112
TAG_DATETIME = 0x0132
TAG_EXIF_IFD = 0x8769
TAG_DT_ORIGINAL = 0x9003

EXIF_SCHEMA = (
    "orientation int, make string, model string, datetime string, "
    "datetime_original string"
)


def _read_ifd(data: bytes, off: int, bo: str) -> dict[int, tuple[int, int, bytes]]:
    """One IFD → {tag: (type, count, raw_value_field)}."""
    out: dict[int, tuple[int, int, bytes]] = {}
    if off + 2 > len(data):
        return out
    (n,) = struct.unpack_from(bo + "H", data, off)
    for i in range(n):
        base = off + 2 + 12 * i
        if base + 12 > len(data):
            break
        tag, typ, cnt = struct.unpack_from(bo + "HHI", data, base)
        out[tag] = (typ, cnt, data[base + 8 : base + 12])
    return out


_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}


def _value(data: bytes, bo: str, typ: int, cnt: int, raw: bytes):
    size = _TYPE_SIZE.get(typ, 1) * cnt
    if size <= 4:
        buf = raw[:size]
    else:
        (off,) = struct.unpack(bo + "I", raw)
        if off + size > len(data):
            return None
        buf = data[off : off + size]
    if typ == 2:  # ASCII, NUL-terminated
        return buf.split(b"\x00", 1)[0].decode("ascii", "replace")
    if typ == 3:  # SHORT
        return struct.unpack(bo + "H", buf[:2])[0]
    if typ == 4:  # LONG
        return struct.unpack(bo + "I", buf[:4])[0]
    return None


def parse_exif(jpeg: bytes) -> dict:
    """Extract the curation-relevant EXIF fields from a JPEG byte string.
    Returns a dict with NULLs (None) for anything absent or malformed."""
    out = {
        "orientation": None, "make": None, "model": None,
        "datetime": None, "datetime_original": None,
    }
    try:
        if not jpeg or jpeg[:2] != b"\xff\xd8":
            return out
        # walk JPEG segments for APP1/Exif
        i = 2
        tiff = None
        while i + 4 <= len(jpeg):
            if jpeg[i] != 0xFF:
                break
            marker = jpeg[i + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            (seg_len,) = struct.unpack_from(">H", jpeg, i + 2)
            if marker == 0xE1 and jpeg[i + 4 : i + 10] == b"Exif\x00\x00":
                tiff = jpeg[i + 10 : i + 2 + seg_len]
                break
            if marker == 0xDA:  # SOS — metadata segments are over
                break
            i += 2 + seg_len
        if tiff is None or len(tiff) < 8:
            return out
        if tiff[:2] == b"II":
            bo = "<"
        elif tiff[:2] == b"MM":
            bo = ">"
        else:
            return out
        (magic,) = struct.unpack_from(bo + "H", tiff, 2)
        if magic != 42:
            return out
        (ifd0_off,) = struct.unpack_from(bo + "I", tiff, 4)
        ifd0 = _read_ifd(tiff, ifd0_off, bo)
        for tag, key in (
            (TAG_ORIENTATION, "orientation"), (TAG_MAKE, "make"),
            (TAG_MODEL, "model"), (TAG_DATETIME, "datetime"),
        ):
            if tag in ifd0:
                out[key] = _value(tiff, bo, *ifd0[tag])
        if TAG_EXIF_IFD in ifd0:
            ptr = _value(tiff, bo, *ifd0[TAG_EXIF_IFD])
            if isinstance(ptr, int):
                exif_ifd = _read_ifd(tiff, ptr, bo)
                if TAG_DT_ORIGINAL in exif_ifd:
                    out["datetime_original"] = _value(
                        tiff, bo, *exif_ifd[TAG_DT_ORIGINAL]
                    )
    except Exception:  # O6 containment: malformed EXIF → NULLs
        pass
    o = out["orientation"]
    if o is not None and not (1 <= int(o) <= 8):
        out["orientation"] = None
    return out


def build_exif_app1(
    *,
    orientation: int | None = None,
    make: str | None = None,
    model: str | None = None,
    datetime: str | None = None,
    datetime_original: str | None = None,
    byte_order: str = "II",
) -> bytes:
    """Fixture builder: a spec-shaped APP1/Exif segment (both byte orders,
    inline and offset values, optional ExifIFD) for tests and oracles."""
    bo = "<" if byte_order == "II" else ">"
    entries: list[tuple[int, int, int, bytes | int]] = []
    tail = b""
    #: layout: [8B header][IFD0][ExifIFD?][ascii tail]; offsets are from
    #: the TIFF origin, so sizes must be decided before packing
    n0 = sum(
        x is not None for x in (orientation, make, model, datetime)
    ) + (1 if datetime_original is not None else 0)
    exif_entries = 1 if datetime_original is not None else 0
    ifd0_size = 2 + 12 * n0 + 4
    exif_off = 8 + ifd0_size
    exif_size = (2 + 12 * exif_entries + 4) if exif_entries else 0
    data_off = exif_off + exif_size

    def ascii_field(s: str) -> tuple[int, bytes | int]:
        nonlocal tail, data_off
        raw = s.encode("ascii") + b"\x00"
        if len(raw) <= 4:
            return len(raw), raw.ljust(4, b"\x00")
        off = data_off + len(tail)
        tail += raw
        return len(raw), off

    if make is not None:
        cnt, val = ascii_field(make)
        entries.append((TAG_MAKE, 2, cnt, val))
    if model is not None:
        cnt, val = ascii_field(model)
        entries.append((TAG_MODEL, 2, cnt, val))
    if orientation is not None:
        entries.append((TAG_ORIENTATION, 3, 1,
                        struct.pack(bo + "H", orientation).ljust(4, b"\x00")))
    if datetime is not None:
        cnt, val = ascii_field(datetime)
        entries.append((TAG_DATETIME, 2, cnt, val))
    if datetime_original is not None:
        entries.append((TAG_EXIF_IFD, 4, 1, exif_off))

    def pack_ifd(ents) -> bytes:
        ents = sorted(ents)
        buf = struct.pack(bo + "H", len(ents))
        for tag, typ, cnt, val in ents:
            buf += struct.pack(bo + "HHI", tag, typ, cnt)
            buf += val if isinstance(val, bytes) else struct.pack(bo + "I", val)
        return buf + struct.pack(bo + "I", 0)

    body = pack_ifd(entries)
    if exif_entries:
        cnt, val = ascii_field(datetime_original)
        body += pack_ifd([(TAG_DT_ORIGINAL, 2, cnt, val)])
    tiff = (
        (b"II" if byte_order == "II" else b"MM")
        + struct.pack(bo + "H", 42)
        + struct.pack(bo + "I", 8)
        + body
        + tail
    )
    payload = b"Exif\x00\x00" + tiff
    return b"\xff\xe1" + struct.pack(">H", len(payload) + 2) + payload


def splice_app1(jpeg: bytes, app1: bytes) -> bytes:
    """Insert an APP1 segment right after SOI — the canonical position."""
    return jpeg[:2] + app1 + jpeg[2:]


def exif_metadata(
    media: DataFrame, payload_col: str = "payload"
) -> DataFrame:
    """Arrow-batched EXIF pass over a binary JPEG column: adds the five
    curation fields (module docstring); non-JPEG / EXIF-less payloads get
    NULLs.  Narrow stage, zero shuffles."""
    cols = media.columns
    out_fields = ", ".join(
        f"`{c}` {media.schema[c].dataType.simpleString()}" for c in cols
    )
    schema = f"{out_fields}, {EXIF_SCHEMA}"

    k = cols.index(payload_col)

    def exif_row(*row):
        r = parse_exif(row[k] or b"")
        return (
            *row, r["orientation"], r["make"], r["model"], r["datetime"],
            r["datetime_original"],
        )

    return map_rows(media, exif_row, schema)


# ----------------------------------------------------------------------
# metadata stripping (the privacy scrub before images enter a corpus)
# ----------------------------------------------------------------------


def strip_jpeg_metadata(jpeg: bytes) -> tuple[bytes, bool]:
    """Remove EXIF/XMP/ICC/comment segments from a JPEG — the privacy
    scrub (GPS position, serial numbers, author fields all live in APP1+)
    training pipelines run before images enter a corpus. Drops APP1–APP15
    and COM segments; keeps SOI, APP0/JFIF, quantization/Huffman tables,
    frame/scan headers and the entropy-coded image data byte-identical —
    pixels are untouched by construction. Returns (bytes, changed).
    Non-JPEG payloads pass through unchanged (containment)."""
    if len(jpeg) < 4 or jpeg[:2] != b"\xff\xd8":
        return jpeg, False
    out = bytearray(b"\xff\xd8")
    i = 2
    changed = False
    n = len(jpeg)
    while i + 4 <= n:
        if jpeg[i] != 0xFF:
            break
        marker = jpeg[i + 1]
        if marker == 0xDA:  # SOS: entropy data follows — copy the rest
            out += jpeg[i:]
            return bytes(out), changed
        if 0xD0 <= marker <= 0xD7 or marker == 0x01:
            out += jpeg[i : i + 2]
            i += 2
            continue
        (seg_len,) = struct.unpack_from(">H", jpeg, i + 2)
        seg = jpeg[i : i + 2 + seg_len]
        # APP1..APP15 (0xE1-0xEF) and COM (0xFE) are metadata; APP0/JFIF
        # stays — decoders expect it. APP14 (0xEE) also stays (ADVICE r5):
        # the Adobe segment carries the color-transform flag (YCbCr/YCCK/
        # RGB), so dropping it changes how decoders interpret the pixel
        # data — only APP1/EXIF-XMP, other APPn and COM carry the
        # privacy-sensitive fields.
        if (0xE1 <= marker <= 0xEF and marker != 0xEE) or marker == 0xFE:
            changed = True
        else:
            out += seg
        i += 2 + seg_len
    out += jpeg[i:]
    return bytes(out), changed


def strip_media_metadata(
    media, payload_col: str = "payload", id_col: str = "media_ref"
):
    """(id, payload) → (id, payload, stripped) with JPEG metadata
    segments removed; non-JPEG payloads pass through byte-identical with
    ``stripped=false`` (the resize kernel's containment contract).
    Narrow Arrow stage, zero shuffles."""
    schema_id_type = "string" if id_col == "media_ref" else "long"
    schema = f"{id_col} {schema_id_type}, payload binary, stripped boolean"

    def strip_row(ref, payload):
        b = payload or b""
        try:
            out, changed = strip_jpeg_metadata(b)
        except Exception:
            out, changed = b, False
        return ref, out, changed

    return map_rows(media.select(id_col, payload_col), strip_row, schema)
