"""MP4 / ISO-BMFF container metadata — the video leg of the multimodal
family.

A 100 TB multimodal corpus carries video as opaque ``binary`` next to the
images and audio the engine already decodes; the curation fields a pipeline
filters on BEFORE touching any codec (duration, track inventory, display
dimensions, brand) all live in the ``moov`` box tree and cost a few hundred
bytes of header walk per file — the same ~1000×-cheaper-than-decode stance
as the EXIF/ID3 operators. Codec-level frame decode (H.264/AV1) is the same
honest seam as lossy WebP/MP3: entropy-coder constant tables that cannot be
re-derived in-sandbox.

From-scratch per ISO/IEC 14496-12 (public spec):

  * box framing — 32-bit size + fourcc, ``size==1`` → 64-bit largesize,
    ``size==0`` → box extends to end of enclosure;
  * ``ftyp`` major brand;
  * ``moov``/``mvhd`` — movie timescale + duration, version 0 (32-bit) and
    version 1 (64-bit) layouts;
  * ``trak``/``tkhd`` — 16.16 fixed-point presentation width/height;
  * ``trak``/``mdia``/``hdlr`` — handler fourcc (``vide``/``soun``/…), in
    track order.

Spark shape: one per-row ``mapInArrow`` kernel, narrow (zero shuffles), Arrow
batches in and out, per-row O6 containment (a torn file yields a
``valid=false`` row, never a task failure). Reference parity: the reference
whitelists uploads and never reads video (``schema_service.py:225-227``) —
this operator is part of the beyond-reference training-data surface.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame

from ..operators._docwise import map_rows


class Mp4Error(ValueError):
    pass


def _walk_boxes(data: bytes, start: int, end: int) -> Iterator[tuple[bytes, int, int]]:
    """Yield (fourcc, payload_start, payload_end) for each box in
    data[start:end], honoring largesize and size==0 per §4.2."""
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack_from(">I", data, pos)
        typ = data[pos + 4 : pos + 8]
        hdr = 8
        if size == 1:
            if pos + 16 > end:
                raise Mp4Error("truncated largesize box")
            (size,) = struct.unpack_from(">Q", data, pos + 8)
            hdr = 16
        elif size == 0:
            size = end - pos
        if size < hdr or pos + size > end:
            raise Mp4Error("box overruns enclosure")
        yield typ, pos + hdr, pos + size
        pos += size


def _find(data: bytes, start: int, end: int, fourcc: bytes) -> tuple[int, int] | None:
    for typ, s, e in _walk_boxes(data, start, end):
        if typ == fourcc:
            return s, e
    return None


def parse_mp4_meta(data: bytes) -> dict:
    """The curation fields from one MP4/ISO-BMFF byte string. Raises
    ``Mp4Error`` on anything that is not a well-formed BMFF file with a
    moov/mvhd — the table kernel maps that to a valid=false row."""
    if len(data) < 12:
        raise Mp4Error("too short")
    boxes = list(_walk_boxes(data, 0, len(data)))
    if not boxes or boxes[0][0] != b"ftyp":
        raise Mp4Error("no ftyp leader")
    fs, fe = boxes[0][1], boxes[0][2]
    if fe - fs < 8:
        raise Mp4Error("short ftyp")
    major_brand = data[fs : fs + 4].decode("ascii", "replace")

    moov = _find(data, 0, len(data), b"moov")
    if moov is None:
        raise Mp4Error("no moov")
    ms, me = moov

    mvhd = _find(data, ms, me, b"mvhd")
    if mvhd is None:
        raise Mp4Error("no mvhd")
    vs, ve = mvhd
    version = data[vs]
    if version == 1:
        # v1: creation(8) modification(8) timescale(4) duration(8)
        if ve - vs < 4 + 16 + 4 + 8:
            raise Mp4Error("short mvhd v1")
        (timescale,) = struct.unpack_from(">I", data, vs + 4 + 16)
        (duration,) = struct.unpack_from(">Q", data, vs + 4 + 20)
    else:
        # v0: creation(4) modification(4) timescale(4) duration(4)
        if ve - vs < 4 + 8 + 4 + 4:
            raise Mp4Error("short mvhd v0")
        (timescale,) = struct.unpack_from(">I", data, vs + 4 + 8)
        (duration,) = struct.unpack_from(">I", data, vs + 4 + 12)
    if timescale == 0:
        raise Mp4Error("zero timescale")
    duration_ms = duration * 1000 // timescale

    handlers: list[str] = []
    video_w: int | None = None
    video_h: int | None = None
    for typ, ts_, te_ in _walk_boxes(data, ms, me):
        if typ != b"trak":
            continue
        handler = None
        mdia = _find(data, ts_, te_, b"mdia")
        if mdia is not None:
            hdlr = _find(data, mdia[0], mdia[1], b"hdlr")
            if hdlr is not None and hdlr[1] - hdlr[0] >= 12:
                handler = data[hdlr[0] + 8 : hdlr[0] + 12].decode("ascii", "replace")
        handlers.append(handler or "????")
        if handler == "vide" and video_w is None:
            tkhd = _find(data, ts_, te_, b"tkhd")
            if tkhd is not None:
                ks, ke = tkhd
                tk_v = data[ks]
                # after version+flags: v0 → 4+4+4+4+4 then 8+2+2+2+2+36,
                # v1 → 8+8+4+4+8 then the same trailer; width/height are
                # the final two 16.16 fixed-point u32s of the box — the
                # trailer is 52+8 bytes, so a well-formed v0 tkhd is 84
                # bytes (v1: 96), not 76/88 (ADVICE r5: the short bound
                # let a truncated box read garbage dims from matrix bytes)
                need = (4 + 32 + 60) if tk_v == 1 else (4 + 20 + 60)
                if ke - ks >= need:
                    (w_fx,) = struct.unpack_from(">I", data, ke - 8)
                    (h_fx,) = struct.unpack_from(">I", data, ke - 4)
                    video_w, video_h = w_fx >> 16, h_fx >> 16
    return {
        "major_brand": major_brand,
        "timescale": int(timescale),
        "duration_ms": int(duration_ms),
        "n_tracks": len(handlers),
        "video_width": video_w,
        "video_height": video_h,
        "handlers": ",".join(handlers),
    }


# ----------------------------------------------------------------------
# fixture writer
# ----------------------------------------------------------------------


def _box(fourcc: bytes, payload: bytes, largesize: bool = False) -> bytes:
    if largesize:
        return struct.pack(">I", 1) + fourcc + struct.pack(">Q", 16 + len(payload)) + payload
    return struct.pack(">I", 8 + len(payload)) + fourcc + payload


def _fixed_16_16(v: int) -> bytes:
    return struct.pack(">I", (v & 0xFFFF) << 16)


def to_mp4(
    major_brand: str = "isom",
    timescale: int = 600,
    duration: int = 600,
    tracks: list[tuple[str, int, int]] | None = None,
    mvhd_version: int = 0,
    moov_largesize: bool = False,
) -> bytes:
    """Deterministic minimal BMFF fixture: ftyp + moov(mvhd + one trak per
    (handler, w, h)) + a tiny mdat. ``mvhd_version=1`` exercises the 64-bit
    duration layout; ``moov_largesize`` the size==1 framing."""
    tracks = tracks if tracks is not None else [("vide", 640, 480), ("soun", 0, 0)]
    ftyp = _box(b"ftyp", major_brand.encode("ascii") + struct.pack(">I", 0) + b"isom")
    if mvhd_version == 1:
        mvhd_body = (
            b"\x01\x00\x00\x00"
            + struct.pack(">QQIQ", 0, 0, timescale, duration)
            + b"\x00" * 80
        )
    else:
        mvhd_body = (
            b"\x00\x00\x00\x00"
            + struct.pack(">IIII", 0, 0, timescale, duration)
            + b"\x00" * 80
        )
    parts = [_box(b"mvhd", mvhd_body)]
    for i, (handler, w, h) in enumerate(tracks):
        tkhd = _box(
            b"tkhd",
            b"\x00\x00\x00\x07"
            + struct.pack(">IIII", 0, 0, i + 1, 0)  # times, track_ID, rsvd
            + struct.pack(">I", duration)
            + b"\x00" * 8  # reserved
            + b"\x00" * 8  # layer, alt_group, volume, reserved
            + b"\x00" * 36  # identity matrix slot (zeros fine for fixtures)
            + _fixed_16_16(w)
            + _fixed_16_16(h),
        )
        hdlr = _box(
            b"hdlr",
            b"\x00\x00\x00\x00"
            + struct.pack(">I", 0)
            + handler.encode("ascii")
            + b"\x00" * 12
            + b"fixture\x00",
        )
        mdhd = _box(
            b"mdhd",
            b"\x00\x00\x00\x00" + struct.pack(">IIII", 0, 0, timescale, duration) + b"\x55\xc4\x00\x00",
        )
        mdia = _box(b"mdia", mdhd + hdlr)
        parts.append(_box(b"trak", tkhd + mdia))
    moov = _box(b"moov", b"".join(parts), largesize=moov_largesize)
    mdat = _box(b"mdat", b"\x00" * 8)
    return ftyp + moov + mdat


# ----------------------------------------------------------------------
# table kernel
# ----------------------------------------------------------------------

MP4_META_SCHEMA = (
    "doc_id long, valid boolean, major_brand string, duration_ms long, "
    "n_tracks int, video_width int, video_height int, handlers string"
)


def mp4_meta_table(
    media: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, valid, major_brand, duration_ms, n_tracks, video_width,
    video_height, handlers) per payload — one narrow Arrow stage, zero
    shuffles; malformed/non-BMFF payloads → valid=false with NULL fields
    (O6 containment, same contract as the EXIF/ID3 kernels)."""

    def mp4_meta_row(did, payload):
        try:
            m = parse_mp4_meta(payload or b"")
            return (
                int(did), True, m["major_brand"], m["duration_ms"], m["n_tracks"],
                m["video_width"], m["video_height"], m["handlers"],
            )
        except Exception:
            return (int(did), False, None, None, None, None, None, None)

    return map_rows(media.select(id_col, payload_col), mp4_meta_row, MP4_META_SCHEMA)
