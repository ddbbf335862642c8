"""MP3 frame-header walk — stream metadata without audio decode.

Full MPEG audio decode stays an honest out-of-envelope seam (the
reference has no audio at all); what a curation pipeline actually
needs from an MP3 is cheap: codec parameters, frame count, duration,
whether the stream is VBR — all derivable from the 4-byte frame
headers alone (public format: ISO/IEC 11172-3 §2.4.1.3 and the de
facto MPEG-2/2.5 extensions).  Per payload:

* skip a leading ID3v2 container (syncsafe size, same rule as
  ``operators/id3.py``);
* resync to the first 11-bit frame sync, then WALK header-to-header:
  each frame's byte length is computed from its bitrate/samplerate/
  padding fields (layer-specific slot formula), so a single corrupt
  byte mid-stream ends the walk instead of desyncing it;
* per-frame: MPEG version (1 / 2 / 2.5), layer (I/II/III), bitrate
  from the version×layer table, sample rate, channel mode;
* Xing/Info tag detection in the first frame (the LAME convention:
  offset depends on version + mono/stereo) — its frame count wins
  for VBR files where walking a truncated upload would undercount;
* aggregate: ``n_frames``, mean bitrate (kbps), ``vbr`` flag,
  ``duration_ms`` = frames × samples-per-frame / samplerate.

Containment (O6): payloads with no valid sync yield a NULL row with
``valid=false``; a mid-stream corruption yields the prefix walked so
far (valid=true — truncation is normal for range-fetched objects).

Spark shape: one per-row ``mapInArrow`` kernel over the binary column —
narrow, zero shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ._docwise import parsed_rows

META_SCHEMA = (
    "doc_id string, version string, layer int, sample_rate int,"
    " channels int, bitrate_kbps int, n_frames int, duration_ms bigint,"
    " vbr boolean, valid boolean"
)

# bitrate tables (kbps), index 1..14; 0=free, 15=bad — ISO 11172-3
_BITRATES = {
    ("1", 1): [0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352,
               384, 416, 448],
    ("1", 2): [0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256,
               320, 384],
    ("1", 3): [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
               256, 320],
    ("2", 1): [0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192,
               224, 256],
    ("2", 2): [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144,
               160],
    ("2", 3): [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144,
               160],
}
_SAMPLE_RATES = {"1": [44100, 48000, 32000],
                 "2": [22050, 24000, 16000],
                 "2.5": [11025, 12000, 8000]}
#: samples per frame by (version-group, layer)
_SPF = {("1", 1): 384, ("1", 2): 1152, ("1", 3): 1152,
        ("2", 1): 384, ("2", 2): 1152, ("2", 3): 576}


def _parse_header(b: bytes, i: int):
    """4 bytes at ``i`` → (version, layer, bitrate_kbps, sample_rate,
    channels, frame_len) or None."""
    if i + 4 > len(b):
        return None
    h = int.from_bytes(b[i:i + 4], "big")
    if (h >> 21) & 0x7FF != 0x7FF:
        return None
    ver_bits = (h >> 19) & 3
    version = {0: "2.5", 2: "2", 3: "1"}.get(ver_bits)
    layer = {1: 3, 2: 2, 3: 1}.get((h >> 17) & 3)
    if version is None or layer is None:
        return None
    br_idx = (h >> 12) & 0xF
    sr_idx = (h >> 10) & 3
    if br_idx in (0, 15) or sr_idx == 3:
        return None
    group = "1" if version == "1" else "2"
    bitrate = _BITRATES[(group, layer)][br_idx]
    sample_rate = _SAMPLE_RATES[version][sr_idx]
    padding = (h >> 9) & 1
    channels = 1 if ((h >> 6) & 3) == 3 else 2
    if layer == 1:
        frame_len = (12 * bitrate * 1000 // sample_rate + padding) * 4
    else:
        spf = _SPF[(group, layer)]
        frame_len = spf // 8 * bitrate * 1000 // sample_rate + padding
    if frame_len <= 4:
        return None
    return version, layer, bitrate, sample_rate, channels, frame_len


def _skip_id3(b: bytes) -> int:
    if b[:3] != b"ID3" or len(b) < 10:
        return 0
    size = ((b[6] & 0x7F) << 21 | (b[7] & 0x7F) << 14
            | (b[8] & 0x7F) << 7 | (b[9] & 0x7F))
    return 10 + size


def _xing_frames(b: bytes, i: int, version: str, channels: int):
    """Xing/Info frame count from the first frame, if tagged."""
    if version == "1":
        off = 21 if channels == 1 else 36
    else:
        off = 13 if channels == 1 else 21
    p = i + 4 + off
    if b[p:p + 4] in (b"Xing", b"Info") and len(b) >= p + 12:
        flags = int.from_bytes(b[p + 4:p + 8], "big")
        if flags & 1:
            return int.from_bytes(b[p + 8:p + 12], "big")
    return None


def parse_mp3_meta(data: bytes) -> dict:
    b = bytes(data)
    i = _skip_id3(b)
    # resync: scan forward for the first plausible header
    first = None
    while i < len(b) - 4:
        hdr = _parse_header(b, i)
        if hdr:
            first = hdr
            break
        i += 1
    nulls = {"version": None, "layer": None, "sample_rate": None,
             "channels": None, "bitrate_kbps": None, "n_frames": None,
             "duration_ms": None, "vbr": None}
    if first is None:
        return {**nulls, "valid": False}
    version, layer, _, sample_rate, channels, _ = first
    xing = _xing_frames(b, i, version, channels)

    n_frames = 0
    bitrate_sum = 0
    bitrates = set()
    while i < len(b) - 4:
        hdr = _parse_header(b, i)
        if not hdr or hdr[0] != version or hdr[1] != layer:
            break
        n_frames += 1
        bitrate_sum += hdr[2]
        bitrates.add(hdr[2])
        i += hdr[5]
    frames = xing if xing is not None else n_frames
    group = "1" if version == "1" else "2"
    spf = _SPF[(group, layer)]
    duration_ms = frames * spf * 1000 // sample_rate
    return {
        "version": version, "layer": layer, "sample_rate": sample_rate,
        "channels": channels,
        "bitrate_kbps": (bitrate_sum // max(n_frames, 1)),
        "n_frames": frames, "duration_ms": duration_ms,
        "vbr": len(bitrates) > 1 or xing is not None, "valid": True,
    }


def build_mp3(n_frames: int, *, version: str = "1", layer: int = 3,
              bitrate: int = 128, sample_rate_idx: int = 0,
              channels: int = 2, id3: bytes = b"",
              xing: int | None = None,
              vbr_alternate: int | None = None) -> bytes:
    """Fixture builder: a syntactically valid MP3 frame stream (zero
    audio payload) — optionally ID3v2-prefixed, Xing-tagged, or
    alternating between two bitrates (VBR)."""
    group = "1" if version == "1" else "2"
    sr = _SAMPLE_RATES[version][sample_rate_idx]
    out = bytearray(id3)
    ver_bits = {"1": 3, "2": 2, "2.5": 0}[version]
    layer_bits = {3: 1, 2: 2, 1: 3}[layer]

    def frame(kbps: int, extra: bytes = b"") -> bytes:
        br_idx = _BITRATES[(group, layer)].index(kbps)
        h = (0x7FF << 21 | ver_bits << 19 | layer_bits << 17 | 1 << 16
             | br_idx << 12 | sample_rate_idx << 10
             | (3 if channels == 1 else 0) << 6)
        if layer == 1:
            flen = (12 * kbps * 1000 // sr) * 4
        else:
            flen = _SPF[(group, layer)] // 8 * kbps * 1000 // sr
        body = bytearray(flen - 4)
        body[:len(extra)] = extra
        return h.to_bytes(4, "big") + bytes(body)

    for k in range(n_frames):
        kbps = (vbr_alternate if (vbr_alternate and k % 2) else bitrate)
        extra = b""
        if k == 0 and xing is not None:
            off = (21 if channels == 1 else 36) if version == "1" else \
                  (13 if channels == 1 else 21)
            extra = bytes(off) + b"Xing" + (1).to_bytes(4, "big") \
                + xing.to_bytes(4, "big")
        out += frame(kbps, extra)
    return bytes(out)


def mp3_meta(docs: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Arrow-batched MP3 header walk → one metadata row per payload.
    Narrow stage, zero shuffles."""

    def mp3_meta_record(payload):
        return [parse_mp3_meta(payload)]

    return parsed_rows(docs, mp3_meta_record, META_SCHEMA, payload_col)
