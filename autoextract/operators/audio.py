"""Audio column plumbing: WAV/RIFF as opaque binary + typed metadata +
pooled features (the audio leg of the brief's "image/audio/video as opaque
binary columns with typed metadata").

Real, pure-Python/NumPy for PCM WAV (RIFF fmt/data chunk walk, 8/16/32-bit
integer and 32-bit float samples): ``decode_wav_meta`` reads the header
facts, ``decode_wav`` yields the sample matrix, ``embed_audio`` pools a
fixed-dim loudness envelope (windowed RMS, L2-normalized) — the hand-off
into the similarity operators, exactly like ``embed_media`` for images.
FLAC decodes FOR REAL through ``operators.flac_codec`` (r5, RFC 9639);
remaining compressed codecs (MP3/AAC/OGG) have no in-container decoder and
hash-stub behind the same Arrow-batched interface (production:
ffmpeg/torchaudio).
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame

from ._docwise import map_rows

AUDIO_META_SCHEMA = (
    "media_ref string, fmt string, sample_rate int, n_channels int, "
    "bits_per_sample int, n_frames long, duration_s double, valid boolean"
)


class WavError(ValueError):
    pass


def _chunks(data: bytes):
    """Walk RIFF chunks: yields (fourcc, payload_offset, payload_size)."""
    pos = 12  # past 'RIFF' <size> 'WAVE'
    n = len(data)
    while pos + 8 <= n:
        cid = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        yield cid, pos + 8, size
        pos += 8 + size + (size & 1)  # chunks are word-aligned


def parse_wav_header(data: bytes) -> dict:
    """RIFF/WAVE → {sample_rate, n_channels, bits_per_sample, n_frames,
    audio_format, data_offset, data_size}. Raises WavError on non-WAV."""
    if len(data) < 44 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise WavError("not a RIFF/WAVE stream")
    fmt = None
    data_off = data_size = None
    for cid, off, size in _chunks(data):
        if cid == b"fmt " and size >= 16:
            audio_format, n_ch, rate = struct.unpack("<HHI", data[off : off + 8])
            bits = struct.unpack("<H", data[off + 14 : off + 16])[0]
            fmt = (audio_format, n_ch, rate, bits)
        elif cid == b"data":
            data_off, data_size = off, min(size, len(data) - off)
    if fmt is None or data_off is None:
        raise WavError("missing fmt/data chunk")
    audio_format, n_ch, rate, bits = fmt
    if n_ch == 0 or rate == 0 or bits == 0:
        raise WavError("degenerate fmt chunk (zero channels/rate/bits)")
    frame_bytes = max(n_ch * (bits // 8), 1)
    return {
        "audio_format": audio_format,
        "n_channels": n_ch,
        "sample_rate": rate,
        "bits_per_sample": bits,
        "n_frames": data_size // frame_bytes,
        "data_offset": data_off,
        "data_size": data_size,
    }


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """WAV bytes → (samples (n_frames, n_channels) float64 in [-1, 1],
    sample_rate). PCM 8/16/32-bit int and IEEE float32 supported."""
    h = parse_wav_header(data)
    raw = data[h["data_offset"] : h["data_offset"] + h["data_size"]]
    bits, af = h["bits_per_sample"], h["audio_format"]
    item = max(bits // 8, 1)
    if len(raw) % item:  # truncated final sample: drop it, don't blow up
        raw = raw[: len(raw) - (len(raw) % item)]
    if af == 3 and bits == 32:
        x = np.frombuffer(raw, dtype="<f4").astype(np.float64)
    elif af == 1 and bits == 16:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    elif af == 1 and bits == 32:
        x = np.frombuffer(raw, dtype="<i4").astype(np.float64) / 2147483648.0
    elif af == 1 and bits == 8:  # 8-bit WAV is unsigned
        x = (np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    else:
        raise WavError(f"unsupported format {af}/{bits}-bit")
    n_ch = h["n_channels"]
    n = (len(x) // n_ch) * n_ch
    return x[:n].reshape(-1, n_ch), h["sample_rate"]


def make_wav(
    samples: np.ndarray, sample_rate: int = 16000, bits: int = 16
) -> bytes:
    """(n_frames,) or (n_frames, n_channels) float in [-1, 1] → PCM WAV."""
    if samples.ndim == 1:
        samples = samples[:, None]
    n_frames, n_ch = samples.shape
    if bits == 16:
        raw = np.clip(samples * 32767.0, -32768, 32767).astype("<i2").tobytes()
    elif bits == 8:
        raw = (np.clip(samples * 127.0, -128, 127) + 128).astype(np.uint8).tobytes()
    else:
        raise WavError("writer supports 8/16-bit PCM")
    byte_rate = sample_rate * n_ch * bits // 8
    block = n_ch * bits // 8
    out = bytearray(b"RIFF")
    out += struct.pack("<I", 36 + len(raw)) + b"WAVE"
    out += b"fmt " + struct.pack("<IHHIIHH", 16, 1, n_ch, sample_rate, byte_rate, block, bits)
    out += b"data" + struct.pack("<I", len(raw)) + raw
    return bytes(out)


def resample_audio(samples: np.ndarray, src_rate: int, dst_rate: int) -> np.ndarray:
    """(n_frames, n_channels) float → linear-interpolated resample to
    ``dst_rate`` (the dependency-free stand-in for a polyphase resampler —
    same contract: output length = round(n·dst/src), endpoints preserved)."""
    if src_rate == dst_rate or samples.shape[0] < 2:
        return samples
    n = samples.shape[0]
    m = max(int(round(n * dst_rate / src_rate)), 1)
    src_pos = np.arange(m, dtype=np.float64) * (n - 1) / max(m - 1, 1)
    i0 = np.floor(src_pos).astype(np.int64)
    i1 = np.minimum(i0 + 1, n - 1)
    frac = (src_pos - i0)[:, None]
    return samples[i0] * (1.0 - frac) + samples[i1] * frac


def decode_audio(data: bytes) -> tuple[np.ndarray, int]:
    """WAV or FLAC bytes → ((n_frames, n_channels) float64 in [-1, 1],
    sample_rate). FLAC decodes through the pure-Python RFC 9639 codec
    (r5 — ``operators.flac_codec``); anything else raises (→ containment
    or hash-stub fallback upstream)."""
    if data[:4] == b"fLaC":
        from .flac_codec import decode_flac

        return decode_flac(data)
    return decode_wav(data)


def transcode_wav(
    media: DataFrame,
    target_rate: int = 16000,
    mono: bool = True,
    payload_col: str = "payload",
) -> DataFrame:
    """The training-pipeline audio normalizer: every decodable WAV or FLAC
    (r5) is resampled to ``target_rate`` (linear interpolation), optionally
    channel-averaged to mono, and re-encoded 16-bit PCM WAV — the uniform
    input shape a downstream audio encoder expects. Undecodable payloads
    pass through byte-identical with ``transcoded=false`` (same honest
    containment contract as the image resize kernel)."""
    schema = (
        "media_ref string, payload binary, transcoded boolean, "
        "out_rate int, out_channels int"
    )

    def transcode_row(ref, payload):
        b = payload or b""
        try:
            x, rate = decode_audio(b)
            if mono and x.shape[1] > 1:
                x = x.mean(axis=1, keepdims=True)
            y = resample_audio(x, rate, target_rate)
            out_b = make_wav(y, sample_rate=target_rate, bits=16)
            return ref, out_b, True, target_rate, y.shape[1]
        except Exception:  # O6 containment: any malformed payload -> row, never task failure
            return ref, b, False, None, None

    return map_rows(media.select("media_ref", payload_col), transcode_row, schema)


def decode_audio_meta(media: DataFrame, payload_col: str = "payload") -> DataFrame:
    """``(media_ref, payload)`` → typed audio metadata (real parsers for
    WAV and — r5 — FLAC STREAMINFO; other/garbage payloads → valid=false
    row, never a task failure)."""

    def audio_meta_row(ref, payload):
        from .flac_codec import parse_flac_streaminfo

        b = payload or b""
        try:
            if b[:4] == b"fLaC":
                s = parse_flac_streaminfo(b)
                h = {
                    "sample_rate": s["sample_rate"],
                    "n_channels": s["n_channels"],
                    "bits_per_sample": s["bits_per_sample"],
                    "n_frames": s["total_samples"],
                }
                fmt = "flac"
            else:
                h = parse_wav_header(b)
                fmt = "wav"
            return (
                ref, fmt, h["sample_rate"], h["n_channels"], h["bits_per_sample"],
                h["n_frames"], h["n_frames"] / max(h["sample_rate"], 1), True,
            )
        except Exception:  # O6 containment: any malformed payload -> row, never task failure
            return ref, "unknown", None, None, None, None, None, False

    return map_rows(media.select("media_ref", payload_col), audio_meta_row, AUDIO_META_SCHEMA)


def embed_audio(
    media: DataFrame, dim: int = 16, payload_col: str = "payload"
) -> DataFrame:
    """Audio → feature vector (``array<float>``): decodable WAVs pool a REAL
    windowed-RMS loudness envelope over ``dim`` equal time slices (mono mix,
    L2-normalized) — near-identical clips land near each other under cosine;
    undecodable payloads fall back to the deterministic hash stub
    (production: a learned audio encoder behind the same signature).
    ``real_feature`` marks which path fired — stub vectors are noise that
    would silently poison similarity ops, so pipelines filter on it."""
    schema = "media_ref string, embedding array<float>, real_feature boolean"

    def embed_audio_row(ref, payload):
        b = payload or b""
        vec = None
        try:
            x, _ = decode_audio(b)
            mono = x.mean(axis=1)
            if len(mono) >= dim:
                cut = (len(mono) // dim) * dim
                win = mono[:cut].reshape(dim, -1)
                rms = np.sqrt((win * win).mean(axis=1))
                norm = float(np.linalg.norm(rms))
                vec = (rms / norm if norm > 0 else rms).astype("float32")
        except Exception:  # O6 containment: any malformed payload -> row, never task failure
            vec = None
        real = vec is not None
        if vec is None:
            seed = int.from_bytes(__import__("hashlib").md5(b).digest()[:4], "little")
            vec = np.random.RandomState(seed).rand(dim).astype("float32")
        return ref, vec.tolist(), real

    return map_rows(media.select("media_ref", payload_col), embed_audio_row, schema)
