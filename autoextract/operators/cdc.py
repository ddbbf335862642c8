"""Content-defined chunking (gear rolling hash) — binary-blob dedup for
the media side of a multimodal corpus.

Text dedup operators key on token shingles; the binary columns (PDF
payloads, images, audio) need a byte-level equivalent. Fixed-size blocks
break on the first inserted byte; CONTENT-DEFINED boundaries (cut where a
rolling hash of the trailing 64-byte window hits a mask, the gear/FastCDC
family) realign immediately after any local edit, so two near-identical
blobs share almost all chunk hashes — the storage/dedup property every
chunked object store builds on.

Gear hash: ``h_i = (h_{i-1} << 1) + gear[b_i] (mod 2^64)`` — after 64
steps a byte's contribution shifts out, so ``h_i`` depends on exactly the
trailing 64 bytes. The kernel computes all positions VECTORIZED as 64
shifted adds over the whole byte array (``h_i = Σ_j gear[b_{i-j}] << j``)
— no per-byte Python in the hot path; only the sparse candidate-walk that
enforces min/max chunk sizes is a Python loop (≈ one iteration per
emitted chunk). The gear table derives from md5 of the byte value, so
chunking is deterministic across processes, engines, and table versions.

Scale shape: blobs chunk independently inside a per-row
``mapInArrow`` stage — narrow stage, zero shuffles; downstream chunk-level
dedup is a plain groupBy on the chunk sha256 (short key; chunk BYTES
never shuffle unless the caller explicitly materializes unique chunks).
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame

from ._docwise import flat_map_rows

#: deterministic 256-entry gear table: first 8 md5 bytes of "gear-<i>"
_GEAR = np.array(
    [
        int.from_bytes(hashlib.md5(f"gear-{i}".encode()).digest()[:8], "big")
        for i in range(256)
    ],
    dtype=np.uint64,
)

_WINDOW = 64


def gear_hashes(data: bytes) -> np.ndarray:
    """uint64 gear hash at every byte position (trailing-window definition)."""
    g = _GEAR[np.frombuffer(data, dtype=np.uint8)]
    h = np.zeros(len(data), dtype=np.uint64)
    with np.errstate(over="ignore"):
        for j in range(min(_WINDOW, len(data))):
            h[j:] += g[: len(data) - j] << np.uint64(j)
    return h


def gear_chunks(
    data: bytes,
    avg_bits: int = 12,
    min_size: int = 1024,
    max_size: int = 65536,
) -> list[tuple[int, int]]:
    """``(offset, length)`` chunk spans partitioning ``data``.

    A position ``i`` is a cut CANDIDATE when ``hash_i & (2^avg_bits - 1)
    == 0`` (expected spacing ``2^avg_bits``); the emitted cut is the first
    candidate at least ``min_size`` past the previous cut, or a forced cut
    at ``max_size``. The final chunk may be shorter than ``min_size``."""
    if avg_bits <= 0 or min_size <= 0 or max_size < min_size:
        raise ValueError("need avg_bits > 0 and 0 < min_size <= max_size")
    n = len(data)
    if n == 0:
        return []
    mask = np.uint64((1 << avg_bits) - 1)
    cand = np.flatnonzero((gear_hashes(data) & mask) == 0) + 1  # cut AFTER i
    chunks, start, ci = [], 0, 0
    while start < n:
        lo, hi = start + min_size, start + max_size
        ci = int(np.searchsorted(cand, lo))
        cut = int(cand[ci]) if ci < len(cand) and cand[ci] <= hi else hi
        cut = min(cut, n)
        chunks.append((start, cut - start))
        start = cut
    return chunks


def blob_chunks(
    blobs: DataFrame,
    id_col: str = "blob_id",
    payload_col: str = "payload",
    avg_bits: int = 12,
    min_size: int = 1024,
    max_size: int = 65536,
) -> DataFrame:
    """``(id, payload)`` → one row per chunk:
    ``(blob_id, ord, offset, length, chunk_sha)``.

    NULL/empty payloads yield zero rows (containment); offsets+lengths
    partition each blob exactly, so the caller can always rehydrate."""

    def chunk_rows(bid, payload):
        b = payload or b""
        return [
            (bid, i, off, ln, hashlib.sha256(b[off : off + ln]).hexdigest())
            for i, (off, ln) in enumerate(gear_chunks(b, avg_bits, min_size, max_size))
        ]

    return flat_map_rows(
        blobs.select(id_col, payload_col), chunk_rows,
        "blob_id string, ord int, offset long, length long, chunk_sha string",
    )
