"""WebDataset tar ingestion — the multimodal training-shard convention.

Large multimodal corpora ship as tar shards where one SAMPLE is a run of
members sharing a basename: ``000123.jpg`` + ``000123.txt`` +
``000123.json`` form one record keyed ``000123``, with the extension
naming the field (the WebDataset convention popularized by the LAION
pipelines).  This module splits a tar payload into (sample_key, ext,
bytes) rows — the shape the multimodal decode kernels
(``operators/multimodal.py``) and the text pipeline consume downstream.

The sample key is the member basename up to the FIRST dot (so
``x.seg.png`` has ext ``seg.png`` — multi-dot extensions are field names
per the convention); directories inside the tar are ignored.  stdlib
``tarfile`` does the framing; malformed payloads yield zero rows (O6).

Spark shape: one per-row ``mapInArrow`` kernel over the binary shard
column — narrow, zero shuffles; a real run points ``binaryFile`` at the
shard directory and each task streams its own shards.
"""

from __future__ import annotations

import io
import posixpath
import tarfile

from pyspark.sql import DataFrame

from ..operators._docwise import parsed_rows

MEMBERS_SCHEMA = (
    "doc_id string, sample_key string, ext string, payload binary, "
    "n_bytes long"
)


def parse_wds_tar(data: bytes) -> list[dict]:
    """Tar bytes → ``{sample_key, ext, payload, n_bytes}`` rows in member
    order (regular files only; members without a dot are skipped — they
    have no field name under the convention)."""
    out: list[dict] = []
    try:
        with tarfile.open(fileobj=io.BytesIO(data)) as tf:
            for m in tf:
                if not m.isfile():
                    continue
                base = posixpath.basename(m.name)
                if "." not in base:
                    continue
                key, ext = base.split(".", 1)
                f = tf.extractfile(m)
                payload = f.read() if f is not None else b""
                out.append({
                    "sample_key": key,
                    "ext": ext,
                    "payload": payload,
                    "n_bytes": len(payload),
                })
    except Exception:  # O6 containment
        return []
    return out


def build_wds_tar(samples: dict[str, dict[str, bytes]]) -> bytes:
    """Fixture builder: ``{key: {ext: bytes}}`` → a tar shard (sorted
    keys, sorted exts — deterministic member order, zeroed mtimes)."""
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for key in sorted(samples):
            for ext in sorted(samples[key]):
                data = samples[key][ext]
                info = tarfile.TarInfo(name=f"{key}.{ext}")
                info.size = len(data)
                info.mtime = 0
                tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()


def wds_members(shards: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Arrow-batched shard split: ``(doc_id, sample_key, ext, payload,
    n_bytes)`` per member.  Narrow stage, zero shuffles."""

    return parsed_rows(shards, parse_wds_tar, MEMBERS_SCHEMA, payload_col)
