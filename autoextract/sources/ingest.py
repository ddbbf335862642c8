"""Raw-document ingestion: bytes in, typed routed tables out.

Reference lifecycle replaced (SURVEY.md §3.1): presigned upload + S3 put +
DynamoDB ``uploading→pending`` rows + content-type dispatch
(``upload_service.py:98-201``) become a single batch scan of a
``raw_docs(doc_id, payload)`` table: sniff real magic bytes (F5,
``extraction.py:613-619``), attach ``fmt``, and route each format to its
pipeline branch — all one DataFrame DAG, no per-file RPC chain.

In production ``raw_docs`` is ``spark.read.format("binaryFile")`` over the
landing prefix or an Iceberg table append (S1/S3/S4 in SURVEY.md §2.1); the
sandbox generator below fabricates payloads with REAL format headers so the
sniffing path is genuinely exercised.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators._docwise import map_rows
from ..operators.multimodal import sniff_format

RAW_DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def sniff(raw_docs: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Attach ``fmt`` via magic bytes — one Arrow-batched pass; only the
    first bytes of each payload are touched."""

    k = raw_docs.columns.index(payload_col)

    def sniff_row(*row):
        return (*row, sniff_format(row[k] or b""))

    schema = T.StructType(raw_docs.schema.fields + [T.StructField("fmt", T.StringType())])
    return map_rows(raw_docs, sniff_row, schema)


def dispatch(sniffed: DataFrame) -> dict[str, DataFrame]:
    """F5 format dispatch as declarative filters on one DAG (the reference's
    if/elif service routing, ``upload_service.py:109-111``). Returns the
    per-branch DataFrames; Catalyst prunes each branch's scan independently."""
    html = sniffed.where(F.col("fmt") == "html").select(
        "doc_id", F.col("payload").cast("string").alias("html")
    )
    # the images branch presents the multimodal contract (media_ref), so it
    # pipes straight into resize_image / frame_sample / embed_media
    images = sniffed.where(F.col("fmt").isin("png", "jpeg", "gif", "webp")).select(
        F.col("doc_id").alias("media_ref"), "payload", "fmt"
    )
    pdfs = sniffed.where(F.col("fmt") == "pdf")
    other = sniffed.where(
        ~F.col("fmt").isin("html", "png", "jpeg", "gif", "webp", "pdf")
    )
    return {"html": html, "images": images, "pdfs": pdfs, "other": other}


# ----------------------------------------------------------------------
# synthetic raw payloads with REAL headers (exercise the actual sniffers)
# ----------------------------------------------------------------------


def make_png(width: int, height: int) -> bytes:
    ihdr = struct.pack(">II", width, height)
    return b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x0dIHDR" + ihdr + b"\x08\x02\x00\x00\x00" + b"\x00" * 64


def make_gif(width: int, height: int) -> bytes:
    return b"GIF89a" + struct.pack("<HH", width, height) + b"\x00" * 64


def make_jpeg(width: int, height: int) -> bytes:
    # SOI + APP0(JFIF) + SOF0 with real dims + padding
    # len=16 ⇒ 14 payload bytes: 'JFIF\0' + version + units + density + thumb
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    sof0 = b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", height, width) + b"\x01\x11\x00"
    return b"\xff\xd8" + app0 + sof0 + b"\x00" * 64


def make_pdf(words: list[str] | None = None) -> bytes:
    """A REAL single-page text PDF (parseable by ``sources.pdf``) — the raw
    generator exercises the full pdf branch, not just the magic-byte sniff."""
    from .pdf import make_text_pdf

    ws = words or ["stub"]
    return make_text_pdf([[(w, 50.0 + 90.0 * i, 60.0) for i, w in enumerate(ws)]])


def gen_raw_docs(spark: SparkSession, n_docs: int, seed: int = 42) -> DataFrame:
    """Distributed raw_docs with a deterministic mix of formats."""
    import numpy as np

    parts = max(spark.sparkContext.defaultParallelism, 8)

    def raw_doc(i):
        rng = np.random.RandomState((seed * 7_000_003 + i) % (2**31 - 1))
        kind = ["png", "jpeg", "gif", "pdf", "html"][int(rng.randint(5))]
        w, h = int(rng.randint(100, 4000)), int(rng.randint(100, 4000))
        payload = {
            "png": lambda: make_png(w, h),
            "jpeg": lambda: make_jpeg(w, h),
            "gif": lambda: make_gif(w % 65535, h % 65535),
            "pdf": lambda: make_pdf([f"doc{i}", "pdf", "body", "words"]),
            "html": lambda: (
                "<html><body><article><p>doc %d body text</p></article>"
                "</body></html>" % i
            ).encode(),
        }[kind]()
        return f"raw-{seed}-{i:09d}", payload

    return map_rows(spark.range(n_docs).repartition(parts), raw_doc, RAW_DOCS_SCHEMA)
