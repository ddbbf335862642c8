"""Human-in-the-loop corrections: edit words → targeted re-extraction.

Reference flow (SURVEY.md §3.3): ``POST /ocr/edit/{id}`` overwrites a
document's ``ocr_result`` wholesale (``routers/ocr.py:55-63`` →
``database.py:200-230``), then ``POST /ocr/extract/{id}`` re-runs extraction
for that one document and rewrites its ``extracted_info``
(``extraction_service.py:129-163``). The UI round-trips through the word
editor (``web/src/components/OcrResultEditor.tsx:56-79``).

Engine equivalent: edits land as rows in an ``ocr_words_edits`` table (same
schema as ``ocr_words``; a doc present in the edits table is replaced
*wholesale*, matching the reference's overwrite semantics). Re-extraction is
a targeted MERGE: only the buckets containing edited documents are
recomputed — every other partition directory is untouched, so the cost is
O(edited docs), not O(corpus).

Commit protocol: the rewrite NEVER overwrites the directory it is reading.
Affected buckets are staged to a sibling temp dir, then swapped in with one
atomic rename per bucket (a mid-write task retry can therefore never observe
the half-replaced source — the failure Iceberg snapshots exist to prevent;
VERDICT r1 "What's wrong" #4). Per-bucket swaps are atomic; cross-bucket
atomicity is what the production Iceberg MERGE's snapshot commit adds.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import extract_fields
from ..operators.layout import order_words
from ..schema import AppSchema
from .checkpoint import with_bucket


def apply_edits(words: DataFrame, edits: DataFrame) -> DataFrame:
    """Replace every edited document's words wholesale (the reference's
    full-overwrite contract, ``database.py:200-230``)."""
    edited_docs = edits.select("doc_id").distinct()
    untouched = words.join(edited_docs, "doc_id", "left_anti")
    return untouched.unionByName(edits.select(*words.columns))


def merge_reextract(
    spark: SparkSession,
    words: DataFrame,
    edits: DataFrame,
    schema: AppSchema,
    out_dir: str,
    n_buckets: int = 32,
) -> int:
    """Re-extract edited docs and MERGE into ``<out_dir>/extracted``.

    Bucket-granular emulation of Iceberg ``MERGE INTO`` (the production
    path): affected buckets = buckets of edited docs; rewrite = (previous
    bucket contents minus edited docs) ∪ fresh extraction of edited docs,
    staged to a temp dir and committed via atomic per-bucket renames — the
    source partition dirs stay intact until the staged result is durable.
    Returns #docs re-extracted.
    """
    data_dir = os.path.join(out_dir, "extracted")
    edited_docs = edits.select("doc_id").distinct()
    n_edited = edited_docs.count()
    if n_edited == 0:
        return 0

    affected = sorted(
        r["bucket"]
        for r in with_bucket(edited_docs, n_buckets).select("bucket").distinct().collect()
    )

    merged_words = apply_edits(words, edits)
    target_words = merged_words.join(edited_docs, "doc_id", "left_semi")
    fresh = with_bucket(extract_fields(order_words(target_words), schema), n_buckets)

    existing = spark.read.parquet(data_dir)
    kept = existing.where(F.col("bucket").isin(affected)).join(
        edited_docs, "doc_id", "left_anti"
    )

    # stage the rewrite AWAY from the directory it reads, then swap
    token = uuid.uuid4().hex[:12]
    staging = os.path.join(out_dir, f".extracted_staging_{token}")
    (
        kept.unionByName(fresh.select(*kept.columns))
        # count-free: each bucket hashes to one shuffle partition, so AQE
        # sizes the write and every staged bucket dir still gets one file
        .repartition("bucket")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(staging)
    )
    # swap phase: per-bucket atomic renames only — NO deletion until every
    # affected bucket has its replacement installed, so a crash anywhere in
    # this loop leaves every old bucket recoverable from its trash dir
    # (r2 ADVICE: deleting trash inside the loop lost the old contents if a
    # later rename crashed). Readers must not LIST data_dir during a merge —
    # a bucket is briefly absent between its two renames; per-bucket reads
    # see old-or-new, never a mix.
    trashed: list[str] = []
    for b in affected:
        src = os.path.join(staging, f"bucket={b}")
        dst = os.path.join(data_dir, f"bucket={b}")
        # trash lives OUTSIDE data_dir so a crash mid-swap can't leave a
        # stray dir that partition discovery would misparse
        trash = os.path.join(out_dir, f".extracted_trash_{token}_b{b}")
        if os.path.exists(dst):
            os.rename(dst, trash)  # atomic: readers see old or new, no mix
            trashed.append(trash)
        if os.path.exists(src):
            os.rename(src, dst)
    # cleanup phase: all replacements are durable — now drop the old copies
    for trash in trashed:
        shutil.rmtree(trash, ignore_errors=True)
    shutil.rmtree(staging, ignore_errors=True)
    # the swap happened outside Spark's writers, so cached plans/file
    # listings over data_dir must be invalidated explicitly
    spark.catalog.refreshByPath(data_dir)
    return n_edited
