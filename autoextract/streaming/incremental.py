"""Incremental ingestion via Structured Streaming ``availableNow``.

The reference's job model is poll-and-batch: a background thread re-scans
DynamoDB for ``pending`` items (``ocr_service.py:85-91``); there is no true
stream (SURVEY.md §2.10). The engine's batch pipeline covers that with the
checkpoint anti-filter. This module is the drop-in *upgrade path* (SURVEY.md
§4.4): a ``readStream`` over the words table with an ``availableNow`` trigger
processes exactly the files that arrived since the last run — Spark's own
streaming checkpoint (WAL of processed files) replaces hand-rolled source
bookkeeping, and each micro-batch reuses the identical batch transformation
(``foreachBatch`` → the same ``spans_table`` plan as the batch operators).

Exactly-once story: source progress lives in the streaming checkpoint; sink
idempotence comes from keying each micro-batch's output on its ``batch_id``
— the batch writes ``mode("overwrite")`` into its own ``batch=<id>`` subdir,
so a retried/re-delivered micro-batch (same batch_id, the foreachBatch
replay contract) replaces its own output wholesale instead of appending
duplicates. Readers see ``batch`` and ``bucket`` as ordinary discovered
partition columns.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from . import await_deregistration
from ..operators.layout import spans_table
from ..plans.checkpoint import with_bucket


def stream_spans_available_now(
    spark: SparkSession,
    words_dir: str,
    out_dir: str,
    n_buckets: int = 32,
    schema=None,
) -> None:
    """One ``availableNow`` pass: new parquet files under ``words_dir`` →
    spans appended under ``out_dir/spans`` (bucket-partitioned).

    Blocks until the trigger drains. Re-running after new files land
    processes only the delta (Spark streaming checkpoint in
    ``out_dir/_stream_checkpoint``).
    """
    if schema is None:
        schema = spark.read.parquet(words_dir).schema

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 64)
        .parquet(words_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spans = with_bucket(spans_table(batch_df), n_buckets)
        # idempotent replay: batch_id-keyed overwrite, never a bare append
        (
            spans.write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(os.path.join(out_dir, "spans", f"batch={batch_id}"))
        )

    q = (
        stream.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(out_dir, "_stream_checkpoint"))
        .foreachBatch(process_batch)
        .start()
    )
    q.awaitTermination()
    await_deregistration(spark, q)
