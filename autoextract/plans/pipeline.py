"""The end-to-end extraction job (SURVEY.md §3.2 "Spark shape").

Reference lifecycle being replaced: job start → scan pending docs → per-doc
OCR call → per-doc LLM call → per-doc row mutations
(``lambda/api/app/services/ocr_service.py:65-183``,
``image_processing_pipeline.py:20-37``). Here the same semantics are one
declarative DAG per stage family, ``⇄`` marking its one exchange:

    ocr_words ─⇄bucket─► order → assemble kernels ──► spans       (spans job)
              ─⇄bucket─► order → extract kernels ───► extracted   (extract job)
              ─⇄bucket─► order → assemble + extract ┬► spans       (full job)
                                  (persisted)       └► extracted
    html_docs ─html_spans_table─⇄bucket─────────────► spans       (axis A source)

wrapped in bucket-granular checkpointing (``plans.checkpoint``): a run
processes only pending buckets, writes ``partitionBy("bucket")`` with dynamic
overwrite, then commits the checkpoint — kill + rerun converges to the clean
result (north_rule resumability).

Scale notes:
  * the exchange is a count-free repartition on the bucket,
    ``pmod(xxhash64(doc_id), n)``: a function of doc_id, so it keeps each
    document whole in one task for the doc-wise kernels (the public
    operators run them behind a doc_id exchange) AND clusters the rows for
    the write. HTML's sits after its per-row kernel, whose span rows are
    lighter than HTML;
  * AQE coalesces it by shuffle bytes (not beneath the full job's
    persist), so a small run is a few tasks, not 32; only ``n_buckets``
    keys cross it, so ``n_buckets`` also caps the kernel's task count:
    keep it at least the core count;
  * the write keeps one data file per ``bucket=`` directory, sorted by
    doc_id: hash partitioning puts a bucket in exactly one shuffle
    partition and AQE only merges whole partitions;
  * checkpoint bookkeeping is driver-side file I/O (``plans.checkpoint``):
    a no-op rerun over finished output runs no Spark job.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators._docwise import docwise
from ..operators.extract import EXTRACTED_SCHEMA, _extract_kernel
from ..operators.html import html_spans_table
from ..operators.layout import (
    SPANS_TABLE_SCHEMA, WORD_ORDER, _assemble_chunk_arrow, _clean, _order_chunk_arrow,
    _spans_chunk_arrow,
)
from ..schema import AppSchema
from .checkpoint import CheckpointStore, bucket_of, new_run_id, with_bucket

SPANS_STAGE = "spans"
EXTRACT_STAGE = "extract"


@dataclass
class RunResult:
    run_id: str
    stage: str
    buckets_processed: int
    rows: int
    wall_ms: int

    @property
    def rows_per_sec(self) -> float:
        return self.rows / max(self.wall_ms / 1000.0, 1e-9)


def _run_stages(
    spark: SparkSession,
    source: DataFrame,
    out_dir: str,
    n_buckets: int,
    run_id: str | None,
    only_buckets: set[int] | None,
    sinks: list[tuple[str, str, Callable[[DataFrame], DataFrame]]],
    prepare: Callable[[DataFrame], DataFrame] | None = None,
) -> list[RunResult]:
    """Shared resumable-stage skeleton.

    1. pending = all buckets − checkpointed-done (the reference's F3
       pending filter, ``ocr_service.py:88-91``, as partition pruning);
    2. for each ``(stage, table, transform)`` sink, transform only those
       buckets' rows — a ``prepare`` step shared by the sinks runs once,
       persisted — and write them ``partitionBy("bucket")`` with dynamic
       overwrite (atomic per partition dir — kill-safe, idempotent);
    3. only after each write, append its checkpoint + lineage rows.

    A transform's output must arrive bucket-clustered (``_bucketed``): the
    write adds no exchange, only a per-task sort by (bucket, doc_id), so
    each ``bucket=`` directory receives one file, sorted by doc_id.
    Per-bucket output counts are observed during the write job itself as
    one ``array(count_if(bucket = b), …)`` aggregate — no re-scan of the
    written parquet (``count_if`` over an empty bucket is 0, so empty
    buckets still checkpoint as done).

    The sinks' stages must have the same pending buckets (``run_full_job``
    checks). ``only_buckets`` restricts the run — the test harness uses it
    to simulate a mid-job kill.
    """
    run_id = run_id or new_run_id()
    store = CheckpointStore(spark, out_dir)
    done = store.done_buckets(sinks[0][0])
    pending = [b for b in _scope(n_buckets, only_buckets) if b not in done]
    if not pending:
        return [RunResult(run_id, stage, 0, 0, 0) for stage, _, _ in sinks]

    obs_in = Observation()
    keep = F.expr(f"bucket IN ({', '.join(map(str, pending))})")
    todo = with_bucket(source, n_buckets).where(keep).drop("bucket")
    shared = todo.observe(obs_in, F.count(F.lit(1)).alias("input_rows"))
    if prepare is not None:
        shared = prepare(shared).persist(StorageLevel.MEMORY_AND_DISK)
    counts_expr = F.expr(f"array({', '.join(f'count_if(bucket = {b})' for b in pending)})")
    results = []
    try:
        for stage, table, transform in sinks:
            t0 = time.monotonic()  # per sink, not cumulative
            obs_out = Observation()
            (
                with_bucket(transform(shared), n_buckets)
                .observe(obs_out, counts_expr.alias("bucket_rows"))
                .sortWithinPartitions("bucket", "doc_id")
                .write.mode("overwrite")
                # per-writer so resume survives a default-configured session
                # (mode("overwrite") would otherwise wipe ALL checkpointed buckets)
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("bucket")
                .parquet(os.path.join(out_dir, table))
            )
            counts = dict(zip(pending, obs_out.get["bucket_rows"]))
            wall_ms = int((time.monotonic() - t0) * 1000)
            store.mark_done(run_id, stage, counts, wall_ms)
            rows = sum(counts.values())
            try:
                input_rows = int(obs_in.get["input_rows"])
            except Exception:  # pragma: no cover — observation unavailable
                input_rows = rows
            store.append_lineage(
                run_id, stage, input_rows, rows, n_buckets, len(pending), wall_ms
            )
            results.append(RunResult(run_id, stage, len(pending), rows, wall_ms))
    finally:
        shared.unpersist()
    return results


def _scope(n_buckets: int, only_buckets: set[int] | None) -> list[int]:
    return [b for b in range(n_buckets) if only_buckets is None or b in only_buckets]


def _bucketed(df: DataFrame, n_buckets: int) -> DataFrame:
    """``df`` hash-partitioned on its rows' bucket: the stage's one exchange.
    It names no partition count, so AQE sizes it by shuffle bytes."""
    return df.repartition(bucket_of(n_buckets))


def _laid_out(words: DataFrame, n_buckets: int, build, schema) -> DataFrame:
    """Cleaned ``words``, bucket-clustered and sorted by ``WORD_ORDER``,
    through one layout kernel (``layout._spans_chunk_arrow`` and kin)."""
    return docwise(_bucketed(_clean(words), n_buckets), build, schema, *WORD_ORDER)


def run_spans_job(
    spark: SparkSession,
    words: DataFrame,
    out_dir: str,
    n_buckets: int = 32,
    run_id: str | None = None,
    only_buckets: set[int] | None = None,
) -> RunResult:
    """ocr_words → canonical spans table at ``<out_dir>/spans``, resumable.

    One exchange, on the bucket; ``n_buckets`` also caps the kernel's task
    count, so keep it at least the core count."""
    return _run_stages(spark, words, out_dir, n_buckets, run_id, only_buckets, [(
        SPANS_STAGE, "spans",
        lambda todo: _laid_out(todo, n_buckets, _spans_chunk_arrow, SPANS_TABLE_SCHEMA),
    )])[0]


def run_extract_job(
    spark: SparkSession,
    words: DataFrame,
    schema: AppSchema,
    out_dir: str,
    n_buckets: int = 32,
    run_id: str | None = None,
    only_buckets: set[int] | None = None,
) -> RunResult:
    """ocr_words → long-format extracted fields at ``<out_dir>/extracted``.

    Reading order and extraction run chained in one doc-wise pass behind
    one exchange, on the bucket; ``n_buckets`` also caps the kernel's task
    count, so keep it at least the core count."""
    extract_chunk = _extract_kernel(schema)

    def order_extract_chunk(tbl):
        return extract_chunk(_order_chunk_arrow(tbl))

    return _run_stages(spark, words, out_dir, n_buckets, run_id, only_buckets, [(
        EXTRACT_STAGE, "extracted",
        lambda todo: _laid_out(todo, n_buckets, order_extract_chunk, EXTRACTED_SCHEMA),
    )])[0]


def run_html_job(
    spark: SparkSession,
    html_docs: DataFrame,
    out_dir: str,
    n_buckets: int = 32,
    run_id: str | None = None,
    only_buckets: set[int] | None = None,
) -> RunResult:
    """html_docs → canonical spans table (axis A source), resumable.

    One exchange, on the bucket, after the per-row kernel: its nested span
    rows are lighter than the raw HTML."""
    return _run_stages(spark, html_docs, out_dir, n_buckets, run_id, only_buckets, [(
        SPANS_STAGE, "spans", lambda todo: _bucketed(html_spans_table(todo), n_buckets),
    )])[0]


def run_full_job(
    spark: SparkSession,
    words: DataFrame,
    schema: AppSchema,
    out_dir: str,
    n_buckets: int = 32,
    run_id: str | None = None,
    only_buckets: set[int] | None = None,
) -> tuple[RunResult, RunResult]:
    """Fused job: ONE layout pass feeds both the spans and extracted sinks.

    One doc-wise pass behind the bucket exchange orders each document's
    words and builds both its span row and its field rows from them; that
    output is persisted (memory-and-disk) across the two writes — the
    reference runs OCR once and both consumes and stores it
    (``image_processing_pipeline.py:20-37``) — and each write selects its
    rows from it with no further exchange or Python pass. At petabyte scale
    the persist becomes an explicit intermediate table instead of executor
    cache, same topology. ``n_buckets`` also caps the kernel's task count,
    so keep it at least the core count.
    """
    run_id = run_id or new_run_id()
    store = CheckpointStore(spark, out_dir)
    scope = set(_scope(n_buckets, only_buckets))
    if scope & store.done_buckets(SPANS_STAGE) != scope & store.done_buckets(EXTRACT_STAGE):
        # stages out of sync (e.g. killed between the two writes): fall back
        # to the per-stage jobs, which each resume independently
        r_s = run_spans_job(spark, words, out_dir, n_buckets, run_id, only_buckets)
        r_e = run_extract_job(spark, words, schema, out_dir, n_buckets, run_id, only_buckets)
        return r_s, r_e

    extract_chunk = _extract_kernel(schema)

    def order_spans_fields_chunk(tbl):
        import pyarrow as pa

        ordered = _order_chunk_arrow(tbl)
        # one table: span rows (null field columns), then field rows (null spans)
        return pa.concat_tables(
            [_assemble_chunk_arrow(ordered), extract_chunk(ordered)], promote_options="default"
        )

    spans, fields = T.StructType.fromDDL(SPANS_TABLE_SCHEMA), T.StructType.fromDDL(EXTRACTED_SCHEMA)
    both = T.StructType(spans.fields + fields.fields[1:])
    return tuple(_run_stages(
        spark, words, out_dir, n_buckets, run_id, only_buckets,
        [
            (SPANS_STAGE, "spans",
             lambda rows: rows.where(F.col("spans").isNotNull()).select(*spans.names)),
            (EXTRACT_STAGE, "extracted",
             lambda rows: rows.where(F.col("field_path").isNotNull()).select(*fields.names)),
        ],
        prepare=lambda todo: _laid_out(todo, n_buckets, order_spans_fields_chunk, both),
    ))


def read_spans(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "spans")).drop("bucket")


def read_extracted(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "extracted")).drop("bucket")
