"""The end-to-end extraction job (SURVEY.md §3.2 "Spark shape").

Reference lifecycle being replaced: job start → scan pending docs → per-doc
OCR call → per-doc LLM call → per-doc row mutations
(``lambda/api/app/services/ocr_service.py:65-183``,
``image_processing_pipeline.py:20-37``). Here the same semantics are one
declarative DAG per stage family:

    ocr_words ──order_words──► ordered words ──assemble_spans──► spans
         └──────────────────────extract_fields──► extracted (optional)
    html_docs ──html_spans_table──► spans                (axis A source)

wrapped in bucket-granular checkpointing (``plans.checkpoint``): a run
processes only pending buckets, writes ``partitionBy("bucket")`` with dynamic
overwrite, then commits the checkpoint — kill + rerun converges to the clean
result (north_rule resumability).

Scale notes:
  * the span and extract stages have two wide operations, both keyed on
    doc_id: the kernel's count-free ``repartition(doc_id)`` (``spans_table``,
    ``extract_fields``) and the write's count-free ``repartition(bucket)``.
    The HTML stage has only the write's: ``html_spans_table`` emits each
    document's nested row from one per-row kernel, with no grouping.
    Neither names a partition count; AQE coalesces each by shuffle bytes,
    so a small run is a few tasks, not 32;
  * the write keeps one data file per ``bucket=`` directory: hash
    partitioning puts a bucket in exactly one shuffle partition and AQE only
    merges whole partitions, so one task writes each bucket;
  * checkpoint bookkeeping is driver-side file I/O (``plans.checkpoint``):
    a no-op rerun over finished output runs no Spark job.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import extract_fields
from ..operators.html import html_spans_table
from ..operators.layout import assemble_spans, order_words, spans_table
from ..schema import AppSchema
from .checkpoint import CheckpointStore, new_run_id, with_bucket

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


def _run_stage(
    spark: SparkSession,
    source: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    stage: str,
    table: str,
    out_dir: str,
    n_buckets: int,
    run_id: str | None,
    only_buckets: set[int] | None,
) -> RunResult:
    """Shared resumable-stage skeleton.

    1. pending = all buckets − checkpointed-done (the reference's F3
       pending filter, ``ocr_service.py:88-91``, as partition pruning);
    2. transform only those buckets; write ``partitionBy("bucket")`` with
       dynamic overwrite (atomic per partition dir — kill-safe, idempotent);
    3. only then append checkpoint + lineage rows.

    ``only_buckets`` restricts the run — the test harness uses it to
    simulate a mid-job kill.
    """
    run_id = run_id or new_run_id()
    store = CheckpointStore(spark, out_dir)
    t0 = time.monotonic()

    done = store.done_buckets(stage)
    pending = [b for b in range(n_buckets) if b not in done]
    if only_buckets is not None:
        pending = [b for b in pending if b in only_buckets]
    if not pending:
        return RunResult(run_id, stage, 0, 0, 0)

    obs_in = Observation()
    todo = _pending_rows(source, n_buckets, pending).observe(
        obs_in, F.count(F.lit(1)).alias("input_rows")
    )
    data_dir = os.path.join(out_dir, table)
    return _write_and_commit(
        store, transform(todo), data_dir, stage, run_id, pending, n_buckets, obs_in, t0
    )


def _pending_rows(source: DataFrame, n_buckets: int, pending: list[int]) -> DataFrame:
    """The rows of ``source`` whose bucket is pending (the reference's F3
    pending filter as one IN predicate)."""
    keep = F.expr(f"bucket IN ({', '.join(map(str, pending))})")
    return with_bucket(source, n_buckets).where(keep).drop("bucket")


def _write_and_commit(
    store: CheckpointStore,
    out: DataFrame,
    data_dir: str,
    stage: str,
    run_id: str,
    pending: list[int],
    n_buckets: int,
    obs_in: Observation,
    t0: float,
) -> RunResult:
    """Write ``out`` partitioned by bucket, then commit its checkpoint and
    lineage rows.

    Per-bucket output counts are observed during the write job itself as
    one ``array(count_if(bucket = b), …)`` aggregate — no re-scan of the
    written parquet and one expression however many buckets are pending
    (``count_if`` over an empty bucket is 0, so empty buckets still
    checkpoint as done). The count-free ``repartition("bucket")`` lets AQE
    size the write: hash partitioning puts each bucket in exactly one
    shuffle partition and AQE merges only whole partitions, so every
    ``bucket=`` directory receives one file.
    """
    obs_out = Observation()
    out = with_bucket(out, n_buckets)
    counts_expr = ", ".join(f"count_if(bucket = {b})" for b in pending)
    out = out.observe(obs_out, F.expr(f"array({counts_expr})").alias("bucket_rows"))
    (
        out.repartition("bucket")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        # per-writer so resume survives a default-configured session
        # (mode("overwrite") would otherwise wipe ALL checkpointed buckets)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(data_dir)
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
    return RunResult(run_id, stage, len(pending), rows, wall_ms)


def run_spans_job(
    spark: SparkSession,
    words: DataFrame,
    out_dir: str,
    n_buckets: int = 32,
    run_id: str | None = None,
    only_buckets: set[int] | None = None,
) -> RunResult:
    """ocr_words → canonical spans table at ``<out_dir>/spans``, resumable."""
    return _run_stage(
        spark,
        words,
        spans_table,
        SPANS_STAGE,
        "spans",
        out_dir,
        n_buckets,
        run_id,
        only_buckets,
    )


def run_extract_job(
    spark: SparkSession,
    words: DataFrame,
    schema: AppSchema,
    out_dir: str,
    n_buckets: int = 32,
    run_id: str | None = None,
    only_buckets: set[int] | None = None,
) -> RunResult:
    """ocr_words → long-format extracted fields at ``<out_dir>/extracted``."""
    return _run_stage(
        spark,
        words,
        lambda df: extract_fields(order_words(df), schema),
        EXTRACT_STAGE,
        "extracted",
        out_dir,
        n_buckets,
        run_id,
        only_buckets,
    )


def run_html_job(
    spark: SparkSession,
    html_docs: DataFrame,
    out_dir: str,
    n_buckets: int = 32,
    run_id: str | None = None,
    only_buckets: set[int] | None = None,
) -> RunResult:
    """html_docs → canonical spans table (axis A source), resumable."""
    return _run_stage(
        spark,
        html_docs,
        html_spans_table,
        SPANS_STAGE,
        "spans",
        out_dir,
        n_buckets,
        run_id,
        only_buckets,
    )


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

    The ordered-words intermediate is persisted (memory-and-disk) across the
    two writes — the reference runs OCR once and both consumes and stores it
    (``image_processing_pipeline.py:20-37``); at petabyte scale the persist
    becomes an explicit intermediate table (``ordered_words``) instead of
    executor cache, same topology.
    """
    from pyspark import StorageLevel

    run_id = run_id or new_run_id()
    store = CheckpointStore(spark, out_dir)
    pend_s = set(range(n_buckets)) - store.done_buckets(SPANS_STAGE)
    pend_e = set(range(n_buckets)) - store.done_buckets(EXTRACT_STAGE)
    if only_buckets is not None:
        pend_s &= only_buckets
        pend_e &= only_buckets

    if pend_s != pend_e:
        # stages out of sync (e.g. killed between the two writes): fall back
        # to the per-stage jobs, which each resume independently
        r_s = run_spans_job(spark, words, out_dir, n_buckets, run_id, only_buckets)
        r_e = run_extract_job(spark, words, schema, out_dir, n_buckets, run_id, only_buckets)
        return r_s, r_e
    if not pend_s:
        return (
            RunResult(run_id, SPANS_STAGE, 0, 0, 0),
            RunResult(run_id, EXTRACT_STAGE, 0, 0, 0),
        )

    pending = sorted(pend_s)
    obs_in = Observation()
    ordered = (
        order_words(_pending_rows(words, n_buckets, pending))
        .observe(obs_in, F.count(F.lit(1)).alias("input_rows"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    results = []
    try:
        for stage, table, transform in (
            (SPANS_STAGE, "spans", assemble_spans),
            (EXTRACT_STAGE, "extracted", lambda df: extract_fields(df, schema)),
        ):
            t0 = time.monotonic()  # per stage, not cumulative
            results.append(
                _write_and_commit(
                    store,
                    transform(ordered),
                    os.path.join(out_dir, table),
                    stage,
                    run_id,
                    pending,
                    n_buckets,
                    obs_in,
                    t0,
                )
            )
    finally:
        ordered.unpersist()
    return results[0], results[1]


def read_spans(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "spans")).drop("bucket")


def read_extracted(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "extracted")).drop("bucket")
