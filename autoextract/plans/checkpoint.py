"""Bucket-granular checkpoint + lineage (SURVEY.md §4 item 2).

The reference tracks progress by mutating a per-document ``status`` column in
DynamoDB (``lambda/api/app/database.py:181-188``, state machine
``web/src/types/ocr.ts:6``) and re-scans for ``pending`` items
(``ocr_service.py:88-91``). Per-row mutation does not scale to 10^12 docs;
the engine replaces it with *bucket*-granular bookkeeping:

* every document hashes to one of ``n_buckets`` buckets
  (``pmod(xxhash64(doc_id), n)`` — JVM-side, deterministic across runs)
* one run processes all still-pending buckets in a single Spark job and
  writes output ``partitionBy("bucket")`` with dynamic partition overwrite —
  the parquet commit is atomic per partition directory, emulating an Iceberg
  MERGE (the production path; documented, not required in-sandbox)
* only after the write commits does the driver append checkpoint rows
  marking those buckets done. A mid-job kill therefore leaves no checkpoint
  entry, and the rerun's dynamic overwrite of the same partition dirs is
  idempotent → exactly-once at bucket granularity.

The checkpoint and lineage stores are append-only parquet directories — the
analogue of the reference's jobs table (``database.py:288-318``) without
in-place mutation (S10 is explicitly *not* carried over, SURVEY.md §2.1).
They are a snapshot set: a bookkeeping call is a small driver-side file
operation, never a Spark job. An append writes its rows as one parquet file
under a dot-prefixed temp name, then ``os.replace``s it to
``part-<uuid>.parquet`` — atomic on the local filesystem the store assumes.
Spark and pyarrow both skip names starting with ``.`` or ``_``, so a kill
mid-append leaves only an ignored temp file, and directories that earlier
runs wrote with Spark (``_SUCCESS``, ``.crc``) read unchanged.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("stage", T.StringType()),
        T.StructField("bucket", T.IntegerType()),
        T.StructField("status", T.StringType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("wall_ms", T.LongType()),
        T.StructField("seq", T.LongType()),  # monotone per append, for audits
    ]
)

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("stage", T.StringType()),
        T.StructField("input_rows", T.LongType()),
        T.StructField("output_rows", T.LongType()),
        T.StructField("n_buckets", T.IntegerType()),
        T.StructField("buckets_processed", T.IntegerType()),
        T.StructField("wall_ms", T.LongType()),
    ]
)


def bucket_of(n_buckets: int, key: str = "doc_id") -> Column:
    """Deterministic bucket of each row's ``key``, computed JVM-side."""
    return F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")


def with_bucket(df: DataFrame, n_buckets: int, key: str = "doc_id") -> DataFrame:
    return df.withColumn("bucket", bucket_of(n_buckets, key))


class CheckpointStore:
    """Append-only parquet checkpoint/lineage directory pair."""

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.ckpt_dir = os.path.join(base_dir, "_checkpoint")
        self.lineage_dir = os.path.join(base_dir, "_lineage")

    # -- checkpoint ----------------------------------------------------
    def read(self) -> DataFrame:
        if not os.path.isdir(self.ckpt_dir):
            return self.spark.createDataFrame([], schema=CHECKPOINT_SCHEMA)
        return self.spark.read.schema(CHECKPOINT_SCHEMA).parquet(self.ckpt_dir)

    def done_buckets(self, stage: str) -> set[int]:
        if not os.path.isdir(self.ckpt_dir):
            return set()
        import pyarrow.dataset as ds

        table = ds.dataset(
            self.ckpt_dir, schema=to_arrow_schema(CHECKPOINT_SCHEMA), format="parquet"
        ).to_table(
            columns=["bucket"],
            filter=(ds.field("stage") == stage) & (ds.field("status") == "done"),
        )
        return set(table.column("bucket").to_pylist())

    def mark_done(
        self, run_id: str, stage: str, bucket_rows: dict[int, int], wall_ms: int
    ) -> None:
        seq = int(time.monotonic_ns() // 1_000_000)
        rows = [
            (run_id, stage, int(b), "done", int(n), int(wall_ms), seq)
            for b, n in sorted(bucket_rows.items())
        ]
        _append(self.ckpt_dir, CHECKPOINT_SCHEMA, rows)

    # -- lineage -------------------------------------------------------
    def read_lineage(self) -> DataFrame:
        if not os.path.isdir(self.lineage_dir):
            return self.spark.createDataFrame([], schema=LINEAGE_SCHEMA)
        return self.spark.read.schema(LINEAGE_SCHEMA).parquet(self.lineage_dir)

    def append_lineage(
        self,
        run_id: str,
        stage: str,
        input_rows: int,
        output_rows: int,
        n_buckets: int,
        buckets_processed: int,
        wall_ms: int,
    ) -> None:
        row = (
            run_id,
            stage,
            int(input_rows),
            int(output_rows),
            int(n_buckets),
            int(buckets_processed),
            int(wall_ms),
        )
        _append(self.lineage_dir, LINEAGE_SCHEMA, [row])


def _append(directory: str, schema: T.StructType, rows: list[tuple]) -> None:
    """Commit ``rows`` as one new parquet file: write a dot-prefixed temp
    file (invisible to readers), then atomically rename it into place."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(directory, exist_ok=True)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(directory, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(directory, name))


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]
