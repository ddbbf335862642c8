"""SparkSession factory.

One place to set the scale-relevant knobs so tests, bench and the CLI all run
the same engine configuration. Mirrors what a production spark-submit would set
via --conf (SURVEY.md §7 stage 0).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Initial shuffle partition count; AQE coalesces doc-keyed exchanges by bytes.
DEFAULT_SHUFFLE_PARTITIONS = 32
# Arrow batch size for pandas UDF stages: large enough to amortize the
# Python/Arrow round-trip (word-level rows are ~200 bytes, so 16k rows ≈ 3 MB
# per batch), small enough to stay comfortable in worker memory.
ARROW_MAX_RECORDS_PER_BATCH = 16384


def get_spark(
    app_name: str = "autoextract",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    ``parallelism`` selects ``local[N]`` — the bench harness uses this to run
    the identical job at two core counts (local[8] vs local[32]) as the
    sandbox stand-in for the N vs 4N executor scaling criterion
    (BASELINE.json north_rule).
    """
    cores = parallelism or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = shuffle_partitions or int(
        os.environ.get("AUTOEXTRACT_SHUFFLE_PARTITIONS", str(max(cores, DEFAULT_SHUFFLE_PARTITIONS)))
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        # AQE: runtime coalescing + skew-join splitting; free insurance at scale.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        # Arrow everywhere Python touches data — the engine's hot path is
        # pandas/Arrow UDFs, never row-at-a-time Python.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS_PER_BATCH),
        )
        # Input split size: the sandbox's test tables are single files of
        # 2-130 MB with few row groups, so the 128 MB default packs a whole
        # table into 1-2 scan tasks (tpch lineitem: 2 tasks on 32 cores).
        # 16 MB locally splits every multi-row-group file across the box;
        # at cluster scale set AUTOEXTRACT_MAX_PARTITION_BYTES to 512m-1g
        # (guide §6: big sequential scans want large splits — split size
        # should track per-task data volume, not a constant).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("AUTOEXTRACT_MAX_PARTITION_BYTES", "16m"),
        )
        # Idempotent partition-granular re-writes (resume path).
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # Keep timestamps deterministic across JVM/duckdb comparisons.
        .config("spark.sql.session.timeZone", "UTC")
        # Shuffle scratch on tmpfs: the sandbox's virtio disk serializes
        # concurrent shuffle writers (32 tasks blocked ~2/3 of wall on I/O).
        # On a real cluster this is local NVMe / disaggregated shuffle.
        .config(
            "spark.local.dir",
            os.environ.get(
                "AUTOEXTRACT_LOCAL_DIR",
                "/dev/shm/spark-tmp" if os.path.isdir("/dev/shm") else "/tmp",
            ),
        )
        # local mode: the driver JVM hosts all executor threads — size the
        # heap for 32 concurrent tasks' sort/agg/Arrow buffers or GC thrash
        # inflates CPU time superlinearly with parallelism
        .config("spark.driver.memory", os.environ.get("AUTOEXTRACT_DRIVER_MEM", "48g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
