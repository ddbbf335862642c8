"""Resumable-stage layout and bookkeeping invariants.

* every ``bucket=`` directory a job writes holds exactly one data file,
  whatever the shuffle configuration (the partitioned write relies on each
  bucket landing in one write task), and that file is sorted by doc_id;
* checkpoint / lineage bookkeeping runs no Spark job;
* the append-only stores ignore a half-written append and still read
  directories written by Spark.
"""

from __future__ import annotations

import glob
import os
import time
from contextlib import contextmanager

import pytest

from autoextract import corpus
from autoextract.plans import pipeline
from autoextract.plans.checkpoint import CHECKPOINT_SCHEMA, CheckpointStore
from autoextract.plans.edits import merge_reextract
from autoextract.schema import SHIPPING_SCHEMA

N_BUCKETS = 8


@pytest.fixture(scope="module")
def words(spark):
    gen = corpus.gen_corpus(spark, 60, seed=11).cache()
    gen.count()
    yield corpus.ocr_words_view(gen)
    gen.unpersist()


def _files_per_bucket(table_dir: str) -> dict[int, int]:
    dirs = sorted(glob.glob(os.path.join(table_dir, "bucket=*")))
    assert dirs, f"no bucket directories under {table_dir}"
    return {
        int(d.rsplit("=", 1)[1]): len(glob.glob(os.path.join(d, "*.parquet")))
        for d in dirs
    }


def _assert_one_file_per_bucket(table_dir: str) -> None:
    counts = _files_per_bucket(table_dir)
    assert set(counts.values()) == {1}, counts


@contextmanager
def _conf(spark, **settings):
    old = {k: spark.conf.get(k) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


# -- one data file per bucket directory ----------------------------------


def test_spans_job_one_file_per_bucket(spark, words, tmp_path):
    out = str(tmp_path / "spans")
    pipeline.run_spans_job(spark, words, out, n_buckets=N_BUCKETS)
    _assert_one_file_per_bucket(os.path.join(out, "spans"))


def test_html_job_one_file_per_bucket(spark, tmp_path):
    docs, _ = corpus.gen_html_corpus(spark, 40, seed=5)
    out = str(tmp_path / "html")
    pipeline.run_html_job(spark, docs, out, n_buckets=N_BUCKETS)
    _assert_one_file_per_bucket(os.path.join(out, "spans"))


def test_full_job_one_file_per_bucket(spark, words, tmp_path):
    out = str(tmp_path / "full")
    pipeline.run_full_job(spark, words, SHIPPING_SCHEMA, out, n_buckets=N_BUCKETS)
    _assert_one_file_per_bucket(os.path.join(out, "spans"))
    _assert_one_file_per_bucket(os.path.join(out, "extracted"))


def test_killed_and_resumed_one_file_per_bucket(spark, words, tmp_path):
    out = str(tmp_path / "resumed")
    pipeline.run_spans_job(spark, words, out, n_buckets=N_BUCKETS, only_buckets={0, 3, 5})
    assert sorted(_files_per_bucket(os.path.join(out, "spans"))) == [0, 3, 5]
    pipeline.run_spans_job(spark, words, out, n_buckets=N_BUCKETS)
    counts = _files_per_bucket(os.path.join(out, "spans"))
    assert sorted(counts) == list(range(N_BUCKETS))
    assert set(counts.values()) == {1}, counts


def test_single_shuffle_partition_aqe_off_one_file_per_bucket(spark, words, tmp_path):
    out = str(tmp_path / "p1")
    with _conf(spark, **{"spark.sql.shuffle.partitions": "1", "spark.sql.adaptive.enabled": "false"}):
        pipeline.run_spans_job(spark, words, out, n_buckets=N_BUCKETS)
    _assert_one_file_per_bucket(os.path.join(out, "spans"))


def test_merge_reextract_one_file_per_bucket(spark, words, tmp_path):
    out = str(tmp_path / "merge")
    pipeline.run_extract_job(spark, words, SHIPPING_SCHEMA, out, n_buckets=N_BUCKETS)
    # "edit" three documents by resubmitting their words unchanged
    targets = words.select("doc_id").distinct().orderBy("doc_id").limit(3)
    edits = words.join(targets, "doc_id", "left_semi")
    assert merge_reextract(spark, words, edits, SHIPPING_SCHEMA, out, n_buckets=N_BUCKETS) == 3
    _assert_one_file_per_bucket(os.path.join(out, "extracted"))


def _assert_files_sorted_by_doc_id(table_dir: str) -> None:
    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(table_dir, "bucket=*", "*.parquet"))
    assert files, f"no data files under {table_dir}"
    for f in files:
        ids = pq.read_table(f, columns=["doc_id"]).column("doc_id").to_pylist()
        assert ids == sorted(ids), f


@pytest.mark.parametrize("job", ["spans", "extract", "full"])
def test_layout_job_files_sorted_by_doc_id(spark, words, tmp_path, job):
    """The write sorts each task by (bucket, doc_id), so every ``bucket=``
    file of ``spans`` and ``extracted`` is in doc_id order, also when one
    task writes several buckets."""
    out = str(tmp_path / job)
    if job == "spans":
        pipeline.run_spans_job(spark, words, out, n_buckets=N_BUCKETS)
    elif job == "extract":
        pipeline.run_extract_job(spark, words, SHIPPING_SCHEMA, out, n_buckets=N_BUCKETS)
    else:
        pipeline.run_full_job(spark, words, SHIPPING_SCHEMA, out, n_buckets=N_BUCKETS)
    for table in ("spans", "extracted"):
        if os.path.isdir(os.path.join(out, table)):
            _assert_files_sorted_by_doc_id(os.path.join(out, table))


def test_html_job_files_sorted_by_doc_id(spark, tmp_path):
    docs, _ = corpus.gen_html_corpus(spark, 40, seed=5)
    out = str(tmp_path / "html")
    pipeline.run_html_job(spark, docs, out, n_buckets=N_BUCKETS)
    _assert_files_sorted_by_doc_id(os.path.join(out, "spans"))


# -- bookkeeping runs no Spark job ---------------------------------------


def _jobs_in_group(spark, group: str, body) -> list[int]:
    """Job ids that ``body()`` starts under job group ``group``.

    The status tracker is fed asynchronously by the listener bus, so a
    marker job runs last in the same group: once it is visible, every job
    ``body`` started before it is visible too.
    """
    sc = spark.sparkContext
    sc.setJobGroup(group, "bookkeeping probe")
    try:
        body()
        sc.parallelize([0], 1).count()  # marker
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    ids = list(tracker.getJobIdsForGroup(group))
    while not ids and time.monotonic() < deadline:
        time.sleep(0.05)
        ids = list(tracker.getJobIdsForGroup(group))
    assert ids, "marker job never reached the status tracker"
    return sorted(ids)[:-1]  # drop the marker, the group's newest job


def test_bookkeeping_runs_no_spark_job(spark, tmp_path):
    store = CheckpointStore(spark, str(tmp_path / "bk"))

    def body():
        assert store.done_buckets("s") == set()  # no directory yet
        store.mark_done("r1", "s", {0: 5, 2: 0}, 12)
        store.append_lineage("r1", "s", 10, 5, 4, 2, 12)
        assert store.done_buckets("s") == {0, 2}
        assert store.done_buckets("other") == set()

    assert _jobs_in_group(spark, "bookkeeping-no-jobs", body) == []
    rows = store.read().collect()
    assert sorted((r["bucket"], r["n_rows"], r["status"]) for r in rows) == [
        (0, 5, "done"),
        (2, 0, "done"),
    ]
    lin = store.read_lineage().collect()
    assert [(r["input_rows"], r["output_rows"], r["buckets_processed"]) for r in lin] == [(10, 5, 2)]


def test_noop_rerun_runs_no_spark_job(spark, words, tmp_path):
    out = str(tmp_path / "noop")
    pipeline.run_spans_job(spark, words, out, n_buckets=N_BUCKETS)
    again = []
    jobs = _jobs_in_group(
        spark,
        "noop-rerun-no-jobs",
        lambda: again.append(pipeline.run_spans_job(spark, words, out, n_buckets=N_BUCKETS)),
    )
    assert again[0].buckets_processed == 0
    assert jobs == []


# -- crash safety and backward compatibility -----------------------------


def test_half_written_append_is_ignored(spark, tmp_path):
    store = CheckpointStore(spark, str(tmp_path / "crash"))
    store.mark_done("r1", "s", {1: 3, 4: 7}, 5)
    store.append_lineage("r1", "s", 20, 10, 8, 2, 5)
    # a kill mid-append leaves only the dot-prefixed temp file behind
    for d in (store.ckpt_dir, store.lineage_dir):
        with open(os.path.join(d, ".part-killed.parquet.tmp"), "wb") as f:
            f.write(b"PAR1 not really parquet \x00\xff" * 8)
    assert store.done_buckets("s") == {1, 4}
    assert store.read().count() == 2
    assert store.read_lineage().count() == 1


def test_reads_checkpoint_written_by_spark(spark, tmp_path):
    """Directories that earlier runs wrote with Spark (``_SUCCESS`` and
    ``.crc`` files alongside the data) stay readable, and new appends mix
    with the old files."""
    base = str(tmp_path / "legacy")
    store = CheckpointStore(spark, base)
    rows = [
        ("old", "spans", 0, "done", 4, 9, 1),
        ("old", "spans", 3, "done", 2, 9, 1),
        ("old", "spans", 5, "failed", 0, 9, 1),
        ("old", "extract", 1, "done", 6, 9, 1),
    ]
    spark.createDataFrame(rows, CHECKPOINT_SCHEMA).coalesce(1).write.mode("append").parquet(
        store.ckpt_dir
    )
    names = os.listdir(store.ckpt_dir)
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    assert store.done_buckets("spans") == {0, 3}
    assert store.done_buckets("extract") == {1}

    store.mark_done("new", "spans", {7: 1}, 3)
    assert store.done_buckets("spans") == {0, 3, 7}
    assert store.read().count() == 5
