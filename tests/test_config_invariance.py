"""Span-pipeline results must not depend on engine configuration.

``spans_table``, ``order_words``, ``extract_fields`` and ``nested_result``
repartition on doc_id without a partition count, so the number and size of
their kernel tasks follow AQE, the shuffle-partition conf and the Arrow batch
size; ``html_spans_table`` is a per-row stage whose batches follow the Arrow
batch size. The resumable jobs run the same kernels behind one exchange on
the bucket instead. Each perturbation below must reproduce the default run's
output exactly (the span table, the full ``order_words`` rows, the extracted
fields, the per-document nested JSON, the HTML span table, and what
``run_spans_job``, ``run_full_job`` and ``run_html_job`` write), and the
jobs must write what the operators return:

* ``maxRecordsPerBatch=7`` splits nearly every document across Arrow
  batches, exercising the kernels' doc-boundary buffering — the path that
  larger, coalesced partitions reach more often;
* ``shuffle.partitions`` 1 and 7 change the hash layout (7 is coprime with
  the default, 1 puts every document in one task);
* AQE off keeps the full ``shuffle.partitions`` task count, uncoalesced.
"""

from __future__ import annotations

from contextlib import contextmanager

import pytest

from autoextract import corpus
from autoextract.operators.extract import extract_fields, nested_result
from autoextract.operators.html import html_spans_table
from autoextract.operators.layout import order_words, spans_table
from autoextract.plans import pipeline
from autoextract.schema import SHIPPING_SCHEMA

N_DOCS = 40
N_BUCKETS = 4

PERTURBATIONS = {
    "arrow_batch_7": {"spark.sql.execution.arrow.maxRecordsPerBatch": "7"},
    "shuffle_partitions_1": {"spark.sql.shuffle.partitions": "1"},
    "shuffle_partitions_7": {"spark.sql.shuffle.partitions": "7"},
    "aqe_off": {"spark.sql.adaptive.enabled": "false"},
}


@contextmanager
def session_conf(spark, conf: dict[str, str]):
    """Set runtime SQL confs for the block, then restore the prior values."""
    prior = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@pytest.fixture(scope="module")
def words(spark):
    df = corpus.ocr_words_view(corpus.gen_corpus(spark, N_DOCS, seed=31)).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def html_docs(spark):
    df = corpus.gen_html_corpus(spark, N_DOCS, seed=31)[0].cache()
    df.count()
    yield df
    df.unpersist()


def _fields(df) -> list:
    return sorted(
        (r.doc_id, r.field_path, r.value, tuple(r.word_ids), r.confidence)
        for r in df.collect()
    )


def _results(words, html_docs, out_dir) -> tuple:
    # DataFrames are built inside the caller's conf block: a count-free
    # repartition takes its initial partition count at planning time
    spans = {r.doc_id: r.spans for r in spans_table(words).collect()}
    ordered = order_words(words)
    # (doc_id, page, seq) is unique, so the sort never compares None cells
    rows = sorted(tuple(r) for r in ordered.collect())
    extracted = extract_fields(ordered, SHIPPING_SCHEMA)
    fields = _fields(extracted)
    nested = sorted(
        (r.doc_id, r.extracted_json, r.indices_json)
        for r in nested_result(extracted, SHIPPING_SCHEMA).collect()
    )
    html = sorted((r.doc_id, r.spans) for r in html_spans_table(html_docs).collect())

    # the resumable jobs, each into a fresh output directory
    spark = words.sparkSession
    job_dirs = {job: str(out_dir / job) for job in ("spans", "full", "html")}
    pipeline.run_spans_job(spark, words, job_dirs["spans"], n_buckets=N_BUCKETS)
    pipeline.run_full_job(spark, words, SHIPPING_SCHEMA, job_dirs["full"], n_buckets=N_BUCKETS)
    pipeline.run_html_job(spark, html_docs, job_dirs["html"], n_buckets=N_BUCKETS)
    job_spans = {
        job: {r.doc_id: r.spans for r in pipeline.read_spans(spark, d).collect()}
        for job, d in job_dirs.items()
    }
    full_fields = _fields(pipeline.read_extracted(spark, job_dirs["full"]))
    return (
        spans, fields, rows, nested, html,
        job_spans["spans"], job_spans["full"], full_fields, job_spans["html"],
    )


@pytest.fixture(scope="module")
def baseline(words, html_docs, tmp_path_factory):
    got = _results(words, html_docs, tmp_path_factory.mktemp("baseline"))
    spans, fields, rows, nested, html, job_spans, full_spans, full_fields, job_html = got
    assert len(spans) == N_DOCS and fields
    assert len({r[0] for r in rows}) == N_DOCS
    assert len(nested) == N_DOCS
    assert len(html) == N_DOCS
    # the jobs write exactly what the operators return
    assert job_spans == spans
    assert full_spans == spans
    assert full_fields == fields
    assert sorted(job_html.items()) == html
    return got


@pytest.mark.parametrize("name", sorted(PERTURBATIONS))
def test_span_pipeline_config_invariant(spark, words, html_docs, baseline, tmp_path, name):
    conf = PERTURBATIONS[name]
    before = {k: spark.conf.get(k, None) for k in conf}
    with session_conf(spark, conf):
        got = _results(words, html_docs, tmp_path)
    assert {k: spark.conf.get(k, None) for k in conf} == before
    assert len(got) == len(baseline)
    for i, (g, b) in enumerate(zip(got, baseline)):
        assert g == b, i
