"""Span-pipeline results must not depend on engine configuration.

``spans_table``, ``order_words``, ``extract_fields`` and ``nested_result``
repartition on doc_id without a partition count, so the number and size of
their kernel tasks follow AQE, the shuffle-partition conf and the Arrow batch
size; ``html_spans_table`` is a per-row stage whose batches follow the Arrow
batch size. Each perturbation below must reproduce the default run's output
exactly (the span table, the full ``order_words`` rows, the extracted fields,
the per-document nested JSON and the HTML span table):

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
from autoextract.schema import SHIPPING_SCHEMA

N_DOCS = 40

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


def _results(words, html_docs) -> tuple[dict, list, list, list, list]:
    # DataFrames are built inside the caller's conf block: a count-free
    # repartition takes its initial partition count at planning time
    spans = {r.doc_id: r.spans for r in spans_table(words).collect()}
    ordered = order_words(words)
    # (doc_id, page, seq) is unique, so the sort never compares None cells
    rows = sorted(tuple(r) for r in ordered.collect())
    extracted = extract_fields(ordered, SHIPPING_SCHEMA)
    fields = sorted(
        (r.doc_id, r.field_path, r.value, tuple(r.word_ids), r.confidence)
        for r in extracted.collect()
    )
    nested = sorted(
        (r.doc_id, r.extracted_json, r.indices_json)
        for r in nested_result(extracted, SHIPPING_SCHEMA).collect()
    )
    html = sorted((r.doc_id, r.spans) for r in html_spans_table(html_docs).collect())
    return spans, fields, rows, nested, html


@pytest.fixture(scope="module")
def baseline(words, html_docs):
    spans, fields, rows, nested, html = _results(words, html_docs)
    assert len(spans) == N_DOCS and fields
    assert len({r[0] for r in rows}) == N_DOCS
    assert len(nested) == N_DOCS
    assert len(html) == N_DOCS
    return spans, fields, rows, nested, html


@pytest.mark.parametrize("name", sorted(PERTURBATIONS))
def test_span_pipeline_config_invariant(spark, words, html_docs, baseline, name):
    conf = PERTURBATIONS[name]
    before = {k: spark.conf.get(k, None) for k in conf}
    with session_conf(spark, conf):
        got = _results(words, html_docs)
    assert {k: spark.conf.get(k, None) for k in conf} == before
    assert got[0] == baseline[0]
    assert got[1] == baseline[1]
    assert got[2] == baseline[2]
    assert got[3] == baseline[3]
    assert got[4] == baseline[4]
