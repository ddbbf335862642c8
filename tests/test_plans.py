"""Physical-plan audits: the plan shapes that matter at 100 TB.

Correct results with the wrong plan do not survive a 1000-executor scale-up;
these tests pin the load-bearing optimizer outcomes (predicate pushdown into
the parquet scan, nested/column pruning, broadcast of small dims, bounded
exchange counts in the span pipeline)."""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"


def plan_str(df, mode: str = "formatted") -> str:
    jmode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def final_plan_str(df) -> str:
    """Run ``df`` and return AQE's final physical plan: the stages that ran,
    with their shuffle reads, and without the initial plan's copy."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().executedPlan().toString()


def n_exchanges(plan: str) -> int:
    return len(re.findall(r"\bExchange\b", plan))


def without_initial_plans(plan: str) -> str:
    """Drop each ``== Initial Plan ==`` subtree: an adaptive subplan that
    already ran (a cached relation's) prints it beside its final plan, so
    every node of that subplan would otherwise count twice. A subtree line
    has only blanks and ``:`` continuations left of the marker's glyph."""
    out, glyph = [], None
    for line in plan.splitlines():
        if glyph is not None and len(line) > glyph and not line[:glyph].strip(" :"):
            continue
        glyph = None
        marker = line.find("== Initial Plan ==")
        if marker >= 0:
            glyph = marker - len("+- ")
            continue
        out.append(line)
    return "\n".join(out)


def test_filter_pushed_to_parquet_scan(spark):
    p = plan_str(E._q_token_offsets(spark, SF))
    assert "PushedFilters" in p
    assert "LessThan(doc_id,100)" in p or "lessthan(doc_id,100)" in p.lower()


def test_column_pruning_on_scan(spark):
    p = plan_str(E._q_word_count(spark, SF))
    # only the two needed columns reach the scan — lang/source/n_chars pruned
    assert "ReadSchema" in p
    read = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "doc_id" in read and "text" in read
    assert "lang" not in read and "n_chars" not in read


def test_small_dim_broadcast(spark):
    p = plan_str(E._q_dim_broadcast_join(spark, SF))
    assert "BroadcastHashJoin" in p


def test_anti_join_strategy(spark):
    p = plan_str(E._q_pending_anti_join(spark, SF))
    assert "LeftAnti" in p


def test_span_pipeline_exchange_budget(spark):
    """order_words + assemble_spans = exactly 2 exchanges (the doc_id
    repartition and the final groupBy) — no window sort, no extra shuffle.
    A third exchange appearing means someone broke the single-pass design."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    from autoextract.operators.layout import assemble_spans, order_words

    spans = assemble_spans(order_words(E._docs_to_word_boxes(docs)))
    p = plan_str(spans, "simple")
    # repartition-by-id counts once even under AQE re-plan markers
    n_exchanges = p.count("Exchange")
    assert n_exchanges == 2, f"{n_exchanges} exchanges:\n{p}"
    assert "Window" not in p


def test_whole_stage_codegen_in_scalar_path(spark):
    p = plan_str(E._q_quality(spark, SF))
    # formatted mode marks whole-stage codegen with "[codegen id : N]"
    assert "codegen id" in p


def test_minhash_zero_shuffle_projection(spark):
    """r6: the signature is a per-doc ``array_min(transform(...))``
    projection chain — no explode, no string-buffer SortAggregate, and the
    only exchange is the query's small-file re-spread. The staged
    projections keep ``split()`` out of the shingle lambda (each md5 seed
    appears once, not once per comparison)."""
    p = plan_str(E._q_minhash_signatures(spark, SF), "simple")
    assert "array_min" in p
    assert "SortAggregate" not in p and "HashAggregate" not in p
    assert "Generate" not in p  # no shingle explode
    assert p.count("Exchange") <= 1  # the _spread repartition only
    # one md5 per hash seed in one projection — not re-inlined per window
    assert p.count("md5") == 4


def test_srp_bucket_prune_before_rerank(spark):
    """ANN path must filter on the bucket BEFORE the cosine rerank."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    from autoextract.operators.similarity import ann_topk_via_srp

    q = [0.1] * 64
    p = plan_str(ann_topk_via_srp(emb, q, dim=64, k=5, n_planes=4))
    # the bucket filter sits immediately above the Arrow UDF eval (the alias
    # is inlined away), and the cosine rerank only sees surviving rows
    assert "ArrowEvalPython" in p
    i_udf = p.index("ArrowEvalPython")
    assert "Filter" in p[: i_udf + 400]
    assert "TakeOrderedAndProject" in p  # top-k never materializes a full sort

def test_fused_spans_single_exchange(spark):
    """spans_table = exactly ONE exchange (the doc_id repartition): the
    kernel assembles documents in-pass, so no groupBy stage exists, and
    the renderer's count-free doc_id spread IS that exchange — the word
    rows never cross one. Checked on the plan AQE actually ran."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    from autoextract.operators.layout import spans_table

    p = final_plan_str(spans_table(E._docs_to_word_boxes(docs)))
    assert n_exchanges(p) == 1, p
    assert "REPARTITION_BY_COL" in p
    assert "HashAggregate" not in p and "ObjectHashAggregate" not in p
    assert "Window" not in p


def test_ocr_words_spans_single_coalesced_exchange(spark, tmp_path):
    """A stored ocr_words table reaches the span kernel through exactly one
    doc_id exchange, and AQE coalesces its read: the kernel's task count
    follows the shuffle bytes, not ``spark.sql.shuffle.partitions``."""
    from autoextract import corpus
    from autoextract.operators.layout import spans_table

    path = str(tmp_path / "ocr_words")
    corpus.ocr_words_view(corpus.gen_corpus(spark, 40, seed=5)).write.parquet(path)
    p = final_plan_str(spans_table(spark.read.parquet(path)))
    assert n_exchanges(p) == 1, p
    assert "AQEShuffleRead coalesced" in p, p


def test_extract_kernels_arrow_per_doc(spark, tmp_path):
    """``extract_fields`` and ``nested_result`` run as named ``MapInArrow``
    kernels over the shared ``per_doc`` loop: no pandas kernel anywhere in
    their plans, and one doc_id exchange each on top of ``order_words``'."""
    from autoextract import corpus
    from autoextract.operators.extract import extract_fields, nested_result
    from autoextract.operators.layout import order_words
    from autoextract.schema import SHIPPING_SCHEMA

    path = str(tmp_path / "ocr_words")
    corpus.ocr_words_view(corpus.gen_corpus(spark, 20, seed=5)).write.parquet(path)
    extracted = extract_fields(order_words(spark.read.parquet(path)), SHIPPING_SCHEMA)
    nested = nested_result(extracted, SHIPPING_SCHEMA)
    for df, kernel, exchanges in ((extracted, "extract_chunk", 2), (nested, "nested_chunk", 3)):
        p = plan_str(df, "simple")
        assert f"MapInArrow {kernel}" in p, p
        assert "MapInPandas" not in p and "FlatMapGroupsInPandas" not in p, p
        assert n_exchanges(p) == exchanges, p


def test_html_spans_table_narrow_and_one_write_exchange(spark, tmp_path, monkeypatch):
    """``html_spans_table`` is one narrow per-row ``MapInArrow`` stage (no
    exchange, no aggregate, no pandas kernel), so ``run_html_job``'s write
    shuffles once: the count-free bucket repartition after the kernel."""
    from autoextract import corpus
    from autoextract.operators.html import html_spans_table
    from autoextract.plans import pipeline

    path = str(tmp_path / "html_docs")
    corpus.gen_html_corpus(spark, 20, seed=3)[0].write.parquet(path)
    docs = spark.read.parquet(path)
    p = plan_str(html_spans_table(docs), "simple")
    assert "MapInArrow html_doc_spans" in p, p
    assert n_exchanges(p) == 0, p
    assert "Aggregate" not in p and "MapInPandas" not in p, p

    written = _record_writes(monkeypatch)
    pipeline.run_html_job(spark, docs, str(tmp_path / "out"), n_buckets=4)
    assert len(written) == 1
    p = written[0]
    assert n_exchanges(p) == 1 and "REPARTITION_BY_COL" in p, p
    # above the kernel in the tree: span rows cross it, not the raw HTML
    assert p.index("Exchange") < p.index("MapInArrow html_doc_spans"), p


def _record_writes(monkeypatch) -> list[str]:
    """Patch ``DataFrameWriter.parquet`` to record the simple plan of every
    DataFrame written from now on, taken at write time (while a persisted
    input is still cached)."""
    from pyspark.sql.readwriter import DataFrameWriter

    written = []
    parquet = DataFrameWriter.parquet

    def record(self, *args, **kwargs):
        written.append(plan_str(self._df, "simple"))
        return parquet(self, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", record)
    return written


@pytest.fixture
def stored_words(spark, tmp_path):
    """A stored ocr_words table: its scan adds no exchange of its own."""
    from autoextract import corpus

    path = str(tmp_path / "ocr_words")
    corpus.ocr_words_view(corpus.gen_corpus(spark, 20, seed=5)).write.parquet(path)
    return spark.read.parquet(path)


@pytest.mark.parametrize("job", ["spans", "extract"])
def test_layout_job_writes_through_one_exchange(spark, stored_words, tmp_path, monkeypatch, job):
    """``run_spans_job`` and ``run_extract_job`` cluster the cleaned words on
    their bucket once: that exchange keeps each document whole for the
    layout (and extract) kernels and also clusters the rows for the
    partitioned write, which adds none. No aggregate anywhere."""
    from autoextract.plans import pipeline
    from autoextract.schema import SHIPPING_SCHEMA

    written = _record_writes(monkeypatch)
    out = str(tmp_path / "out")
    if job == "spans":
        pipeline.run_spans_job(spark, stored_words, out, n_buckets=4)
    else:
        pipeline.run_extract_job(spark, stored_words, SHIPPING_SCHEMA, out, n_buckets=4)
    assert len(written) == 1
    p = written[0]
    assert n_exchanges(p) == 1 and "REPARTITION_BY_COL" in p, p
    assert "Aggregate" not in p, p


def test_full_job_writes_only_the_persisted_exchange(spark, stored_words, tmp_path, monkeypatch):
    """``run_full_job`` builds each document's span row and field rows in one
    doc-wise pass behind the bucket exchange and persists them; each write
    selects its rows from the cache, so its plan holds only the one
    exchange beneath the cached relation, and no groupBy."""
    from autoextract.plans import pipeline
    from autoextract.schema import SHIPPING_SCHEMA

    written = _record_writes(monkeypatch)
    pipeline.run_full_job(spark, stored_words, SHIPPING_SCHEMA, str(tmp_path / "out"), n_buckets=4)
    assert len(written) == 2
    for p in map(without_initial_plans, written):
        assert "InMemoryTableScan" in p, p
        assert n_exchanges(p) == 1, p
        assert "HashAggregate" not in p and "ObjectHashAggregate" not in p, p


def test_pdf_query_filter_pushdown(spark):
    """The pdf round-trip's doc_id < 300 filter reaches the parquet scan —
    at 10^12 docs the render stage must never see unselected rows."""
    p = plan_str(E._q_pdf_ingest_spans(spark, SF))
    assert "PushedFilters" in p
    assert "LessThan(doc_id,300)" in p or "lessthan(doc_id,300)" in p.lower()


def test_winnowing_hash_once_shape(spark):
    """Winnowing must hash each shingle ONCE: the hash array lands in a
    staged projection and the sliding min is an ``array_min(slice(...))``
    per window position over that attribute — no Python UDF, no SQL window
    (its full-stream exchange + sort are gone), and no global distinct
    exchange (fps are deduped per doc before the explode). The explode must
    be ``explode_outer`` so InferFiltersFromGenerate cannot inline the
    whole chain into a per-row size()>0 predicate (measured 20 s vs 0.3 s
    at sf0.01)."""
    p = plan_str(E._q_winnowing(spark, SF), "simple")
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "Generate" in p  # the final fps explode
    assert "Window" not in p
    assert p.count("Exchange") <= 1  # the _spread repartition only
    # md5 appears once (one transform over the shingle attribute), not
    # re-inlined into the per-window lambda or an inferred Generate filter
    assert p.count("md5") == 1
