"""End-to-end span-sequence equality on the generated corpus (the
BASELINE.json per-row invariant: (kind, text, media_ref, order) per doc),
plus the FIXTURES.md §1 structural invariants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from autoextract import corpus
from autoextract.operators.layout import assemble_spans, order_words


@pytest.fixture(scope="module")
def gen(spark):
    df = corpus.gen_corpus(spark, 60, seed=42, mega_doc=True).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def got_spans(spark, gen):
    df = assemble_spans(order_words(corpus.ocr_words_view(gen))).cache()
    df.count()
    yield df
    df.unpersist()


def test_span_sequence_equality(spark, gen, got_spans):
    exp = corpus.expected_spans(gen)
    joined = got_spans.alias("g").join(exp.alias("e"), "doc_id", "full_outer")
    bad = joined.where(
        F.col("g.spans").isNull()
        | F.col("e.spans").isNull()
        | ~(F.col("g.spans") == F.col("e.spans"))
    )
    assert bad.count() == 0


def test_offsets_dense_and_increasing(got_spans):
    bad = got_spans.where(
        ~(
            F.col("spans")
            == F.transform(
                F.col("spans"),
                lambda s, i: F.struct(
                    s["kind"].alias("kind"),
                    s["text"].alias("text"),
                    s["media_ref"].alias("media_ref"),
                    i.cast("int").alias("offset"),
                ),
            )
        )
    )
    assert bad.count() == 0


def test_no_empty_text_spans(got_spans):
    bad = got_spans.where(
        F.exists(
            "spans",
            lambda s: (s["kind"] == "text")
            & (F.length(F.trim(s["text"])) == 0),
        )
    )
    assert bad.count() == 0


def test_media_refs_unique_per_doc(got_spans):
    refs = got_spans.select(
        "doc_id",
        F.filter("spans", lambda s: s["kind"] == "media").alias("m"),
    ).select("doc_id", F.size("m").alias("n"), F.size(F.array_distinct("m.media_ref")).alias("d"))
    assert refs.where(F.col("n") != F.col("d")).count() == 0


def test_kind_fields_exclusive(got_spans):
    bad = got_spans.where(
        F.exists(
            "spans",
            lambda s: ((s["kind"] == "text") & (s["media_ref"].isNotNull() | s["text"].isNull()))
            | ((s["kind"] == "media") & (s["text"].isNotNull() | s["media_ref"].isNull())),
        )
    )
    assert bad.count() == 0


def test_idempotence(spark, gen, got_spans):
    """Running the pipeline twice yields an identical table (SURVEY.md §5.3)."""
    again = assemble_spans(order_words(corpus.ocr_words_view(gen)))
    diff = got_spans.exceptAll(again).union(again.exceptAll(got_spans))
    assert diff.count() == 0


def test_mega_doc_present_and_correct(spark, gen, got_spans):
    """The skew fixture (~100× median words) flows through the page-parallel
    layout path and still satisfies the invariant."""
    sizes = got_spans.select("doc_id", F.size("spans").alias("n"))
    mx = sizes.orderBy(F.desc("n")).first()
    med = sizes.approxQuantile("n", [0.5], 0.0)[0]
    assert mx["n"] > 50 * med


def test_order_words_auto_routes_and_matches(spark, gen, got_spans):
    """The skew router (fast path + page-parallel mega path) must produce
    the identical span table."""
    from autoextract.operators.layout import assemble_spans, order_words_auto

    words = corpus.ocr_words_view(gen)
    # threshold low enough that the mega fixture routes to the paged path
    routed = assemble_spans(order_words_auto(words, mega_threshold=2000))
    diff = routed.exceptAll(got_spans).union(got_spans.exceptAll(routed))
    assert diff.count() == 0


def test_order_words_paged_equals_order_words(spark, gen):
    """The page-parallel path must reproduce the fast path's word rows on
    every ORDERED_SCHEMA column — seq, block_id and line_id included, which
    assemble_spans drops but extraction and furniture detection read."""
    from autoextract.operators.layout import ORDERED_SCHEMA, order_words_paged

    words = corpus.ocr_words_view(gen)
    fast = order_words(words)
    paged = order_words_paged(words)
    assert paged.schema.simpleString() == fast.schema.simpleString()
    assert len(fast.columns) == len(ORDERED_SCHEMA.split(",")) == 14
    assert paged.count() == fast.count()
    diff = fast.exceptAll(paged).union(paged.exceptAll(fast))
    assert diff.count() == 0


def test_spans_table_fused_equals_two_step(spark, gen, got_spans):
    """The one-shuffle fused kernel must equal assemble_spans(order_words)."""
    from autoextract.operators.layout import spans_table

    fused = spans_table(corpus.ocr_words_view(gen))
    diff = fused.exceptAll(got_spans).union(got_spans.exceptAll(fused))
    assert diff.count() == 0


def test_order_words_auto_single_source_scan(spark):
    """r3: the router reads its source ONCE — clean+shuffle on doc_id once,
    window-tag sizes on that partitioning, partition-local filters route;
    the second branch consumes the same shuffle via AQE stage reuse (the
    former census + dual-rescan read a 100 TB table twice). Pinned against
    a parquet source (reuse over cached relations prints differently)."""
    import __spark_entry__ as E

    from autoextract.operators.layout import order_words_auto

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(200)
    words = E._docs_to_word_boxes(docs)
    auto = order_words_auto(words, mega_threshold=30)  # both branches fire
    auto.collect()  # AQE finalizes; reuse is a runtime property
    plan = auto._jdf.queryExecution().executedPlan().toString()
    assert "ReusedQueryStage" in plan or "ReusedExchange" in plan
