"""HTML boilerplate strip (SURVEY.md §2 P6, FIXTURES.md §3)."""

from __future__ import annotations

from pyspark.sql import functions as F

from autoextract import corpus
from autoextract.operators.html import html_spans_table, html_to_spans, strip_html


def test_fixture_spans_exact():
    got = html_to_spans(corpus.HTML_DOC_ID, corpus.HTML_FIXTURE)
    assert got == corpus.HTML_EXPECTED


def test_boilerplate_never_leaks():
    got = html_to_spans(corpus.HTML_DOC_ID, corpus.HTML_FIXTURE)
    text = " ".join(t for _, t, _ in got if t)
    for bad in ("Home", "About", "Login", "Site Title", "Copyright", "Related post", "Terms"):
        assert bad not in text, bad


def test_malformed_html_does_not_crash():
    assert html_to_spans("x", "<div><p>unclosed <b>tags <img src='a.png'>") == [
        ("text", "unclosed tags", None),
        ("media", None, "a.png"),
    ]
    assert html_to_spans("x", "") == []
    assert html_to_spans("x", "plain text no tags") == [("text", "plain text no tags", None)]


def test_figure_uses_nested_img_src():
    html = "<body><article><p>t</p><figure><img src='f.png'><figcaption>c</figcaption></figure></article></body>"
    got = html_to_spans("x", html)
    assert ("media", None, "f.png") in got


def test_distributed_corpus_equality(spark):
    docs, expected = corpus.gen_html_corpus(spark, 40, seed=42)
    got = strip_html(docs)
    exp = expected.select("doc_id", "seq", "kind", "text", "media_ref")
    diff = got.exceptAll(exp).union(exp.exceptAll(got))
    assert diff.count() == 0


def test_html_spans_table_invariants(spark):
    docs, _ = corpus.gen_html_corpus(spark, 20, seed=1)
    table = html_spans_table(docs)
    bad = table.where(
        F.exists(
            "spans",
            lambda s: ((s["kind"] == "text") & (F.length(F.trim(s["text"])) == 0)),
        )
    )
    assert bad.count() == 0
    # offsets dense
    dense = table.where(
        ~(
            F.transform("spans", lambda s, i: s["offset"] == i.cast("int"))
            == F.transform("spans", lambda s: F.lit(True))
        )
    )
    assert dense.count() == 0


def test_html_spans_table_skips_documents_without_spans(spark):
    """A document whose main content is empty (only boilerplate, or no
    markup at all) has no spans, so ``html_spans_table`` emits no row for
    it; every other document gets exactly one row."""
    docs = spark.createDataFrame(
        [
            ("boiler", "<html><body><nav><a href='/'>Home</a></nav>"
                       "<footer>Copyright</footer></body></html>"),
            ("empty", ""),
            ("null", None),
            ("good", "<html><body><article><p>kept text</p>"
                     "<img src='a.png'></article></body></html>"),
        ],
        "doc_id string, html string",
    )
    rows = html_spans_table(docs).collect()
    assert [r.doc_id for r in rows] == ["good"]
    assert [tuple(s) for s in rows[0].spans] == [
        ("text", "kept text", None, 0),
        ("media", None, "a.png", 1),
    ]


def test_parser_failure_emits_error_span(spark):
    """O6 containment: a document whose parse raises yields a flagged
    ("error", ...) span — distinguishable from an empty document, never a
    task failure (VERDICT r1 #10)."""
    # a non-string payload makes HTMLParser.feed raise — the kernel contract
    # must contain it per-document
    got = html_to_spans("x", 12345)
    assert len(got) == 1 and got[0][0] == "error"
    assert "html_parse_error" in got[0][1]

    import pandas as pd

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": ["bad", "good"],
                      "html": [None, "<html><body><article><p>fine text here</p></article></body></html>"]}),
        schema="doc_id string, html string",
    )
    rows = strip_html(docs).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # None html parses as empty (no rows), good doc yields text, no crashes
    assert "bad" not in by_doc or all(r["kind"] != "error" for r in by_doc["bad"])
    assert any(r["kind"] == "text" and "fine text here" in r["text"] for r in by_doc["good"])


# ----------------------------------------------------------------------
# head metadata extraction
# ----------------------------------------------------------------------

def test_extract_metadata_fields_and_nulls(spark):
    from autoextract.operators.html import extract_metadata

    pages = spark.createDataFrame(
        [
            ("a",
             "<html lang='en'><head><title>  A &amp; B\n  C  </title>"
             "<meta property=\"og:title\" content=\"OG A\">"
             "<meta name=\"description\" content=\"desc A\">"
             "<link rel=\"canonical\" href=\"https://x/a\">"
             "<meta property=\"article:published_time\" content=\"2026-01-02\">"
             "<meta name=\"robots\" content=\"NOINDEX\"></head><body></body></html>"),
            # content-first attribute order + no optional fields
            ("b",
             "<html><head><title>B</title>"
             "<meta content=\"OG B\" property=\"og:title\"></head></html>"),
            # nothing at all
            ("c", "<html><head></head><body>plain</body></html>"),
        ],
        "doc_id string, html string",
    )
    got = {r["doc_id"]: r for r in extract_metadata(pages).collect()}
    a = got["a"]
    assert a["title"] == "A & B C"          # ws-collapse + entity unescape
    assert a["og_title"] == "OG A"
    assert a["meta_description"] == "desc A"
    assert a["canonical_url"] == "https://x/a"
    assert a["html_lang"] == "en"
    assert a["published_time"] == "2026-01-02"
    assert a["noindex"] is True             # case-insensitive
    b = got["b"]
    assert b["og_title"] == "OG B"          # reversed attribute order
    assert b["html_lang"] is None and b["canonical_url"] is None
    assert b["noindex"] is False
    c = got["c"]
    assert c["title"] is None and c["og_title"] is None
    assert c["noindex"] is False


def test_extract_metadata_amp_unescape_order(spark):
    from autoextract.operators.html import extract_metadata

    pages = spark.createDataFrame(
        [("d", "<html><head><title>&amp;lt;literal&amp;gt;</title></head></html>")],
        "doc_id string, html string",
    )
    # &amp;lt; is the LITERAL text "&lt;" — must not double-unescape to "<"
    assert extract_metadata(pages).collect()[0]["title"] == "&lt;literal&gt;"
