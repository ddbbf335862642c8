"""Deterministic synthetic corpus (SURVEY.md §5, FIXTURES.md).

Two layers:

* hand-written fixtures — the reference's worked extraction example verbatim
  (``lambda/api/app/extraction.py:160-206``: 6 words, golden values + indices),
  a two-column page with spanning header (XY-cut exercise), a multipage doc,
  and a media-interleaved page;
* a *distributed* generator (``spark.range`` → per-row ``mapInArrow``) producing
  arbitrarily many form-family documents. Every generated word carries a
  construction-order rank (``true_order``) derived purely from the generation
  geometry — an oracle independent of the layout algorithm — while the
  ``word_seq`` emission order is deterministically shuffled per page, so tests
  prove the engine *recovers* reading order rather than inheriting it.

Everything is seeded; no wall-clock, no external data.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .operators._docwise import flat_map_rows, map_rows

# ----------------------------------------------------------------------
# Spark schemas
# ----------------------------------------------------------------------
OCR_WORDS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("page", T.IntegerType()),
        T.StructField("word_seq", T.IntegerType()),
        T.StructField("kind", T.StringType()),
        T.StructField("content", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("rec_score", T.DoubleType()),
        T.StructField(
            "points", T.ArrayType(T.ArrayType(T.DoubleType()))
        ),
    ]
)

GEN_SCHEMA = T.StructType(OCR_WORDS_SCHEMA.fields + [T.StructField("true_order", T.IntegerType())])

SPANS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField(
            "spans",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("kind", T.StringType()),
                        T.StructField("text", T.StringType()),
                        T.StructField("media_ref", T.StringType()),
                        T.StructField("offset", T.IntegerType()),
                    ]
                )
            ),
        ),
    ]
)


def _quad(x0: float, y0: float, x1: float, y1: float) -> list[list[float]]:
    """Clockwise-from-top-left corner quad, the producer's point shape
    (``inference.py:109-115``)."""
    return [[x0, y0], [x1, y0], [x1, y1], [x0, y1]]


# ----------------------------------------------------------------------
# fixture 1: the reference's golden example (extraction.py:160-174)
# ----------------------------------------------------------------------
EXAMPLE_DOC_ID = "example-001"

_EXAMPLE_WORDS = [
    # (content, x0, y0, x1, y1) — coordinates verbatim from the reference
    ("注文日：2023年5月1日", 50, 120, 250, 150),
    ("委託業務内容：配送業務", 50, 180, 300, 210),
    ("運行日：2023年5月15日", 50, 240, 250, 270),
    ("A001", 50, 400, 100, 430),
    ("東京", 150, 400, 200, 430),
    ("大阪", 250, 400, 300, 430),
]

#: golden long-format extraction (extraction.py:176-206)
EXAMPLE_EXPECTED_FIELDS = [
    ("order_date", "2023年5月1日", [0]),
    ("operation_info.contract_work", "配送業務", [1]),
    ("operation_info.operation_date", "2023年5月15日", [2]),
    ("shipment_details[0].reception_number", "A001", [3]),
    ("shipment_details[0].destination", "東京", [4]),
    ("shipment_details[0].origin", "大阪", [5]),
    ("shipment_details[0].vehicle_number", "", []),
    ("shipment_details[0].fare", "", []),
]


def example_words_pdf() -> pd.DataFrame:
    rows = []
    for i, (content, x0, y0, x1, y1) in enumerate(_EXAMPLE_WORDS):
        rows.append(
            {
                "doc_id": EXAMPLE_DOC_ID,
                "page": 1,
                "word_seq": i,
                "kind": "text",
                "content": content,
                "media_ref": None,
                "rec_score": 0.99,
                "points": _quad(x0, y0, x1, y1),
            }
        )
    return pd.DataFrame(rows)


# ----------------------------------------------------------------------
# fixture 2: two-column page with spanning header (XY-cut exercise)
# ----------------------------------------------------------------------
TWO_COLUMN_DOC_ID = "twocol-001"

#: expected reading order: header, whole left column, whole right column
TWO_COLUMN_EXPECTED = [
    "Annual Report 2023",
    "L1a", "L1b", "L2a", "L2b", "L3a", "L3b",
    "R1a", "R1b", "R2a", "R2b", "R3a", "R3b",
]


def two_column_words_pdf(shuffle_seed: int = 7) -> pd.DataFrame:
    rows = []
    # spanning header across both columns
    rows.append(("Annual Report 2023", 50, 40, 550, 70))
    # columns: left x∈[50,250], right x∈[350,550]; gutter 100 » 2*med_h(30)
    for li in range(3):
        y0 = 120 + 50 * li
        rows.append((f"L{li+1}a", 50, y0, 140, y0 + 30))
        rows.append((f"L{li+1}b", 160, y0, 250, y0 + 30))
    for li in range(3):
        y0 = 120 + 50 * li
        rows.append((f"R{li+1}a", 350, y0, 440, y0 + 30))
        rows.append((f"R{li+1}b", 460, y0, 550, y0 + 30))
    rng = np.random.RandomState(shuffle_seed)
    order = rng.permutation(len(rows))
    out = []
    for seq, k in enumerate(order):
        content, x0, y0, x1, y1 = rows[k]
        out.append(
            {
                "doc_id": TWO_COLUMN_DOC_ID,
                "page": 1,
                "word_seq": seq,
                "kind": "text",
                "content": content,
                "media_ref": None,
                "rec_score": 0.95,
                "points": _quad(x0, y0, x1, y1),
            }
        )
    return pd.DataFrame(out)


# ----------------------------------------------------------------------
# fixture 3: media-interleaved page (axis A+B payload)
# ----------------------------------------------------------------------
MEDIA_DOC_ID = "media-001"

#: expected span stream: text, media, text, media, text
MEDIA_EXPECTED = [
    ("text", "Introduction paragraph", None),
    ("media", None, "fig:media-001:0"),
    ("text", "Discussion of the figure", None),
    ("media", None, "table:media-001:1"),
    ("text", "Concluding remarks", None),
]


def media_words_pdf() -> pd.DataFrame:
    items = [
        ("text", "Introduction paragraph", None, 50, 100, 400, 130),
        ("media", None, "fig:media-001:0", 50, 180, 400, 380),
        ("text", "Discussion of the figure", None, 50, 430, 400, 460),
        ("media", None, "table:media-001:1", 50, 510, 400, 700),
        ("text", "Concluding remarks", None, 50, 750, 400, 780),
    ]
    rows = []
    for seq, (kind, content, ref, x0, y0, x1, y1) in enumerate(items):
        rows.append(
            {
                "doc_id": MEDIA_DOC_ID,
                "page": 1,
                "word_seq": seq,
                "kind": kind,
                "content": content,
                "media_ref": ref,
                "rec_score": 1.0,
                "points": _quad(x0, y0, x1, y1),
            }
        )
    return pd.DataFrame(rows)


def fixtures_df(spark: SparkSession) -> DataFrame:
    pdf = pd.concat(
        [example_words_pdf(), two_column_words_pdf(), media_words_pdf()],
        ignore_index=True,
    )
    return spark.createDataFrame(pdf, schema=OCR_WORDS_SCHEMA)


# ----------------------------------------------------------------------
# distributed form-family generator
# ----------------------------------------------------------------------
_DESTS = ["東京", "大阪", "名古屋", "福岡", "札幌", "仙台", "広島", "金沢"]
_WORKS = ["配送業務", "集荷業務", "倉庫作業", "引越業務"]
_TABLE_HEADERS = ["受付番号", "行先", "発地", "車番", "運賃"]


#: item-field names in schema order (mirrors SHIPPING_SCHEMA / _TABLE_HEADERS)
_ITEM_FIELDS = ["reception_number", "destination", "origin", "vehicle_number", "fare"]


def _gen_one_doc(
    doc_idx: int, seed: int, mega: bool = False
) -> tuple[list[dict], list[dict]]:
    """One synthetic shipping form. Returns (word rows incl. ``true_order``,
    expected extraction rows).

    Geometry is single-column, top-to-bottom — construction order IS reading
    order, giving an algorithm-independent expected span sequence; the
    expected extraction (values + global word ids + confidence) is likewise
    derived from the generation plan, never from the extractor under test.
    """
    rng = np.random.RandomState((seed * 1_000_003 + doc_idx) % (2**31 - 1))
    doc_id = f"doc-{seed}-{doc_idx:09d}"
    n_pages = 10 if mega else int(rng.choice([1, 1, 1, 2, 3]))
    rows: list[dict] = []
    expected: list[dict] = []
    true_order = 0
    media_n = 0
    item_idx = 0

    def expect(path: str, value: str, ids: list[int], conf: float) -> None:
        expected.append(
            {
                "doc_id": doc_id,
                "field_path": path,
                "value": value,
                "word_ids": ids,
                "confidence": conf,
            }
        )

    for page in range(1, n_pages + 1):
        y = 100.0
        page_rows: list[dict] = []

        def emit(kind, content, ref, x0, y0, x1, y1) -> int:
            nonlocal true_order
            page_rows.append(
                {
                    "doc_id": doc_id,
                    "page": page,
                    "word_seq": -1,  # assigned after shuffle
                    "kind": kind,
                    "content": content,
                    "media_ref": ref,
                    "rec_score": float(np.round(0.8 + 0.2 * rng.rand(), 4)),
                    "points": _quad(x0, y0, x1, y1),
                    "true_order": true_order,
                }
            )
            true_order += 1
            return true_order - 1

        # scalar label lines (inline-label style, as the reference example);
        # every page repeats them — extraction takes the FIRST occurrence
        order_date = f"2023年{rng.randint(1,13)}月{rng.randint(1,29)}日"
        tid = emit("text", f"注文日：{order_date}", None, 50, y, 250, y + 30)
        if page == 1:
            expect("order_date", order_date, [tid], 1.0)
        y += 60
        work = _WORKS[rng.randint(len(_WORKS))]
        tid = emit("text", f"委託業務内容：{work}", None, 50, y, 300, y + 30)
        if page == 1:
            expect("operation_info.contract_work", work, [tid], 1.0)
        y += 60
        op_date = f"2023年{rng.randint(1,13)}月{rng.randint(1,29)}日"
        tid = emit("text", f"運行日：{op_date}", None, 50, y, 250, y + 30)
        if page == 1:
            expect("operation_info.operation_date", op_date, [tid], 1.0)
        y += 60
        # occasionally a figure between the header block and the table
        if rng.rand() < 0.3:
            emit("media", None, f"fig:{doc_id}:{media_n}", 50, y + 20, 500, y + 170)
            media_n += 1
            y += 220
        # table: header row + data rows
        col_x = [50 + 160 * c for c in range(len(_TABLE_HEADERS))]
        for c, h in enumerate(_TABLE_HEADERS):
            emit("text", h, None, col_x[c], y, col_x[c] + 140, y + 30)
        y += 50
        n_rows = 400 if mega else int(rng.randint(1, 4))
        for r in range(n_rows):
            vals = [
                f"A{rng.randint(0, 10**6):06d}",
                _DESTS[rng.randint(len(_DESTS))],
                _DESTS[rng.randint(len(_DESTS))],
                f"品川{rng.randint(100,1000)}",
                str(int(rng.randint(1, 100) * 1000)),
            ]
            for c, v in enumerate(vals):
                tid = emit("text", v, None, col_x[c], y, col_x[c] + 140, y + 30)
                expect(f"shipment_details[{item_idx}].{_ITEM_FIELDS[c]}", v, [tid], 0.8)
            item_idx += 1
            y += 50

        # deterministic shuffle of emission order within the page
        perm = rng.permutation(len(page_rows))
        for seq, k in enumerate(perm):
            page_rows[k]["word_seq"] = int(seq)
        rows.extend(page_rows)
    return rows, expected


def _doc_indices(spark: SparkSession, n_docs: int) -> DataFrame:
    """``range(n_docs)`` spread over at least 8 partitions: the document
    indices a generator renders its rows from."""
    return spark.range(n_docs).repartition(max(spark.sparkContext.defaultParallelism, 8))


def gen_corpus(
    spark: SparkSession, n_docs: int, seed: int = 42, mega_doc: bool = False
) -> DataFrame:
    """Distributed corpus: ``n_docs`` form documents (+ optional mega-doc at
    index 0 carrying ~100× the median word count — the skew fixture,
    FIXTURES.md §2). Returns the generator table incl. ``true_order``.
    """
    names = GEN_SCHEMA.names

    def gen_words(doc_idx):
        rows = _gen_one_doc(doc_idx, seed, mega=(mega_doc and doc_idx == 0))[0]
        return [tuple(map(r.get, names)) for r in rows]

    return flat_map_rows(_doc_indices(spark, n_docs), gen_words, GEN_SCHEMA)


EXPECTED_FIELDS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("field_path", T.StringType()),
        T.StructField("value", T.StringType()),
        T.StructField("word_ids", T.ArrayType(T.IntegerType())),
        T.StructField("confidence", T.DoubleType()),
    ]
)


def expected_extracted(
    spark: SparkSession, n_docs: int, seed: int = 42, mega_doc: bool = False
) -> DataFrame:
    """Extraction oracle for ``gen_corpus`` (same seed ⇒ same docs):
    (doc_id, field_path, value, word_ids, confidence) per FIXTURES.md §5.
    Derived from the generation plan, independent of the extractor."""
    names = EXPECTED_FIELDS_SCHEMA.names

    def gen_expected(doc_idx):
        rows = _gen_one_doc(doc_idx, seed, mega=(mega_doc and doc_idx == 0))[1]
        return [tuple(map(r.get, names)) for r in rows]

    return flat_map_rows(_doc_indices(spark, n_docs), gen_expected, EXPECTED_FIELDS_SCHEMA)


def ocr_words_view(gen: DataFrame) -> DataFrame:
    """Drop the oracle column — what the engine actually sees."""
    return gen.drop("true_order")


def expected_spans(gen: DataFrame) -> DataFrame:
    """Construction-order oracle → canonical ``documents(doc_id, spans)``.

    Built only from generator metadata (``true_order``), never from the
    layout algorithm under test. Word-level text spans; whitespace-only
    text never generated (invariant, FIXTURES.md §1).
    """
    s = F.struct(
        F.col("true_order").alias("offset"),
        F.col("kind").alias("kind"),
        F.when(F.col("kind") == "text", F.col("content")).alias("text"),
        F.when(F.col("kind") == "media", F.col("media_ref")).alias("media_ref"),
    )
    return (
        gen.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(s)).alias("_s"))
        .select(
            "doc_id",
            F.transform(
                "_s",
                lambda x: F.struct(
                    x["kind"].alias("kind"),
                    x["text"].alias("text"),
                    x["media_ref"].alias("media_ref"),
                    x["offset"].alias("offset"),
                ),
            ).alias("spans"),
        )
    )


# ----------------------------------------------------------------------
# HTML corpus (axis A: boilerplate-strip inputs, FIXTURES.md §3)
# ----------------------------------------------------------------------
HTML_DOC_ID = "html-001"

#: expected main-content span stream for the hand-written fixture below
HTML_EXPECTED = [
    ("text", "The Rise of Batch Engines", None),
    ("text", "Batch processing engines trade latency for throughput.", None),
    ("media", None, "https://cdn.example.com/fig1.png"),
    ("text", "Figure one shows the scaling curve discussed above.", None),
    ("media", None, "table:html-001:1"),
    ("text", "In conclusion, throughput wins at scale.", None),
]

HTML_FIXTURE = """<!DOCTYPE html>
<html><head><title>post</title><script>var x=1;</script>
<style>.a{color:red}</style></head>
<body>
<nav><a href="/">Home</a> <a href="/about">About</a> <a href="/blog">Blog</a></nav>
<header><h1>Site Title</h1><a href="/login">Login</a></header>
<div class="layout">
  <article>
    <h1>The Rise of Batch Engines</h1>
    <p>Batch processing engines trade <b>latency</b> for throughput.</p>
    <img src="https://cdn.example.com/fig1.png" alt="scaling curve">
    <p>Figure one shows the scaling curve discussed above.</p>
    <table><tr><td>sf</td><td>docs/sec</td></tr><tr><td>1</td><td>100</td></tr></table>
    <p>In conclusion, throughput wins at scale.</p>
  </article>
  <div class="sidebar">
    <ul>
      <li><a href="/p1">Related post one</a></li>
      <li><a href="/p2">Related post two</a></li>
      <li><a href="/p3">Related post three</a></li>
    </ul>
  </div>
</div>
<footer>Copyright 2023 Example Corp. <a href="/tos">Terms</a></footer>
</body></html>"""


_HTML_TOPICS = [
    ("distributed systems", "Consensus protocols coordinate replicas."),
    ("query optimization", "Cost models guide join ordering decisions."),
    ("columnar storage", "Column pruning reduces bytes scanned."),
    ("stream processing", "Watermarks bound event-time lateness."),
]


def _gen_one_html(doc_idx: int, seed: int) -> tuple[dict, list[dict]]:
    """One synthetic article page. Returns (html_docs row, expected span rows).

    The expected spans are derived from the generation plan (construction
    order), independent of the stripper under test. Boilerplate text is
    drawn from a disjoint vocabulary so leakage is detectable.
    """
    rng = np.random.RandomState((seed * 2_000_003 + doc_idx) % (2**31 - 1))
    doc_id = f"html-{seed}-{doc_idx:09d}"
    topic, sent = _HTML_TOPICS[rng.randint(len(_HTML_TOPICS))]
    n_paras = int(rng.randint(2, 6))
    title = f"Notes on {topic} #{doc_idx}"
    expected: list[dict] = [
        {"doc_id": doc_id, "kind": "text", "text": title, "media_ref": None}
    ]
    body_parts: list[str] = [f"<h1>{title}</h1>"]
    media_n = 0
    for p in range(n_paras):
        text = f"Paragraph {p}: {sent} It repeats deterministically {int(rng.randint(100))} times."
        body_parts.append(f"<p>{text}</p>")
        expected.append({"doc_id": doc_id, "kind": "text", "text": text, "media_ref": None})
        if rng.rand() < 0.4:
            ref = f"https://img.example.com/{doc_id}/{media_n}.png"
            body_parts.append(f'<img src="{ref}">')
            expected.append({"doc_id": doc_id, "kind": "media", "text": None, "media_ref": ref})
            media_n += 1
    nav_links = "".join(f'<a href="/s{k}">Section {k}</a> ' for k in range(5))
    sidebar = "".join(f'<li><a href="/rel{k}">BOILER related {k}</a></li>' for k in range(4))
    html = (
        "<html><head><script>BOILER()</script></head><body>"
        f"<nav>{nav_links}</nav><header><h1>BOILER SITE</h1></header>"
        f'<div><article>{"".join(body_parts)}</article>'
        f'<div class="side"><ul>{sidebar}</ul></div></div>'
        "<footer>BOILER copyright</footer></body></html>"
    )
    return {"doc_id": doc_id, "html": html}, expected


HTML_DOCS_SCHEMA = T.StructType(
    [T.StructField("doc_id", T.StringType()), T.StructField("html", T.StringType())]
)

HTML_EXPECTED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("seq", T.IntegerType()),
    ]
)


def gen_html_corpus(
    spark: SparkSession, n_docs: int, seed: int = 42
) -> tuple[DataFrame, DataFrame]:
    """Distributed HTML corpus → (html_docs, expected flat spans)."""
    ids = _doc_indices(spark, n_docs)

    def gen_html(i):
        doc = _gen_one_html(i, seed)[0]
        return doc["doc_id"], doc["html"]

    def gen_html_expected(i):
        return [
            (r["doc_id"], r["kind"], r["text"], r["media_ref"], seq)
            for seq, r in enumerate(_gen_one_html(i, seed)[1])
        ]

    docs = map_rows(ids, gen_html, HTML_DOCS_SCHEMA)
    expected = flat_map_rows(ids, gen_html_expected, HTML_EXPECTED_SCHEMA)
    return docs, expected
