"""Field extraction vs the reference's worked golden (extraction.py:159-207)."""

from __future__ import annotations

import json

from autoextract import corpus
from autoextract.operators.extract import extract_fields, nested_result
from autoextract.operators.layout import order_words
from autoextract.schema import SHIPPING_SCHEMA, AppSchema


def _ordered_example(spark):
    df = spark.createDataFrame(
        corpus.example_words_pdf(), schema=corpus.OCR_WORDS_SCHEMA
    )
    return order_words(df)


def test_golden_example_long_format(spark):
    got = {
        r["field_path"]: (r["value"], list(r["word_ids"]))
        for r in extract_fields(_ordered_example(spark), SHIPPING_SCHEMA).collect()
    }
    for path, value, ids in corpus.EXAMPLE_EXPECTED_FIELDS:
        assert got[path] == (value, ids), path
    assert len(got) == len(corpus.EXAMPLE_EXPECTED_FIELDS)


def test_golden_example_confidence_contract(spark):
    rows = extract_fields(_ordered_example(spark), SHIPPING_SCHEMA).collect()
    for r in rows:
        if r["value"]:
            assert 0.5 <= r["confidence"] <= 1.0
        else:
            assert r["confidence"] == 0.0


def test_nested_result_matches_reference_example(spark):
    """The unified output (extraction.py:176-206) reconstructed exactly."""
    extracted = extract_fields(_ordered_example(spark), SHIPPING_SCHEMA)
    row = nested_result(extracted, SHIPPING_SCHEMA).collect()[0]
    values = json.loads(row["extracted_json"])
    indices = json.loads(row["indices_json"])
    assert values == {
        "order_date": "2023年5月1日",
        "operation_info": {
            "contract_work": "配送業務",
            "operation_date": "2023年5月15日",
        },
        "shipment_details": [
            {
                "reception_number": "A001",
                "destination": "東京",
                "origin": "大阪",
                "vehicle_number": "",
                "fare": "",
            }
        ],
    }
    assert indices == {
        "order_date": [0],
        "operation_info": {"contract_work": [1], "operation_date": [2]},
        "shipment_details": [
            {
                "reception_number": [3],
                "destination": [4],
                "origin": [5],
                "vehicle_number": [],
                "fare": [],
            }
        ],
    }


def test_missing_fields_contract(spark):
    """Unfound fields → ("", []) — prompts.py:113 rule."""
    schema = AppSchema(
        name="t",
        fields=[{"name": "nonexistent", "display_name": "存在しない", "type": "string"}],
    )
    rows = extract_fields(_ordered_example(spark), schema).collect()
    assert [(r["value"], list(r["word_ids"]), r["confidence"]) for r in rows] == [
        ("", [], 0.0)
    ]


def test_adjacent_label_matching(spark):
    """Label word + separate value word (rule 2, confidence 0.9)."""
    import pandas as pd

    rows = []
    for i, (content, x0) in enumerate([("注文日", 50), ("2024年1月2日", 200)]):
        rows.append(
            {
                "doc_id": "adj-1",
                "page": 1,
                "word_seq": i,
                "kind": "text",
                "content": content,
                "media_ref": None,
                "rec_score": 1.0,
                "points": [[x0, 100.0], [x0 + 120, 100.0], [x0 + 120, 130.0], [x0, 130.0]],
            }
        )
    df = spark.createDataFrame(pd.DataFrame(rows), schema=corpus.OCR_WORDS_SCHEMA)
    schema = AppSchema(
        name="t", fields=[{"name": "order_date", "display_name": "注文日", "type": "string"}]
    )
    got = extract_fields(order_words(df), schema).collect()
    assert got[0]["value"] == "2024年1月2日"
    assert list(got[0]["word_ids"]) == [1]
    assert got[0]["confidence"] == 0.9


def test_header_row_column_mapping(spark):
    """A header line maps cells to columns by x-proximity, so a row with a
    missing middle cell still lands values in the right fields."""
    import pandas as pd

    rows = []
    seq = 0

    def add(content, x0, y0):
        nonlocal seq
        rows.append(
            {
                "doc_id": "hdr-1",
                "page": 1,
                "word_seq": seq,
                "kind": "text",
                "content": content,
                "media_ref": None,
                "rec_score": 1.0,
                "points": [[x0, y0], [x0 + 140.0, y0], [x0 + 140.0, y0 + 30.0], [x0, y0 + 30.0]],
            }
        )
        seq += 1

    headers = ["受付番号", "行先", "発地", "車番", "運賃"]
    for c, h in enumerate(headers):
        add(h, 50 + 160 * c, 100.0)
    # data row missing the middle (発地) cell
    add("A002", 50, 150.0)
    add("東京", 210, 150.0)
    add("品川500", 530, 150.0)
    add("8000", 690, 150.0)
    df = spark.createDataFrame(pd.DataFrame(rows), schema=corpus.OCR_WORDS_SCHEMA)
    got = {
        r["field_path"]: r["value"]
        for r in extract_fields(order_words(df), SHIPPING_SCHEMA).collect()
    }
    assert got["shipment_details[0].reception_number"] == "A002"
    assert got["shipment_details[0].destination"] == "東京"
    assert got["shipment_details[0].origin"] == ""
    assert got["shipment_details[0].vehicle_number"] == "品川500"
    assert got["shipment_details[0].fare"] == "8000"


def test_typed_nested_result(spark):
    """Schema-derived StructType columns round-trip the golden exactly."""
    from autoextract.operators.extract import typed_nested_result

    extracted = extract_fields(_ordered_example(spark), SHIPPING_SCHEMA)
    row = typed_nested_result(extracted, SHIPPING_SCHEMA).collect()[0]
    assert row["extracted"]["order_date"] == "2023年5月1日"
    assert row["extracted"]["operation_info"]["contract_work"] == "配送業務"
    item = row["extracted"]["shipment_details"][0]
    assert (item["reception_number"], item["destination"], item["origin"]) == (
        "A001", "東京", "大阪",
    )
    assert item["vehicle_number"] == "" and item["fare"] == ""
    assert list(row["indices"]["order_date"]) == [0]
    assert list(row["indices"]["shipment_details"][0]["origin"]) == [5]
    # the derived schema is real column types, not strings-in-a-blob
    dt = typed_nested_result(extracted, SHIPPING_SCHEMA).schema["extracted"].dataType
    assert dt["shipment_details"].dataType.typeName() == "array"


def _kernel_words(cells):
    """Build the per-column NumPy arrays `_extract_one_doc` consumes directly:
    cells = [(content, x0, y0, line_id)], one block, page 1."""
    import numpy as np

    n = len(cells)
    return {
        "page": np.ones(n, dtype=np.int32),
        "kind": np.array(["text"] * n, dtype=object),
        "content": np.array([c[0] for c in cells], dtype=object),
        "word_id": np.arange(n, dtype=np.int32),
        "x0": np.array([float(c[1]) for c in cells]),
        "y0": np.array([float(c[2]) for c in cells]),
        "x1": np.array([float(c[1]) + 100.0 for c in cells]),
        "y1": np.array([float(c[2]) + 30.0 for c in cells]),
        "block_id": np.zeros(n, dtype=np.int32),
        "line_id": np.array([int(c[3]) for c in cells], dtype=np.int32),
    }


def test_large_doc_bounded_time():
    """A 10^5-word document extracts in bounded time — the kernel is
    index-driven (one content-map pass + vectorized candidate masks), not a
    per-label rescan of the word list (VERDICT r1 #2)."""
    import time

    from autoextract.operators.extract import _extract_one_doc

    n = 100_000
    cells = []
    for i in range(n):
        line = i // 8
        cells.append((f"w{i}", 50 + (i % 8) * 120, 40 * line, line))
    # plant one inline hit and one adjacent label+value pair
    cells[5000] = ("注文日：2023年5月1日", cells[5000][1], cells[5000][2], cells[5000][3])
    cells[60000] = ("行先", cells[60000][1], cells[60000][2], cells[60000][3])
    schema = AppSchema(
        name="big",
        fields=[
            {"name": "order_date", "display_name": "注文日", "type": "string"},
            {"name": "destination", "display_name": "行先", "type": "string"},
            {"name": "missing", "display_name": "存在しない", "type": "string"},
        ],
    )
    t0 = time.monotonic()
    rows = _extract_one_doc(_kernel_words(cells), schema)
    wall = time.monotonic() - t0
    got = {r["field_path"]: r["value"] for r in rows}
    assert got["order_date"] == "2023年5月1日"
    assert got["destination"] == f"w{60001}"
    assert got["missing"] == ""
    assert wall < 10.0, f"kernel took {wall:.1f}s on 1e5 words"


def test_multi_list_header_partitioning():
    """Two list fields: data lines belong to the nearest preceding header's
    list (ADVICE r1 #5 — previously the first list absorbed every line)."""
    from autoextract.operators.extract import _extract_one_doc

    schema = AppSchema(
        name="two-tables",
        fields=[
            {
                "name": "shipments",
                "display_name": "出荷",
                "type": "list",
                "items": {
                    "fields": [
                        {"name": "no", "display_name": "受付番号", "type": "string"},
                        {"name": "dest", "display_name": "行先", "type": "string"},
                    ]
                },
            },
            {
                "name": "charges",
                "display_name": "料金",
                "type": "list",
                "items": {
                    "fields": [
                        {"name": "item", "display_name": "項目", "type": "string"},
                        {"name": "amount", "display_name": "金額", "type": "string"},
                    ]
                },
            },
        ],
    )
    cells = [
        ("受付番号", 50, 100, 0), ("行先", 250, 100, 0),   # header: shipments
        ("A001", 50, 150, 1), ("東京", 250, 150, 1),
        ("A002", 50, 200, 2), ("大阪", 250, 200, 2),
        ("項目", 50, 300, 3), ("金額", 250, 300, 3),       # header: charges
        ("基本料", 50, 350, 4), ("8000", 250, 350, 4),
    ]
    rows = _extract_one_doc(_kernel_words(cells), schema)
    got = {r["field_path"]: r["value"] for r in rows}
    assert got["shipments[0].no"] == "A001" and got["shipments[0].dest"] == "東京"
    assert got["shipments[1].no"] == "A002" and got["shipments[1].dest"] == "大阪"
    assert got["charges[0].item"] == "基本料" and got["charges[0].amount"] == "8000"
    assert "shipments[2].no" not in got  # charges rows did not leak in
