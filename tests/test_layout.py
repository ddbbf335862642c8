"""Layout engine: pure-NumPy units + Spark fixture goldens (SURVEY.md §2 P4/P5/W1/W3)."""

from __future__ import annotations

import numpy as np
import pytest

from autoextract import corpus
from autoextract.operators import layout


def _boxes(rows):
    return np.array(rows, dtype=np.float64)


class TestPureGeometry:
    def test_boxes_from_points(self):
        pts = np.array([[[50, 120], [250, 120], [250, 150], [50, 150]]], dtype=float)
        b = layout.boxes_from_points(pts)
        assert b.tolist() == [[50.0, 120.0, 250.0, 150.0]]

    def test_projection_gaps(self):
        lo = np.array([0.0, 100.0])
        hi = np.array([30.0, 130.0])
        assert layout._projection_gaps(lo, hi, 50.0) == [65.0]
        assert layout._projection_gaps(lo, hi, 80.0) == []

    def test_xy_cut_two_columns(self):
        # two columns, tall enough to allow the x-cut
        left = [[0, y, 80, y + 10] for y in range(0, 100, 20)]
        right = [[200, y, 280, y + 10] for y in range(0, 100, 20)]
        b = _boxes(left + right)
        blocks = layout.xy_cut(b, y_gap=15.0, x_gap=50.0, min_x_extent=20.0)
        assert len(blocks) == 2
        assert sorted(blocks[0].tolist()) == list(range(5))  # left first
        assert sorted(blocks[1].tolist()) == list(range(5, 10))

    def test_xy_cut_never_splits_single_line(self):
        # three words on one line with wide gaps — must stay one block
        b = _boxes([[0, 0, 50, 30], [150, 0, 200, 30], [300, 0, 350, 30]])
        blocks = layout.xy_cut(b, y_gap=21.0, x_gap=60.0, min_x_extent=60.0)
        assert len(blocks) == 1

    def test_cluster_lines(self):
        b = _boxes(
            [[0, 0, 10, 10], [20, 1, 30, 11], [0, 40, 10, 50], [20, 41, 30, 51]]
        )
        ids = layout.cluster_lines(b)
        assert ids.tolist() == [0, 0, 1, 1]

    def test_reading_order_deterministic_under_permutation(self):
        rng = np.random.RandomState(3)
        rows = []
        for li in range(6):
            for wi in range(4):
                rows.append([50 + 100 * wi, 100 + 40 * li, 130 + 100 * wi, 130 + 40 * li])
        b = _boxes(rows)
        perm0, _, _ = layout.page_reading_order(b, tiebreak=np.arange(len(b)))
        shuffle = rng.permutation(len(b))
        perm1, _, _ = layout.page_reading_order(
            b[shuffle], tiebreak=np.arange(len(b))
        )
        # same geometric order regardless of input permutation
        assert [tuple(b[shuffle][i]) for i in perm1] == [tuple(b[i]) for i in perm0]


class TestSparkLayout:
    def test_two_column_fixture(self, spark):
        from autoextract.operators.layout import assemble_spans, order_words

        df = spark.createDataFrame(
            corpus.two_column_words_pdf(), schema=corpus.OCR_WORDS_SCHEMA
        )
        spans = assemble_spans(order_words(df)).collect()[0]["spans"]
        assert [s["text"] for s in spans] == corpus.TWO_COLUMN_EXPECTED
        assert [s["offset"] for s in spans] == list(range(len(spans)))

    def test_media_interleaving(self, spark):
        from autoextract.operators.layout import assemble_spans, order_words

        df = spark.createDataFrame(
            corpus.media_words_pdf(), schema=corpus.OCR_WORDS_SCHEMA
        )
        spans = assemble_spans(order_words(df)).collect()[0]["spans"]
        got = [(s["kind"], s["text"], s["media_ref"]) for s in spans]
        assert got == corpus.MEDIA_EXPECTED

    def test_empty_words_dropped(self, spark):
        """Reference rule: blank content never becomes a span (inference.py:108)."""
        import pandas as pd

        from autoextract.operators.layout import assemble_spans, order_words

        pdf = corpus.example_words_pdf()
        blank = pdf.iloc[0:1].copy()
        blank["content"] = "   "
        blank["word_seq"] = 99
        df = spark.createDataFrame(
            pd.concat([pdf, blank], ignore_index=True), schema=corpus.OCR_WORDS_SCHEMA
        )
        spans = assemble_spans(order_words(df)).collect()[0]["spans"]
        assert len(spans) == 6
        assert all(s["text"].strip() for s in spans)


class TestGeometryMemo:
    """The per-chunk geometry memo in the layout chunk core must be pure CSE:
    identical (boxes, tiebreak) bytes reuse the permutation, ANY byte
    difference — including tiebreak-only differences — recomputes."""

    def _chunk(self, layouts):
        """Build a sorted (doc, page, word_seq) arrow table from
        [(doc_id, [(x0,y0,x1,y1), ...], seqs), ...]."""
        import pyarrow as pa

        cols = {k: [] for k in ("doc_id", "page", "word_seq", "kind",
                                "content", "media_ref", "rec_score",
                                "x0", "y0", "x1", "y1")}
        for doc_id, boxes, seqs in layouts:
            for (bx, by, ex, ey), sq in zip(boxes, seqs):
                cols["doc_id"].append(doc_id)
                cols["page"].append(1)
                cols["word_seq"].append(sq)
                cols["kind"].append("text")
                cols["content"].append(f"{doc_id}w{sq}")
                cols["media_ref"].append(None)
                cols["rec_score"].append(1.0)
                cols["x0"].append(bx)
                cols["y0"].append(by)
                cols["x1"].append(ex)
                cols["y1"].append(ey)
        import pyarrow as pa

        return pa.table(
            {
                "doc_id": pa.array(cols["doc_id"]),
                "page": pa.array(cols["page"], pa.int32()),
                "word_seq": pa.array(cols["word_seq"], pa.int32()),
                "kind": pa.array(cols["kind"]),
                "content": pa.array(cols["content"]),
                "media_ref": pa.array(cols["media_ref"], pa.string()),
                "rec_score": pa.array(cols["rec_score"]),
                "x0": pa.array(cols["x0"]),
                "y0": pa.array(cols["y0"]),
                "x1": pa.array(cols["x1"]),
                "y1": pa.array(cols["y1"]),
            }
        )

    def test_repeated_and_distinct_layouts_match_direct(self):
        import numpy as np

        from autoextract.operators.layout import (
            _spans_chunk_arrow,
            page_reading_order,
        )

        grid = [(40.0 + 70.0 * (i % 3), 40.0 + 32.0 * (i // 3),
                 100.0 + 70.0 * (i % 3), 52.0 + 32.0 * (i // 3))
                for i in range(7)]
        scatter = [(10.0 * i, 500.0 - 13.0 * i, 10.0 * i + 40.0,
                    512.0 - 13.0 * i) for i in range(5)]
        # d1/d2 share the grid (memo hit), d3 differs (miss), d4 repeats
        # the grid boxes but with REVERSED tiebreak seqs (must miss)
        layouts = [
            ("d1", grid, list(range(7))),
            ("d2", grid, list(range(7))),
            ("d3", scatter, list(range(5))),
            ("d4", grid, list(range(6, -1, -1))),
        ]
        out = _spans_chunk_arrow(self._chunk(layouts))
        got = {
            d: [s["text"] for s in spans]
            for d, spans in zip(out.column("doc_id").to_pylist(),
                                out.column("spans").to_pylist())
        }
        for doc_id, boxes, seqs in layouts:
            p, _, _ = page_reading_order(
                np.array(boxes, dtype=np.float64),
                tiebreak=np.array(seqs),
            )
            expect = [f"{doc_id}w{seqs[j]}" for j in p]
            assert got[doc_id] == expect, doc_id
        # the tiebreak-reversed doc must NOT equal the straight-grid order
        assert got["d4"] != [t.replace("d1", "d4") for t in got["d1"]]

    def test_order_kernel_memo_matches_direct(self):
        import numpy as np

        from autoextract.operators.layout import (
            _order_chunk_arrow,
            page_reading_order,
        )

        grid = [(40.0 + 70.0 * (i % 3), 40.0 + 32.0 * (i // 3),
                 100.0 + 70.0 * (i % 3), 52.0 + 32.0 * (i // 3))
                for i in range(6)]
        layouts = [("a", grid, list(range(6))), ("b", grid, list(range(6)))]
        out = _order_chunk_arrow(self._chunk(layouts))
        p, b, l = page_reading_order(
            np.array(grid, dtype=np.float64), tiebreak=np.arange(6)
        )
        contents = out.column("content").to_pylist()
        blocks = out.column("block_id").to_pylist()
        lines = out.column("line_id").to_pylist()
        for start, doc in ((0, "a"), (6, "b")):
            assert contents[start:start + 6] == [f"{doc}w{j}" for j in p]
            assert blocks[start:start + 6] == list(b[p])
            assert lines[start:start + 6] == list(l[p])

    def test_memo_byte_budget_clears_and_matches_direct(self, monkeypatch):
        """A budget smaller than two pages' keys forces clears mid-chunk:
        the repeated grid is recomputed after the scatter page evicts it,
        and every doc's order still equals direct page_reading_order."""
        import numpy as np

        from autoextract.operators import layout

        grid = [(40.0 + 70.0 * (i % 3), 40.0 + 32.0 * (i // 3),
                 100.0 + 70.0 * (i % 3), 52.0 + 32.0 * (i // 3))
                for i in range(7)]
        scatter = [(10.0 * i, 500.0 - 13.0 * i, 10.0 * i + 40.0,
                    512.0 - 13.0 * i) for i in range(5)]
        layouts = [
            ("d1", grid, list(range(7))),
            ("d2", grid, list(range(7))),
            ("d3", scatter, list(range(5))),
            ("d4", grid, list(range(7))),
        ]
        direct = layout.page_reading_order
        calls = []

        def counted(boxes, tiebreak=None):
            calls.append(len(boxes))
            return direct(boxes, tiebreak=tiebreak)

        monkeypatch.setattr(layout, "page_reading_order", counted)
        layout._spans_chunk_arrow(self._chunk(layouts))
        assert calls == [7, 5]  # default budget: the grid is computed once

        # grid key 7*32 + 7*4 = 252 B, scatter key 5*32 + 5*4 = 180 B
        monkeypatch.setattr(layout, "MEMO_BYTES", 300)
        calls.clear()
        out = layout._order_chunk_arrow(self._chunk(layouts))
        assert calls == [7, 5, 7]
        contents = out.column("content").to_pylist()
        blocks = out.column("block_id").to_pylist()
        lines = out.column("line_id").to_pylist()
        start = 0
        for doc_id, boxes, seqs in layouts:
            p, b, l = direct(np.array(boxes, dtype=np.float64),
                             tiebreak=np.array(seqs))
            end = start + len(boxes)
            assert contents[start:end] == [f"{doc_id}w{seqs[j]}" for j in p]
            assert blocks[start:end] == b[p].tolist()
            assert lines[start:end] == l[p].tolist()
            start = end


def _large_page(shape: str, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """A page of 4,097–6,000 boxes, beyond the pure-Python twin's cutoff.

    ``text``: jittered words in two or three columns of lines; ``grid``:
    integer cells with exact coordinate ties and ~10% duplicated boxes;
    ``scatter``: uniform random boxes. Tiebreaks are a shuffled range."""
    rng = np.random.default_rng(seed)
    n = int(rng.integers(4097, 6001))
    if shape == "text":
        ncol = int(rng.integers(2, 4))
        col = rng.integers(0, ncol, n)
        line = rng.integers(0, n // (ncol * 12) + 1, n)
        x0 = col * 900.0 + rng.integers(0, 700, n) + rng.random(n)
        y0 = line * 30.0 + rng.normal(0.0, 2.0, n)
        boxes = np.stack([x0, y0, x0 + rng.integers(20, 120, n),
                          y0 + rng.integers(18, 24, n)], axis=1)
    elif shape == "grid":
        # a wider gap after every 10th row and 15th column: xy-cut blocks
        cx = rng.integers(0, 60, n)
        cy = rng.integers(0, 150, n)
        x0 = (cx * 50 + cx // 15 * 40).astype(np.float64)
        y0 = (cy * 20 + cy // 10 * 15).astype(np.float64)
        boxes = np.stack([x0, y0, x0 + 40, y0 + 12], axis=1)
        dup = rng.choice(n, n // 10, replace=False)
        boxes[dup] = boxes[rng.choice(n, n // 10)]
    else:
        x0 = rng.random(n) * 3000
        y0 = rng.random(n) * 60000
        boxes = np.stack([x0, y0, x0 + rng.random(n) * 90 + 5,
                          y0 + rng.random(n) * 10 + 5], axis=1)
    return boxes, rng.permutation(n)


class TestLargePageTwin:
    """``page_reading_order`` switches from the pure-Python twin to the NumPy
    ``xy_cut``/``cluster_lines`` path above 4,096 boxes; both must produce
    the same (perm, block_id, line_id) on such pages."""

    @pytest.mark.parametrize("seed", range(4))
    @pytest.mark.parametrize("shape", ["text", "grid", "scatter"])
    def test_numpy_path_equals_python_twin(self, shape, seed):
        boxes, tb = _large_page(shape, seed)
        assert len(boxes) > 4096
        perm, block_id, line_id = layout.page_reading_order(boxes, tiebreak=tb)
        p, b, ln = layout._page_reading_order_py(
            *(boxes[:, k].tolist() for k in range(4)), tb.tolist()
        )
        assert perm.tolist() == p
        assert block_id.tolist() == b
        assert line_id.tolist() == ln
