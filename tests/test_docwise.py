"""The shared ``per_doc`` loop, outside Spark: however a doc_id-sorted
partition is cut into Arrow batches, each ``build`` call sees whole documents,
every document exactly once, and the output equals the one-batch output."""

from __future__ import annotations

import itertools

import pyarrow as pa

from autoextract.operators._docwise import doc_bounds, per_doc

DOCS = ["a", "a", "b", "b", "b", "b", "b", "c", "d", "d", "d"]
TABLE = pa.table({"doc_id": DOCS, "row": list(range(len(DOCS)))})


def _run(batches):
    seen = []

    def summarize(tbl):
        seen.append(tbl.column("row").to_pylist())
        bounds = doc_bounds(tbl)
        rows = tbl.column("row").to_pylist()
        return pa.table({
            "doc_id": tbl.column("doc_id").take(pa.array(bounds[:-1])),
            "rows": [rows[lo:hi] for lo, hi in zip(bounds[:-1], bounds[1:])],
        })

    kernel = per_doc(summarize)
    assert kernel.__name__ == "summarize"
    out = pa.Table.from_batches(list(kernel(iter(batches))))
    return seen, out


def test_per_doc_every_batch_cut():
    _, expected = _run(TABLE.to_batches())
    assert expected.column("doc_id").to_pylist() == ["a", "b", "c", "d"]
    assert expected.column("rows").to_pylist() == [[0, 1], [2, 3, 4, 5, 6], [7], [8, 9, 10]]
    whole = TABLE.to_batches()[0]
    n = len(DOCS)
    spans_three = 0
    for k in range(n):
        for cuts in itertools.combinations(range(1, n), k):
            edges = [0, *cuts, n]
            batches = [whole.slice(lo, hi - lo) for lo, hi in zip(edges[:-1], edges[1:])]
            # an empty batch at a position that moves with the cut set
            batches.insert(len(cuts) % (len(batches) + 1), whole.slice(0, 0))
            seen, out = _run(batches)
            assert out.equals(expected), cuts
            # each call holds whole documents, and each document one call
            assert sorted(r for call in seen for r in call) == list(range(n)), cuts
            for call in seen:
                ids = [DOCS[r] for r in call]
                for doc in set(ids):
                    assert ids.count(doc) == DOCS.count(doc), (cuts, call)
            spans_three += sum(1 for c in cuts if 2 < c < 7) >= 2
    assert spans_three  # document "b" spread over three or more batches
