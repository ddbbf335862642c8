"""The one doc-boundary loop shared by every doc-keyed Python kernel.

A doc-keyed stage hash-partitions its rows on ``doc_id`` and sorts each
partition by doc_id first, so every document arrives complete and contiguous
in one task. ``per_doc`` turns a function over complete documents into the
``mapInArrow`` kernel for such a partition; ``doc_bounds`` finds the
documents inside one call of that function.
"""

from __future__ import annotations

import numpy as np


def doc_bounds(tbl) -> np.ndarray:
    """First row of each document in a doc_id-sorted, non-empty Arrow table,
    followed by the row count."""
    import pyarrow.compute as pc

    n = tbl.num_rows
    ids = tbl.column("doc_id")
    change = np.flatnonzero(
        np.invert(
            pc.equal(ids.slice(1), ids.slice(0, n - 1)).to_numpy(zero_copy_only=False)
        )
    ) + 1
    return np.concatenate(([0], change, [n]))


def per_doc(build):
    """``mapInArrow`` kernel running ``build`` over a doc_id-sorted partition.

    Arrow batches may split a document, so the batches holding the tail
    document are kept as a list until the doc_id changes or the input ends,
    then concatenated once: ``build`` only ever sees complete documents, in
    one contiguous table, and a document spanning k batches is copied once,
    not k times. One Python call per partition, not per group.
    """

    def kernel(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        pending = []  # batches of one document whose end is not yet seen
        pending_id = None

        def complete(parts):
            tbl = pa.Table.from_batches(parts)
            return build(tbl.combine_chunks() if len(parts) > 1 else tbl)

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            ids = batch.column("doc_id")
            last = ids[n - 1]
            not_last = np.invert(pc.equal(ids, last).to_numpy(zero_copy_only=False))
            cut = int(np.flatnonzero(not_last).max() + 1) if not_last.any() else 0
            if cut == 0 and pending and last.as_py() == pending_id:
                pending.append(batch)
                continue
            done = pending + [batch.slice(0, cut)] if cut else pending
            if done:
                yield from complete(done).to_batches()
            pending, pending_id = [batch.slice(cut)], last.as_py()
        if pending:
            yield from complete(pending).to_batches()

    kernel.__name__ = build.__name__  # names the MapInArrow node in plans
    return kernel
