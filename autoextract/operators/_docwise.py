"""The two Arrow-batch loops shared by every Python kernel.

A per-row kernel maps each input row to zero, one or more output rows on its
own: ``flat_map_rows`` runs such a function in one ``mapInArrow`` stage,
``map_rows`` is its one-row form and ``parsed_rows`` its form for a parser of
one payload column into record dicts. Being per-row, none of them can depend
on where Spark cuts the Arrow batches.

A doc-keyed stage hash-partitions its rows on ``doc_id`` (or a function of
it, such as the pipeline's bucket); ``docwise`` sorts each partition by
doc_id first and runs a function over complete documents through
``per_doc``, the ``mapInArrow`` kernel for one partition; ``doc_bounds``
finds the documents inside one call of that function.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def _struct(schema: str | StructType) -> StructType:
    return schema if isinstance(schema, StructType) else StructType.fromDDL(schema)


def flat_map_rows(
    df: DataFrame, fn: Callable[..., Iterable[tuple]], schema: str | StructType
) -> DataFrame:
    """Apply ``fn`` row by row in one ``mapInArrow`` stage. ``fn`` gets one
    row's values as Python objects (``None`` for null, ``bytes`` for binary,
    lists and dicts for arrays and structs), in column order, and returns the
    row's output rows, each a tuple in ``schema`` order. The stage is named
    after ``fn`` in plans."""
    arrow_schema = to_arrow_schema(_struct(schema))

    def kernel(batches):
        import pyarrow as pa

        for batch in batches:
            rows = [
                out
                for row in zip(*(c.to_pylist() for c in batch.columns))
                for out in fn(*row)
            ]
            cols = zip(*rows) if rows else [()] * len(arrow_schema)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, f.type) for c, f in zip(cols, arrow_schema)],
                schema=arrow_schema,
            )

    kernel.__name__ = fn.__name__  # names the MapInArrow node in plans
    return df.mapInArrow(kernel, schema)


def map_rows(
    df: DataFrame, fn: Callable[..., tuple], schema: str | StructType
) -> DataFrame:
    """``flat_map_rows`` for a ``fn`` that returns exactly one output row."""

    def one(*row):
        return (fn(*row),)

    one.__name__ = fn.__name__
    return flat_map_rows(df, one, schema)


def parsed_rows(
    docs: DataFrame,
    parse: Callable[[bytes], Iterable[dict]],
    schema: str,
    payload_col: str = "payload",
) -> DataFrame:
    """``docs(doc_id, <payload_col>)`` → one row per record that
    ``parse(payload)`` returns: the doc_id as a string, then the record's
    values under ``schema``'s other column names (a missing key is null).
    A null payload parses as empty bytes."""
    names = _struct(schema).names[1:]

    def fn(doc_id, payload):
        return ((str(doc_id), *map(r.get, names)) for r in parse(payload or b""))

    fn.__name__ = parse.__name__
    return flat_map_rows(docs.select("doc_id", payload_col), fn, schema)


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


def docwise(clustered: DataFrame, build, schema, *order: str) -> DataFrame:
    """Run ``build`` over the complete documents of ``clustered``, a frame
    whose every document lies in one partition (the caller's exchange),
    each partition sorted by ``order`` (doc_id first)."""
    return clustered.sortWithinPartitions(*order).mapInArrow(per_doc(build), schema)
