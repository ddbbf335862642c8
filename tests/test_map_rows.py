"""The shared per-row Arrow loop (``flat_map_rows`` / ``map_rows``): each
input row gives zero, one or many output rows, values round-trip as Python
objects, and the rows out do not depend on how Spark cuts the Arrow
batches."""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import types as T

from autoextract.operators._docwise import flat_map_rows, map_rows

OUT = T.StructType([T.StructField("k", T.LongType()), T.StructField("j", T.LongType())])


class _Kernel:
    """Stands in for a DataFrame: ``mapInArrow`` hands back the kernel."""

    def mapInArrow(self, kernel, schema):
        return kernel


def _batch(ks):
    return pa.RecordBatch.from_pydict({"k": pa.array(ks, pa.int64())})


def _run(fn, batches, schema=OUT):
    kernel = flat_map_rows(_Kernel(), fn, schema)
    return [b.to_pylist() for b in kernel(iter(batches))]


def fan_out(k):
    return [(k, j) for j in range(k)]  # k = 0 gives no row


def test_zero_one_and_many_rows_per_input():
    got = _run(fan_out, [_batch([0, 1, 3, 0, 2])])
    assert got == [[
        {"k": 1, "j": 0},
        {"k": 3, "j": 0}, {"k": 3, "j": 1}, {"k": 3, "j": 2},
        {"k": 2, "j": 0}, {"k": 2, "j": 1},
    ]]


def test_empty_batches_and_batches_with_no_output():
    got = _run(fan_out, [_batch([]), _batch([0, 0]), _batch([1])])
    assert got == [[], [], [{"k": 1, "j": 0}]]
    kernel = flat_map_rows(_Kernel(), fan_out, OUT)
    out = list(kernel(iter([_batch([])])))
    assert out[0].schema.names == ["k", "j"] and out[0].num_rows == 0


def test_kernel_is_named_after_fn():
    assert flat_map_rows(_Kernel(), fan_out, OUT).__name__ == "fan_out"

    def square(k):
        return k, k * k

    kernel = map_rows(_Kernel(), square, OUT)
    assert kernel.__name__ == "square"
    assert [b.to_pylist() for b in kernel(iter([_batch([2, 3])]))] == [
        [{"k": 2, "j": 4}, {"k": 3, "j": 9}]
    ]


NESTED = "id long, payload binary, note string, spans array<struct<kind:string, offset:int>>"


def _nested_rows():
    return [
        (0, b"\x00\xff", "a", [{"kind": "text", "offset": 0}, {"kind": None, "offset": 1}]),
        (1, None, None, None),
        (2, b"", "", []),
        (3, bytes(range(256)), "ü", [{"kind": "media", "offset": None}]),
    ]


def test_null_binary_and_nested_values_round_trip(spark):
    src = spark.createDataFrame(_nested_rows(), NESTED)

    def identity(*row):
        return row

    got = map_rows(src, identity, NESTED).collect()
    assert sorted(got, key=lambda r: r.id) == sorted(src.collect(), key=lambda r: r.id)
    got = {r.id: r for r in got}
    assert tuple(got[1]) == (1, None, None, None)
    assert got[0].payload == b"\x00\xff" and got[3].payload == bytes(range(256))
    assert [tuple(s) for s in got[0].spans] == [("text", 0), (None, 1)]
    assert got[2].spans == [] and got[2].payload == b""


def test_rows_invariant_to_arrow_batch_size(spark):
    from test_config_invariance import session_conf

    ids = spark.range(60).repartition(3)

    def fan(i):
        return [(i, j, f"{i}:{j}") for j in range(i % 4)]

    def run():
        out = flat_map_rows(ids, fan, "i long, j long, tag string").collect()
        return sorted(map(tuple, out))

    default = run()
    with session_conf(spark, {"spark.sql.execution.arrow.maxRecordsPerBatch": "7"}):
        small = run()
    assert small == default
    assert len(default) == sum(i % 4 for i in range(60))
