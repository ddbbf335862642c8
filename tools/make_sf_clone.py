"""Build a perf-measurement clone of a larger scale factor by replicating
the sf0.1 tables with consistent key offsets (builder-side tool; writes to
/tmp only — /root/testdata is read-only and the driver generates its own
larger SFs at measurement time).

The clone preserves value distributions exactly (rows are copies with
shifted keys), keeps FK families consistent (custkey/orderkey/partkey/
suppkey offsets applied on both sides), leaves the tiny dims (nation,
region) alone, and writes ONE parquet file per table with large row groups
to mimic the driver generator's single-file layout (the shape that exposed
the unsplittable-input problem this round).

Embeddings get per-replica deterministic noise so replicas are near- but
not exact duplicates — keeping neardup pair counts in the same regime as
the driver's generator instead of degenerate identical clusters.

Usage: python tools/make_sf_clone.py <mult> <out_dir>   # e.g. 10 /tmp/sf1.0
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"

# key column -> family; every column in a family shifts by the same
# per-replica offset so joins keep matching within a replica.
FAMILIES = {
    "l_orderkey": "orderkey", "o_orderkey": "orderkey",
    "l_partkey": "partkey", "p_partkey": "partkey",
    "l_suppkey": "suppkey", "s_suppkey": "suppkey",
    "o_custkey": "custkey", "c_custkey": "custkey",
    "doc_id": "doc_id", "vec_id": "vec_id",
    "event_id": "event_id", "user_id": "user_id",
}

REPLICATED = ("documents", "embeddings", "events", "lineitem", "orders",
              "customer", "part", "supplier")
DIMS = ("nation", "region")


def _family_spans(tables: dict[str, pa.Table]) -> dict[str, int]:
    spans: dict[str, int] = {}
    for tab in tables.values():
        for col, fam in FAMILIES.items():
            if col in tab.column_names:
                hi = pa.compute.max(tab[col]).as_py() or 0
                spans[fam] = max(spans.get(fam, 0), int(hi) + 1)
    return spans


def main() -> None:
    mult = int(sys.argv[1])
    out = sys.argv[2]
    os.makedirs(out, exist_ok=True)
    tables = {t: pq.read_table(os.path.join(SRC, f"{t}.parquet"))
              for t in REPLICATED}
    spans = _family_spans(tables)
    for t in REPLICATED:
        tab = tables[t]
        reps = []
        for i in range(mult):
            cols = []
            for name in tab.column_names:
                col = tab[name]
                fam = FAMILIES.get(name)
                if fam and i > 0:
                    col = pa.compute.add(col, i * spans[fam])
                elif name == "embedding" and i > 0:
                    arr = col.combine_chunks()
                    vals = arr.values.to_numpy(zero_copy_only=False)
                    rng = np.random.default_rng(1000 + i)
                    vals = vals + rng.normal(0, 0.03, size=vals.shape).astype(
                        np.float32)
                    # offsets carry no validity bitmap: keep null rows null
                    col = pa.ListArray.from_arrays(arr.offsets,
                                                   pa.array(vals.astype(np.float32)),
                                                   mask=arr.is_null())
                cols.append(col)
            reps.append(pa.table(cols, names=tab.column_names))
        big = pa.concat_tables(reps)
        pq.write_table(big, os.path.join(out, f"{t}.parquet"),
                       row_group_size=max(len(big) // 4, 1_000_000))
        print(t, len(big))
    for t in DIMS:
        tab = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        pq.write_table(tab, os.path.join(out, f"{t}.parquet"))
        print(t, len(tab))
    open(os.path.join(out, "_DONE"), "w").close()


if __name__ == "__main__":
    main()
