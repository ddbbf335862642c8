"""Layout engine: word boxes → deterministic reading order → spans.

The reference never computes reading order — it trusts PaddleOCR's emission
order (``lambda/api/app/ocr.py:53-68`` preserves it; SURVEY.md §2.4 W3). For a
batch engine the order must be explicit and deterministic, or two runs at
different parallelism could serialize spans differently. This module
implements the classic recipe the north_star prescribes:

  1. axis-aligned boxes from the 4-point quads the OCR shape carries
     (``ocr-containers/paddle-ocr/inference.py:109-115``; min/max corner fold,
     same as the UI's ``getBoundingBox`` at ``web/src/pages/OCRResult.tsx:95-108``)
  2. recursive XY-cut block segmentation (Nagy-style projection-profile
     splitting on whitespace valleys) — SURVEY.md §2 P5
  3. line clustering inside each block by vertical-overlap ≥ 0.5 of the
     smaller box — SURVEY.md §2 P4
  4. emission: blocks in cut order, lines top-to-bottom, words left-to-right;
     ties broken by the producer's ``word_seq`` so the order is total and
     deterministic.

Pages are independent reading units (the reference also processes per page,
``ocr.py:157-175``). The Spark side is one kernel behind one shuffle:
``_doc_clustered`` cleans the words JVM-side and hash-partitions them on
``doc_id``; ``_docwise.docwise`` sorts each partition by ``WORD_ORDER`` and
runs one ``mapInArrow`` pass that orders each page and assigns the global
offsets (SURVEY.md §2 W1) over whole Arrow batches, emitting word rows
(``order_words``) or one nested span row per document (``spans_table``).
The resumable pipeline runs the same chunk kernels behind its own exchange, on
the bucket (``plans.pipeline``). ``order_words_paged`` runs the same
chunk kernel per (doc_id, page) group, so a pathological mega-document
parallelizes across its pages instead of stalling one task (skew policy,
SURVEY.md §4 item 1).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ._docwise import doc_bounds, docwise

# Gap thresholds, in units of the page's median box height (the only robust
# scale available without page dimensions). Deterministic constants — never
# data-dependent randomness.
Y_GAP_FACTOR = 0.7  # horizontal cut: whitespace band taller than this
X_GAP_FACTOR = 2.0  # vertical cut: column gutter wider than this
X_MIN_EXTENT = 2.0  # only x-cut regions taller than this many median heights
LINE_OVERLAP = 0.5  # same line iff vertical overlap ≥ 0.5 * min(heights)


# ----------------------------------------------------------------------
# pure-NumPy core (unit-testable without Spark)
# ----------------------------------------------------------------------
def boxes_from_points(points: np.ndarray) -> np.ndarray:
    """(n, 4, 2) corner quads → (n, 4) [x0, y0, x1, y1]."""
    pts = np.asarray(points, dtype=np.float64)
    if pts.size == 0:
        return np.zeros((0, 4))
    x0 = pts[:, :, 0].min(axis=1)
    x1 = pts[:, :, 0].max(axis=1)
    y0 = pts[:, :, 1].min(axis=1)
    y1 = pts[:, :, 1].max(axis=1)
    return np.stack([x0, y0, x1, y1], axis=1)


def _projection_gaps(lo: np.ndarray, hi: np.ndarray, min_gap: float) -> list[float]:
    """Midpoints of whitespace gaps ≥ min_gap in the 1-D projection of
    [lo, hi] intervals. Sorted ascending — deterministic."""
    order = np.argsort(lo, kind="stable")
    lo, hi = lo[order], hi[order]
    if len(lo) < 2:
        return []
    # r6: vectorized — cover_end before element i is the running max of
    # hi[0..i-1] (float max is exact, so this is bit-identical to the
    # former per-element loop; this function is called twice per xy_cut
    # region and dominated the recursion's profile)
    cover = np.maximum.accumulate(hi)[:-1]
    mask = (lo[1:] - cover) >= min_gap
    return ((lo[1:][mask] + cover[mask]) / 2.0).tolist()


def xy_cut(
    boxes: np.ndarray, y_gap: float, x_gap: float, min_x_extent: float = 0.0
) -> list[np.ndarray]:
    """Recursive XY-cut. Returns index groups (blocks) in reading order:
    horizontal cuts top-to-bottom first, then vertical cuts left-to-right.

    Trying y before x at every level makes a spanning header split off
    before the column cut beneath it — the standard top-down variant.
    ``min_x_extent`` guards single text lines from being cut at inter-word
    gaps: a region is only a column-split candidate if its vertical extent
    exceeds it (a one-line region is always a leaf after y-cuts fail).
    """
    n = len(boxes)
    if n == 0:
        return []

    def rec(idx: np.ndarray) -> list[np.ndarray]:
        if len(idx) <= 1:
            return [idx]
        b = boxes[idx]
        cuts = _projection_gaps(b[:, 1], b[:, 3], y_gap)
        axis = 1  # y
        if not cuts and (b[:, 3].max() - b[:, 1].min()) > min_x_extent:
            cuts = _projection_gaps(b[:, 0], b[:, 2], x_gap)
            axis = 0  # x
        if not cuts:
            return [idx]
        centers = (b[:, axis] + b[:, axis + 2]) / 2.0
        bounds = [-np.inf] + cuts + [np.inf]
        out: list[np.ndarray] = []
        for k in range(len(bounds) - 1):
            mask = (centers >= bounds[k]) & (centers < bounds[k + 1])
            if mask.any():
                out.extend(rec(idx[mask]))
        return out

    return rec(np.arange(n))


def cluster_lines(boxes: np.ndarray) -> np.ndarray:
    """Line ids (0..k-1 top-to-bottom) for boxes within one block.

    Greedy sweep over boxes sorted by y-center: a box joins the current line
    iff its vertical overlap with the line's running band is ≥ LINE_OVERLAP of
    the smaller height; otherwise it starts a new line.
    """
    n = len(boxes)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    yc = (boxes[:, 1] + boxes[:, 3]) / 2.0
    order = np.argsort(yc, kind="stable")
    # r6: the sweep runs on plain Python floats — per-element numpy scalar
    # indexing boxed ~1.3M np.float64s per 5k pages and dominated the
    # kernel profile; .tolist() floats are the same IEEE doubles, and
    # min/max/± on them is the identical arithmetic (verified equal)
    y0s = boxes[:, 1].tolist()
    y1s = boxes[:, 3].tolist()
    line_ids = [0] * n
    cur = 0
    ordl = order.tolist()
    j0 = ordl[0]
    band_y0, band_y1 = y0s[j0], y1s[j0]
    for j in ordl[1:]:
        y0, y1 = y0s[j], y1s[j]
        overlap = min(band_y1, y1) - max(band_y0, y0)
        min_h = max(min(band_y1 - band_y0, y1 - y0), 1e-9)
        if overlap >= LINE_OVERLAP * min_h:
            band_y0 = min(band_y0, y0)
            band_y1 = max(band_y1, y1)
        else:
            cur += 1
            band_y0, band_y1 = y0, y1
        line_ids[j] = cur
    return np.array(line_ids, dtype=np.int64)


def _page_reading_order_py(
    x0: list, y0: list, x1: list, y1: list, tb: list
) -> tuple[list, list, list]:
    """Pure-Python twin of :func:`page_reading_order` for typical pages.

    Bit-identical by construction: ``.tolist()`` floats are the same IEEE
    doubles and every comparison/±/÷ mirrors the numpy path — but small
    pages (tens to hundreds of words) pay ~100 µs of per-tiny-array numpy
    dispatch in the array path, which dominated the span-kernel profile
    at 100 µs/doc. Returns (perm, block_id, line_id) as lists.
    """
    n = len(x0)
    heights = sorted(y1[i] - y0[i] for i in range(n))
    mid = n // 2
    med_h = heights[mid] if n % 2 else (heights[mid - 1] + heights[mid]) / 2.0
    med_h = max(med_h, 1e-9)
    y_gap = Y_GAP_FACTOR * med_h
    x_gap = X_GAP_FACTOR * med_h
    min_x_extent = X_MIN_EXTENT * med_h

    def gaps_of(idx, lo, hi, min_gap):
        order = sorted(idx, key=lo.__getitem__)  # stable, same as argsort
        out = []
        cover_end = hi[order[0]]
        for j in order[1:]:
            lj = lo[j]
            if lj - cover_end >= min_gap:
                out.append((lj + cover_end) / 2.0)
            hj = hi[j]
            if hj > cover_end:
                cover_end = hj
        return out

    def rec(idx):
        if len(idx) <= 1:
            return [idx]
        cuts = gaps_of(idx, y0, y1, y_gap)
        lo, hi = y0, y1
        if not cuts and (
            max(map(y1.__getitem__, idx)) - min(map(y0.__getitem__, idx))
        ) > min_x_extent:
            cuts = gaps_of(idx, x0, x1, x_gap)
            lo, hi = x0, x1
        if not cuts:
            return [idx]
        bounds = cuts + [float("inf")]
        nseg = len(bounds)
        segs = [[] for _ in range(nseg)]
        for j in idx:
            c = (lo[j] + hi[j]) / 2.0
            # linear scan: cut counts are tiny, and this mirrors the
            # numpy masks exactly (first bound with c < bound wins)
            for k in range(nseg):
                if c < bounds[k]:
                    segs[k].append(j)
                    break
        out = []
        for sub in segs:
            if sub:
                out.extend(rec(sub))
        return out

    blocks = rec(list(range(n)))
    block_id = [0] * n
    line_id = [0] * n
    perm: list = []
    for b_i, idx in enumerate(blocks):
        m = len(idx)
        # greedy line sweep — same arithmetic as cluster_lines
        yc = [(y0[j] + y1[j]) / 2.0 for j in idx]
        order = sorted(range(m), key=yc.__getitem__)
        lines = [0] * m
        cur = 0
        j0 = idx[order[0]]
        band_y0, band_y1 = y0[j0], y1[j0]
        for k in order[1:]:
            j = idx[k]
            by0 = y0[j]
            by1 = y1[j]
            # conditional expressions, not min()/max() builtins: the sweep
            # runs 3-4 of them per word and the call overhead dominates
            overlap = (band_y1 if band_y1 < by1 else by1) - (
                band_y0 if band_y0 > by0 else by0
            )
            bh = band_y1 - band_y0
            h = by1 - by0
            min_h = bh if bh < h else h
            if min_h < 1e-9:
                min_h = 1e-9
            if overlap >= LINE_OVERLAP * min_h:
                if by0 < band_y0:
                    band_y0 = by0
                if by1 > band_y1:
                    band_y1 = by1
            else:
                cur += 1
                band_y0, band_y1 = by0, by1
            lines[k] = cur
        for b_j, ln in zip(idx, lines):
            block_id[b_j] = b_i
            line_id[b_j] = ln
        # tuple sort ≡ np.lexsort((tb, x0, lines)): ties beyond the three
        # keys fall back to the within-block position k, which is exactly
        # lexsort's stability
        keyed = sorted(
            zip(lines, (x0[j] for j in idx), (tb[j] for j in idx), range(m))
        )
        perm.extend(idx[t[3]] for t in keyed)
    return perm, block_id, line_id


def page_reading_order(
    boxes: np.ndarray, tiebreak: np.ndarray | None = None
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Full per-page ordering.

    Returns (perm, block_id, line_id) where ``perm`` lists word indices in
    reading order, and block/line ids are aligned with the *input* order.
    """
    n = len(boxes)
    if n == 0:
        z = np.zeros(0, dtype=np.int64)
        return z, z, z
    if tiebreak is None:
        tiebreak = np.arange(n)
    if n <= 4096:
        # typical pages: the pure-Python twin (identical arithmetic, see
        # its docstring) avoids per-tiny-array numpy dispatch overhead
        p, b, ln = _page_reading_order_py(
            boxes[:, 0].tolist(),
            boxes[:, 1].tolist(),
            boxes[:, 2].tolist(),
            boxes[:, 3].tolist(),
            np.asarray(tiebreak).tolist(),
        )
        return (
            np.array(p, dtype=np.int64),
            np.array(b, dtype=np.int64),
            np.array(ln, dtype=np.int64),
        )
    heights = np.sort(boxes[:, 3] - boxes[:, 1])
    # direct middle pick ≡ np.median (even n: (a+b)/2 is exactly what
    # np.mean of the two middles computes) without its ~15 µs of wrapper
    # overhead per page
    mid = n // 2
    med_h = (
        float(heights[mid])
        if n % 2
        else float((heights[mid - 1] + heights[mid]) / 2.0)
    )
    med_h = max(med_h, 1e-9)
    blocks = xy_cut(
        boxes, Y_GAP_FACTOR * med_h, X_GAP_FACTOR * med_h, X_MIN_EXTENT * med_h
    )

    block_id = np.zeros(n, dtype=np.int64)
    line_id = np.zeros(n, dtype=np.int64)
    perm_parts: list[np.ndarray] = []
    for b_i, idx in enumerate(blocks):
        block_id[idx] = b_i
        lines = cluster_lines(boxes[idx])
        line_id[idx] = lines
        # order within block: (line, x0, tiebreak) — total and deterministic
        key = np.lexsort((tiebreak[idx], boxes[idx, 0], lines))
        perm_parts.append(idx[key])
    perm = np.concatenate(perm_parts) if perm_parts else np.zeros(0, dtype=np.int64)
    return perm, block_id, line_id


# ----------------------------------------------------------------------
# Spark stage
# ----------------------------------------------------------------------
#: output schema of ``order_words`` (word_id = global offset within the doc)
ORDERED_SCHEMA = (
    "doc_id string, page int, seq int, kind string, content string, "
    "media_ref string, rec_score double, x0 double, y0 double, "
    "x1 double, y1 double, block_id int, line_id int, word_id int"
)

#: canonical output of the fused direct path
SPANS_TABLE_SCHEMA = (
    "doc_id string, spans array<struct<kind:string, text:string, "
    "media_ref:string, offset:int>>"
)

#: the layout kernels' input order: documents contiguous, words in page order
WORD_ORDER = ("doc_id", "page", "word_seq")

#: the chunk core's geometry memo is cleared before its keys' cumulative
#: bytes would pass this; values are smaller than their keys, so one task's
#: memo stays under twice this however large or diverse its pages are
MEMO_BYTES = 64 << 20


def _clean(ocr_words: DataFrame) -> DataFrame:
    """Drop empty/whitespace-only text words — the reference's producer-side
    rule (``inference.py:108`` ``if text.strip()``), as a JVM-side filter so
    the UDFs never see them. Boxes are folded from the corner quads here too
    (pure expressions: Catalyst keeps the whole prologue codegen'd, and the
    Python stage receives flat doubles instead of nested arrays — nested
    Arrow lists are ~10× costlier to hand across)."""
    has_kind = "kind" in ocr_words.columns
    cond = (
        (F.col("kind") != F.lit("text")) | (F.length(F.trim(F.col("content"))) > 0)
        if has_kind
        else F.length(F.trim(F.col("content"))) > 0
    )
    if "points" in ocr_words.columns:
        xs = F.transform("points", lambda p: p[0])
        ys = F.transform("points", lambda p: p[1])
        box_cols = [
            F.array_min(xs).alias("x0"),
            F.array_min(ys).alias("y0"),
            F.array_max(xs).alias("x1"),
            F.array_max(ys).alias("y1"),
        ]
    else:
        # producer already ships flat boxes (the columnar-friendly shape a
        # petabyte words table would use) — pass through
        box_cols = [F.col(c).cast("double").alias(c) for c in ("x0", "y0", "x1", "y1")]
    out = ocr_words.where(cond).select(
        "doc_id",
        F.col("page").cast("int").alias("page"),
        F.col("word_seq").cast("int").alias("word_seq"),
        (F.col("kind") if has_kind else F.lit("text")).alias("kind"),
        "content",
        (F.col("media_ref") if "media_ref" in ocr_words.columns else F.lit(None).cast("string")).alias("media_ref"),
        (F.col("rec_score") if "rec_score" in ocr_words.columns else F.lit(1.0)).alias("rec_score"),
        *box_cols,
    )
    return out


def _doc_clustered(ocr_words: DataFrame) -> DataFrame:
    """Cleaned words with every document complete in one partition: the
    public operators' one exchange.

    The repartition names no count, so AQE coalesces its
    ``shuffle.partitions`` hash partitions by bytes (whole partitions: a
    document never spans two tasks) and small inputs skip the per-task
    Python cost. An input already so partitioned (``_docs_to_word_boxes``)
    elides the exchange."""
    return _clean(ocr_words).repartition("doc_id")


def _layout_chunk(tbl):
    """Reading order for an Arrow table of COMPLETE documents sorted by
    (doc_id, page, word_seq) — or one page of one document.

    Returns ``(perm, seq, word_id, block_id, line_id, bounds)``: ``perm``
    takes the input rows to reading order, the next four are aligned with
    the permuted rows, and ``bounds`` holds each document's first row plus
    the row count. Geometry and ids come out as zero-copy numpy and
    group bounds from pyarrow compute; the per-page ``page_reading_order``
    calls are the only Python-level loop.
    """
    n = tbl.num_rows
    pages = tbl.column("page").to_numpy()
    seqs = tbl.column("word_seq").to_numpy()
    boxes = np.stack(
        [tbl.column(c).to_numpy() for c in ("x0", "y0", "x1", "y1")], axis=1
    )
    bounds = doc_bounds(tbl)
    page_change = np.flatnonzero(pages[1:] != pages[:-1]) + 1
    changed = np.union1d(bounds[1:-1], page_change)
    starts = np.concatenate(([0], changed))
    ends = np.concatenate((changed, [n]))
    # row position within its page / its document, in reading order too
    # (perm only permutes within a page)
    rows = np.arange(n, dtype=np.int32)
    seq = rows - np.repeat(starts, ends - starts).astype(np.int32)
    word_id = rows - np.repeat(bounds[:-1], np.diff(bounds)).astype(np.int32)

    perm = np.empty(n, dtype=np.int64)
    block_id = np.empty(n, dtype=np.int32)
    line_id = np.empty(n, dtype=np.int32)
    # Per-CHUNK memo on the page's exact geometry bytes: templated corpora
    # (forms, rendered grids) repeat page layouts verbatim, and reading
    # order is a pure function of (boxes, tiebreak) — identical bytes ⇒
    # identical permutation. The dict lives only for this call (no
    # module/worker state, nothing persists across tasks or runs), so this
    # is common-subexpression elimination, not result caching. Diverse-
    # layout corpora pay ~1 µs/page of hashing and miss.
    memo: dict = {}
    memo_bytes = 0
    for lo, hi in zip(starts, ends):
        sub = boxes[lo:hi]
        tb = seqs[lo:hi]
        key = (sub.tobytes(), tb.tobytes())
        hit = memo.get(key)
        if hit is None:
            p, b, l = page_reading_order(sub, tiebreak=tb)
            size = len(key[0]) + len(key[1])
            if memo_bytes + size > MEMO_BYTES:
                memo.clear()
                memo_bytes = 0
            memo[key] = hit = (p, b[p], l[p])
            memo_bytes += size
        p, bp, lp = hit
        perm[lo:hi] = p + lo
        block_id[lo:hi] = bp
        line_id[lo:hi] = lp
    return perm, seq, word_id, block_id, line_id, bounds


def _order_chunk_arrow(tbl):
    """Complete docs (or one page of one doc) → reading-ordered word rows
    (``ORDERED_SCHEMA``). String columns are never materialized as Python
    objects: the reorder is a C++ ``take``."""
    import pyarrow as pa

    perm, seq, word_id, block_id, line_id, _ = _layout_chunk(tbl)
    out = tbl.take(pa.array(perm))
    # _clean's columns in order, with word_seq → seq, plus the layout ids
    out = out.set_column(
        out.schema.get_field_index("word_seq"), "seq", pa.array(seq, type=pa.int32())
    )
    for name, col in (("block_id", block_id), ("line_id", line_id), ("word_id", word_id)):
        out = out.append_column(name, pa.array(col, type=pa.int32()))
    return out


def _assemble_chunk_arrow(ordered):
    """``order_words`` rows of complete docs, each doc's rows in ``word_id``
    order (as ``_order_chunk_arrow`` emits them) → one row per doc with the
    assembled span array (``SPANS_TABLE_SCHEMA``): the in-kernel twin of
    ``assemble_spans`` for text and media spans. All array building is
    pyarrow C++."""
    import pyarrow as pa
    import pyarrow.compute as pc

    bounds = doc_bounds(ordered)
    kind = ordered.column("kind").combine_chunks()
    is_text = pc.equal(kind, "text")
    struct = pa.StructArray.from_arrays(
        [
            kind,
            pc.if_else(is_text, ordered.column("content").combine_chunks(),
                       pa.scalar(None, pa.string())),
            pc.if_else(is_text, pa.scalar(None, pa.string()),
                       ordered.column("media_ref").combine_chunks()),
            ordered.column("word_id").combine_chunks(),
        ],
        names=["kind", "text", "media_ref", "offset"],
    )
    spans = pa.ListArray.from_arrays(
        pa.array(bounds, type=pa.int32()), struct
    )
    doc_ids = ordered.column("doc_id").take(pa.array(bounds[:-1]))
    return pa.table({"doc_id": doc_ids, "spans": spans})


def _spans_chunk_arrow(tbl):
    """Chunk of complete docs → their nested span rows, in one pass."""
    return _assemble_chunk_arrow(_order_chunk_arrow(tbl))


def _order_page_arrow(page):
    """``applyInArrow`` kernel for one (doc_id, page) group. A group arrives
    in no particular row order; sorted by word_seq, it is the input
    ``order_words``' sorted partition gives the same builder."""
    return _order_chunk_arrow(page.sort_by("word_seq"))


def order_words(ocr_words: DataFrame) -> DataFrame:
    """``ocr_words(doc_id, page, word_seq, content, rec_score, points[, kind,
    media_ref])`` → reading-ordered words with global ``word_id`` (the
    ``offset`` of the target schema — SURVEY.md §2 W1, replacing the
    reference's O(n²) re-match at ``ocr.py:311-322``).

    Scale shape — exactly ONE shuffle: ``_doc_clustered`` co-locates each
    document and ``docwise`` sorts it, then a single ``mapInArrow`` pass
    assigns reading order AND global offsets per document (no window, no
    second shuffle). Box folding and the empty-word filter run JVM-side
    before the exchange.

    Skew: hash repartition balances documents across tasks; a pathological
    mega-document is bounded by the ingest page cap (the reference enforces
    ≤10 pages/doc, ``pdf.py:122-124``) and NumPy handles 10^5-word documents
    in-memory comfortably. For corpora with unbounded single documents use
    ``order_words_paged`` (page-parallel variant) below.
    """
    return docwise(
        _doc_clustered(ocr_words), _order_chunk_arrow, ORDERED_SCHEMA, *WORD_ORDER
    )


def order_words_auto(
    ocr_words: DataFrame, mega_threshold: int = 100_000
) -> DataFrame:
    """Skew-routing wrapper (SURVEY.md §4 item 1 — the manual salt policy).

    Documents with more than ``mega_threshold`` words would stall the
    single-task-per-doc fast path, so they take the page-parallel route
    (pages spread across tasks, window for global offsets) while the bulk of
    the corpus takes the single-pass kernel; results union.

    ONE source scan (r2 VERDICT "What's wrong" #2 killed the former
    census + dual-rescan, which read a 100 TB words table twice): clean and
    shuffle on doc_id once, tag each row with its document's word count via
    a window over the partitioning that shuffle already established (no
    second exchange — the sort below satisfies the window's ordering too),
    then route with partition-local filters. Both branches read the SAME
    exchange (Spark plans the second read as a ReusedExchange), so the
    source parquet is scanned once however many branches fire.
    """
    tagged = (
        _doc_clustered(ocr_words)
        .sortWithinPartitions(*WORD_ORDER)
        .withColumn("__doc_n", F.count("*").over(Window.partitionBy("doc_id")))
    )
    normal = tagged.where(F.col("__doc_n") <= mega_threshold).drop("__doc_n")
    normal = docwise(normal, _order_chunk_arrow, ORDERED_SCHEMA, *WORD_ORDER)
    mega = order_words_paged(
        tagged.where(F.col("__doc_n") > mega_threshold).drop("__doc_n"),
        _pre_cleaned=True,
    )
    return normal.unionByName(mega)


def order_words_paged(ocr_words: DataFrame, _pre_cleaned: bool = False) -> DataFrame:
    """Page-parallel variant: the same chunk kernel per (doc_id, page) group
    via ``applyInArrow``, then a window for global offsets. Two shuffles,
    higher per-group overhead, but a single enormous document parallelizes
    across its pages — the manual salting policy for unbounded-doc corpora
    (SURVEY.md §4 item 1). ``_pre_cleaned`` skips the empty-word filter /
    box folding when the input already went through ``_clean`` (the auto
    router's mega branch)."""
    cleaned = ocr_words if _pre_cleaned else _clean(ocr_words)
    laid_out = cleaned.groupBy("doc_id", "page").applyInArrow(
        _order_page_arrow, schema=ORDERED_SCHEMA
    )
    w = Window.partitionBy("doc_id").orderBy("page", "seq")
    return laid_out.withColumn("word_id", (F.row_number().over(w) - 1).cast("int"))


def spans_table(ocr_words: DataFrame) -> DataFrame:
    """Fused fast path: ``ocr_words`` → canonical ``documents(doc_id, spans)``
    in ONE shuffle and ONE Python pass — reading order, global offsets AND
    span assembly happen inside the kernel, so there is no downstream
    groupBy/collect_list stage and word-level rows never re-cross the Arrow
    boundary (output is one nested row per document).

    The shuffle is ``_doc_clustered``'s count-free repartition; an input
    already so partitioned (``_docs_to_word_boxes``) elides it.

    Semantically identical to ``assemble_spans(order_words(df))`` (tested);
    prefer this form in pipelines that don't also need the word-level table.
    """
    return docwise(
        _doc_clustered(ocr_words), _spans_chunk_arrow, SPANS_TABLE_SCHEMA, *WORD_ORDER
    )


def assemble_spans(ordered_words: DataFrame) -> DataFrame:
    """Ordered words → canonical ``documents(doc_id, spans)`` table.

    Pure built-in aggregation: collect (offset-first) structs, sort_array for
    the deterministic serialization the invariant demands (never rely on UDF
    emission order across shuffles), then reshape to (kind, text, media_ref,
    offset). Text spans carry NULL media_ref and vice versa (FIXTURES.md §1).
    """
    span_struct = F.struct(
        F.col("word_id").alias("offset"),
        F.col("kind").alias("kind"),
        F.when(F.col("kind") == "text", F.col("content")).alias("text"),
        F.when(F.col("kind") == "media", F.col("media_ref")).alias("media_ref"),
    )
    return (
        ordered_words.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(span_struct)).alias("_s"))
        .select(
            "doc_id",
            F.transform(
                "_s",
                lambda s: F.struct(
                    s["kind"].alias("kind"),
                    s["text"].alias("text"),
                    s["media_ref"].alias("media_ref"),
                    s["offset"].alias("offset"),
                ),
            ).alias("spans"),
        )
    )
