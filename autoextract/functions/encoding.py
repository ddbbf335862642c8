"""Mojibake detection + repair — the ftfy-style encoding-fix stage every
web-scale text pipeline runs between charset decode and quality filtering.

The dominant wild failure: UTF-8 bytes decoded as Latin-1/Windows-1252
somewhere upstream ("é" → "Ã©", "ä" → "Ã¤", "—" → "â€”"). The inverse is
mechanical — re-encode the text through the 8-bit codec it was wrongly
decoded with and decode the bytes as UTF-8 — and is applied only when that
round-trip strictly succeeds, so clean text (including clean non-ASCII
text, whose Latin-1 bytes are NOT valid UTF-8) is provably untouched.
Double-encoded payloads unwind over ``max_rounds`` iterations.

Encoding choice: try Windows-1252 first (the codec real pipelines decode
with — its 0x80–0x9F block holds the punctuation that appears in mojibake
like "â€™"), fall back to Latin-1 (covers the C1 range cp1252 leaves
undefined). Pure CPython string codecs inside a per-row
``mapInArrow`` stage — per-row byte re-coding is inherent to the task
(same stance as the PDF/codec kernels); the stage is narrow, zero
shuffles, and O6-contained (a pathological row passes through unrepaired,
never fails the task).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators._docwise import map_rows


def fix_mojibake_str(s: str, max_rounds: int = 2) -> tuple[str, bool]:
    """One string → (repaired string, whether anything changed)."""
    if s is None:
        return s, False
    fixed, repaired = s, False
    for _ in range(max_rounds):
        if fixed.isascii():
            break
        data = None
        for codec in ("cp1252", "latin-1"):
            try:
                data = fixed.encode(codec)
                break
            except UnicodeEncodeError:
                continue
        if data is None:
            break
        try:
            cand = data.decode("utf-8")
        except UnicodeDecodeError:
            break
        if cand == fixed:
            break
        fixed, repaired = cand, True
    return fixed, repaired


def repair_mojibake(
    docs: DataFrame, text_col: str = "text", max_rounds: int = 2
) -> DataFrame:
    """Replace ``text_col`` with its mojibake-repaired form and append a
    ``repaired`` boolean. All other columns pass through unchanged."""
    cols = docs.columns
    out_fields = ", ".join(
        f"`{c}` {docs.schema[c].dataType.simpleString()}" for c in cols
    )
    schema = f"{out_fields}, repaired boolean"

    k = cols.index(text_col)

    def mojibake_row(*row):
        fixed, repaired = fix_mojibake_str(row[k], max_rounds=max_rounds)
        return (*row[:k], fixed, *row[k + 1:], bool(repaired))

    return map_rows(docs, mojibake_row, schema)


def normalize_unicode(
    docs: DataFrame, text_col: str = "text", form: str = "NFC"
) -> DataFrame:
    """Replace ``text_col`` with its Unicode-normalized form (NFC by
    default — the canonical composition every dedup/hash stage should see:
    ``é`` as U+00E9 and as ``e``+U+0301 are the SAME text and must hash the
    same) and append ``normalized`` (whether the string changed).

    Per-row ``mapInArrow`` stage over ``unicodedata.normalize`` with a
    per-string ``isascii`` early-exit (ASCII is normalization-invariant in
    every form, and a real corpus is mostly ASCII).  NFKC is available for
    the aggressive compatibility fold (ligatures, full-width forms) that
    some tokenizer pipelines want; the default stays canonical-only so
    visually distinct characters are never conflated silently.

    Driver-gated against DuckDB's independent ICU implementation
    (``nfc_normalize``) — a genuine cross-engine equivalence, not a replay.
    """
    import unicodedata

    cols = docs.columns
    out_fields = ", ".join(
        f"`{c}` {docs.schema[c].dataType.simpleString()}" for c in cols
    )
    schema = f"{out_fields}, normalized boolean"

    k = cols.index(text_col)

    def normalize_row(*row):
        s = row[k]
        n = s if s is None or s.isascii() else unicodedata.normalize(form, s)
        return (*row[:k], n, *row[k + 1:], n != s)

    return map_rows(docs, normalize_row, schema)


# ----------------------------------------------------------------------
# charset detection + decode (the encoding front door)
# ----------------------------------------------------------------------

#: BOM table, longest-prefix-first — UTF-32LE must be probed BEFORE
#: UTF-16LE (FF FE 00 00 starts with FF FE, the classic sniffing trap)
_BOMS: list[tuple[bytes, str, str]] = [
    (b"\xff\xfe\x00\x00", "utf-32le", "utf-32-le"),
    (b"\x00\x00\xfe\xff", "utf-32be", "utf-32-be"),
    (b"\xef\xbb\xbf", "utf-8", "utf-8"),
    (b"\xff\xfe", "utf-16le", "utf-16-le"),
    (b"\xfe\xff", "utf-16be", "utf-16-be"),
]


def detect_decode_bytes(b: bytes) -> tuple[str, bool, bool, str | None]:
    """One payload → (encoding, had_bom, valid, text).

    Deterministic rules, in order: BOM (longest prefix first) with a
    STRICT decode of the remainder; else all-7-bit → ``ascii``; else
    strict UTF-8 → ``utf-8``; else strict Windows-1252 → ``cp1252``;
    else Latin-1 (total — every byte string decodes). A BOM whose body
    fails its own codec reports valid=false with NULL text rather than
    silently re-guessing: a torn UTF-16 file is a data-quality fact the
    pipeline should see, not paper over."""
    if b is None:
        return ("empty", False, False, None)
    if len(b) == 0:
        return ("empty", False, True, "")
    for bom, name, codec in _BOMS:
        if b.startswith(bom):
            try:
                return (name, True, True, b[len(bom):].decode(codec))
            except UnicodeDecodeError:
                return (name, True, False, None)
    try:
        text = b.decode("utf-8")
        return ("ascii" if max(b) < 0x80 else "utf-8", False, True, text)
    except UnicodeDecodeError:
        pass
    try:
        return ("cp1252", False, True, b.decode("cp1252"))
    except UnicodeDecodeError:
        return ("latin-1", False, True, b.decode("latin-1"))


DETECT_SCHEMA = (
    "doc_id long, encoding string, had_bom boolean, valid boolean, "
    "text string"
)


def detect_and_decode(
    docs: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """Charset front door: raw ``binary`` payloads → decoded text plus the
    (encoding, had_bom, valid) facts curation filters key on. Runs BEFORE
    ``repair_mojibake``/``normalize_unicode`` in the cleaning chain.

    One narrow Arrow-batched stage, zero shuffles; detection is pure
    prefix/strict-decode rules (no ML, engine-portable); O6 containment —
    a torn BOM'd file yields valid=false, never a task failure."""

    # output schema follows id_col and its INPUT type (ADVICE r5: the
    # kernel used to emit a hardcoded 'doc_id long', silently renaming and
    # int-coercing any caller-supplied id column)
    id_type = docs.schema[id_col].dataType.simpleString()
    schema = (
        f"{id_col} {id_type}, encoding string, had_bom boolean, "
        "valid boolean, text string"
    )

    def decode_row(did, payload):
        return (did, *detect_decode_bytes(payload))

    return map_rows(docs.select(id_col, payload_col), decode_row, schema)
