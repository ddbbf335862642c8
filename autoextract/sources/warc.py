"""WARC web-archive ingestion (ISO 28500) — the wire format a web-scale
training corpus actually arrives in (Common Crawl ships WARC/1.0 with one
gzip member per record).

The reference app ingests documents one presigned upload at a time
(``lambda/api/app/services/upload_service.py:98-201``); a 100 TB crawl
instead lands as WARC segments under a prefix. This module gives the engine
that front door: ``warc_records`` turns a ``(doc_id, content)`` binary
table — in production ``spark.read.format("binaryFile")`` over the segment
prefix, one file per row — into one typed row per WARC record, with the
HTTP response layer (status line, headers, chunked transfer-encoding,
gzip/deflate content-encoding) fully unwrapped so downstream operators see
clean body bytes.

Design notes (100 TB):
- A WARC segment parses independently of every other segment, so the stage
  is narrow (a per-row mapInArrow stage, zero shuffles) and scales linearly with input
  splits. Record extraction is sequential *within* one file by format
  design (Common Crawl segments are ~1 GB for exactly this reason).
- Per-file error containment (SURVEY §2.7 O6): a malformed segment yields
  a single ``valid=false`` row with the reason — never a task failure —
  because at crawl scale some truncated/garbage member is a certainty.
- Only record/HTTP *headers* are ever decoded as text; body bytes stay
  ``binary`` end-to-end (P11 contract: no base64, no codec guessing).

Fixture writer ``render_docs_to_warc`` fabricates spec-shaped segments from
the ``documents`` table for tests/benchmarks, rotating the three real-world
compression layouts (plain, whole-file gzip, per-record gzip members) and
three HTTP body encodings (identity, chunked, gzip) so every parser branch
is exercised by the driver oracle.
"""

from __future__ import annotations

import gzip
import zlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators._docwise import flat_map_rows, map_rows

CRLF = b"\r\n"

#: one row per WARC record; body is the de-chunked, content-decoded HTTP
#: payload for response records, the raw block otherwise; charset is the
#: Content-Type parameter (lowercased, '' when undeclared)
WARC_RECORDS_SCHEMA = (
    "doc_id string, rec_seq int, warc_type string, target_uri string, "
    "warc_date string, http_status int, mime string, charset string, "
    "body binary, valid boolean, err string"
)


# ---------------------------------------------------------------------------
# fixture writer


def _http_response(body: bytes, encoding: str, mime: str) -> bytes:
    """A deterministic HTTP/1.1 200 payload in one of the three wire shapes
    a crawler actually records."""
    if encoding == "gzip":
        # mtime=0 → deterministic bytes
        coded = gzip.compress(body, compresslevel=6, mtime=0)
        head = (
            b"HTTP/1.1 200 OK" + CRLF
            + b"Content-Type: " + mime.encode("ascii") + CRLF
            + b"Content-Encoding: gzip" + CRLF
            + b"Content-Length: " + str(len(coded)).encode("ascii") + CRLF
            + CRLF
        )
        return head + coded
    if encoding == "chunked":
        chunks = []
        for off in range(0, len(body), 100):
            piece = body[off : off + 100]
            chunks.append(b"%x" % len(piece) + CRLF + piece + CRLF)
        chunks.append(b"0" + CRLF + CRLF)
        head = (
            b"HTTP/1.1 200 OK" + CRLF
            + b"Content-Type: " + mime.encode("ascii") + CRLF
            + b"Transfer-Encoding: chunked" + CRLF
            + CRLF
        )
        return head + b"".join(chunks)
    head = (
        b"HTTP/1.1 200 OK" + CRLF
        + b"Content-Type: " + mime.encode("ascii") + CRLF
        + b"Content-Length: " + str(len(body)).encode("ascii") + CRLF
        + CRLF
    )
    return head + body


def _warc_record(rtype: str, uri: str, date: str, block: bytes,
                 content_type: str, rec_id: str) -> bytes:
    headers = [
        b"WARC/1.0",
        b"WARC-Type: " + rtype.encode("ascii"),
        b"WARC-Record-ID: <urn:uuid:" + rec_id.encode("ascii") + b">",
        b"WARC-Date: " + date.encode("ascii"),
        b"Content-Type: " + content_type.encode("ascii"),
        b"Content-Length: " + str(len(block)).encode("ascii"),
    ]
    if uri:
        headers.insert(3, b"WARC-Target-URI: " + uri.encode("ascii"))
    return CRLF.join(headers) + CRLF + CRLF + block + CRLF + CRLF


#: declared charset → python codec, for the fixture writer
_PY_CODEC = {"iso-8859-1": "latin-1", "windows-1252": "cp1252"}


def build_warc_segment(
    doc_id: str, text: str, layout: str, encoding: str,
    mime: str = "text/plain", charset: str = "utf-8",
) -> bytes:
    """One spec-shaped segment: warcinfo + request + response records (the
    parser must skip the first two), under the given compression layout;
    the body is encoded in — and the Content-Type declares — ``charset``."""
    date = "2024-01-01T00:00:00Z"
    uri = f"https://example.org/{doc_id}"
    body = text.encode(_PY_CODEC.get(charset, charset))
    mime = f"{mime}; charset={charset}"
    info = _warc_record(
        "warcinfo", "", date,
        b"software: autoextract-fixture/1.0" + CRLF,
        "application/warc-fields", f"info-{doc_id}",
    )
    req = _warc_record(
        "request", uri, date,
        b"GET /" + doc_id.encode("ascii") + b" HTTP/1.1" + CRLF
        + b"Host: example.org" + CRLF + CRLF,
        "application/http; msgtype=request", f"req-{doc_id}",
    )
    resp = _warc_record(
        "response", uri, date,
        _http_response(body, encoding, mime),
        "application/http; msgtype=response", f"resp-{doc_id}",
    )
    if layout == "gzip":  # whole-file single member
        return gzip.compress(info + req + resp, compresslevel=6, mtime=0)
    if layout == "members":  # Common Crawl: one gzip member per record
        z = lambda b: gzip.compress(b, compresslevel=6, mtime=0)  # noqa: E731
        return z(info) + z(req) + z(resp)
    return info + req + resp


def doc_html_page(doc_id: str, text: str) -> str:
    """A deterministic crawl-shaped page: link-dense nav + footer
    boilerplate the density vote must strip, an ``<article>`` holding the
    document text split across two paragraphs around one ``<img>``. The
    boilerplate-free round-trip expectation is exactly
    ``' '.join(text.split())`` (plus one media span)."""
    import html as _html

    words = text.split()
    mid = max(1, len(words) // 2)
    p1 = _html.escape(" ".join(words[:mid]))
    p2 = _html.escape(" ".join(words[mid:]))
    n = int(doc_id) if doc_id.isdigit() else 0
    # nav hrefs exercise root-relative / relative / scheme-relative
    # resolution; the "related" list carries the doc→doc graph edges
    # (absolute and ../-relative) that extract_links + pagerank consume
    return (
        "<html><head><title>doc</title></head><body>"
        "<nav><ul><li><a href='/home'>home nav link</a></li>"
        "<li><a href='about'>about nav link</a></li>"
        "<li><a href='//example.org/contact'>contact nav link</a></li></ul></nav>"
        f"<article><p>{p1}</p>"
        f"<img src='https://example.org/{doc_id}/img.png'>"
        f"<p>{p2}</p></article>"
        f"<ul><li><a href='https://example.org/{(7 * n + 1) % 500}'>related one</a></li>"
        f"<li><a href='../{(11 * n + 9) % 500}'>related two</a></li></ul>"
        "<footer>&#169; corpus</footer></body></html>"
    )


def render_docs_to_html(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """``docs(doc_id, text)`` → ``(doc_id, html, base_url)``: the fixture
    page plus the base URI it was 'fetched' from — the shape
    ``operators.html.extract_links`` consumes."""

    def render_html(doc_id, text):
        return str(doc_id), doc_html_page(str(doc_id), text), f"https://example.org/{doc_id}"

    return map_rows(
        docs.select("doc_id", text_col), render_html,
        "doc_id string, html string, base_url string",
    )


def render_docs_to_warc(
    docs: DataFrame, text_col: str = "text", as_html: bool = False
) -> DataFrame:
    """``docs(doc_id, text)`` → ``(doc_id, content binary)``: one WARC
    segment per document, rotating compression layout × body encoding by
    doc position so the 9 shape combinations all appear in any fixture of
    ≥9 docs. ``as_html=True`` serves each document as a boilerplate-framed
    ``text/html`` page (see ``doc_html_page``) instead of ``text/plain``.
    Deterministic (no clocks, mtime=0 gzip)."""
    layouts = ["plain", "gzip", "members"]
    encodings = ["identity", "chunked", "gzip"]

    def render_warc(doc_id, text):
        doc_id = str(doc_id)
        n = int(doc_id.split("-")[-1]) if doc_id[-1].isdigit() else 0
        body = doc_html_page(doc_id, text) if as_html else text
        return doc_id, build_warc_segment(
            doc_id, body, layouts[n % 3], encodings[(n // 3) % 3],
            mime="text/html" if as_html else "text/plain",
        )

    return map_rows(
        docs.select("doc_id", text_col), render_warc, "doc_id string, content binary"
    )


# ---------------------------------------------------------------------------
# parser


def _gunzip_members(buf: bytes) -> bytes:
    """Concatenate every gzip member (per-record members are the Common
    Crawl layout; a plain single-member file is the degenerate case)."""
    out = []
    rest = buf
    while rest[:2] == b"\x1f\x8b":
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        out.append(d.decompress(rest))
        if not d.eof:
            raise ValueError("truncated gzip member")
        rest = d.unused_data
    if rest:
        raise ValueError("trailing garbage after gzip members")
    return b"".join(out)


def _parse_headers(block: bytes) -> tuple[dict, bytes]:
    """Split a CRLF header block from its remainder; keys lowercased.
    Returns (headers, bytes_after_blank_line)."""
    end = block.find(CRLF + CRLF)
    if end < 0:
        raise ValueError("unterminated header block")
    headers: dict[str, str] = {}
    for line in block[:end].split(CRLF)[1:]:  # [0] is the version/status line
        k, _, v = line.partition(b":")
        if _:
            headers[k.strip().lower().decode("latin-1")] = v.strip().decode("latin-1")
    return headers, block[end + 4 :]


def _dechunk(body: bytes) -> bytes:
    out = []
    pos = 0
    while True:
        nl = body.find(CRLF, pos)
        if nl < 0:
            raise ValueError("bad chunked body: missing size line")
        size = int(body[pos:nl].split(b";")[0], 16)  # chunk extensions ignored
        if size == 0:
            return b"".join(out)
        out.append(body[nl + 2 : nl + 2 + size])
        pos = nl + 2 + size + 2  # skip chunk CRLF


def _charset_of(content_type: str) -> str:
    for param in content_type.split(";")[1:]:
        k, _, v = param.partition("=")
        if k.strip().lower() == "charset":
            return v.strip().strip("\"'").lower()
    return ""


def _unwrap_http(block: bytes) -> tuple[int, str, str, bytes]:
    """HTTP response block → (status, mime, charset, decoded body bytes)."""
    status_line = block[: block.find(CRLF)]
    parts = status_line.split(b" ", 2)
    status = int(parts[1]) if len(parts) > 1 else 0
    headers, body = _parse_headers(block)
    if "chunked" in headers.get("transfer-encoding", "").lower():
        body = _dechunk(body)
    coding = headers.get("content-encoding", "").lower()
    if coding == "gzip":
        body = gzip.decompress(body)
    elif coding == "deflate":
        body = zlib.decompress(body)
    ctype = headers.get("content-type", "")
    return status, ctype.split(";")[0].strip(), _charset_of(ctype), body


def parse_warc_bytes(doc_id: str, buf: bytes) -> list[dict]:
    """One segment → record rows. Raises on structural corruption; the
    Spark kernel converts that into a contained error row."""
    if buf[:2] == b"\x1f\x8b":
        buf = _gunzip_members(buf)
    rows = []
    pos = 0
    seq = 0
    while pos < len(buf):
        if buf[pos : pos + 5] != b"WARC/":
            raise ValueError(f"expected WARC version line at offset {pos}")
        hdr_end = buf.find(CRLF + CRLF, pos)
        if hdr_end < 0:
            raise ValueError("unterminated WARC header")
        headers, _ = _parse_headers(buf[pos : hdr_end + 4])
        length = int(headers["content-length"])
        block = buf[hdr_end + 4 : hdr_end + 4 + length]
        if len(block) != length:
            raise ValueError("truncated record block")
        wtype = headers.get("warc-type", "")
        rec_ct = headers.get("content-type", "")
        status, mime, charset, body = 0, rec_ct.split(";")[0], "", block
        if wtype == "response" and "msgtype=response" in rec_ct:
            status, mime, charset, body = _unwrap_http(block)
        rows.append(
            {
                "doc_id": doc_id,
                "rec_seq": seq,
                "warc_type": wtype,
                "target_uri": headers.get("warc-target-uri", ""),
                "warc_date": headers.get("warc-date", ""),
                "http_status": status,
                "mime": mime,
                "charset": charset,
                "body": body,
                "valid": True,
                "err": "",
            }
        )
        seq += 1
        pos = hdr_end + 4 + length + 4  # record block + CRLF CRLF
    return rows


def warc_records(raw: DataFrame, content_col: str = "content") -> DataFrame:
    """``(doc_id, content)`` → one row per WARC record (see
    ``WARC_RECORDS_SCHEMA``). Narrow per-row Arrow stage, one Python call
    per segment; malformed segments become ``valid=false`` rows."""
    cols = [
        "doc_id", "rec_seq", "warc_type", "target_uri", "warc_date",
        "http_status", "mime", "charset", "body", "valid", "err",
    ]

    def warc_record_rows(doc_id, buf):
        try:
            recs = parse_warc_bytes(str(doc_id), bytes(buf))
        except Exception as exc:  # O6 containment
            return [(
                str(doc_id), 0, "", "", "", 0, "", "", b"", False,
                f"{type(exc).__name__}: {exc}"[:200],
            )]
        return [tuple(map(r.get, cols)) for r in recs]

    return flat_map_rows(raw.select("doc_id", content_col), warc_record_rows, WARC_RECORDS_SCHEMA)


#: declared charset → JVM charset name for the decode dispatch; anything
#: else (or undeclared) falls back to UTF-8, the web's de-facto default
_CHARSET_MAP = {
    "utf-8": "UTF-8",
    "utf8": "UTF-8",
    "iso-8859-1": "ISO-8859-1",
    "latin-1": "ISO-8859-1",
    "latin1": "ISO-8859-1",
    # Spark's decode() whitelist has no cp1252; latin-1 is byte-identical
    # outside 0x80-0x9F (curly quotes / € degrade to C1 controls there —
    # production swaps a python decode stage for full cp1252 fidelity)
    "windows-1252": "ISO-8859-1",
    "us-ascii": "US-ASCII",
    "ascii": "US-ASCII",
    "utf-16": "UTF-16",
    "utf-16le": "UTF-16LE",
    "utf-16be": "UTF-16BE",
}


def warc_text_docs(raw: DataFrame) -> DataFrame:
    """Response records → ``(doc_id, target_uri, mime, text)`` with the
    body decoded per the DECLARED Content-Type charset (the common web
    charsets dispatch JVM-side through a when/otherwise chain — no Python;
    undeclared or exotic charsets fall back to UTF-8) — the handoff into
    the text-pipeline front (clean → language ID → quality → dedup). HTML
    responses route through ``operators.html.strip_html`` instead; this is
    the text/plain branch."""
    from pyspark.sql import functions as F

    recs = warc_records(raw)
    decoded = None
    for declared, jvm in _CHARSET_MAP.items():
        branch = F.when(
            F.col("charset") == declared, F.decode(F.col("body"), jvm)
        )
        decoded = branch if decoded is None else decoded.when(
            F.col("charset") == declared, F.decode(F.col("body"), jvm)
        )
    decoded = decoded.otherwise(F.decode(F.col("body"), "UTF-8"))
    return (
        recs.where((F.col("warc_type") == "response") & F.col("valid"))
        .select("doc_id", "target_uri", "mime", decoded.alias("text"))
    )


# ----------------------------------------------------------------------
# CDX index parsing (the Common Crawl lookup companion to the WARC leg)
# ----------------------------------------------------------------------

CDX_JSON_SCHEMA = (
    "url string, mime string, status string, digest string, "
    "length string, offset string, filename string"
)


def parse_cdx_column(
    df: "DataFrame", line_col: str = "line", id_col: str = "doc_id"
) -> "DataFrame":
    """Common Crawl CDXJ index lines — ``urlkey timestamp {json}`` — to
    typed columns: (urlkey, ts string + event_time timestamp, url, mime,
    status int, digest, length/offset long, filename, valid).

    A crawl-scale pipeline reads the CDX index BEFORE any WARC byte is
    fetched (dedup by digest, range-plan by offset/length, freshness by
    timestamp — all without touching the archive). One codegen'd
    regexp + ``from_json`` projection against an explicit schema (never
    inferred — stable plans), zero shuffles, zero Python; a malformed
    line surfaces ``valid=false``, never a failure (the JSONL-column O6
    contract)."""
    c = F.col(line_col)
    urlkey = F.regexp_extract(c, r"^(\S+)", 1)
    ts = F.regexp_extract(c, r"^\S+\s+(\d{14})", 1)
    blob = F.regexp_extract(c, r"^\S+\s+\S+\s+(\{.*\})\s*$", 1)
    j = F.from_json(blob, CDX_JSON_SCHEMA)
    valid = (urlkey != "") & (ts != "") & j.isNotNull() & j["url"].isNotNull()
    return df.select(
        id_col,
        F.when(valid, urlkey).alias("urlkey"),
        F.when(valid, ts).alias("ts"),
        F.when(valid, F.to_timestamp(ts, "yyyyMMddHHmmss")).alias("event_time"),
        F.when(valid, j["url"]).alias("url"),
        F.when(valid, j["mime"]).alias("mime"),
        F.when(valid, j["status"].cast("int")).alias("status"),
        F.when(valid, j["digest"]).alias("digest"),
        F.when(valid, j["length"].cast("long")).alias("length"),
        F.when(valid, j["offset"].cast("long")).alias("offset"),
        F.when(valid, j["filename"]).alias("filename"),
        valid.alias("valid"),
    )
