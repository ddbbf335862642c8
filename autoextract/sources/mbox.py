"""MBOX / e-mail ingestion — RFC 4155 mailboxes → one row per message.

Mailing-list archives are a classic conversational training-data
source; this leg parses them from scratch per the public RFCs (4155
mbox framing, 5322 headers, 2045/2046 MIME, 2047 encoded-words) and
feeds the existing mail-cleanup stage (``strip_quoted_replies``)
downstream.  Covers the wild subset a corpus pipeline needs:

* RFC 4155 framing: messages split on ``From `` separator lines; the
  mboxrd body-quoting convention (``>From`` → ``From``, one ``>``
  stripped from any ``>+From`` line) is undone.
* header unfolding (continuation lines start with WS), case-insensitive
  lookup, RFC 2047 encoded-words in Subject/From — both ``B`` (base64)
  and ``Q`` (quoted-printable with ``_`` = space) forms, adjacent
  encoded words joining without intervening space per §6.2.
* RFC 5322 date → epoch seconds: own fixed-table parser (day name
  ignored, month map, numeric zone offsets, the common ``GMT``/``UT``/
  ``EST``-style alpha zones) — no locale, no system clock.
* ``From`` → addr-spec: ``Name <a@b>`` angle form or bare address.
* MIME: ``multipart/*`` boundary walk (one level of nesting — e.g.
  ``multipart/alternative`` inside ``multipart/mixed``), first
  ``text/plain`` part preferred, falling back to the first ``text/*``;
  Content-Transfer-Encoding base64 / quoted-printable / 7bit / 8bit;
  charset from the Content-Type parameter (default us-ascii, decoded
  permissively).

Containment (O6): payloads that don't start with a ``From `` separator
yield zero rows; a message whose MIME structure is malformed yields its
raw (undecoded) body rather than failing the task.

Spark shape: one per-row ``mapInArrow`` kernel over the binary column —
narrow, zero shuffles; each mailbox is independent work, data-parallel
at 10^12-doc scale.
"""

from __future__ import annotations

import base64
import binascii
import quopri
import re

from pyspark.sql import DataFrame

from ..operators._docwise import parsed_rows

MESSAGES_SCHEMA = (
    "doc_id string, msg_idx int, from_addr string, subject string,"
    " date_ts long, message_id string, body string"
)

_SEP_RE = re.compile(rb"(?:^|\n)From [^\n]*\n")
_ENCWORD_RE = re.compile(r"=\?([^?]+)\?([bBqQ])\?([^?]*)\?=")
_ADJACENT_RE = re.compile(r"(\?=)\s+(=\?)")
_ANGLE_RE = re.compile(r"<([^<>]+)>")
_MBOXRD_RE = re.compile(rb"^>(>*From )", re.M)

_MONTHS = {m: i + 1 for i, m in enumerate(
    ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
     "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"])}
_ALPHA_ZONES = {"GMT": 0, "UT": 0, "UTC": 0, "Z": 0,
                "EST": -500, "EDT": -400, "CST": -600, "CDT": -500,
                "MST": -700, "MDT": -600, "PST": -800, "PDT": -700}
_DATE_RE = re.compile(
    r"(?:[A-Za-z]{3},\s*)?(\d{1,2})\s+([A-Za-z]{3})\s+(\d{2,4})\s+"
    r"(\d{1,2}):(\d{2})(?::(\d{2}))?\s*([+-]\d{4}|[A-Za-z]{1,4})?")

_DAYS_BEFORE_MONTH = [0, 0, 31, 59, 90, 120, 151, 181, 212, 243, 273,
                      304, 334]


def _leap(y: int) -> bool:
    return y % 4 == 0 and (y % 100 != 0 or y % 400 == 0)


def parse_date(s: str) -> int | None:
    """RFC 5322 date-time → epoch seconds (proleptic Gregorian, no
    locale, no system clock)."""
    m = _DATE_RE.search(s or "")
    if not m:
        return None
    day, mon, year = int(m.group(1)), _MONTHS.get(m.group(2)), m.group(3)
    if mon is None:
        return None
    y = int(year)
    if y < 100:                              # RFC 5322 §4.3 obsolete year
        y += 2000 if y < 50 else 1900
    hh, mm = int(m.group(4)), int(m.group(5))
    ss = int(m.group(6) or 0)
    zone = m.group(7) or "+0000"
    if zone[0] in "+-":
        off = (1 if zone[0] == "+" else -1) * (
            int(zone[1:3]) * 3600 + int(zone[3:5]) * 60)
    else:
        hhmm = _ALPHA_ZONES.get(zone.upper(), 0)
        off = (abs(hhmm) // 100 * 3600 + abs(hhmm) % 100 * 60)
        off = -off if hhmm < 0 else off
    days = (y - 1970) * 365
    days += (y - 1969) // 4 - (y - 1901) // 100 + (y - 1601) // 400
    days += _DAYS_BEFORE_MONTH[mon] + (1 if mon > 2 and _leap(y) else 0)
    days += day - 1
    return days * 86400 + hh * 3600 + mm * 60 + ss - off


def decode_encoded_words(s: str) -> str:
    """RFC 2047: decode ``=?charset?B|Q?...?=`` words; whitespace between
    two adjacent encoded words is dropped (§6.2)."""
    s = _ADJACENT_RE.sub(r"\1\2", s)

    def one(m):
        charset, enc, payload = m.group(1), m.group(2).upper(), m.group(3)
        try:
            if enc == "B":
                raw = base64.b64decode(payload + "=" * (-len(payload) % 4))
            else:
                raw = quopri.decodestring(
                    payload.replace("_", " ").encode("ascii"), header=False)
            return raw.decode(charset.split("*")[0], "replace")
        except (binascii.Error, LookupError, ValueError):
            return m.group(0)

    return _ENCWORD_RE.sub(one, s)


def _unfold_headers(raw: str) -> dict[str, str]:
    headers: dict[str, str] = {}
    key = None
    for line in raw.split("\n"):
        if line[:1] in (" ", "\t") and key:
            headers[key] += " " + line.strip()
        elif ":" in line:
            key, _, val = line.partition(":")
            key = key.strip().lower()
            # first occurrence wins (Received etc. repeat; we keep none
            # of the repeatable trace fields anyway)
            headers.setdefault(key, val.strip())
    return headers


def _ct_params(value: str) -> tuple[str, dict[str, str]]:
    parts = [p.strip() for p in value.split(";")]
    media = parts[0].lower()
    params = {}
    for p in parts[1:]:
        if "=" in p:
            k, _, v = p.partition("=")
            params[k.strip().lower()] = v.strip().strip('"')
    return media, params


def _decode_body(body: bytes, cte: str, charset: str) -> str:
    cte = (cte or "").strip().lower()
    try:
        if cte == "base64":
            body = base64.b64decode(re.sub(rb"\s+", b"", body)
                                    + b"=" * (-len(body) % 4))
        elif cte == "quoted-printable":
            body = quopri.decodestring(body)
    except (binascii.Error, ValueError):
        pass
    try:
        return body.decode(charset or "us-ascii", "replace")
    except LookupError:
        return body.decode("utf-8", "replace")


def _pick_text_part(body: bytes, media: str, params: dict,
                    cte: str, depth: int = 0) -> str:
    if media.startswith("multipart/") and depth < 2:
        boundary = params.get("boundary")
        if boundary:
            chunks = body.split(b"--" + boundary.encode("ascii", "replace"))
            parts = []
            for chunk in chunks[1:]:
                if chunk.startswith(b"--"):
                    break
                chunk = chunk.lstrip(b"\n")
                head, _, pbody = chunk.partition(b"\n\n")
                ph = _unfold_headers(head.decode("ascii", "replace"))
                pm, pp = _ct_params(ph.get("content-type", "text/plain"))
                parts.append((pm, pp, ph.get("content-transfer-encoding",
                                             ""), pbody))
            for pm, pp, pcte, pbody in parts:          # plain first
                if pm == "text/plain":
                    return _decode_body(pbody, pcte,
                                        pp.get("charset", "us-ascii")).strip()
            for pm, pp, pcte, pbody in parts:          # nested multipart
                if pm.startswith("multipart/"):
                    t = _pick_text_part(pbody, pm, pp, pcte, depth + 1)
                    if t:
                        return t
            for pm, pp, pcte, pbody in parts:          # any text/*
                if pm.startswith("text/"):
                    return _decode_body(pbody, pcte,
                                        pp.get("charset", "us-ascii")).strip()
        return body.decode("utf-8", "replace").strip()
    return _decode_body(body, cte, params.get("charset", "us-ascii")).strip()


def parse_mbox(data: bytes) -> list[dict]:
    """MBOX bytes → ordered message rows ``{msg_idx, from_addr, subject,
    date_ts, message_id, body}``."""
    raw = bytes(data)
    if not raw.startswith(b"From "):
        return []
    out = []
    bounds = [m for m in _SEP_RE.finditer(raw)]
    for idx, m in enumerate(bounds):
        end = bounds[idx + 1].start() if idx + 1 < len(bounds) else len(raw)
        msg = raw[m.end():end].replace(b"\r\n", b"\n")
        msg = _MBOXRD_RE.sub(rb"\1", msg)
        head, _, body = msg.partition(b"\n\n")
        h = _unfold_headers(head.decode("ascii", "replace"))
        media, params = _ct_params(h.get("content-type", "text/plain"))
        from_raw = decode_encoded_words(h.get("from", ""))
        am = _ANGLE_RE.search(from_raw)
        from_addr = (am.group(1) if am else from_raw).strip() or None
        out.append({
            "msg_idx": idx,
            "from_addr": from_addr,
            "subject": decode_encoded_words(h.get("subject", "")) or None,
            "date_ts": parse_date(h.get("date", "")),
            "message_id": h.get("message-id", "").strip("<> ") or None,
            "body": _pick_text_part(
                body, media, params,
                h.get("content-transfer-encoding", "")),
        })
    return out


def build_mbox(msgs: list[dict]) -> bytes:
    """Fixture builder: an RFC 4155 mailbox.  Per-message dict keys:
    ``from_name``/``from_addr``, ``subject`` (+ ``subject_enc`` in
    {"B","Q"} for an RFC 2047 encoded word), ``date`` (preformatted
    RFC 5322 string), ``msgid``, ``body`` and ``cte`` in {"7bit",
    "quoted-printable", "base64"}, or ``html`` to wrap body+html in
    multipart/alternative."""
    lines: list[bytes] = []
    for i, m in enumerate(msgs):
        lines.append(b"From - Thu Jan  1 00:00:00 2024\n")
        subj = m.get("subject", "")
        enc = m.get("subject_enc")
        if enc == "B":
            subj = "=?utf-8?B?%s?=" % base64.b64encode(
                subj.encode()).decode("ascii")
        elif enc == "Q":
            subj = "=?utf-8?Q?%s?=" % (
                quopri.encodestring(subj.encode(), header=True)
                .decode("ascii"))
        hdr = [
            "From: %s <%s>" % (m.get("from_name", "User"),
                               m.get("from_addr", "u@example.com")),
            "Subject: %s" % subj,
            "Date: %s" % m.get("date", "Mon, 1 Jan 2024 00:00:00 +0000"),
            "Message-ID: <%s>" % m.get("msgid", "m%d@example.com" % i),
        ]
        body = m.get("body", "")
        if m.get("html"):
            b = "bnd%04d" % i
            hdr.append('Content-Type: multipart/alternative; '
                       'boundary="%s"' % b)
            payload = (
                "--%s\nContent-Type: text/html; charset=utf-8\n\n%s\n"
                "--%s\nContent-Type: text/plain; charset=utf-8\n"
                "Content-Transfer-Encoding: quoted-printable\n\n%s\n"
                "--%s--\n" % (
                    b, m["html"], b,
                    quopri.encodestring(body.encode()).decode("ascii"), b))
        else:
            cte = m.get("cte", "7bit")
            hdr.append("Content-Type: text/plain; charset=utf-8")
            hdr.append("Content-Transfer-Encoding: %s" % cte)
            if cte == "base64":
                payload = base64.b64encode(body.encode()).decode() + "\n"
            elif cte == "quoted-printable":
                payload = quopri.encodestring(body.encode()).decode() + "\n"
            else:
                payload = _MBOXRD_QUOTE_RE.sub(r">\1", body) + "\n"
        lines.append(("\n".join(hdr) + "\n\n" + payload + "\n").encode())
    return b"".join(lines)


_MBOXRD_QUOTE_RE = re.compile(r"^(>*From )", re.M)


def mbox_messages(docs: DataFrame, payload_col: str = "payload"
                  ) -> DataFrame:
    """Arrow-batched MBOX → message rows ``(doc_id, msg_idx, from_addr,
    subject, date_ts, message_id, body)``.  Narrow stage, zero
    shuffles."""

    return parsed_rows(docs, parse_mbox, MESSAGES_SCHEMA, payload_col)
