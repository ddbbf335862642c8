"""Minimal text-layer PDF writer + parser (pure Python, closes P1).

The reference renders PDFs to page images with PyMuPDF and caps documents at
10 pages (``lambda/api/app/utils/pdf.py:62-185``, cap at ``:122-124`` — more
pages raises and the document is marked failed). This container has no
PyMuPDF, so the engine's PDF branch works at the *text layer* instead: a
real, cross-referenced PDF 1.4 writer (used by the corpus generator and the
``pdf_ingest_spans`` round-trip query) and a parser that replays the content
streams' text operators (``BT``/``Tf``/``Td``/``Tj``) back into positioned
word boxes in the ``ocr_words`` shape — from there the ordinary layout
pipeline (XY-cut, line clustering, span assembly) takes over, identical to
the OCR path. A production deployment swaps the parser for a rasterize+OCR
kernel behind the same ``pdf_words_table`` signature.

Scope (r3, widened to the real-world text-layer subset the reference's
uploads actually use — ``utils/pdf.py:53-87`` consumes arbitrary PDFs; r4
adds ``/LZWDecode`` and cascaded ``[/ASCII85Decode /FlateDecode]`` filter
chains, PDF 1.5+ object streams — ``/Type /ObjStm`` bodies are expanded
into the object map, so modern files whose dictionary objects hide inside
compressed streams parse identically; xref/xref-stream tables are never
consulted, objects are located by a sequential scan that skips stream
payloads via ``/Length`` — and composite Type0 / Identity-H fonts whose
2-byte CID hex shows resolve through the font's ``/ToUnicode`` CMap, the
shape CJK and subset-embedded-font documents use; remaining out of scope:
encrypted PDFs, predictor-coded streams, CID text without a ToUnicode map):
``/Filter /FlateDecode`` content streams (stdlib zlib inflate), absolute
``Tm`` text matrices (translation + axis scales; skew ignored), relative
``Td``/``TD``, leading-driven ``T*``/``TL``/``'``, ``TJ`` show-arrays (kern
offsets ≤ -100/1000 em read as word breaks), ``/Contents`` arrays
(concatenated in order), literal ``(...)`` strings with standard escapes,
and byte-level hex strings ``<...>`` (UTF-8 else Latin-1 — simple fonts;
no cmap resolution for composite fonts). Font cmaps / arbitrary CTMs stay
out of scope: those parse to zero words and surface as an error row via
``pdf_meta`` (O6 per-doc containment, never a thrown task).
"""

from __future__ import annotations

import base64
import re
import zlib

from pyspark.sql import DataFrame

from ..operators._docwise import flat_map_rows, map_rows

#: US-Letter page, PDF default user space (1/72 inch units)
PAGE_W, PAGE_H = 612.0, 792.0
#: monospace-ish advance per character as a fraction of font size — the
#: writer and parser agree on it, so boxes round-trip exactly
CHAR_W = 0.6
#: the reference's hard page cap (pdf.py:122-124)
MAX_PAGES = 10


# ----------------------------------------------------------------------
# writer
# ----------------------------------------------------------------------


def _esc(s: str) -> bytes:
    return (
        s.encode("utf-8")
        .replace(b"\\", b"\\\\")
        .replace(b"(", b"\\(")
        .replace(b")", b"\\)")
    )


def _tounicode_cmap(cid_of: dict[str, int]) -> bytes:
    """A standard /ToUnicode CMap mapping each assigned CID to its UTF-16BE
    character — ``beginbfchar`` blocks capped at 100 entries per PDF 32000
    §9.10.3 convention."""
    parts = [
        b"/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n"
        b"/CMapName /AE-Identity-UCS def\n/CMapType 2 def\n"
        b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
    ]
    items = sorted((cid, ch) for ch, cid in cid_of.items())
    for i in range(0, len(items), 100):
        chunk = items[i : i + 100]
        parts.append(f"{len(chunk)} beginbfchar\n".encode())
        for cid, ch in chunk:
            parts.append(
                f"<{cid:04x}> <{ch.encode('utf-16-be').hex()}>\n".encode()
            )
        parts.append(b"endbfchar\n")
    parts.append(
        b"endcmap\nCMapName currentdict /CMap defineresource pop\nend\nend"
    )
    return b"".join(parts)


def make_text_pdf(
    pages: list[list[tuple]],
    font_size: float = 12.0,
    compress: bool | str = False,
    use_tm: bool = False,
    image_jpeg: bytes | None = None,
    font: str = "simple",
    inline_image: tuple[int, int, bytes] | None = None,
    image_raw: tuple[int, int, bytes] | None = None,
) -> bytes:
    """Pages of interleaved elements → a real PDF file.

    Each element is either a word ``(text, x, y_top)`` (a ``BT..Tj..ET``
    block) or an image placement ``(None, x, y_top, w, h)`` (a
    ``q <w> 0 0 <h> <x> <y> cm /Im0 Do Q`` XObject invocation referencing a
    shared 1×1 image — the placement geometry, which is what the parser
    reads back, is real). ``y_top`` is in top-left image coordinates (what
    the layout operators use); the writer converts to PDF's bottom-left
    convention.

    ``compress=True`` emits ``/Filter /FlateDecode`` content streams
    (``compress="lzw"`` → ``/Filter /LZWDecode``; ``compress="a85+flate"``
    → the cascaded ``[/ASCII85Decode /FlateDecode]`` chain),
    ``font="type0"`` typesets text as a composite Type0 / Identity-H font —
    2-byte CID hex-string shows resolved through a real ``/ToUnicode`` CMap
    (how CJK and subset-embedded fonts carry text in the wild) — and
    ``use_tm=True`` positions text with absolute ``Tm`` matrices instead of
    ``Td`` — the two real-world shapes the parser must read back
    identically (round-trip tested). ``image_jpeg`` embeds a REAL baseline
    JPEG as the shared image XObject (``/Filter /DCTDecode`` — how PDFs
    actually carry photos) instead of the 1×1 gray placeholder;
    ``pdf_media_table`` extracts those bytes back per placement.
    ``inline_image=(w, h, raw_rgb_bytes)`` emits media placements as
    BI..ID..EI INLINE images (binary embedded straight in the content
    stream, PDF 8.9.7) instead of XObject invocations.
    """
    n = len(pages)
    font_num = 3 + 2 * n
    img_num = font_num + 1
    cid_of: dict[str, int] = {}
    if font == "type0":  # CIDs assigned in first-use order, 1-based
        for elements in pages:
            for el in elements:
                if el[0] is not None:
                    for ch in el[0]:
                        cid_of.setdefault(ch, len(cid_of) + 1)
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n))
    objs: list[tuple[int, bytes]] = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, f"<< /Type /Pages /Count {n} /Kids [{kids}] >>".encode()),
    ]
    for i, elements in enumerate(pages):
        pg_num, ct_num = 3 + 2 * i, 4 + 2 * i
        parts = []
        for el in elements:
            if el[0] is None:  # media placement
                _, x, y_top, w, h = el
                y_pdf = PAGE_H - float(y_top) - float(h)
                geom = (
                    f"{float(w):g}".encode(),
                    f"{float(h):g}".encode(),
                    f"{float(x):g}".encode(),
                    f"{y_pdf:g}".encode(),
                )
                if inline_image is not None:
                    iw, ih, raw = inline_image
                    parts.append(
                        b"q %s 0 0 %s %s %s cm BI /W %d /H %d /BPC 8 /CS /RGB ID "
                        % (geom + (iw, ih))
                        + raw
                        + b"\nEI Q"
                    )
                else:
                    parts.append(b"q %s 0 0 %s %s %s cm /Im0 Do Q" % geom)
                continue
            text, x, y_top = el
            y_pdf = PAGE_H - float(y_top) - font_size
            pos_op = b"1 0 0 1 %s %s Tm" if use_tm else b"%s %s Td"
            if font == "type0":  # 2-byte CID hex-string show
                show = b"<%s> Tj" % "".join(
                    f"{cid_of[ch]:04x}" for ch in text
                ).encode()
            else:
                show = b"(%s) Tj" % _esc(text)
            parts.append(
                b"BT /F1 %s Tf " % f"{font_size:g}".encode()
                + pos_op
                % (f"{float(x):g}".encode(), f"{y_pdf:g}".encode())
                + b" " + show + b" ET"
            )
        stream = b"\n".join(parts)
        objs.append(
            (
                pg_num,
                (
                    f"<< /Type /Page /Parent 2 0 R "
                    f"/MediaBox [0 0 {PAGE_W:g} {PAGE_H:g}] "
                    f"/Resources << /Font << /F1 {font_num} 0 R >> "
                    f"/XObject << /Im0 {img_num} 0 R >> >> "
                    f"/Contents {ct_num} 0 R >>"
                ).encode(),
            )
        )
        if compress == "lzw":
            stream = lzw_encode_pdf(stream)
            filt = b" /Filter /LZWDecode"
        elif compress == "a85+flate":
            # deflate then ASCII85-armor; the Filter array lists DECODING
            # order, so ASCII85Decode comes first
            stream = base64.a85encode(zlib.compress(stream), adobe=True)
            filt = b" /Filter [/ASCII85Decode /FlateDecode]"
        elif compress == "rle":
            stream = rle_encode_pdf(stream)
            filt = b" /Filter /RunLengthDecode"
        elif compress:
            stream = zlib.compress(stream)
            filt = b" /Filter /FlateDecode"
        else:
            filt = b""
        objs.append(
            (
                ct_num,
                b"<< /Length %d%s >>\nstream\n%s\nendstream"
                % (len(stream), filt, stream),
            )
        )
    if font == "type0":
        desc_num, tou_num = img_num + 1, img_num + 2
        objs.append(
            (
                font_num,
                (
                    f"<< /Type /Font /Subtype /Type0 /BaseFont /Helvetica "
                    f"/Encoding /Identity-H /DescendantFonts [{desc_num} 0 R] "
                    f"/ToUnicode {tou_num} 0 R >>"
                ).encode(),
            )
        )
        objs.append(
            (
                desc_num,
                b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Helvetica "
                b"/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) "
                b"/Supplement 0 >> >>",
            )
        )
        cmap_z = zlib.compress(_tounicode_cmap(cid_of))
        objs.append(
            (
                tou_num,
                b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream"
                % (len(cmap_z), cmap_z),
            )
        )
    else:
        objs.append(
            (font_num, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
        )
    if image_raw is not None:
        # raw-bitmap XObject (the scanned-page / screenshot wild shape:
        # Flate-compressed pixels, no image codec): channels inferred from
        # the byte count → DeviceGray or DeviceRGB
        rw, rh, pix = image_raw
        cs = b"/DeviceRGB" if len(pix) == rw * rh * 3 else b"/DeviceGray"
        comp = zlib.compress(pix)
        objs.append(
            (
                img_num,
                b"<< /Type /XObject /Subtype /Image /Width %d /Height %d "
                b"/ColorSpace %s /BitsPerComponent 8 "
                b"/Filter /FlateDecode /Length %d >>\nstream\n%s\nendstream"
                % (rw, rh, cs, len(comp), comp),
            )
        )
    elif image_jpeg is not None:
        from ..operators.multimodal import _jpeg_dims

        dims = _jpeg_dims(image_jpeg) or (1, 1)
        objs.append(
            (
                img_num,
                b"<< /Type /XObject /Subtype /Image /Width %d /Height %d "
                b"/ColorSpace /DeviceRGB /BitsPerComponent 8 "
                b"/Filter /DCTDecode /Length %d >>\nstream\n%s\nendstream"
                % (dims[0], dims[1], len(image_jpeg), image_jpeg),
            )
        )
    else:
        objs.append(
            (
                img_num,
                b"<< /Type /XObject /Subtype /Image /Width 1 /Height 1 "
                b"/ColorSpace /DeviceGray /BitsPerComponent 8 /Length 1 >>\n"
                b"stream\n\x00\nendstream",
            )
        )

    out = bytearray(b"%PDF-1.4\n")
    offsets: dict[int, int] = {}
    for num, body in objs:
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_pos = len(out)
    max_num = max(offsets)
    out += f"xref\n0 {max_num + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for num in range(1, max_num + 1):
        out += f"{offsets.get(num, 0):010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {max_num + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_pos}\n%%EOF"
    ).encode()
    return bytes(out)


# ----------------------------------------------------------------------
# standard security handler (PDF 7.6.2-7.6.4): RC4 V1/R2, empty user
# password — the common "encrypted but openable without a password" form.
# Pure stdlib (hashlib MD5 + a 12-line RC4); R3/R4-AES stay out of scope.
# ----------------------------------------------------------------------

#: the 32-byte password padding string from PDF 32000 Table 21 (7.6.3.3)
_PW_PAD = bytes(
    [
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
        0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
        0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    ]
)


def _rc4(key: bytes, data: bytes) -> bytes:
    s = list(range(256))
    j = 0
    for i in range(256):
        j = (j + s[i] + key[i % len(key)]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for n, ch in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[n] = ch ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


def _pad_pw(pw: bytes) -> bytes:
    return (pw + _PW_PAD)[:32]


def _file_key(
    user_pw: bytes,
    o_value: bytes,
    p: int,
    id0: bytes,
    r: int = 2,
    n: int = 5,
    extra: bytes = b"",
) -> bytes:
    """Algorithm 2 (7.6.3.3): MD5(padded pw ‖ O ‖ P-as-int32-LE ‖ ID0
    [‖ FFFFFFFF for R4 /EncryptMetadata false — step f]); R≥3 re-hashes
    the first ``n`` bytes 50 times. Returns ``n`` key bytes (5 for V1/R2
    40-bit, typically 16 for V2/R3 128-bit and V4/R4 AES)."""
    import hashlib

    h = hashlib.md5()
    h.update(_pad_pw(user_pw))
    h.update(o_value)
    h.update((p & 0xFFFFFFFF).to_bytes(4, "little"))
    h.update(id0)
    h.update(extra)
    key = h.digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:n]).digest()
    return key[:n]


def _owner_key(owner_pw: bytes, r: int, n: int) -> bytes:
    """Algorithm 3 step (a)-(d): MD5 of the padded owner password, 50×
    re-hashed for R≥3; first ``n`` bytes."""
    import hashlib

    h = hashlib.md5(_pad_pw(owner_pw)).digest()
    if r >= 3:
        for _ in range(50):
            h = hashlib.md5(h).digest()
    return h[:n]


def _compute_o(owner_pw: bytes, user_pw: bytes, r: int, n: int) -> bytes:
    """Algorithm 3: RC4 of the padded user password under the owner key;
    R≥3 adds 19 passes with the key bytes XORed by the pass number."""
    okey = _owner_key(owner_pw, r, n)
    o = _rc4(okey, _pad_pw(user_pw))
    if r >= 3:
        for i in range(1, 20):
            o = _rc4(bytes(b ^ i for b in okey), o)
    return o


def _compute_u(fkey: bytes, id0: bytes, r: int) -> bytes:
    """Algorithm 4 (R2) / Algorithm 5 (R≥3): the user-password check value.
    R≥3 hashes PAD‖ID0, runs 20 RC4 passes, pads to 32 bytes; verification
    compares only the first 16."""
    import hashlib

    if r == 2:
        return _rc4(fkey, _PW_PAD)
    u = _rc4(fkey, hashlib.md5(_PW_PAD + id0).digest())
    for i in range(1, 20):
        u = _rc4(bytes(b ^ i for b in fkey), u)
    return u + b"\x00" * 16


def _hash_2b(pw: bytes, salt: bytes, udata: bytes = b"", r: int = 6) -> bytes:
    """Password hash for the AES-256 handler: plain SHA-256(pw‖salt‖udata)
    for the deprecated R5, the hardened Algorithm 2.B iteration for R6
    (PDF 32000-2 §7.6.4.3.4: ≥64 rounds of AES-128-CBC over 64 copies of
    pw‖K‖udata, hash picked by E[:16] mod 3, until E[-1] ≤ round-32)."""
    import hashlib

    k = hashlib.sha256(pw + salt + udata).digest()
    if r == 5:
        return k
    from .aes import cbc_encrypt

    i = 0
    while True:
        k1 = (pw + k + udata) * 64
        e = cbc_encrypt(k[:16], k[16:32], k1, pad=False)
        k = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[sum(e[:16]) % 3](
            e
        ).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]


def _object_key(file_key: bytes, num: int, gen: int = 0, aes: bool = False) -> bytes:
    """Algorithm 1 (7.6.2): per-object key = MD5(file_key ‖ objnum[3 LE]
    ‖ gen[2 LE] ‖ [``sAlT`` for AESV2]) truncated to len(file_key)+5 (≤16)."""
    import hashlib

    h = hashlib.md5(
        file_key
        + num.to_bytes(3, "little")
        + gen.to_bytes(2, "little")
        + (b"sAlT" if aes else b"")
    ).digest()
    return h[: min(len(file_key) + 5, 16)]


def _unescape_literal(raw: bytes) -> bytes:
    """Inner bytes of a literal string ``(...)`` → value bytes (7.3.4.2:
    backslash escapes, 1-3 digit octal, escaped-newline continuation)."""
    out = bytearray()
    i, n = 0, len(raw)
    esc = {0x6E: 0x0A, 0x72: 0x0D, 0x74: 0x09, 0x62: 0x08, 0x66: 0x0C,
           0x28: 0x28, 0x29: 0x29, 0x5C: 0x5C}
    while i < n:
        b = raw[i]
        if b != 0x5C:
            out.append(b)
            i += 1
            continue
        i += 1
        if i >= n:
            break
        b = raw[i]
        if b in esc:
            out.append(esc[b])
            i += 1
        elif 0x30 <= b <= 0x37:  # octal, up to 3 digits
            v, k = 0, 0
            while k < 3 and i < n and 0x30 <= raw[i] <= 0x37:
                v = (v << 3) | (raw[i] - 0x30)
                i += 1
                k += 1
            out.append(v & 0xFF)
        elif b in (0x0A, 0x0D):  # line continuation
            i += 1
            if b == 0x0D and i < n and raw[i] == 0x0A:
                i += 1
        else:  # lone backslash: drop it, keep the char
            out.append(b)
            i += 1
    return bytes(out)


def _escape_literal(value: bytes) -> bytes:
    """Value bytes → a literal string token ``(...)`` (printable ASCII raw,
    ``()\\`` backslash-escaped, everything else 3-digit octal)."""
    out = bytearray(b"(")
    for b in value:
        if b in (0x28, 0x29, 0x5C):
            out += b"\\" + bytes([b])
        elif 0x20 <= b < 0x7F:
            out.append(b)
        else:
            out += b"\\%03o" % b
    out += b")"
    return bytes(out)


def _transform_strings(seg: bytes, fn, emit: str) -> bytes:
    """Apply ``fn(value_bytes) -> bytes`` to every string object in a
    non-payload object segment, re-emitting each as a hex string
    (``emit='hex'`` — the encrypting direction, since ciphertext bytes
    need no escaping) or a literal (``emit='literal'`` — the decrypting
    direction). ``<<``/``>>`` dict delimiters pass through; comments are
    not handled (the fixture writers emit none inside objects)."""
    out = bytearray()
    i, n = 0, len(seg)
    while i < n:
        b = seg[i]
        if b == 0x28:  # ( literal string: scan to balancing ) past escapes
            depth, j = 1, i + 1
            while j < n and depth:
                c = seg[j]
                if c == 0x5C:
                    j += 2
                    continue
                if c == 0x28:
                    depth += 1
                elif c == 0x29:
                    depth -= 1
                j += 1
            value = fn(_unescape_literal(seg[i + 1 : j - 1]))
            out += _escape_literal(value) if emit == "literal" else (
                b"<" + value.hex().encode() + b">"
            )
            i = j
        elif b == 0x3C:  # < : hex string unless << dict-open
            if i + 1 < n and seg[i + 1] == 0x3C:
                out += b"<<"
                i += 2
                continue
            j = seg.find(b">", i + 1)
            if j == -1:
                out.append(b)
                i += 1
                continue
            hx = bytes(c for c in seg[i + 1 : j] if not chr(c).isspace())
            if len(hx) % 2:
                hx += b"0"
            value = fn(bytes.fromhex(hx.decode()))
            out += _escape_literal(value) if emit == "literal" else (
                b"<" + value.hex().encode() + b">"
            )
            i = j + 1
        elif b == 0x3E and i + 1 < n and seg[i + 1] == 0x3E:
            out += b">>"
            i += 2
        else:
            out.append(b)
            i += 1
    return bytes(out)


def _crypt_object_body(body: bytes, stream_fn, string_fn, emit: str) -> bytes:
    """Run the crypt transforms over one object body: ``stream_fn`` on the
    raw stream payload (if any), ``string_fn`` on every string object in
    the surrounding segments (7.6.2: the standard handler encrypts strings
    AND streams). ``/Length`` is re-patched when the payload size changes
    (AES adds IV + padding; RC4 is length-preserving)."""
    i = body.find(b"stream")
    if i == -1:
        return _transform_strings(body, string_fn, emit)
    j = i + len(b"stream")
    if body[j : j + 2] == b"\r\n":
        j += 2
    elif body[j : j + 1] == b"\n":
        j += 1
    lm = _LENGTH_RE.search(body[:i])
    ln = int(lm.group(1)) if lm else max(body.find(b"endstream", j) - j, 0)
    payload = stream_fn(body[j : j + ln])
    head = _transform_strings(body[:i], string_fn, emit)
    if len(payload) != ln:
        head = _LENGTH_RE.sub(b"/Length %d" % len(payload), head, count=1)
    return head + body[i:j] + payload + _transform_strings(body[j + ln :], string_fn, emit)


def encrypt_pdf(
    data: bytes,
    owner_pw: str = "owner",
    revision: int = 2,
    cfm_v2: bool = False,
    encrypt_metadata: bool = True,
) -> bytes:
    """Encrypt a classic writer-output file with the standard security
    handler — ``revision=2`` (V1, 40-bit RC4), ``revision=3`` (V2, 128-bit
    RC4) or ``revision=4`` (V4, AES-128-CBC via the AESV2 crypt filter —
    the modern default for encrypted PDFs) — with an EMPTY user password:
    every object's stream payload AND string objects are encrypted under
    the per-object key (7.6.2: the handler covers strings too), an
    /Encrypt dictionary + /ID land in the trailer. Produces the shape most
    'protected' PDFs use — openable by any reader without a password.
    AES IVs are derived deterministically from (id0, objnum, counter) so
    fixtures are byte-reproducible. Wild-shape knobs (revision 4 only):
    ``cfm_v2=True`` emits the /CFM /V2 crypt filter (RC4-128 routed
    through the V4 crypt-filter machinery — how some writers 'upgraded'
    to V4 without AES) and ``encrypt_metadata=False`` exercises the
    Algorithm-2 step-f key-derivation variant (/EncryptMetadata false →
    FFFFFFFF appended to the MD5)."""
    import hashlib

    if revision not in (2, 3, 4, 5, 6):
        raise ValueError(
            "revision must be 2 (40-bit RC4), 3 (128-bit RC4), 4 (AES-128), "
            "5 or 6 (AES-256)"
        )
    n = 5 if revision == 2 else 16
    objs = _objects(data)
    id0 = hashlib.md5(b"autoextract-fixture" + len(data).to_bytes(4, "big")).digest()
    p = -1  # all permissions
    if revision >= 5:
        # AES-256 handler (§7.6.4.4): the file key is random, wrapped into
        # /UE and /OE under password-derived keys — deterministic here for
        # fixture reproducibility.
        from .aes import AES as _AESCls, cbc_encrypt as _cbc_e
        import numpy as _np

        fkey = hashlib.sha256(b"autoextract-r6-filekey" + id0).digest()
        vsalt = hashlib.md5(id0 + b"uv").digest()[:8]
        ksalt = hashlib.md5(id0 + b"uk").digest()[:8]
        u_value = _hash_2b(b"", vsalt, r=revision) + vsalt + ksalt
        ue = _cbc_e(_hash_2b(b"", ksalt, r=revision), b"\0" * 16, fkey, pad=False)
        ovsalt = hashlib.md5(id0 + b"ov").digest()[:8]
        oksalt = hashlib.md5(id0 + b"ok").digest()[:8]
        opw = owner_pw.encode()[:127]
        o_value = _hash_2b(opw, ovsalt, u_value, r=revision) + ovsalt + oksalt
        oe = _cbc_e(
            _hash_2b(opw, oksalt, u_value, r=revision), b"\0" * 16, fkey, pad=False
        )
        perms_pt = (
            (p & 0xFFFFFFFF).to_bytes(4, "little")
            + b"\xff\xff\xff\xff" + b"Tadb" + hashlib.md5(id0 + b"rn").digest()[:4]
        )
        perms = _AESCls(fkey).encrypt_blocks(
            _np.frombuffer(perms_pt, _np.uint8)[None, :]
        ).tobytes()
    else:
        extra = b""
        if revision == 4 and not encrypt_metadata:
            extra = b"\xff\xff\xff\xff"  # Algorithm 2 step f
        o_value = _compute_o(owner_pw.encode(), b"", min(revision, 3), n)
        fkey = _file_key(b"", o_value, p, id0, min(revision, 3), n, extra)
        u_value = _compute_u(fkey, id0, min(revision, 3))

    enc_num = max(objs) + 1
    out = bytearray(
        b"%PDF-1.4\n" if revision < 4 else
        (b"%PDF-1.6\n" if revision == 4 else b"%PDF-1.7\n")
    )
    offsets: dict[int, int] = {}
    for num in sorted(objs):
        if revision < 4 or (revision == 4 and cfm_v2):
            okey = _object_key(fkey, num)
            stream_fn = string_fn = lambda b, k=okey: _rc4(k, b)
        else:
            from .aes import cbc_encrypt

            # AESV2 derives a per-object key; AESV3 uses the file key direct
            okey = _object_key(fkey, num, aes=True) if revision == 4 else fkey
            ctr = [0]

            def _enc_aes(b, k=okey, num=num, ctr=ctr):
                iv = hashlib.md5(
                    id0 + num.to_bytes(4, "big") + ctr[0].to_bytes(4, "big")
                ).digest()
                ctr[0] += 1
                return iv + cbc_encrypt(k, iv, b)

            stream_fn = string_fn = _enc_aes
        body = _crypt_object_body(objs[num], stream_fn, string_fn, emit="hex")
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
    offsets[enc_num] = len(out)
    if revision == 4:
        cfm = "/V2" if cfm_v2 else "/AESV2"
        meta_part = "" if encrypt_metadata else "/EncryptMetadata false "
        dictpart = (
            "/V 4 /R 4 /Length 128 "
            f"/CF << /StdCF << /CFM {cfm} /AuthEvent /DocOpen /Length 16 >> >> "
            f"/StmF /StdCF /StrF /StdCF {meta_part}"
        )
    elif revision >= 5:
        dictpart = (
            f"/V 5 /R {revision} /Length 256 "
            "/CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen /Length 32 >> >> "
            "/StmF /StdCF /StrF /StdCF "
            f"/OE <{oe.hex()}> /UE <{ue.hex()}> /Perms <{perms.hex()}> "
        )
    else:
        v = {2: 1, 3: 2}[revision]
        lenpart = "" if revision == 2 else f"/Length {8 * n} "
        dictpart = f"/V {v} /R {revision} {lenpart}"
    out += (
        f"{enc_num} 0 obj\n<< /Filter /Standard {dictpart}"
        f"/O <{o_value.hex()}> /U <{u_value.hex()}> /P {p} >>\nendobj\n"
    ).encode()
    xref_pos = len(out)
    max_num = enc_num
    out += f"xref\n0 {max_num + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for num in range(1, max_num + 1):
        out += f"{offsets.get(num, 0):010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {max_num + 1} /Root 1 0 R "
        f"/Encrypt {enc_num} 0 R /ID [<{id0.hex()}> <{id0.hex()}>] >>\n"
        f"startxref\n{xref_pos}\n%%EOF"
    ).encode()
    return bytes(out)


_ENCRYPT_REF_RE = re.compile(rb"/Encrypt\s+(\d+)\s+0\s+R")
_ID0_RE = re.compile(rb"/ID\s*\[\s*<([0-9A-Fa-f]+)>")
_OHEX_RE = re.compile(rb"/O\s*<([0-9A-Fa-f]+)>")
_UHEX_RE = re.compile(rb"/U\s*<([0-9A-Fa-f]+)>")
_UEHEX_RE = re.compile(rb"/UE\s*<([0-9A-Fa-f]+)>")
_PVAL_RE = re.compile(rb"/P\s+(-?\d+)")
_VNUM_RE = re.compile(rb"/V\s+(\d+)")
_RNUM_RE = re.compile(rb"/R\s+(\d+)")
_KEYBITS_RE = re.compile(rb"/Length\s+(\d+)")


def _decrypt_objects(objs: dict[int, bytes], data: bytes) -> None:
    """If the trailer names a standard-handler /Encrypt dict at V1/R2
    (40-bit RC4), V2/R3 (RC4 up to 128-bit) or V4/R4 with an /AESV2
    (AES-128-CBC) or /V2 (RC4) crypt filter — together the overwhelming
    majority of wild encrypted PDFs — verify the EMPTY user password
    (Algorithm 6: recomputed U matches) and decrypt every object's stream
    payload AND string objects in place (7.6.2 covers both; AES streams
    carry a 16-byte IV prefix + PKCS#7 padding, so /Length is re-patched).
    Unsupported revisions (AES-256 R6) or a failed password check leave
    objects untouched (→ zero words, flagged via pdf_meta — O6
    containment; password-protected content is honestly unreadable, never
    garbage)."""
    tail = data[-2048:]
    em = _ENCRYPT_REF_RE.search(tail)
    idm = _ID0_RE.search(tail)
    if not em:
        return
    enc = objs.pop(int(em.group(1)), None)  # the dict itself is plaintext
    if enc is None:
        return
    vm, rm = _VNUM_RE.search(enc), _RNUM_RE.search(enc)
    if not (vm and rm):
        return
    v, r = int(vm.group(1)), int(rm.group(1))
    aes = False
    if (v, r) in ((1, 2), (2, 3)):
        pass  # classic RC4
    elif v == 4 and r == 4:
        # crypt-filter indirection: /StdCF names the method
        if re.search(rb"/CFM\s*/AESV2\b", enc):
            aes = True
        elif not re.search(rb"/CFM\s*/V2\b", enc):
            return  # /None, custom filters: honestly unreadable
    elif v == 5 and r in (5, 6):
        if not re.search(rb"/CFM\s*/AESV3\b", enc):
            return
        aes = True
    else:
        return  # unknown handler versions: honestly unreadable
    om, um, pm = _OHEX_RE.search(enc), _UHEX_RE.search(enc), _PVAL_RE.search(enc)
    if not (om and um and pm and (idm or v == 5)):
        return
    o_value = bytes.fromhex(om.group(1).decode())
    u_value = bytes.fromhex(um.group(1).decode())
    if v == 5:
        # AES-256 (§7.6.4.4): validate the EMPTY user password against
        # U[:32], then unwrap the file key from /UE under the key-salt hash
        uem = _UEHEX_RE.search(enc)
        if not uem or len(u_value) < 48:
            return
        from .aes import cbc_decrypt

        vsalt, ksalt = u_value[32:40], u_value[40:48]
        if _hash_2b(b"", vsalt, r=r) != u_value[:32]:
            return  # needs a real password: leave as-is
        ue = bytes.fromhex(uem.group(1).decode())
        if len(ue) != 32:
            return
        fkey = cbc_decrypt(_hash_2b(b"", ksalt, r=r), b"\0" * 16, ue, unpad=False)
    else:
        km = _KEYBITS_RE.search(enc)
        n = 5 if r == 2 else (int(km.group(1)) // 8 if km else 16)
        if aes:
            n = 16  # AESV2 is always a 128-bit key
        if not 5 <= n <= 16:
            return
        id0 = bytes.fromhex(idm.group(1).decode())
        extra = b""
        if r == 4 and re.search(rb"/EncryptMetadata\s+false", enc):
            extra = b"\xff\xff\xff\xff"  # Algorithm 2 step f
        fkey = _file_key(b"", o_value, int(pm.group(1)), id0, r, n, extra)
        # Algorithm 6: R2 compares all 32 bytes, R≥3 only the first 16
        check_len = 32 if r == 2 else 16
        if _compute_u(fkey, id0, min(r, 3))[:check_len] != u_value[:check_len]:
            return  # needs a real password: leave as-is
    if aes:
        from .aes import cbc_decrypt

        def _make_fns(num):
            # AESV2: per-object MD5-derived key; AESV3: the file key itself
            okey = _object_key(fkey, num, aes=True) if v == 4 else fkey

            def dec(b, k=okey):
                if len(b) < 32 or (len(b) - 16) % 16:
                    return b  # not valid IV+blocks: leave untouched
                return cbc_decrypt(k, b[:16], b[16:])

            return dec
    else:
        def _make_fns(num):
            okey = _object_key(fkey, num)
            return lambda b, k=okey: _rc4(k, b)

    for num in list(objs):
        fn = _make_fns(num)
        try:
            objs[num] = _crypt_object_body(objs[num], fn, fn, emit="literal")
        except Exception:
            pass  # malformed object: leave as-is, containment downstream


# ----------------------------------------------------------------------
# stream filters: LZWDecode (PDF 7.4.4 / TIFF rev 6) — pure Python
# ----------------------------------------------------------------------

#: LZW control codes (8-bit data): 256 clears the table, 257 ends the data
_LZW_CLEAR, _LZW_EOD = 256, 257


def lzw_encode_pdf(data: bytes) -> bytes:
    """PDF ``LZWDecode`` encoder: MSB-first variable-width codes starting at
    9 bits, EarlyChange=1 (the PDF default — the code width grows one code
    early on the decoder side). Used by the writer to produce real-world
    LZW-filtered fixtures; round-trip pinned against ``lzw_decode_pdf``."""
    out = bytearray()
    acc = nbits = 0

    def put(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code, width = 258, 9
    put(_LZW_CLEAR, width)
    w = b""
    for ch in data:
        c = bytes([ch])
        wc = w + c
        if wc in table:
            w = wc
            continue
        put(table[w], width)
        if next_code < 4095:
            table[wc] = next_code
            next_code += 1
            # encoder bumps at the natural boundary; the decoder's
            # EarlyChange bump lands on the same emitted code because its
            # table lags the encoder's by exactly one entry
            if next_code == (1 << width) and width < 12:
                width += 1
        else:  # table nearly full: clear before the decoder's cap
            put(_LZW_CLEAR, width)
            table = {bytes([i]): i for i in range(256)}
            next_code, width = 258, 9
        w = c
    if w:
        put(table[w], width)
    put(_LZW_EOD, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def lzw_decode_pdf(data: bytes) -> bytes:
    """PDF ``LZWDecode`` decoder (EarlyChange=1). Raises ``ValueError`` on
    corrupt streams — callers contain it per-document (O6)."""
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    prev: bytes | None = None
    acc = nbits = 0
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            nbits -= width
            code = (acc >> nbits) & ((1 << width) - 1)
            if code == _LZW_CLEAR:
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                width, prev = 9, None
                continue
            if code == _LZW_EOD:
                return bytes(out)
            if prev is None:
                if code >= len(table):
                    raise ValueError("LZW: first code not a literal")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                if len(table) < 4096:
                    table.append(prev + entry[:1])
            elif code == len(table):  # KwKwK
                entry = prev + prev[:1]
                if len(table) < 4096:
                    table.append(entry)
            else:
                raise ValueError("LZW: code beyond table")
            out += entry
            prev = entry
            # EarlyChange=1: grow one code early (matches common readers)
            if len(table) == (1 << width) - 1 and width < 12:
                width += 1
    return bytes(out)  # missing EOD: tolerate (real files sometimes do)


def rle_decode_pdf(data: bytes) -> bytes:
    """``/RunLengthDecode`` (PDF 7.4.5, PackBits-style): length byte L —
    0..127 copies the next L+1 bytes, 129..255 repeats the next byte
    257-L times, 128 ends the data."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        l = data[i]
        i += 1
        if l == 128:
            break
        if l < 128:
            out += data[i : i + l + 1]
            i += l + 1
        else:
            if i >= n:
                raise ValueError("RunLength: truncated run")
            out += bytes([data[i]]) * (257 - l)
            i += 1
    return bytes(out)


def rle_encode_pdf(data: bytes) -> bytes:
    """RunLengthDecode encoder (literal-runs + repeat-runs) for fixtures."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        # find a repeat run of >= 3
        j = i
        while j + 1 < n and data[j + 1] == data[j] and j - i < 127:
            j += 1
        if j - i >= 2:  # repeat run of length j-i+1 (3..128)
            out += bytes([257 - (j - i + 1), data[i]])
            i = j + 1
            continue
        # literal run until the next repeat-of-3 or 128 bytes
        k = i
        while k < n and k - i < 128:
            if k + 2 < n and data[k] == data[k + 1] == data[k + 2]:
                break
            k += 1
        out += bytes([k - i - 1]) + data[i:k]
        i = k
    out += b"\x80"
    return bytes(out)


_PREDICTOR_RE = re.compile(rb"/Predictor\s+(\d+)")
_COLUMNS_RE = re.compile(rb"/Columns\s+(\d+)")
_COLORS_RE = re.compile(rb"/Colors\s+(\d+)")
_BPC_RE = re.compile(rb"/BitsPerComponent\s+(\d+)")


def _tiff_unpredict(data: bytes, columns: int, colors: int = 1, bpc: int = 8) -> bytes:
    """TIFF Predictor 2 (horizontal differencing, 8-bit components): each
    sample adds its left neighbor within the row; no per-row tag byte."""
    if bpc != 8:
        raise ValueError("TIFF predictor: only 8-bit components supported")
    rowlen = columns * colors
    out = bytearray(data)
    for r0 in range(0, len(out) - rowlen + 1, rowlen):
        for k in range(colors, rowlen):
            out[r0 + k] = (out[r0 + k] + out[r0 + k - colors]) & 0xFF
    return bytes(out)


def _png_unpredict(data: bytes, columns: int, colors: int = 1, bpc: int = 8) -> bytes:
    """PNG predictors 10-15 (PDF 7.4.4.4): each row carries a filter-tag
    byte (None/Sub/Up/Average/Paeth) over ``columns*colors*bpc/8``-byte
    rows with a ``colors*bpc/8``-byte left-pixel stride. Real writers wrap
    ObjStm / xref streams this way (/Predictor 12 is the common case)."""
    bpp = max((colors * bpc + 7) // 8, 1)
    rowlen = (columns * colors * bpc + 7) // 8
    out = bytearray()
    prev = bytearray(rowlen)
    i = 0
    while i < len(data):
        tag = data[i]
        row = bytearray(data[i + 1 : i + 1 + rowlen])
        if len(row) < rowlen:
            row += bytes(rowlen - len(row))
        i += 1 + rowlen
        if tag == 1:  # Sub
            for k in range(bpp, rowlen):
                row[k] = (row[k] + row[k - bpp]) & 0xFF
        elif tag == 2:  # Up
            for k in range(rowlen):
                row[k] = (row[k] + prev[k]) & 0xFF
        elif tag == 3:  # Average
            for k in range(rowlen):
                left = row[k - bpp] if k >= bpp else 0
                row[k] = (row[k] + ((left + prev[k]) >> 1)) & 0xFF
        elif tag == 4:  # Paeth
            for k in range(rowlen):
                a = row[k - bpp] if k >= bpp else 0
                b = prev[k]
                c = prev[k - bpp] if k >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[k] = (row[k] + pred) & 0xFF
        elif tag != 0:
            raise ValueError(f"PNG predictor: bad filter tag {tag}")
        out += row
        prev = row
    return bytes(out)


# ----------------------------------------------------------------------
# parser
# ----------------------------------------------------------------------

_OBJ_RE = re.compile(rb"(\d+)\s+0\s+obj\b")
_KIDS_RE = re.compile(rb"/Kids\s*\[([^\]]*)\]")
_REF_RE = re.compile(rb"(\d+)\s+0\s+R")
#: /Contents as a single ref or an array of refs (concatenated in order)
_CONTENTS_RE = re.compile(rb"/Contents\s+(?:(\d+)\s+0\s+R|\[([^\]]*)\])")
_MEDIABOX_RE = re.compile(rb"/MediaBox\s*\[([^\]]*)\]")
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)")
_NUM = rb"-?[\d.]+"
_LIT = rb"\((?:[^()\\]|\\.)*\)"
#: one regex pass over the content stream: font set, text matrix, moves,
#: leading, shows (Tj / ' / TJ array), image placement (scale+translate cm
#: followed by an XObject Do), begin/end text object
_OP_RE = re.compile(
    rb"/F\d+\s+(?P<fs>[\d.]+)\s+Tf"
    rb"|(?P<tma>%(n)s)\s+%(n)s\s+%(n)s\s+(?P<tmd>%(n)s)\s+(?P<tme>%(n)s)\s+(?P<tmf>%(n)s)\s+Tm"
    rb"|(?P<tdx>%(n)s)\s+(?P<tdy>%(n)s)\s+(?P<tdop>TD|Td)"
    rb"|(?P<tl>%(n)s)\s+TL"
    rb"|(?P<tstar>T\*)"
    rb"|\((?P<lit>(?:[^()\\]|\\.)*)\)\s*(?P<showop>Tj|')"
    rb"|<(?P<hex>[0-9A-Fa-f\s]*)>\s*(?P<hexop>Tj|')"
    rb"|\[(?P<tjarr>(?:[^\[\]()]|%(lit)s)*)\]\s*TJ"
    rb"|(?P<cma>[\d.]+)\s+0\s+0\s+(?P<cmd>[\d.]+)\s+(?P<cme>%(n)s)\s+(?P<cmf>%(n)s)\s+cm\s*/(?P<doname>\w+)\s+Do"
    rb"|(?P<bt>BT)|(?P<et>ET)"
    % {b"n": _NUM, b"lit": _LIT}
)
#: TJ array items: literal string or kern offset (1/1000 em; ≤ -100 ⇒ gap)
_TJ_ITEM_RE = re.compile(rb"\((?P<s>(?:[^()\\]|\\.)*)\)|(?P<k>%s)" % _NUM)
_UNESC_RE = re.compile(rb"\\(.)")
#: kern offset magnitude (thousandths of an em) read as a word break
TJ_WORD_GAP = 100.0


def _objects(data: bytes) -> dict[int, bytes]:
    """Split the file into numbered object bodies.

    Walks the file SEQUENTIALLY and jumps over stream payloads (via
    ``/Length`` when present) before looking for ``endobj`` — raw stream
    bytes (an embedded DCTDecode JPEG, say) can contain runs matching
    ``<n> 0 obj`` / ``endobj`` that a whole-file regex scan would misread
    as object boundaries and corrupt the split. No xref table is consulted
    (objects are located by scanning); a stream without ``/Length`` falls
    back to the nearest ``endstream``."""
    objs: dict[int, bytes] = {}
    pos = 0
    while True:
        m = _OBJ_RE.search(data, pos)
        if not m:
            break
        cursor = m.end()
        si = data.find(b"stream", cursor)
        ei = data.find(b"endobj", cursor)
        if si != -1 and (ei == -1 or si < ei):
            # this object carries a stream: skip its payload bytes entirely
            j = si + len(b"stream")
            if data[j : j + 2] == b"\r\n":
                j += 2
            elif data[j : j + 1] == b"\n":
                j += 1
            lm = _LENGTH_RE.search(data, cursor, si)
            k = data.find(b"endstream", j + int(lm.group(1)) if lm else j)
            if k == -1 and lm:  # bad /Length: retry from the payload start
                k = data.find(b"endstream", j)
            ei = data.find(b"endobj", k if k != -1 else j)
        if ei == -1:  # malformed object: resume after its header
            pos = cursor
            continue
        objs.setdefault(int(m.group(1)), data[cursor:ei])
        pos = ei + len(b"endobj")
    # decrypt BEFORE ObjStm expansion: object streams are encrypted too
    _decrypt_objects(objs, data)
    _expand_objstms(objs)
    return objs


_OBJSTM_RE = re.compile(rb"/Type\s*/ObjStm\b")
_N_RE = re.compile(rb"/N\s+(\d+)")
_FIRST_RE = re.compile(rb"/First\s+(\d+)")


def _expand_objstms(objs: dict[int, bytes]) -> None:
    """PDF 1.5+ object streams: objects whose body is ``/Type /ObjStm``
    carry OTHER objects compressed inside their stream (header = N pairs of
    ``objnum offset``, offsets relative to ``/First``; bodies follow). The
    sequential scan can't see those, so expand them into the object map —
    this is what makes modern (1.5+) files readable without an xref stream
    decoder: the xref stream itself is only a lookup table, which the
    scanning parser never needed."""
    for body in list(objs.values()):
        if not _OBJSTM_RE.search(body):
            continue
        data = _stream_of(body)
        mn, mf = _N_RE.search(body), _FIRST_RE.search(body)
        if not (data and mn and mf):
            continue
        n, first = int(mn.group(1)), int(mf.group(1))
        try:
            nums = [int(x) for x in data[:first].split()]
        except ValueError:
            continue
        pairs = list(zip(nums[0::2], nums[1::2]))[:n]
        for k, (onum, off) in enumerate(pairs):
            end = first + pairs[k + 1][1] if k + 1 < len(pairs) else len(data)
            if 0 <= first + off <= end <= len(data):
                objs.setdefault(onum, data[first + off : end])


def to_objstm_pdf(data: bytes) -> bytes:
    """Repackage a classic (PDF 1.4) file from ``make_text_pdf`` into the
    PDF 1.5+ shape real-world writers emit: all dictionary-only objects move
    into a Flate-compressed ``/Type /ObjStm`` object stream, stream-carrying
    objects stay top-level, and a binary ``/Type /XRef`` cross-reference
    STREAM (``/W [1 2 2]``, type-2 entries pointing into the ObjStm)
    replaces the classic xref table + trailer. Used to build 1.5-shape
    fixtures; the parser reads them back identically (round-trip tested)."""
    objs = _objects(data)
    in_stream = {n: b for n, b in objs.items() if b.find(b"stream") != -1}
    packed = {n: b.strip() for n, b in objs.items() if n not in in_stream}
    stm_num = max(objs) + 1
    xref_num = stm_num + 1

    bodies = [packed[n] for n in sorted(packed)]
    offs: list[int] = []
    payload = bytearray()
    for b in bodies:
        offs.append(len(payload))
        payload += b + b"\n"
    header = " ".join(
        f"{n} {o}" for n, o in zip(sorted(packed), offs)
    ).encode() + b"\n"
    stm_data = zlib.compress(header + bytes(payload))

    out = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    positions: dict[int, int] = {}
    for n in sorted(in_stream):
        positions[n] = len(out)
        out += f"{n} 0 obj\n".encode() + in_stream[n] + b"\nendobj\n"
    positions[stm_num] = len(out)
    out += (
        f"{stm_num} 0 obj\n<< /Type /ObjStm /N {len(packed)} "
        f"/First {len(header)} /Filter /FlateDecode "
        f"/Length {len(stm_data)} >>\nstream\n".encode()
        + stm_data
        + b"\nendstream\nendobj\n"
    )
    # xref stream: W [1 4 2] rows (4-byte offsets: files can exceed 64 KiB)
    # for objects 0..xref_num, big-endian fields per PDF 7.5.8
    xref_pos = len(out)
    rows = bytearray()
    obj_in_stream_idx = {n: i for i, n in enumerate(sorted(packed))}
    for num in range(xref_num + 1):
        if num == 0:
            rows += bytes([0]) + (0).to_bytes(4, "big") + (65535).to_bytes(2, "big")
        elif num in positions or num == xref_num:
            pos = positions.get(num, xref_pos)
            rows += bytes([1]) + pos.to_bytes(4, "big") + (0).to_bytes(2, "big")
        elif num in obj_in_stream_idx:
            rows += (
                bytes([2])
                + stm_num.to_bytes(4, "big")
                + obj_in_stream_idx[num].to_bytes(2, "big")
            )
        else:
            rows += bytes([0]) + (0).to_bytes(4, "big") + (0).to_bytes(2, "big")
    xref_data = zlib.compress(bytes(rows))
    out += (
        (
            f"{xref_num} 0 obj\n<< /Type /XRef /Size {xref_num + 1} /W [1 4 2] "
            f"/Root 1 0 R /Filter /FlateDecode /Length {len(xref_data)} >>\nstream\n"
        ).encode()
        + xref_data
        + b"\nendstream\nendobj\n"
    )
    out += f"startxref\n{xref_pos}\n%%EOF".encode()
    return bytes(out)


#: the /Filter value: a single name or an array of names (decoding order)
_FILTERS_RE = re.compile(rb"/Filter\s*(/[A-Za-z0-9]+|\[[^\]]*\])")
#: filters that terminate decoding with the raw image bytes (the media
#: extraction path wants exactly those bytes back)
_IMAGE_FILTERS = (b"DCTDecode", b"JPXDecode", b"CCITTFaxDecode", b"JBIG2Decode")


def _stream_of(body: bytes) -> bytes:
    i = body.find(b"stream")
    if i == -1:
        return b""
    j = i + len(b"stream")
    if body[j : j + 2] == b"\r\n":
        j += 2
    elif body[j : j + 1] == b"\n":
        j += 1
    m = _LENGTH_RE.search(body[:i])
    if m:
        raw = body[j : j + int(m.group(1))]
    else:
        k = body.find(b"endstream", j)
        raw = body[j:k] if k != -1 else b""
    fm = _FILTERS_RE.search(body[:i])
    if not fm:
        return raw
    # apply the filter chain in array (= decoding) order: e.g. a stream
    # deflated then ASCII85-armored carries /Filter [/ASCII85Decode
    # /FlateDecode]. Image filters terminate with the raw payload; unknown
    # filters pass through unchanged (the text replay then finds no
    # operators → zero words, flagged via pdf_meta — O6 containment).
    for name in re.findall(rb"/([A-Za-z0-9]+)", fm.group(1)):
        if name in _IMAGE_FILTERS:
            return raw
        try:
            if name == b"FlateDecode":
                # decompressobj tolerates a trailing EOL before 'endstream'
                raw = zlib.decompressobj().decompress(raw)
            elif name == b"LZWDecode":
                raw = lzw_decode_pdf(raw)
            elif name == b"ASCII85Decode":
                raw = base64.a85decode(raw.strip(), adobe=True)
            elif name == b"RunLengthDecode":
                raw = rle_decode_pdf(raw)
            else:  # unsupported (Crypt, ...): honest pass-through
                return raw
            if name in (b"FlateDecode", b"LZWDecode"):
                pm = _PREDICTOR_RE.search(body[:i])
                if pm and int(pm.group(1)) >= 2:
                    cm = _COLUMNS_RE.search(body[:i])
                    com = _COLORS_RE.search(body[:i])
                    bm = _BPC_RE.search(body[:i])
                    cols = int(cm.group(1)) if cm else 1
                    colors = int(com.group(1)) if com else 1
                    bpc = int(bm.group(1)) if bm else 8
                    if int(pm.group(1)) >= 10:  # PNG predictors
                        raw = _png_unpredict(raw, cols, colors, bpc)
                    else:  # TIFF Predictor 2: horizontal differencing
                        raw = _tiff_unpredict(raw, cols, colors, bpc)
        except Exception:  # corrupt body → zero words, pdf_meta flags it
            return b""
    return raw


#: inline images (PDF 8.9.7): BI <params> ID <binary> EI embedded directly
#: in the content stream. BI must be followed by a parameter name — bare
#: "BI" inside shown text does not start an image.
_BI_RE = re.compile(rb"\bBI(?=[\s\x00]+/)")
_ID_RE = re.compile(rb"\bID[ \r\n]")
_INLINE_W_RE = re.compile(rb"/(?:W|Width)\s+(\d+)")
_INLINE_H_RE = re.compile(rb"/(?:H|Height)\s+(\d+)")
_INLINE_BPC_RE = re.compile(rb"/(?:BPC|BitsPerComponent)\s+(\d+)")
_INLINE_CS_RE = re.compile(rb"/(?:CS|ColorSpace)\s*/(\w+)")
_INLINE_F_RE = re.compile(rb"/(?:F|Filter)\s*/(\w+)")
_EI_RE = re.compile(rb"(?<=[\s\x00])EI(?=[\s\x00]|$)")
_INLINE_COMPS = {
    "RGB": 3, "DeviceRGB": 3, "G": 1, "DeviceGray": 1,
    "CMYK": 4, "DeviceCMYK": 4,
}


def _extract_inline_images(stream: bytes) -> tuple[bytes, dict[str, bytes]]:
    """Split BI..ID..EI inline images out of a content stream BEFORE the
    operator regex ever sees it — the binary payload could otherwise contain
    byte runs matching text operators and fabricate words. Each image block
    is replaced by a synthetic ``/IIk Do`` invocation (so the ordinary
    ``cm /Name Do`` placement machinery picks up its geometry) and the
    decoded payload is returned under that name. Raw (unfiltered) data is
    sliced by its exact computed length; Flate-abbreviated data falls back
    to a whitespace-delimited EI scan + inflate; anything unparseable copies
    the remainder verbatim (containment)."""
    images: dict[str, bytes] = {}
    out = bytearray()
    pos = 0
    k = 0
    while True:
        m = _BI_RE.search(stream, pos)
        if not m:
            out += stream[pos:]
            break
        idm = _ID_RE.search(stream, m.end())
        if not idm:
            out += stream[pos:]
            break
        params = stream[m.end() : idm.start()]
        data_start = idm.end()
        wm, hm = _INLINE_W_RE.search(params), _INLINE_H_RE.search(params)
        fm = _INLINE_F_RE.search(params)
        csm = _INLINE_CS_RE.search(params)
        bm = _INLINE_BPC_RE.search(params)
        comps = _INLINE_COMPS.get(csm.group(1).decode() if csm else "G", 1)
        bpc = int(bm.group(1)) if bm else 8
        payload = None
        end = -1
        if fm is None and wm and hm:
            ln = (int(wm.group(1)) * comps * bpc + 7) // 8 * int(hm.group(1))
            em = re.compile(rb"[\s\x00]*EI(?=[\s\x00]|$)").match(
                stream, data_start + ln
            )
            if em:
                payload = stream[data_start : data_start + ln]
                end = em.end()
        if payload is None:
            em = _EI_RE.search(stream, data_start)
            if not em:
                out += stream[pos:]
                break
            payload = stream[data_start : em.start()].rstrip(b"\r\n \t")
            end = em.end()
            if fm and fm.group(1) in (b"Fl", b"FlateDecode"):
                try:
                    payload = zlib.decompressobj().decompress(payload)
                except zlib.error:
                    payload = b""
        name = f"II{k}"
        images[name] = bytes(payload)
        k += 1
        out += stream[pos : m.start()] + b" /" + name.encode() + b" Do "
        pos = end
    return bytes(out), images


_FONT_BLOCK_RE = re.compile(rb"/Font\s*<<([^>]*)>>")
_TYPE0_RE = re.compile(rb"/Subtype\s*/Type0\b")
_TOUNICODE_RE = re.compile(rb"/ToUnicode\s+(\d+)\s+0\s+R")
_BFCHAR_BLOCK_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFPAIR_RE = re.compile(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>")
_BFRANGE_BLOCK_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_BFRANGE_RE = re.compile(
    rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]{4})>"
)


def _parse_tounicode(cmap: bytes) -> dict[int, str]:
    """/ToUnicode CMap stream → {CID: unicode string}: ``bfchar`` pairs
    (dst = UTF-16BE, possibly multi-unit) and 4-hex ``bfrange`` runs (the
    last code unit increments; array-form ranges are skipped)."""
    out: dict[int, str] = {}
    for block in _BFCHAR_BLOCK_RE.findall(cmap):
        for src, dst in _BFPAIR_RE.findall(block):
            try:
                out[int(src, 16)] = bytes.fromhex(
                    dst.decode() if len(dst) % 2 == 0 else dst.decode() + "0"
                ).decode("utf-16-be", errors="replace")
            except ValueError:
                continue
    for block in _BFRANGE_BLOCK_RE.findall(cmap):
        for lo, hi, start in _BFRANGE_RE.findall(block):
            lo_i, hi_i, base = int(lo, 16), int(hi, 16), int(start, 16)
            for k in range(min(hi_i - lo_i + 1, 0x10000)):
                if base + k > 0xFFFF:
                    break
                out.setdefault(
                    lo_i + k,
                    (base + k).to_bytes(2, "big").decode(
                        "utf-16-be", errors="replace"
                    ),
                )
    return out


def _page_cid_map(objs: dict[int, bytes], page_body: bytes) -> dict[int, str] | None:
    """Resolve the page's first font; when it is a composite Type0 font with
    a /ToUnicode CMap, return the CID→unicode map for hex-string shows.
    Simple fonts (or fonts without a CMap) return None — hex strings then
    fall back to the byte-level reading."""
    fm = _FONT_BLOCK_RE.search(page_body)
    if not fm:
        return None
    rm = _REF_RE.search(fm.group(1))
    if not rm:
        return None
    font = objs.get(int(rm.group(1)))
    if font is None or not _TYPE0_RE.search(font):
        return None
    tm = _TOUNICODE_RE.search(font)
    if not tm:
        return None
    tou = objs.get(int(tm.group(1)))
    if tou is None:
        return None
    return _parse_tounicode(_stream_of(tou)) or None


def _pdf_pages_ex(
    data: bytes,
) -> list[tuple[float, bytes, dict[int, str] | None, dict[str, bytes]]]:
    """→ ``[(page_height, content_stream_bytes, cid_map_or_None,
    inline_images)]`` in document order. Content streams come back with
    inline-image binaries already split out (replaced by ``/IIk Do``
    placements, payloads in the dict) so operator replay never scans
    image bytes."""
    objs = _objects(data)
    pages_body = next(
        (b for b in objs.values() if re.search(rb"/Type\s*/Pages\b", b)), None
    )
    if pages_body is None:
        return []
    kids = _KIDS_RE.search(pages_body)
    if not kids:
        return []
    out = []
    for ref in _REF_RE.findall(kids.group(1)):
        body = objs.get(int(ref))
        if body is None:
            continue
        mb = _MEDIABOX_RE.search(body)
        page_h = float(mb.group(1).split()[3]) if mb else PAGE_H
        cm = _CONTENTS_RE.search(body)
        stream = b""
        if cm:
            refs = (
                [cm.group(1)]
                if cm.group(1) is not None
                else _REF_RE.findall(cm.group(2))
            )
            # multiple content streams concatenate in order (PDF 32000 §7.8.2)
            stream = b"\n".join(
                _stream_of(objs.get(int(r), b"")) for r in refs
            )
        stream, inline = _extract_inline_images(stream)
        out.append((page_h, stream, _page_cid_map(objs, body), inline))
    return out


def pdf_pages(data: bytes) -> list[tuple[float, bytes]]:
    """→ ``[(page_height, content_stream_bytes)]`` in document order."""
    return [(h, s) for h, s, _, _ in _pdf_pages_ex(data)]


def pdf_page_count(data: bytes) -> int:
    return len(pdf_pages(data))


def _unesc(raw: bytes) -> str:
    return _UNESC_RE.sub(rb"\1", raw).decode("utf-8", errors="replace")


def _hex_text(raw: bytes, cid_map: dict[int, str] | None = None) -> str:
    """Hex string ``<...>`` → text. With a Type0 font's /ToUnicode map the
    bytes are 2-byte CIDs resolved through the map (unmapped CIDs drop).
    Without a font cmap the honest reading is byte-level: UTF-8 if it
    decodes, else Latin-1 (simple-font PDFs put ASCII there; composite-font
    glyph ids come out as replacement-ish text rather than crashing the
    parse). Odd-length hex pads a trailing 0 per PDF 32000 §7.3.4.3."""
    h = b"".join(raw.split())
    if len(h) % 2:
        h += b"0"
    try:
        b = bytes.fromhex(h.decode("ascii"))
    except ValueError:
        return ""
    if cid_map is not None:
        if len(b) % 2:
            b += b"\x00"
        return "".join(
            cid_map.get(int.from_bytes(b[i : i + 2], "big"), "")
            for i in range(0, len(b), 2)
        )
    try:
        return b.decode("utf-8")
    except UnicodeDecodeError:
        return b.decode("latin-1")


def _tj_array_text(arr: bytes) -> str:
    """TJ show-array → text: literal parts concatenate; a kern offset of
    magnitude ≥ TJ_WORD_GAP (thousandths of an em, negative = widen)
    between parts reads as a word break. The honest extraction without
    font-metric glyph advances."""
    parts: list[str] = []
    for m in _TJ_ITEM_RE.finditer(arr):
        if m.group("s") is not None:
            parts.append(_unesc(m.group("s")))
        elif abs(float(m.group("k"))) >= TJ_WORD_GAP and parts:
            parts.append(" ")
    return "".join(parts)


def _replay_text_ops(
    stream: bytes, page_h: float, cid_map: dict[int, str] | None = None
) -> list[tuple]:
    """Content stream → interleaved elements in stream order:
    ``("text", content, x, y_top, font_size)`` and
    ``("media", None, x, y_top, w, h)``.

    Text-positioning state per PDF 32000 §9.4 (simplified to translations +
    axis scales): ``Tm`` sets the line origin absolutely and carries the
    font scale in d; ``Td``/``TD`` translate the line origin; ``TL`` sets
    the leading consumed by ``T*`` and ``'``; ``BT`` resets everything.
    """
    out: list[tuple] = []
    fs = 12.0
    sy = 1.0  # Tm vertical scale (multiplies the nominal font size)
    lx = ly = 0.0  # line-start (line matrix translation)
    leading = 0.0

    def emit(text: str) -> None:
        eff = fs * sy
        out.append(("text", text, lx, page_h - ly - eff, eff))

    for m in _OP_RE.finditer(stream):
        g = m.lastgroup
        if g == "fs":  # Tf
            fs = float(m.group("fs"))
        elif g == "tmf":  # Tm: absolute line origin + scales
            sy = abs(float(m.group("tmd"))) or 1.0
            lx, ly = float(m.group("tme")), float(m.group("tmf"))
        elif g == "tdop":  # Td / TD (TD also sets leading = -ty)
            dx, dy = float(m.group("tdx")), float(m.group("tdy"))
            if m.group("tdop") == b"TD":
                leading = -dy
            lx += dx
            ly += dy
        elif g == "tl":
            leading = float(m.group("tl"))
        elif g == "tstar":
            ly -= leading
        elif g == "showop":  # Tj or ' (apostrophe = T* then show)
            if m.group("showop") == b"'":
                ly -= leading
            emit(_unesc(m.group("lit")))
        elif g == "hexop":  # hex-string show
            if m.group("hexop") == b"'":
                ly -= leading
            text = _hex_text(m.group("hex"), cid_map)
            if text:
                emit(text)
        elif g == "tjarr":
            text = _tj_array_text(m.group("tjarr"))
            if text:
                emit(text)
        elif g == "doname":  # cm + Do: image placement
            w, h = float(m.group("cma")), float(m.group("cmd"))
            x, y_pdf = float(m.group("cme")), float(m.group("cmf"))
            name = m.group("doname").decode("ascii", errors="replace")
            out.append(("media", name, x, page_h - y_pdf - h, w, h))
        elif g == "bt":
            lx = ly = 0.0
            sy = 1.0
            leading = 0.0
    return out


def pdf_word_rows(doc_id: str, data: bytes) -> list[dict]:
    """PDF bytes → ``ocr_words``-shaped rows. Raises ``ValueError`` past the
    reference's 10-page cap (callers convert to an error row, never a task
    failure)."""
    pages = _pdf_pages_ex(data)
    if len(pages) > MAX_PAGES:
        raise ValueError(
            f"PDF has too many pages ({len(pages)}). Maximum supported: {MAX_PAGES}"
        )
    rows = []
    media_n = 0
    for page_no, (page_h, stream, cid_map, _inline) in enumerate(pages, start=1):
        for seq, el in enumerate(_replay_text_ops(stream, page_h, cid_map)):
            if el[0] == "media":
                _, _, x, y_top, w, h = el
                x0, y0, x1, y1 = x, y_top, x + w, y_top + h
                rows.append(
                    {
                        "doc_id": doc_id,
                        "page": page_no,
                        "word_seq": seq,
                        "kind": "media",
                        "content": None,
                        "media_ref": f"pdf:{doc_id}:{media_n}",
                        "rec_score": 1.0,
                        "points": [[x0, y0], [x1, y0], [x1, y1], [x0, y1]],
                    }
                )
                media_n += 1
                continue
            _, text, x, y_top, fs = el
            w = CHAR_W * fs * max(len(text), 1)
            x0, y0, x1, y1 = x, y_top, x + w, y_top + fs
            rows.append(
                {
                    "doc_id": doc_id,
                    "page": page_no,
                    "word_seq": seq,
                    "kind": "text",
                    "content": text,
                    "media_ref": None,
                    "rec_score": 1.0,
                    "points": [[x0, y0], [x1, y0], [x1, y1], [x0, y1]],
                }
            )
    return rows


# ----------------------------------------------------------------------
# Spark operators
# ----------------------------------------------------------------------

PDF_WORDS_DDL = (
    "doc_id string, page int, word_seq int, kind string, content string, "
    "media_ref string, rec_score double, points array<array<double>>"
)
PDF_META_DDL = "doc_id string, n_pages int, valid boolean, error string"
_WORD_COLS = [
    "doc_id", "page", "word_seq", "kind", "content",
    "media_ref", "rec_score", "points",
]


def pdf_words_table(pdfs: DataFrame, payload_col: str = "payload") -> DataFrame:
    """``(doc_id, payload)`` PDFs → word boxes in the ``ocr_words`` shape,
    ready for ``layout.order_words`` / ``layout.spans_table``. Invalid or
    over-cap documents contribute zero rows here and an error row in
    ``pdf_meta`` (O6 containment)."""

    def pdf_words(doc_id, payload):
        try:
            rows = pdf_word_rows(str(doc_id), payload or b"")
        except Exception:
            return []
        return [tuple(r[c] for c in _WORD_COLS) for r in rows]

    return flat_map_rows(pdfs.select("doc_id", payload_col), pdf_words, PDF_WORDS_DDL)


def pdf_meta(pdfs: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Per-document parse status: page count, validity, error message — the
    engine's analogue of the reference's failed-status row (pdf.py:97-109)."""

    def pdf_meta_row(doc_id, payload):
        doc_id = str(doc_id)
        try:
            n_pages = pdf_page_count(payload or b"")
        except Exception as exc:  # O6: adversarial bytes → error row
            return doc_id, 0, False, f"parse failure: {exc}"[:200]
        if n_pages == 0:
            return doc_id, 0, False, "no parseable pages"
        if n_pages > MAX_PAGES:
            return (
                doc_id, n_pages, False,
                f"PDF has too many pages ({n_pages}). Maximum supported: {MAX_PAGES}",
            )
        return doc_id, n_pages, True, None

    return map_rows(pdfs.select("doc_id", payload_col), pdf_meta_row, PDF_META_DDL)


def render_docs_to_pdf(
    docs: DataFrame,
    max_tokens: int = 60,
    words_per_line: int = 6,
    lines_per_page: int = 5,
    text_col: str = "text",
    compress: bool | str = True,
    use_tm: bool = True,
    modern: bool = False,
    encrypt: bool = False,
    font: str = "simple",
) -> DataFrame:
    """Deterministically typeset each document's leading tokens into a real
    multi-page PDF payload — the sandbox stand-in for a landing prefix of
    uploaded PDFs (the round-trip ground truth stays in the source table).
    Defaults emit the REAL-WORLD shape — FlateDecode streams + ``Tm``
    positioning — so the driver-checked ``pdf_ingest_spans`` round-trip
    exercises the inflate + matrix paths; the plain ``Td`` uncompressed
    shape stays covered by the pytest round-trips.

    ``compress="mixed"`` rotates Flate / LZW / [ASCII85+Flate] / RunLength
    content-stream filters per document (keyed on the doc_id's trailing
    digit) and ``modern=True`` repackages each
    file into the PDF 1.5+ object-stream shape via ``to_objstm_pdf`` — the
    ``pdf_modern_ingest`` driver query uses both so the LZW and ObjStm paths
    are exercised under the same text-reassembly oracle. ``encrypt=True``
    RC4-encrypts each file with the standard security handler (V1/R2, empty
    user password) — the ``pdf_encrypted_ingest`` query's shape."""

    def render_pdf(doc_id, text):
        doc_id = str(doc_id)
        toks = str(text or "").split()[:max_tokens]
        pages: list[list[tuple[str, float, float]]] = []
        for i, tok in enumerate(toks):
            line = i // words_per_line
            page_i, line_in_page = divmod(line, lines_per_page)
            while len(pages) <= page_i:
                pages.append([])
            x = 50.0 + (i % words_per_line) * 90.0
            y = 60.0 + line_in_page * 40.0
            pages[page_i].append((tok, x, y))
        comp = compress
        if compress == "mixed":
            comp = [True, "lzw", "a85+flate", "rle"][
                int(doc_id[-1] or 0) % 4 if doc_id[-1].isdigit() else 0
            ]
        payload = make_text_pdf(pages or [[]], compress=comp, use_tm=use_tm, font=font)
        if modern:
            payload = to_objstm_pdf(payload)
        if encrypt == "mixed":
            # rotate the four cheap handler revisions per doc: RC4
            # 40/128-bit, AES-128 (AESV2), AES-256 (AESV3 R5). R6's
            # deliberately-slow 2.B hardening has its own small-set
            # query (pdf_aes256_ingest).
            d = doc_id[-1]
            rev = (2, 3, 4, 5)[int(d) % 4 if d.isdigit() else 0]
            payload = encrypt_pdf(payload, revision=rev)
        elif encrypt == "aes256r6":
            payload = encrypt_pdf(payload, revision=6)
        elif encrypt:
            payload = encrypt_pdf(payload)
        return doc_id, payload

    return map_rows(
        docs.select("doc_id", text_col), render_pdf, "doc_id string, payload binary"
    )


# ----------------------------------------------------------------------
# embedded media extraction (the payload half of interleaved documents)
# ----------------------------------------------------------------------

_XOBJ_BLOCK_RE = re.compile(rb"/XObject\s*<<([^>]*)>>")
_XOBJ_ENTRY_RE = re.compile(rb"/(\w+)\s+(\d+)\s+0\s+R")


def pdf_media_payloads(data: bytes) -> list[bytes]:
    """Placement-ordered embedded image payloads: each ``cm /Name Do`` is
    resolved through the page's ``/XObject`` resource map to its object's
    raw stream bytes (``/Filter /DCTDecode`` images come back as the actual
    JPEG file bytes — PDFs store photos as embedded JPEGs). Index k aligns
    with ``pdf_word_rows``'s ``pdf:{doc_id}:{k}`` media_ref numbering."""
    objs = _objects(data)
    pages_body = next(
        (b for b in objs.values() if re.search(rb"/Type\s*/Pages\b", b)), None
    )
    if pages_body is None:
        return []
    kids = _KIDS_RE.search(pages_body)
    if not kids:
        return []
    out: list[bytes] = []
    for ref in _REF_RE.findall(kids.group(1)):
        body = objs.get(int(ref))
        if body is None:
            continue
        xmap: dict[str, int] = {}
        xm = _XOBJ_BLOCK_RE.search(body)
        if xm:
            xmap = {
                name.decode("ascii"): int(num)
                for name, num in _XOBJ_ENTRY_RE.findall(xm.group(1))
            }
        mb = _MEDIABOX_RE.search(body)
        page_h = float(mb.group(1).split()[3]) if mb else PAGE_H
        cm = _CONTENTS_RE.search(body)
        stream = b""
        if cm:
            refs = (
                [cm.group(1)] if cm.group(1) is not None
                else _REF_RE.findall(cm.group(2))
            )
            stream = b"\n".join(_stream_of(objs.get(int(r), b"")) for r in refs)
        stream, inline = _extract_inline_images(stream)
        for el in _replay_text_ops(stream, page_h):
            if el[0] == "media":
                if el[1] in inline:  # BI..EI payload, already decoded
                    out.append(inline[el[1]])
                    continue
                objnum = xmap.get(el[1]) if el[1] else None
                out.append(
                    _image_file_payload(objs.get(objnum, b"")) if objnum else b""
                )
    return out


def _image_file_payload(body: bytes) -> bytes:
    """An image XObject's payload as a STANDALONE image file: DCTDecode
    (and other image-codec) streams are already complete files and pass
    through raw; an 8-bit DeviceGray/DeviceRGB raw bitmap (Flate or
    uncompressed — the scanned-page shape) is inflated and wrapped as a
    PNG so downstream multimodal kernels receive a decodable file rather
    than naked pixels. Anything else returns the decoded stream bytes
    unchanged (honest)."""
    i = body.find(b"stream")
    head = body[:i] if i != -1 else body
    fm = _FILTERS_RE.search(head)
    if fm and any(n in fm.group(1) for n in _IMAGE_FILTERS):
        return _stream_of(body)
    wm = re.search(rb"/Width\s+(\d+)", head)
    hm = re.search(rb"/Height\s+(\d+)", head)
    bm = re.search(rb"/BitsPerComponent\s+(\d+)", head)
    data = _stream_of(body)
    if not (wm and hm and bm and int(bm.group(1)) == 8):
        return data
    w, h = int(wm.group(1)), int(hm.group(1))
    n_ch = None
    if re.search(rb"/DeviceRGB\b", head) and len(data) == w * h * 3:
        n_ch = 3
    elif re.search(rb"/DeviceGray\b", head) and len(data) == w * h:
        n_ch = 1
    if n_ch is None:
        return data
    try:
        import numpy as _np

        from ..operators.png_codec import encode_png

        arr = _np.frombuffer(data, _np.uint8).reshape(h, w, n_ch)
        return encode_png(arr if n_ch == 3 else arr[:, :, 0])
    except Exception:
        return data


def pdf_media_table(pdfs: DataFrame, payload_col: str = "payload") -> DataFrame:
    """``(doc_id, payload)`` PDFs → one row per media PLACEMENT:
    ``(doc_id, media_ref, payload, fmt)`` with media_ref matching the span
    pipeline's ``pdf:{doc_id}:{k}`` placeholders — joining this table to the
    spans table on media_ref rehydrates interleaved documents with their
    actual media bytes, ready for the multimodal kernels (decode / resize /
    embed). Over-cap or unparseable docs contribute zero rows (O6)."""
    from ..operators.multimodal import sniff_format

    schema = "doc_id string, media_ref string, payload binary, fmt string"

    def pdf_media(doc_id, payload):
        b = payload or b""
        try:  # O6: adversarial bytes → zero rows, never task failure
            if pdf_page_count(b) > MAX_PAGES:
                return []
            media_list = pdf_media_payloads(b)
        except Exception:
            return []
        return [
            (str(doc_id), f"pdf:{doc_id}:{k}", media, sniff_format(media))
            for k, media in enumerate(media_list)
        ]

    return flat_map_rows(pdfs.select("doc_id", payload_col), pdf_media, schema)
