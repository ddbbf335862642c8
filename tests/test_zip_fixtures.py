"""The ZIP-packaged fixture formats render without a clock: the same input
gives the same bytes whenever it is rendered, and every member keeps the
compression its format expects."""

from __future__ import annotations

import io
import time
import zipfile

import pytest

from autoextract.sources.docx import build_docx
from autoextract.sources.epub import build_epub
from autoextract.sources.odt import build_odt
from autoextract.sources.pptx import build_pptx
from autoextract.sources.xlsx import build_xlsx

RENDER = {
    "docx": lambda: build_docx(
        [("heading", 1, "Title"), ("text", "body"), ("table", [["a", "b"]])]
    ),
    "odt": lambda: build_odt([("heading", 1, "Title"), ("text", "body")]),
    "xlsx": lambda: build_xlsx([["name", 1], ["x", 2.5]]),
    "epub": lambda: build_epub(
        ["<html><body><p>one</p></body></html>", "<html><body>two</body></html>"]
    ),
    "pptx": lambda: build_pptx([["first slide"], ["second", "slide"]]),
}


@pytest.mark.parametrize("fmt", sorted(RENDER))
def test_render_is_clock_free(monkeypatch, fmt):
    out = []
    for now in (1_000_000_000.0, 1_700_000_000.0):  # 2001 and 2023
        monkeypatch.setattr(time, "time", lambda now=now: now)
        out.append(RENDER[fmt]())
    assert out[0] == out[1]


@pytest.mark.parametrize("fmt", sorted(RENDER))
def test_members_keep_their_compression(fmt):
    with zipfile.ZipFile(io.BytesIO(RENDER[fmt]())) as z:
        infos = z.infolist()
    stored = {"mimetype"} if fmt == "odt" else set()
    for info in infos:
        want = zipfile.ZIP_STORED if info.filename in stored else zipfile.ZIP_DEFLATED
        assert info.compress_type == want, info.filename
        assert info.date_time == (1980, 1, 1, 0, 0, 0)
