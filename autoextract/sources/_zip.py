"""The one ZIP writer behind the DOCX, ODT, XLSX, EPUB and PPTX fixture
builders: every member is stamped 1980-01-01 00:00:00 (the earliest time a
ZIP header holds) instead of the wall clock, so the same members always
give the same package bytes."""

from __future__ import annotations

import io
import zipfile

_NO_CLOCK = (1980, 1, 1, 0, 0, 0)


def zip_package(members: list[tuple[str, str | bytes]], stored: tuple[str, ...] = ()) -> bytes:
    """``(name, data)`` members, in archive order → ZIP bytes. Members are
    DEFLATED except those named in ``stored`` (e.g. an ODF ``mimetype``)."""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        for name, data in members:
            info = zipfile.ZipInfo(name, date_time=_NO_CLOCK)
            info.external_attr = 0o600 << 16  # what writestr(name, ...) sets
            # explicit: a bare ZipInfo would be STORED
            method = zipfile.ZIP_STORED if name in stored else zipfile.ZIP_DEFLATED
            z.writestr(info, data, compress_type=method)
    return buf.getvalue()
