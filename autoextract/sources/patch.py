"""Unified-diff ingestion — git patches → per-hunk structured rows.

Commit-diff corpora (commit message + patch pairs) are a standard
code-model training source; this leg parses the public unified-diff
format (POSIX diff -u; git's ``diff --git`` framing per the
git-diff(1) documentation) from scratch:

* files split on ``diff --git a/X b/Y`` headers, or on bare
  ``---``/``+++`` pairs for plain unified diffs;
* per-file metadata: old/new path (``/dev/null`` → NULL for
  adds/deletes, git ``a/``/``b/`` prefixes stripped), rename
  detection via ``rename from``/``rename to``, binary files via the
  ``Binary files ... differ`` / ``GIT binary patch`` notes;
* hunks: ``@@ -os[,oc] +ns[,nc] @@`` headers (count omitted = 1 per
  the spec), body lines classified ``+``/``-``/context; the
  ``\\ No newline at end of file`` marker is NOT a content line and
  never counts;
* per hunk one row: positions, declared counts, counted adds/dels,
  and the verbatim body — so a consumer can rebuild either side or
  train on the hunk directly; a binary file emits one row with NULL
  hunk fields.

A malformed hunk body (declared counts not matching counted lines)
flips ``valid`` to false on that file's rows rather than failing the
task (O6).

Spark shape: one per-row ``mapInArrow`` kernel over the binary column —
narrow, zero shuffles, data-parallel at 10^12-doc scale.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from ..operators._docwise import parsed_rows

HUNKS_SCHEMA = (
    "doc_id string, file_idx int, old_path string, new_path string,"
    " is_binary boolean, hunk_idx int, old_start int, old_count int,"
    " new_start int, new_count int, n_added int, n_deleted int,"
    " body string, valid boolean"
)

_GIT_RE = re.compile(r'^diff --git (?:"?a/(.*?)"?) (?:"?b/(.*?)"?)$')
_HUNK_RE = re.compile(r"^@@ -(\d+)(?:,(\d+))? \+(\d+)(?:,(\d+))? @@")
_BINARY_RE = re.compile(r"^(?:Binary files .* differ|GIT binary patch)")


def _strip_prefix(p: str) -> str | None:
    if p == "/dev/null":
        return None
    if p.startswith("a/") or p.startswith("b/"):
        return p[2:]
    return p


def parse_patch(data: bytes) -> list[dict]:
    """Patch bytes → hunk rows ``{file_idx, old_path, new_path,
    is_binary, hunk_idx, old_start, old_count, new_start, new_count,
    n_added, n_deleted, body, valid}``."""
    try:
        src = bytes(data).decode("utf-8", "replace")
    except Exception:
        return []
    lines = src.replace("\r\n", "\n").split("\n")
    if not any(_GIT_RE.match(ln) or ln.startswith("--- ")
               for ln in lines):
        return []

    out: list[dict] = []
    file_idx = -1
    old_path = new_path = None
    is_binary = False
    file_rows: list[dict] = []
    file_valid = True

    def flush_file():
        nonlocal file_rows, is_binary, file_valid
        if file_idx < 0:
            return
        if is_binary and not file_rows:
            file_rows = [{
                "hunk_idx": None, "old_start": None, "old_count": None,
                "new_start": None, "new_count": None, "n_added": None,
                "n_deleted": None, "body": None,
            }]
        for r in file_rows:
            out.append({"file_idx": file_idx, "old_path": old_path,
                        "new_path": new_path, "is_binary": is_binary,
                        "valid": file_valid, **r})
        file_rows, is_binary, file_valid = [], False, True

    i, n = 0, len(lines)
    while i < n:
        ln = lines[i]
        g = _GIT_RE.match(ln)
        if g:
            flush_file()
            file_idx += 1
            old_path, new_path = g.group(1), g.group(2)
            i += 1
            continue
        if ln.startswith("--- "):
            # plain unified diff (no git header) starts a file here
            if not file_rows and old_path is None and file_idx < 0:
                file_idx += 1
            elif file_rows:
                flush_file()
                file_idx += 1
            old_path = _strip_prefix(ln[4:].split("\t")[0].strip())
            i += 1
            if i < n and lines[i].startswith("+++ "):
                new_path = _strip_prefix(lines[i][4:].split("\t")[0].strip())
                i += 1
            continue
        if ln.startswith("rename from "):
            old_path = ln[len("rename from "):]
            i += 1
            continue
        if ln.startswith("rename to "):
            new_path = ln[len("rename to "):]
            i += 1
            continue
        if _BINARY_RE.match(ln):
            is_binary = True
            i += 1
            continue
        h = _HUNK_RE.match(ln)
        if h and file_idx >= 0:
            old_start = int(h.group(1))
            old_count = int(h.group(2) or 1)
            new_start = int(h.group(3))
            new_count = int(h.group(4) or 1)
            i += 1
            body, added, deleted, ctx = [], 0, 0, 0
            while i < n:
                bl = lines[i]
                if bl.startswith("+"):
                    added += 1
                elif bl.startswith("-"):
                    deleted += 1
                elif bl.startswith(" ") or bl == "":
                    # some emitters strip the single space off blank
                    # context lines; both forms are context
                    ctx += 1
                elif bl.startswith("\\"):
                    body.append(bl)          # no-newline marker: keep,
                    i += 1                   # never counted
                    continue
                else:
                    break
                if (deleted + ctx > old_count
                        or added + ctx > new_count):
                    # walked past the declared extent — malformed
                    file_valid = False
                    break
                body.append(bl)
                i += 1
                if deleted + ctx == old_count and added + ctx == new_count:
                    break
            # a trailing no-newline marker annotates the LAST line, so
            # it sits after the counts are already satisfied
            if i < n and lines[i].startswith("\\"):
                body.append(lines[i])
                i += 1
            if deleted + ctx != old_count or added + ctx != new_count:
                file_valid = False
            file_rows.append({
                "hunk_idx": len(file_rows), "old_start": old_start,
                "old_count": old_count, "new_start": new_start,
                "new_count": new_count, "n_added": added,
                "n_deleted": deleted, "body": "\n".join(body),
            })
            continue
        i += 1
    flush_file()
    return out


def build_patch(files: list[tuple]) -> bytes:
    """Fixture builder: a git-framed patch.  Each file is
    ``(old_path, new_path, hunks)`` with hunks a list of
    ``(old_start, new_start, [(op, line), ...])`` where op ∈
    ``' +-'``; or ``(old_path, new_path, "binary")``."""
    out = []
    for old, new, hunks in files:
        ap = old if old is not None else new
        bp = new if new is not None else old
        out.append("diff --git a/%s b/%s" % (ap, bp))
        if hunks == "binary":
            out.append("index 0000000..1111111 100644")
            out.append("Binary files a/%s and b/%s differ" % (ap, bp))
            continue
        out.append("index 2222222..3333333 100644")
        out.append("--- %s" % ("a/" + old if old is not None
                               else "/dev/null"))
        out.append("+++ %s" % ("b/" + new if new is not None
                               else "/dev/null"))
        for old_start, new_start, ops in hunks:
            oc = sum(1 for op, _ in ops if op in " -")
            nc = sum(1 for op, _ in ops if op in " +")
            out.append("@@ -%d,%d +%d,%d @@" % (old_start, oc,
                                                new_start, nc))
            for op, line in ops:
                out.append(op + line)
    return ("\n".join(out) + "\n").encode("utf-8")


def patch_hunks(docs: DataFrame, payload_col: str = "payload"
                ) -> DataFrame:
    """Arrow-batched patch → hunk rows.  Narrow stage, zero shuffles."""

    return parsed_rows(docs, parse_patch, HUNKS_SCHEMA, payload_col)
