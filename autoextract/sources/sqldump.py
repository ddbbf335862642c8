"""MySQL-dump (``mysqldump``) ingestion — the relational leg of the dump
family next to the Wikipedia XML dump.

Wikipedia's auxiliary corpora (pagelinks, categorylinks, redirect, …) and
countless public datasets ship as ``INSERT INTO `tbl` VALUES (…),(…);``
dumps. This parser recovers the tuples from scratch:

  * statement scan for ``INSERT INTO `tbl` [ (cols) ] VALUES``;
  * a character-level tuple walk that honors single-quoted strings with
    BOTH escape conventions (backslash ``\\'`` and doubled ``''``),
    backslash escapes (``\\n``, ``\\t``, ``\\\\``), bare numbers, and
    unquoted ``NULL``;
  * multiple INSERT statements and multiple tables per dump.

Values are emitted in mysqldump's own TSV convention — tab-joined with
``\\N`` for NULL — so the row is one flat string column (engine-portable,
no nested-type comparison semantics in the gate). Spark shape: one narrow
Arrow-batched stage, zero shuffles, per-payload O6 containment.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from ..operators._docwise import flat_map_rows

_INSERT_RE = re.compile(
    r"INSERT\s+INTO\s+`?(\w+)`?\s*(?:\([^)]*\)\s*)?VALUES\s*", re.I
)


class SqlDumpError(ValueError):
    pass


def _scan_tuple(s: str, i: int) -> tuple[list[str | None], int]:
    """Parse one parenthesized tuple starting at s[i] == '('; returns
    (values, index after the closing paren)."""
    if s[i] != "(":
        raise SqlDumpError(f"expected '(' at {i}")
    i += 1
    vals: list[str | None] = []
    buf: list[str] = []

    def flush():
        raw = "".join(buf).strip()
        buf.clear()
        if raw.upper() == "NULL":
            vals.append(None)
        else:
            vals.append(raw)

    n = len(s)
    while i < n:
        ch = s[i]
        if ch == "'":
            # quoted string: backslash escapes + '' doubling
            i += 1
            out = []
            while i < n:
                c = s[i]
                if c == "\\" and i + 1 < n:
                    nxt = s[i + 1]
                    out.append(
                        {"n": "\n", "t": "\t", "r": "\r", "0": "\0"}.get(nxt, nxt)
                    )
                    i += 2
                    continue
                if c == "'":
                    if i + 1 < n and s[i + 1] == "'":
                        out.append("'")
                        i += 2
                        continue
                    i += 1
                    break
                out.append(c)
                i += 1
            else:
                raise SqlDumpError("unterminated string")
            vals.append("".join(out))
            # consume up to the next delimiter
            while i < n and s[i] not in ",)":
                i += 1
            if i >= n:
                raise SqlDumpError("tuple truncated after string")
            if s[i] == ",":
                i += 1
                continue
            return vals, i + 1
        if ch == ",":
            flush()
            i += 1
            continue
        if ch == ")":
            flush()
            return vals, i + 1
        buf.append(ch)
        i += 1
    raise SqlDumpError("tuple truncated")


def parse_sqldump(sql: str, table: str | None = None) -> list[dict]:
    """Dump text → [{table, row_idx, values}] in statement order.
    ``row_idx`` counts per table across statements."""
    rows: list[dict] = []
    idx: dict[str, int] = {}
    consumed_until = 0
    for m in _INSERT_RE.finditer(sql):
        if m.start() < consumed_until:
            # the match sits inside a statement we already walked with the
            # quote-aware tuple scanner — i.e. an INSERT-looking fragment
            # INSIDE a string value (wiki page text/titles contain these);
            # treating it as a real statement emitted phantom rows with
            # corrupted values (ADVICE r5)
            continue
        tbl = m.group(1)
        keep = table is None or tbl == table
        i = m.end()
        n = len(sql)
        while i < n:
            while i < n and sql[i] in " \t\r\n":
                i += 1
            if i >= n or sql[i] != "(":
                break
            vals, i = _scan_tuple(sql, i)
            if keep:
                k = idx.get(tbl, 0)
                rows.append({"table": tbl, "row_idx": k, "values": vals})
                idx[tbl] = k + 1
            while i < n and sql[i] in " \t\r\n":
                i += 1
            if i < n and sql[i] == ",":
                i += 1
                continue
            break  # ';' or anything else ends the statement
        consumed_until = i
    return rows


def to_sqldump(tables: dict[str, list[list]]) -> str:
    """Fixture writer: mysqldump-shaped INSERT statements with proper
    quoting (backslash escapes), NULLs, and multi-row VALUES lists."""

    def lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, (int, float)):
            return str(v)
        s = str(v)
        s = s.replace("\\", "\\\\").replace("'", "\\'")
        s = s.replace("\n", "\\n").replace("\t", "\\t")
        return f"'{s}'"

    out = ["-- fixture dump", "/*!40101 SET NAMES utf8 */;"]
    for tbl, rows in tables.items():
        tuples = ",".join("(" + ",".join(lit(v) for v in r) + ")" for r in rows)
        out.append(f"INSERT INTO `{tbl}` VALUES {tuples};")
    return "\n".join(out)


NULL_MARK = "\\N"

SQLDUMP_SCHEMA = (
    "doc_id long, table_name string, row_idx int, n_values int, "
    "values_tsv string"
)


def sqldump_rows_table(
    docs: DataFrame, sql_col: str = "sql", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, table_name, row_idx, n_values, values_tsv) per tuple —
    values tab-joined with ``\\N`` for NULL (mysqldump's own TSV
    convention keeps the gate on flat strings). Narrow Arrow stage, zero
    shuffles; an unparseable payload contributes zero rows."""

    def sqldump_rows(did, sql):
        rows = []
        try:  # a payload that fails part-way keeps the rows parsed so far
            for r in parse_sqldump(str(sql) if sql is not None else ""):
                rows.append((
                    int(did), r["table"], r["row_idx"], len(r["values"]),
                    "\t".join(NULL_MARK if v is None else v for v in r["values"]),
                ))
        except Exception:
            pass
        return rows

    return flat_map_rows(docs.select(id_col, sql_col), sqldump_rows, SQLDUMP_SCHEMA)
