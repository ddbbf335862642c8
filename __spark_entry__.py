"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship span-extraction pipeline on sf0.001;
``queries()`` exposes one callable per implemented operator family from
SURVEY.md §2 plus the training-data operators (dedup / similarity / text
analysis); ``oracle_sql()`` gives each one's DuckDB-equivalent SQL (same
column names/aliases on both sides — the driver hash-compares values after
sorting columns by name).

A query is one ``_q_*`` function under ``@_query(name, oracle_sql)``, which
registers both; ``queries()`` and ``oracle_sql()`` read that registry in
definition order. Every query has an oracle: the registry refuses one
without. Non-SQL-expressible facts (layout reading order, extraction
parity, SimHash locality, ANN recall) use the verdict pattern: the engine
computes a per-row pass/fail boolean and the oracle SQL is the expected
all-true table, so the driver's hash compare enforces the invariant itself.
"""

from __future__ import annotations

import os
from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from autoextract.functions import text as TX
from autoextract.operators import dedup as DD
from autoextract.operators import similarity as SIM
from autoextract.operators._docwise import map_rows
from autoextract.operators.graph import pagerank_oracle_sql
from autoextract.operators.layout import assemble_spans, order_words, spans_table

SF_DEFAULT = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _spread(df: DataFrame, key: str = "doc_id") -> DataFrame:
    """Re-spread a small-file scan across the cluster before per-row-heavy
    work: the testdata parquet is a single row group (= one input split no
    conf can subdivide), which would serialize tokenize/shingle/decode
    stages onto one or two tasks (a real corpus arrives in thousands of
    splits, where this repartition is a no-op-sized exchange relative to
    the work it unlocks). Hash partitioning on the id key is deterministic
    under task retry (guide §2.5) and the exchange carries the narrow
    projected row once."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, key)


def _docs(spark: SparkSession, sf_dir: str, limit: int, *cols: str) -> DataFrame:
    """The first ``limit`` documents as ``doc_id long`` plus ``cols``: the
    input each synthetic fixture is rendered from."""
    return (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").cast("long").alias("doc_id"), *cols)
        .where(F.col("doc_id") < limit)
    )


# ----------------------------------------------------------------------
# flagship: testdata text docs → synthetic word boxes → the REAL span
# pipeline (layout + global offsets + span assembly) → per-doc summary
# ----------------------------------------------------------------------
_WORDS_PER_LINE = 8
_GRID_X, _GRID_Y, _W, _H = 50.0, 100.0, 90.0, 30.0


def _docs_to_word_boxes(docs: DataFrame) -> DataFrame:
    """Deterministically lay each document's tokens on a page grid —
    turning the text corpus into the engine's ocr_words input shape.

    The doc table is first hash-partitioned on the STRING doc_id with the
    same count-free ``repartition`` that ``spans_table`` makes downstream,
    so that repartition is elided (EnsureRequirements sees
    hashpartitioning(doc_id, n) preserved through the explode; both sides
    plan n from the one session conf) and the 40×-wider word rows NEVER
    cross an exchange: the only shuffle in the span pipeline carries one
    narrow row per document (guide §8 — move heavy derived rows zero
    times, decide placement on the light proxy).

    AQE sets that exchange's task count from the narrow doc-row bytes, not
    from the explode that follows, so the explode and the kernel spread
    over several tasks only once the doc rows exceed the coalescing floor
    (``coalescePartitions.minPartitionSize``, 1 MB, per task); below that
    the whole input runs as one task."""
    docs = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    ).repartition("doc_id")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim("text"), r"\s+")).alias("pos", "content"),
    )
    line = (F.col("pos") / _WORDS_PER_LINE).cast("int")
    colx = F.col("pos") % _WORDS_PER_LINE
    x0 = F.lit(_GRID_X) + colx * (_W + 10.0)
    y0 = F.lit(_GRID_Y) + line * (_H + 20.0)
    # flat boxes, not corner quads: the columnar shape a petabyte-scale
    # words table stores (order_words accepts either; quads are folded)
    return toks.select(
        "doc_id",
        F.lit(1).alias("page"),
        F.col("pos").cast("int").alias("word_seq"),
        F.lit("text").alias("kind"),
        "content",
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(1.0).alias("rec_score"),
        x0.alias("x0"),
        y0.alias("y0"),
        (x0 + _W).alias("x1"),
        (y0 + _H).alias("y1"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: run layout→spans on sf0.001 documents rendered as word
    boxes; verify reassembly against the source text inline (mismatch
    column must be all-false), return the per-doc summary."""
    docs = _t(spark, SF_DEFAULT, "documents")
    spans = spans_table(_docs_to_word_boxes(docs))
    summary = spans.select(
        "doc_id",
        F.size("spans").cast("long").alias("n_spans"),
        F.array_join(F.transform("spans", lambda s: s["text"]), " ").alias("text_rebuilt"),
    )
    src = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.regexp_replace(F.trim("text"), r"\s+", " ").alias("text_norm"),
    )
    return summary.join(src, "doc_id").select(
        "doc_id",
        "n_spans",
        (F.col("text_rebuilt") != F.col("text_norm")).alias("mismatch"),
    )


# ----------------------------------------------------------------------
# queries + oracles
# ----------------------------------------------------------------------
_TOK = r"\s+"


#: deterministic synthetic link graph over the documents table: docs not
#: divisible by 5 link to two hub pages; hubs 0..499 that never link out are
#: dangling. Engine and oracle derive edges from the same arithmetic.
_PAGERANK_EDGES_SQL = """
    SELECT doc_id AS src, (doc_id * 7 + 1) % 500 AS dst
    FROM documents WHERE doc_id < 2000 AND doc_id % 5 <> 0
    UNION ALL
    SELECT doc_id AS src, (doc_id * 13 + 3) % 500 AS dst
    FROM documents WHERE doc_id < 2000 AND doc_id % 5 <> 0
"""


#: deterministic stand-in for the C4 badwords list — includes one term
#: the corpus never contains so the zero-hit path is driver-gated too
_BLOCKLIST_TERMS = ["big", "merge", "slow", "stream", "zeppelin"]


_SHINGLES_SQL = (
    "[array_to_string(l[i:i+2], ' ') "
    "for i in range(1, greatest(len(l)-2, 1)+1)]"
)


_LANG_SCORE = {
    lang: "len(regexp_extract_all(lower(text), '\\b("
    + "|".join(markers)
    + ")\\b'))"
    for lang, markers in {
        "en": ["the", "and", "of", "is", "to"],
        "de": ["und", "der", "die", "das", "nicht"],
        "fr": ["le", "la", "les", "et", "est"],
        "es": ["el", "los", "las", "es", "y"],
    }.items()
}


#: the composed document-filter replay (shared by the per-doc
#: document_filter oracle and the per-source filter_report rollup)
_DOC_FILTER_ORACLE = f"""
            WITH scalar AS (
              SELECT doc_id,
                     CASE WHEN greatest(s_de, s_en, s_es, s_fr) <= 0 THEN 'und'
                          WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                          WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
                          WHEN s_es >= s_fr THEN 'es'
                          ELSE 'fr' END AS lg,
                     (n_words >= 10
                      AND (CASE WHEN n_words > 0 THEN CAST(n_chars - n_words + 1 AS DOUBLE)/n_words ELSE 0.0 END) >= 2.0
                      AND (CASE WHEN n_words > 0 THEN CAST(n_chars - n_words + 1 AS DOUBLE)/n_words ELSE 0.0 END) <= 12.0
                      AND (CASE WHEN n_chars > 0 THEN CAST(alpha_chars AS DOUBLE)/n_chars ELSE 0.0 END) >= 0.6
                      AND (CASE WHEN n_chars > 0 THEN CAST(punct_chars AS DOUBLE)/n_chars ELSE 0.0 END) <= 0.2) AS qk,
                     pii
              FROM (SELECT doc_id, len(text) AS n_chars,
                           CASE WHEN len(trim(text)) = 0 THEN 0
                                ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_words,
                           len(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha_chars,
                           len(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct_chars,
                           {_LANG_SCORE['de']} AS s_de,
                           {_LANG_SCORE['en']} AS s_en,
                           {_LANG_SCORE['es']} AS s_es,
                           {_LANG_SCORE['fr']} AS s_fr,
                           len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}'))
                           + len(regexp_extract_all(text, '\\b(?:\\d{{1,3}}\\.){{3}}\\d{{1,3}}\\b'))
                           + len(regexp_extract_all(text, '\\+\\d{{1,3}}[- ]?\\d{{3}}[- ]?\\d{{3,4}}(?:[- ]?\\d{{3,4}})?')) AS pii
                    FROM documents WHERE doc_id < 500)),
            toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
                     FROM documents WHERE doc_id < 500),
            g AS (SELECT doc_id,
                         unnest([array_to_string(l[i:i+1], ' ')
                                 for i in range(1, greatest(len(l)-1, 1)+1)]) AS gram
                  FROM toks),
            pg AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
            gs AS (SELECT doc_id, round(max(c) / CAST(sum(c) AS DOUBLE), 6) AS tg
                   FROM pg GROUP BY 1),
            t AS (SELECT doc_id, unnest(l) AS tok FROM toks),
            pt AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2),
            ts AS (SELECT doc_id,
                          round(sum(CASE WHEN c >= 2 THEN c ELSE 0 END)
                                / CAST(sum(c) AS DOUBLE), 6) AS dt
                   FROM pt GROUP BY 1)
            SELECT s.doc_id,
                   (lg = 'en' AND qk AND tg <= 0.2 AND dt <= 0.5 AND pii = 0) AS keep,
                   CASE WHEN lg != 'en' THEN 'lang'
                        WHEN NOT qk THEN 'quality'
                        WHEN NOT (tg <= 0.2 AND dt <= 0.5) THEN 'repetition'
                        WHEN pii > 0 THEN 'pii'
                        ELSE NULL END AS reject_reason
            FROM scalar s JOIN gs USING (doc_id) JOIN ts USING (doc_id)
        """


#: name -> (query, oracle SQL), filled by ``@_query`` in definition order.
#: That order is the driver's order: its 50-query correctness sample is a
#: prefix of ``queries()``, and since r6 the entries that sample had never
#: covered (ANN verdicts, r5 ingest legs, layout_reading_order,
#: extraction_oracle) come FIRST so a prefix sample reaches them (VERDICT r5
#: next-round #1b). Reordering the defs below reorders the sample.
_REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str]] = {}


def _query(name: str, oracle: str):
    """Register the decorated ``_q_*`` function as query ``name`` with its
    DuckDB oracle SQL. A name registers once and every query has an
    oracle; either breach fails the import."""

    def register(fn):
        if name in _REGISTRY:
            raise ValueError(f"query {name!r} registered twice")
        if not isinstance(oracle, str) or not oracle.strip():
            raise ValueError(f"query {name!r} has no oracle SQL")
        _REGISTRY[name] = (fn, oracle)
        return fn

    return register


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _REGISTRY.items()}


def _furniture_lines_fixture(spark, sf):
    """Shared multi-page fixture for the furniture queries: 300 documents,
    2–5 pages each (doc_id arithmetic), every page carrying a running
    header, a page-number footer, two per-page body lines, and a body line
    repeated verbatim on every page (the band-constraint trap); page 1
    additionally carries a one-off header-band stamp (the frequency trap).
    Returned as word boxes in the engine's ocr_words shape so the query
    exercises the REAL chain: boxes → order_words → lines_table."""
    docs = _docs(spark, sf, 300)
    n_pages = (F.col("doc_id") % 4 + 2).cast("int")
    pages = docs.select(
        "doc_id",
        n_pages.alias("n_pages"),
        F.explode(F.sequence(F.lit(1), n_pages)).alias("page"),
    )
    did = F.col("doc_id").cast("string")
    pg = F.col("page").cast("string")
    npg = F.col("n_pages").cast("string")

    def line(ln, y0, text):
        return F.struct(
            F.lit(ln).alias("ln"), F.lit(float(y0)).alias("ly0"), text.alias("lt")
        )

    base_lines = F.array(
        line(0, 20.0, F.lit("Acme Quarterly Report")),
        line(2, 300.0, F.concat(F.lit("Body content block "), did, F.lit(" alpha "), pg)),
        line(3, 340.0, F.concat(F.lit("Body section "), did, F.lit(" beta "), pg)),
        line(4, 420.0, F.lit("Confidential material enclosed herein")),
        line(5, 760.0, F.concat(F.lit("Page "), pg, F.lit(" of "), npg)),
    )
    stamp = F.when(
        F.col("page") == 1,
        F.array(line(1, 60.0, F.concat(F.lit("Draft stamp "), did))),
    ).otherwise(F.array().cast("array<struct<ln:int,ly0:double,lt:string>>"))
    lines = pages.select(
        "doc_id",
        "page",
        F.explode(F.concat(base_lines, stamp)).alias("l"),
    ).select("doc_id", "page", "l.ln", "l.ly0", "l.lt")
    words = lines.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "page",
        "ln",
        "ly0",
        F.posexplode(F.split("lt", " ")).alias("wpos", "content"),
    )
    x0 = F.lit(40.0) + F.col("wpos") * 90.0
    return words.select(
        "doc_id",
        "page",
        (F.col("ln") * 16 + F.col("wpos")).cast("int").alias("word_seq"),
        F.lit("text").alias("kind"),
        "content",
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(1.0).alias("rec_score"),
        x0.alias("x0"),
        F.col("ly0").alias("y0"),
        (x0 + 80.0).alias("x1"),
        (F.col("ly0") + 16.0).alias("y1"),
    )


@_query("repetition_metrics", """
            WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
                          FROM documents WHERE doc_id < 500),
            g AS (SELECT doc_id,
                         unnest([array_to_string(l[i:i+1], ' ')
                                 for i in range(1, greatest(len(l)-1, 1)+1)]) AS gram
                  FROM toks),
            pg AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
            gs AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
                          round(max(c) / CAST(sum(c) AS DOUBLE), 6) AS top_gram_frac
                   FROM pg GROUP BY 1),
            t AS (SELECT doc_id, unnest(l) AS tok FROM toks),
            pt AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2),
            ts AS (SELECT doc_id,
                          round(sum(CASE WHEN c >= 2 THEN c ELSE 0 END)
                                / CAST(sum(c) AS DOUBLE), 6) AS dup_token_frac
                   FROM pt GROUP BY 1)
            SELECT gs.doc_id, n_grams, top_gram_frac, dup_token_frac
            FROM gs JOIN ts USING (doc_id)
        """)
def _q_repetition_metrics(spark, sf):
    """Gopher-style repetition quality stats over word 2-grams."""
    return TX.repetition_metrics(
        _t(spark, sf, "documents").where(F.col("doc_id") < 500), n=2
    )


@_query("document_filter", _DOC_FILTER_ORACLE)
def _q_document_filter(spark, sf):
    """The composed corpus filter: lang==en AND quality_keep AND repetition
    bounds AND zero PII, with the first failing rule as reject_reason."""
    return TX.document_filter(_t(spark, sf, "documents").where(F.col("doc_id") < 500))


# badwords replay: identical tokenize → edge-strip → IN-list →
# per-doc rollup chain, left-joined so zero-hit docs survive
@_query("blocklist_terms", """
            WITH toks AS (
              SELECT doc_id,
                     regexp_replace(t, '^[^a-z0-9]+|[^a-z0-9]+$', '', 'g')
                       AS term
              FROM (SELECT doc_id,
                           unnest(regexp_split_to_array(
                               trim(lower(text)), '\\s+')) AS t
                    FROM documents)),
            hits AS (
              SELECT doc_id, COUNT(*) AS n_hits,
                     COUNT(DISTINCT term) AS nd,
                     string_agg(DISTINCT term, '|' ORDER BY term)
                       AS hit_terms
              FROM toks
              WHERE term IN ('big','merge','slow','stream','zeppelin')
              GROUP BY doc_id)
            SELECT d.doc_id,
                   CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
                   CAST(COALESCE(nd, 0) AS INT) AS n_distinct_terms,
                   hit_terms,
                   COALESCE(n_hits, 0) > 0 AS flagged
            FROM documents d LEFT JOIN hits USING (doc_id)
        """)
def _q_blocklist_terms(spark, sf):
    """Term-level content blocklist (r5): per doc the hit count, distinct
    matched terms (sorted, pipe-joined) and flagged verdict against a
    broadcast term list — the C4 badwords stage, token-exact and
    case-insensitive with edge punctuation stripped. Raw text never
    shuffles: only matched (doc_id, term) rows reach the aggregate."""
    return TX.blocklist_term_hits(
        _t(spark, sf, "documents"), _BLOCKLIST_TERMS
    )


# charset replay: rotation arithmetic over the source text —
# decoded text must equal the column (plus the planted suffixes)
@_query("charset_detect", """
            SELECT doc_id,
                   CASE doc_id % 8
                     WHEN 0 THEN 'ascii'   WHEN 1 THEN 'utf-8'
                     WHEN 2 THEN 'utf-8'   WHEN 3 THEN 'utf-16le'
                     WHEN 4 THEN 'utf-16be' WHEN 5 THEN 'utf-32le'
                     WHEN 6 THEN 'cp1252'  ELSE 'utf-16le' END AS encoding,
                   doc_id % 8 IN (2, 3, 4, 5, 7) AS had_bom,
                   doc_id % 8 <> 7 AS valid,
                   CASE doc_id % 8
                     WHEN 1 THEN text || ' naïve'
                     WHEN 6 THEN text || ' café'
                     WHEN 7 THEN NULL
                     ELSE text END AS text
            FROM documents WHERE doc_id < 400
        """)
def _q_charset_detect(spark, sf):
    """Charset front door (r5): per doc a payload encoded with a rotating
    scheme — plain ASCII, BOM-less UTF-8, UTF-8/16LE/16BE/32LE with BOMs,
    Windows-1252 fallback bytes, and a TORN UTF-16 file (odd byte count
    after the BOM) that must surface valid=false rather than re-guess.
    Oracle derives encoding/had_bom/valid/text arithmetically; the decoded
    text must round-trip the source column exactly."""
    from autoextract.functions.encoding import detect_and_decode

    docs = _docs(spark, sf, 400, "text")

    def render(d, t):
        k = d % 8
        if k == 0:
            p = t.encode("utf-8")
        elif k == 1:
            p = (t + " naïve").encode("utf-8")
        elif k == 2:
            p = b"\xef\xbb\xbf" + t.encode("utf-8")
        elif k == 3:
            p = b"\xff\xfe" + t.encode("utf-16-le")
        elif k == 4:
            p = b"\xfe\xff" + t.encode("utf-16-be")
        elif k == 5:
            p = b"\xff\xfe\x00\x00" + t.encode("utf-32-le")
        elif k == 6:
            p = (t + " café").encode("cp1252")
        else:
            p = b"\xff\xfe" + t.encode("utf-16-le") + b"\x00"
        return d, p

    payloads = map_rows(docs, render, "doc_id long, payload binary")
    return detect_and_decode(payloads)


# license replay: the rotation arithmetic names the expected
# (license, via, permissive) directly — SPDX beats header on k=4
@_query("license_detect", """
            SELECT doc_id,
                   CASE doc_id % 6
                     WHEN 0 THEN 'MIT'          WHEN 1 THEN 'MIT'
                     WHEN 2 THEN 'Apache-2.0'   WHEN 3 THEN 'BSD-3-Clause'
                     WHEN 4 THEN 'GPL-3.0-only' END AS license,
                   CASE doc_id % 6
                     WHEN 0 THEN 'spdx' WHEN 4 THEN 'spdx'
                     WHEN 5 THEN NULL   ELSE 'header' END AS matched_via,
                   doc_id % 6 IN (0, 1, 2, 3) AS permissive
            FROM documents WHERE doc_id < 480
        """)
def _q_license_detect(spark, sf):
    """License detection (r5): per doc the text is augmented with a
    rotating license shape — SPDX tag, each of the four header
    fingerprints, an SPDX-beats-header conflict, and none — and the
    operator must name (license, matched_via, permissive) exactly.
    Oracle derives all three from the rotation arithmetic."""
    docs = _docs(spark, sf, 480, "text")
    k = F.col("doc_id") % 6
    aug = (
        F.when(k == 0, F.concat(F.lit("SPDX-License-Identifier: MIT\n"), "text"))
        .when(k == 1, F.concat(
            "text",
            F.lit("\nPermission is hereby granted, free of charge, to any"
                  " person obtaining a copy of this software"),
        ))
        .when(k == 2, F.concat(
            "text",
            F.lit("\nLicensed under the Apache License, Version 2.0 (the"
                  ' "License")'),
        ))
        .when(k == 3, F.concat(
            "text",
            F.lit("\nRedistribution and use in source and binary forms,"
                  " with or without modification, are permitted"),
        ))
        .when(k == 4, F.concat(
            F.lit("SPDX-License-Identifier: GPL-3.0-only\n"),
            "text",
            F.lit("\nLicensed under the Apache License, Version 2.0"),
        ))
        .otherwise(F.col("text"))
    )
    return TX.detect_license(docs.select("doc_id", aug.alias("text")))


# CER cross-engine: DuckDB's own levenshtein over the same
# rotation-derived hypothesis pairs — two independent edit
# distances must agree, as must the derived band arithmetic
@_query("extraction_cer", """
            WITH pairs AS (
              SELECT doc_id, text AS ref_text,
                     CASE doc_id % 4
                       WHEN 0 THEN text
                       WHEN 1 THEN replace(text, 'a', '@')
                       WHEN 2 THEN text || ' spurious trailing ocr noise'
                       ELSE upper(text) END AS hyp_text
              FROM documents WHERE doc_id < 480),
            scored AS (
              SELECT doc_id,
                     levenshtein(ref_text, hyp_text) AS d,
                     round(levenshtein(ref_text, hyp_text)
                           / greatest(length(ref_text), 1), 6) AS cer
              FROM pairs)
            SELECT doc_id,
                   CAST(d AS BIGINT) AS edit_distance,
                   cer,
                   d = 0 AS exact,
                   CASE WHEN d = 0 THEN 'exact'
                        WHEN cer <= 0.05 THEN 'good'
                        WHEN cer <= 0.25 THEN 'degraded'
                        ELSE 'bad' END AS quality_band
            FROM scored
        """)
def _q_extraction_cer(spark, sf):
    """Extraction-quality eval (r5): hypotheses derived from the source
    text by rotating corruption (identical / all-'a'-substituted / tail
    appended / case-folded), CER + band computed by Spark's levenshtein
    and INDEPENDENTLY re-derived by DuckDB's — a genuine cross-engine
    edit-distance check, not an arithmetic replay."""
    docs = _docs(spark, sf, 480, "text")
    k = F.col("doc_id") % 4
    hyp = (
        F.when(k == 0, F.col("text"))
        .when(k == 1, F.regexp_replace("text", "a", "@"))
        .when(k == 2, F.concat("text", F.lit(" spurious trailing ocr noise")))
        .otherwise(F.upper("text"))
    )
    pairs = docs.select(
        "doc_id", F.col("text").alias("ref_text"), hyp.alias("hyp_text")
    )
    return TX.extraction_quality(pairs)


# wiki replay: page ids/titles/flags plus the EXACT cleaned
# wikitext assembled from the same rotation arithmetic
@_query("wiki_ingest", """
            WITH base AS (
              SELECT doc_id, text, doc_id % 7 AS q
              FROM documents WHERE doc_id < 300 AND doc_id % 10 <> 9)
            SELECT doc_id,
                   CAST(doc_id * 10 + 1 AS BIGINT) AS page_id,
                   'Article ' || doc_id AS title,
                   CAST(0 AS INT) AS ns,
                   false AS redirect,
                   'Article ' || doc_id || ' is about topic-' || q ||
                   '.' || chr(10) || 'Body' || chr(10) || text ||
                   ' and beyond.' AS clean_text
            FROM base
            UNION ALL
            SELECT doc_id,
                   CAST(doc_id * 10 + 2 AS BIGINT) AS page_id,
                   'Redirect ' || doc_id AS title,
                   CAST(0 AS INT) AS ns,
                   true AS redirect,
                   '#REDIRECT Article ' || doc_id AS clean_text
            FROM base
        """)
def _q_wiki_ingest(spark, sf):
    """Wikipedia-dump ingestion (r5): per doc a pages-articles XML payload
    with an article page (nested templates, ref tags, pipe/plain links, a
    File link with a nested-link caption, bold fences, a heading) and a
    redirect page; every 10th payload corrupt → zero rows. The oracle
    derives page ids/titles/flags AND the exact cleaned wikitext
    arithmetically, so the whole cleanup chain sits under the hash."""
    from autoextract.sources.wikidump import to_wikidump, wiki_pages_table

    docs = _docs(spark, sf, 300, "text")

    def render(d, t):
        if d % 10 == 9:
            return d, "torn <page> no close"
        q = d % 7
        wikitext = (
            f"'''Article {d}''' is {{{{Infobox|x={{{{n|1}}}}}}}}about "
            f"[[topic {q}|topic-{q}]].<ref>c{d}</ref>\n== Body ==\n"
            f"{t} [[File:F{d}.jpg|thumb|a [[pic]] here]]and "
            f"[[beyond]]."
        )
        return d, to_wikidump([
            {"title": f"Article {d}", "page_id": d * 10 + 1,
             "text": wikitext},
            {"title": f"Redirect {d}", "page_id": d * 10 + 2,
             "redirect": f"Article {d}",
             "text": f"#REDIRECT [[Article {d}]]"},
        ])

    payloads = map_rows(docs, render, "doc_id long, xml string")
    return wiki_pages_table(payloads)


# mysqldump replay: each tuple reassembled as the same TSV string
# (chr(9) separators, \N for NULL) from the rotation arithmetic
@_query("sqldump_ingest", """
            WITH base AS (
              SELECT doc_id FROM documents
              WHERE doc_id < 240 AND doc_id % 12 <> 11)
            SELECT doc_id, 'page' AS table_name, CAST(0 AS INT) AS row_idx,
                   CAST(4 AS INT) AS n_values,
                   doc_id || chr(9) || 'Title ' || doc_id || chr(9) ||
                   CASE WHEN doc_id % 3 = 0 THEN '\\N'
                        ELSE 'cat ' || doc_id % 5 END ||
                   chr(9) || doc_id % 7 AS values_tsv
            FROM base
            UNION ALL
            SELECT doc_id, 'page', CAST(1 AS INT), CAST(4 AS INT),
                   (doc_id + 1) || chr(9) || 'quote '' in ' || doc_id ||
                   chr(9) || 'tab' || chr(9) || 'here' || chr(9) ||
                   doc_id % 2
            FROM base
            UNION ALL
            SELECT doc_id, 'links', CAST(0 AS INT), CAST(2 AS INT),
                   doc_id || chr(9) || 'target ' || doc_id % 9
            FROM base
        """)
def _q_sqldump_ingest(spark, sf):
    """MySQL-dump ingestion (r5): per doc an INSERT-statement dump with
    two tables, escaped quotes (backslash AND doubled), embedded tabs/
    newlines, NULLs and numbers; every 12th payload corrupt → zero rows.
    Values surface in mysqldump's own TSV convention (tab-joined, \\N for
    NULL) so the oracle derives each row as one flat string."""
    from autoextract.sources.sqldump import sqldump_rows_table, to_sqldump

    docs = _docs(spark, sf, 240)

    def render(d):
        if d % 12 == 11:
            return d, "INSERT INTO broken ("
        dump = to_sqldump({
            "page": [
                [d, f"Title {d}",
                 None if d % 3 == 0 else f"cat {d % 5}", d % 7],
                [d + 1, f"quote ' in {d}", "tab\there", d % 2],
            ],
            "links": [[d, f"target {d % 9}"]],
        })
        return d, dump

    payloads = map_rows(docs, render, "doc_id long, sql string")
    return sqldump_rows_table(payloads)


# CDX replay: every field from the rotation arithmetic, incl. the
# strptime of the same assembled yyyyMMddHHmmss string
@_query("cdx_ingest", """
            WITH p AS (
              SELECT doc_id,
                     doc_id % 6 <> 5 AS ok,
                     '20260115' || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0')
                       || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') || '30'
                       AS ts
              FROM documents WHERE doc_id < 400)
            SELECT doc_id,
                   CASE WHEN ok THEN 'com,example)/page/' || doc_id END AS urlkey,
                   CASE WHEN ok THEN ts END AS ts,
                   CASE WHEN ok THEN strptime(ts, '%Y%m%d%H%M%S') END AS event_time,
                   CASE WHEN ok THEN 'https://example.com/page/' || doc_id END AS url,
                   CASE WHEN ok THEN
                     CASE WHEN doc_id % 3 = 1 THEN 'application/pdf'
                          ELSE 'text/html' END END AS mime,
                   CASE WHEN ok THEN
                     CAST(CASE WHEN doc_id % 5 = 0 THEN 404 ELSE 200 END AS INT)
                   END AS status,
                   CASE WHEN ok THEN 'sha1:D' || doc_id END AS digest,
                   CASE WHEN ok THEN CAST(doc_id + 1000 AS BIGINT) END AS length,
                   CASE WHEN ok THEN CAST(doc_id * 7 AS BIGINT) END AS offset,
                   CASE WHEN ok THEN 'crawl-' || doc_id % 4 || '.warc.gz' END
                     AS filename,
                   ok AS valid
            FROM p
        """)
def _q_cdx_ingest(spark, sf):
    """CDX index parsing (r5): Common Crawl CDXJ lines with rotating
    mime/status/filename fields, double-spaced separators every 4th line,
    and a malformed (JSON-less) line every 6th → valid=false row. The
    index is what a crawl pipeline plans fetches from BEFORE touching any
    WARC byte; oracle derives every field arithmetically including the
    yyyyMMddHHmmss → timestamp parse."""
    from autoextract.sources.warc import parse_cdx_column

    docs = _docs(spark, sf, 400)
    d = F.col("doc_id")
    ts = F.concat(
        F.lit("20260115"),
        F.lpad((d % 24).cast("string"), 2, "0"),
        F.lpad((d % 60).cast("string"), 2, "0"),
        F.lit("30"),
    )
    blob = F.concat(
        F.lit('{"url": "https://example.com/page/'), d,
        F.lit('", "mime": "'),
        F.when(d % 3 == 1, "application/pdf").otherwise("text/html"),
        F.lit('", "status": "'),
        F.when(d % 5 == 0, "404").otherwise("200"),
        F.lit('", "digest": "sha1:D'), d,
        F.lit('", "length": "'), (d + 1000),
        F.lit('", "offset": "'), (d * 7),
        F.lit('", "filename": "crawl-'), d % 4,
        F.lit('.warc.gz"}'),
    )
    sep = F.when(d % 4 == 0, "  ").otherwise(" ")
    line = F.when(d % 6 == 5, F.lit("com,example)/broken 20260101")).otherwise(
        F.concat(
            F.lit("com,example)/page/"), d, sep, ts, sep, blob
        )
    )
    return parse_cdx_column(docs.select("doc_id", line.alias("line")))


# per-source rollup over the SAME verdict SQL: counts, 6-dp
# keep rate, dominant reject reason (count desc, name asc)
@_query("filter_report", f"""
            WITH verdicts AS ({_DOC_FILTER_ORACLE}),
            d AS (SELECT v.*, doc.source FROM verdicts v
                  JOIN documents doc USING (doc_id)),
            agg AS (SELECT source, COUNT(*) AS n_docs,
                           SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS n_keep
                    FROM d GROUP BY source),
            r AS (SELECT source, reject_reason, COUNT(*) AS c
                  FROM d WHERE NOT keep GROUP BY 1, 2),
            top AS (SELECT source, reject_reason,
                           row_number() OVER (PARTITION BY source
                             ORDER BY c DESC, reject_reason ASC) AS rk
                    FROM r)
            SELECT a.source, CAST(a.n_docs AS BIGINT) AS n_docs,
                   CAST(a.n_keep AS BIGINT) AS n_keep,
                   ROUND(a.n_keep / CAST(a.n_docs AS DOUBLE), 6)
                     AS keep_rate,
                   t.reject_reason AS top_reject_reason
            FROM agg a LEFT JOIN top t
              ON a.source = t.source AND t.rk = 1
        """)
def _q_filter_report(spark, sf):
    """Per-source curation dashboard (r5): the document_filter verdicts
    rolled up per source — doc/keep counts, 6-dp keep rate, dominant
    reject reason (count desc, name asc; all-keep sources NULL). The
    oracle wraps the SAME verdict SQL the per-doc gate uses, so the
    rollup math and the verdicts both gate."""
    return TX.filter_report(
        _t(spark, sf, "documents").where(F.col("doc_id") < 500)
    )


@_query("asof_join", """
            WITH v AS (SELECT user_id, ts, max(event_id) AS view_event_id
                       FROM events WHERE event_type = 'view' GROUP BY 1, 2),
            p AS (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'purchase')
            SELECT p.event_id, p.user_id,
                   CAST(v.view_event_id AS BIGINT) AS view_event_id,
                   CAST(epoch_us(p.ts) - epoch_us(v.ts) AS BIGINT) AS lag_us
            FROM p ASOF LEFT JOIN v
              ON p.user_id = v.user_id AND p.ts >= v.ts
        """)
def _q_asof_join(spark, sf):
    """As-of join (custom temporal operator): each purchase gets the user's
    latest view at-or-before it via the union-window composition — one
    shuffle, no range explode. DuckDB's native ASOF JOIN is the oracle."""
    from autoextract.operators import temporal as TMP

    e = _t(spark, sf, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    purchases = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = e.where(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_event_id"), "ts"
    )
    out = TMP.as_of_join(
        purchases, views, on="user_id",
        right_cols=["view_event_id", "ts"], right_id="view_event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("view_event_id_right").cast("long").alias("view_event_id"),
        (F.unix_micros("ts") - F.unix_micros("ts_right")).cast("long").alias("lag_us"),
    )


# identical oracle to asof_join: the chunked variant must be
# result-identical to DuckDB's native ASOF JOIN
@_query("asof_join_chunked", """
            WITH p AS (SELECT event_id, user_id, ts FROM events
                       WHERE event_type = 'purchase'),
                 v AS (SELECT user_id, event_id AS view_event_id, ts
                       FROM events WHERE event_type = 'view')
            SELECT p.event_id, p.user_id,
                   CAST(v.view_event_id AS BIGINT) AS view_event_id,
                   CAST(epoch_us(p.ts) - epoch_us(v.ts) AS BIGINT) AS lag_us
            FROM p ASOF LEFT JOIN v
              ON p.user_id = v.user_id AND p.ts >= v.ts
        """)
def _q_asof_join_chunked(spark, sf):
    """The time-chunked as-of variant (hot-key path) against the SAME DuckDB
    native ASOF JOIN oracle as ``asof_join`` — proving the bucket-local
    window + cross-bucket carry composition is result-identical to the
    single-window default at driver-gate level, not just in pytest."""
    from autoextract.operators import temporal as TMP

    e = _t(spark, sf, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    purchases = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = e.where(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_event_id"), "ts"
    )
    out = TMP.as_of_join(
        purchases, views, on="user_id",
        right_cols=["view_event_id", "ts"], right_id="view_event_id",
        hot_key_bucket_seconds=86400,
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("view_event_id_right").cast("long").alias("view_event_id"),
        (F.unix_micros("ts") - F.unix_micros("ts_right")).cast("long").alias("lag_us"),
    )


@_query("interval_count_join", """
            SELECT s.event_id, s.user_id,
                   CAST(count(c.ts) AS BIGINT) AS n_clicks
            FROM events s LEFT JOIN events c
              ON s.user_id = c.user_id AND c.event_type = 'click'
             AND c.ts >= s.ts AND c.ts <= s.ts + INTERVAL 30 MINUTE
            WHERE s.event_type = 'signup'
            GROUP BY 1, 2
        """)
def _q_interval_count(spark, sf):
    """Range join (custom temporal operator): clicks inside each signup's
    30-minute window, via bucketized candidates + exact predicate."""
    from autoextract.operators import temporal as TMP

    e = _t(spark, sf, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    signups = e.where(F.col("event_type") == "signup").select(
        "event_id", "user_id", F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end_ts"),
    )
    clicks = e.where(F.col("event_type") == "click").select("user_id", "ts")
    out = TMP.interval_count_join(
        signups, clicks, on="user_id", start_col="start_ts", end_col="end_ts",
        count_alias="n_clicks",
    )
    return out.select("event_id", "user_id", F.col("n_clicks").cast("long").alias("n_clicks"))


@_query("sessionize", """
            SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM (SELECT user_id,
                         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                                   OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800
                              THEN 1 ELSE 0 END AS new_s
                  FROM events)
            GROUP BY user_id
        """)
def _q_sessionize(spark, sf):
    from pyspark.sql import Window

    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    marked = e.withColumn(
        "new_s",
        F.when(gap.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0)),
    )
    return marked.groupBy("user_id").agg(
        F.sum("new_s").cast("long").alias("n_sessions"),
        F.count("*").cast("long").alias("n_events"),
    )


@_query("events_hourly", """
            SELECT strftime(ts, '%Y-%m-%d %H') AS hour_str, event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1, 2
        """)
def _q_events_hourly(spark, sf):
    e = _t(spark, sf, "events")
    return e.groupBy(
        F.date_format("ts", "yyyy-MM-dd HH").alias("hour_str"),
        "event_type",
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


# the expected verdict table for the layout invariant: every one of
# the 50 generated docs (ids are deterministic: seed 13) must have
# spans exactly equal to the construction-order ground truth
@_query("layout_reading_order", """
            SELECT printf('doc-13-%09d', range) AS doc_id,
                   true AS order_exact
            FROM range(50)
        """)
def _q_layout_reading_order(spark, sf):
    """The north_rule invariant as a DRIVER-CHECKED oracle: 50 generated
    adversarial documents (two-column layouts, shuffled word_seq emission),
    engine spans must equal the construction-order ground truth
    (``corpus.true_order`` — independent of the layout algorithm) with full
    span-sequence equality (kind, text, media_ref, order). The oracle SQL is
    the expected per-doc verdict (every doc exact), so any ordering
    regression hash-mismatches."""
    from autoextract import corpus

    gen = corpus.gen_corpus(spark, 50, seed=13)
    got = spans_table(corpus.ocr_words_view(gen))
    exp = corpus.expected_spans(gen).withColumnRenamed("spans", "expected")
    return got.join(exp, "doc_id").select(
        "doc_id", (F.col("spans") == F.col("expected")).alias("order_exact")
    )


# WARC round-trip: every expectation derives from the source table —
# 3 records per segment (warcinfo/request/response), HTTP 200, the
# fixture URI scheme, and byte-exact body text through all 9
# compression×encoding wire shapes
@_query("warc_ingest", """
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CAST(3 AS BIGINT) AS n_records,
                   CAST(200 AS INTEGER) AS http_status,
                   'https://example.org/' || CAST(doc_id AS VARCHAR) AS target_uri,
                   text AS text_rebuilt
            FROM documents WHERE doc_id < 250
        """)
def _q_warc_ingest(spark, sf):
    """Web-archive ingestion end-to-end: documents → typeset into real
    ISO 28500 WARC segments (warcinfo + request + response records,
    rotating plain / whole-file-gzip / per-record-gzip-member layouts ×
    identity / chunked / gzip HTTP body encodings — 9 wire shapes) → parse
    back through member splitting, record framing, and HTTP unwrapping.
    The oracle recomputes every expectation straight from the source table,
    so record counts, the HTTP status, the target URI, and the byte-exact
    body text all gate. This is the engine's Common Crawl front door — the
    shape a 100 TB web corpus actually lands in."""
    from autoextract.sources.warc import render_docs_to_warc, warc_records

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 250)
    raw = render_docs_to_warc(
        docs.select(F.col("doc_id").cast("string").alias("doc_id"), "text")
    )
    recs = warc_records(raw)
    resp = F.col("warc_type") == "response"
    return recs.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_records"),
        F.max(F.when(resp, F.col("http_status"))).cast("int").alias("http_status"),
        F.max(F.when(resp, F.col("target_uri"))).alias("target_uri"),
        F.max(F.when(resp, F.decode("body", "UTF-8"))).alias("text_rebuilt"),
    )


# HTML boilerplate strip gated end-to-end: the density vote keeps
# exactly the two article paragraphs (leakage or loss mismatches),
# the <img> surfaces as one media span with its src, and text
# round-trips under whitespace normalization
@_query("warc_html_ingest", """
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CAST(CASE WHEN len(string_split_regex(trim(text), '\\s+')) > 1
                             THEN 2 ELSE 1 END AS BIGINT) AS n_text_spans,
                   CAST(1 AS BIGINT) AS n_media,
                   'https://example.org/' || CAST(doc_id AS VARCHAR) || '/img.png' AS media_ref,
                   array_to_string(string_split_regex(trim(text), '\\s+'), ' ') AS text_rebuilt
            FROM documents WHERE doc_id < 250
        """)
def _q_warc_html_ingest(spark, sf):
    """P6 driver-checked end-to-end: documents → boilerplate-framed HTML
    pages (link-dense nav + footer around an <article> with the text split
    across two <p>s and one <img>) → WARC segments across the 9 wire shapes
    → parse → HTTP unwrap → text-density boilerplate strip → span
    reassembly. The oracle recomputes expected text straight from the
    source table, so the density vote must keep exactly the article
    (boilerplate leakage or content loss both hash-mismatch), the media
    span must surface the <img> src, and the whitespace-normalized text
    must round-trip byte-exactly. Reference parity: the reference's HTML
    branch strips chrome before extraction (SURVEY §2.6 P6)."""
    from autoextract.operators.html import strip_html
    from autoextract.sources.warc import render_docs_to_warc, warc_records

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 250)
    raw = render_docs_to_warc(
        docs.select(F.col("doc_id").cast("string").alias("doc_id"), "text"),
        as_html=True,
    )
    recs = warc_records(raw)
    html_docs = recs.where(
        (F.col("warc_type") == "response") & F.col("valid")
        & (F.col("mime") == "text/html")
    ).select("doc_id", F.decode("body", "UTF-8").alias("html"))
    flat = strip_html(html_docs)
    s = F.struct(F.col("seq"), F.col("text"))
    return flat.groupBy("doc_id").agg(
        F.count(F.when(F.col("kind") == "text", 1)).cast("long").alias("n_text_spans"),
        F.count(F.when(F.col("kind") == "media", 1)).cast("long").alias("n_media"),
        F.max(F.when(F.col("kind") == "media", F.col("media_ref"))).alias("media_ref"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.when(F.col("kind") == "text", s))),
                lambda x: x["text"],
            ),
            " ",
        ).alias("text_rebuilt"),
    )


# five links per page in parse order; every resolution branch
# (root-relative, bare-relative, scheme-relative, absolute,
# ../-relative) replayed from the same arithmetic
@_query("html_link_graph", """
            WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 250)
            SELECT doc_id, CAST(0 AS INTEGER) AS seq, '/home' AS href,
                   'home nav link' AS anchor,
                   'https://example.org/home' AS url FROM d
            UNION ALL
            SELECT doc_id, 1, 'about', 'about nav link',
                   'https://example.org/about' FROM d
            UNION ALL
            SELECT doc_id, 2, '//example.org/contact', 'contact nav link',
                   'https://example.org/contact' FROM d
            UNION ALL
            SELECT doc_id, 3,
                   'https://example.org/' || CAST((doc_id * 7 + 1) % 500 AS VARCHAR),
                   'related one',
                   'https://example.org/' || CAST((doc_id * 7 + 1) % 500 AS VARCHAR) FROM d
            UNION ALL
            SELECT doc_id, 4,
                   '../' || CAST((doc_id * 11 + 9) % 500 AS VARCHAR),
                   'related two',
                   'https://example.org/' || CAST((doc_id * 11 + 9) % 500 AS VARCHAR) FROM d
        """)
def _q_html_link_graph(spark, sf):
    """The crawl's edge list (r5): every <a href> per page in document
    order — including boilerplate nav links, which ARE graph edges — with
    anchor text and RFC 3986 resolution against the page's base URI
    (root-relative, bare-relative, scheme-relative, absolute and
    ../-relative hrefs all appear in the fixture). The oracle replays all
    five expected links per document from the same arithmetic, so parse
    order, anchor collapsing, and every resolution branch gate. This edge
    list is what feeds operators/graph.pagerank."""
    from autoextract.operators.html import extract_links
    from autoextract.sources.warc import render_docs_to_html

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 250)
    pages = render_docs_to_html(
        docs.select(F.col("doc_id").cast("string").alias("doc_id"), "text")
    )
    return extract_links(pages).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "seq",
        "href",
        "anchor",
        "url",
    )


# regenerate the 5-links-per-page table arithmetically, then
# aggregate per target URL with identical semantics
@_query("anchor_text_agg", """
            WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 250),
            links AS MATERIALIZED (
                SELECT doc_id, 'https://example.org/home' AS url,
                       'home nav link' AS anchor FROM d
                UNION ALL
                SELECT doc_id, 'https://example.org/about', 'about nav link' FROM d
                UNION ALL
                SELECT doc_id, 'https://example.org/contact', 'contact nav link' FROM d
                UNION ALL
                SELECT doc_id,
                       'https://example.org/' || CAST((doc_id * 7 + 1) % 500 AS VARCHAR),
                       'related one' FROM d
                UNION ALL
                SELECT doc_id,
                       'https://example.org/' || CAST((doc_id * 11 + 9) % 500 AS VARCHAR),
                       'related two' FROM d)
            SELECT url,
                   CAST(COUNT(*) AS BIGINT) AS n_inlinks,
                   CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_source_docs,
                   array_to_string(list_sort(list_distinct(list(anchor))), '|') AS anchors
            FROM links GROUP BY url
        """)
def _q_anchor_text_agg(spark, sf):
    """Anchor-text corpus (r5): per-target-URL aggregation of incoming
    anchors over the extracted link graph — inlink counts, distinct source
    docs, and the sorted distinct anchor set. The oracle regenerates the
    same 5-links-per-page table arithmetically and aggregates it with
    identical semantics, so the whole extract→resolve→aggregate chain
    gates."""
    from autoextract.operators.html import extract_links
    from autoextract.operators.retrieval import anchor_text_agg
    from autoextract.sources.warc import render_docs_to_html

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 250)
    links = extract_links(
        render_docs_to_html(
            docs.select(F.col("doc_id").cast("string").alias("doc_id"), "text")
        )
    )
    return anchor_text_agg(links)


# full RFC 9309 replay: rebuild the same robots.txt per host, split
# lines, recover groups with the LAG window, compile patterns to
# RE2 ('*' wildcard, '$' anchor, specials escaped), select the
# agent's groups (exact suppresses '*', matching groups combine),
# then longest-match / allow-tie / lexicographic-tie argmax per URL
@_query("robots_filter", """
            WITH hosts AS (
              SELECT DISTINCT source || '.com' AS host,
                     CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) AS s
              FROM documents),
            rb AS (
              SELECT host,
                '# corpus policy' || chr(10) ||
                CASE WHEN s % 2 = 0 THEN
                  'User-agent: trainbot' || chr(10) ||
                  'Disallow: /private/' || chr(10) ||
                  'Allow: /private/ok' || chr(10) ELSE '' END ||
                chr(10) || 'User-agent: *' || chr(10) ||
                'Disallow: /tmp/*' || chr(10) ||
                'Allow: /tmp/keep*' || chr(10) || 'Disallow:' || chr(10) ||
                CASE WHEN s % 3 = 0 THEN 'Disallow: /exact$' || chr(10)
                     ELSE '' END ||
                CASE WHEN s % 5 = 0 THEN
                  chr(10) || 'User-agent: otherbot' || chr(10) ||
                  'User-agent: trainbot' || chr(10) ||
                  'Disallow: /multi' || chr(10) ELSE '' END AS txt
              FROM hosts),
            lines AS (
              SELECT host, ls, unnest(range(1, len(ls) + 1)) AS pos
              FROM (SELECT host, string_split(txt, chr(10)) AS ls FROM rb)),
            ln0 AS (
              SELECT host, pos,
                     trim(regexp_replace(ls[pos], '#.*$', '')) AS line
              FROM lines),
            cls AS (
              SELECT host, pos,
                     lower(regexp_extract(line, '^([A-Za-z-]+)\\s*:', 1)) AS field,
                     trim(regexp_extract(line, '^[A-Za-z-]+\\s*:\\s*(\\S*)', 1)) AS value
              FROM ln0
              WHERE lower(regexp_extract(line, '^([A-Za-z-]+)\\s*:', 1))
                    IN ('user-agent', 'allow', 'disallow')),
            st AS (
              SELECT host, pos, field, value,
                     CASE WHEN field = 'user-agent'
                          AND COALESCE(LAG(field) OVER
                                (PARTITION BY host ORDER BY pos), '')
                              <> 'user-agent'
                     THEN 1 ELSE 0 END AS is_start
              FROM cls),
            grp AS (
              SELECT host, pos, field, value,
                     SUM(is_start) OVER (PARTITION BY host ORDER BY pos
                                         ROWS UNBOUNDED PRECEDING) AS grp
              FROM st),
            agents AS (
              SELECT DISTINCT host, grp, lower(value) AS agent
              FROM grp WHERE field = 'user-agent'),
            rules AS (
              SELECT host, grp, field = 'allow' AS allow, value AS pattern
              FROM grp WHERE field <> 'user-agent' AND value <> ''),
            rr AS (
              SELECT r.host, a.agent, r.allow, r.pattern,
                     length(r.pattern) AS pat_len,
                     '^' || replace(
                       regexp_replace(
                         CASE WHEN r.pattern LIKE '%$'
                              THEN substr(r.pattern, 1, length(r.pattern) - 1)
                              ELSE r.pattern END,
                         '([.^$+?(){}\\[\\]|\\\\])', '\\\\\\0', 'g'),
                       '*', '.*')
                     || CASE WHEN r.pattern LIKE '%$' THEN '$' ELSE '' END
                       AS pat_regex
              FROM rules r JOIN agents a USING (host, grp)),
            sel AS (
              SELECT host, allow, pattern, pat_len, pat_regex
              FROM (SELECT rr.*,
                           MAX(agent = 'trainbot') OVER (PARTITION BY host)
                             AS has_exact
                    FROM rr WHERE agent IN ('trainbot', '*'))
              WHERE agent = 'trainbot' OR NOT has_exact),
            urls AS (
              SELECT CAST(doc_id AS BIGINT) AS doc_id,
                     source || '.com' AS host,
                     CASE doc_id % 7
                       WHEN 0 THEN '/private/x' || CAST(doc_id AS VARCHAR)
                       WHEN 1 THEN '/private/ok' || CAST(doc_id AS VARCHAR)
                       WHEN 2 THEN '/tmp/junk' || CAST(doc_id AS VARCHAR)
                       WHEN 3 THEN '/tmp/keep' || CAST(doc_id AS VARCHAR)
                       WHEN 4 THEN '/exact'
                       WHEN 5 THEN '/exact' || CAST(doc_id AS VARCHAR)
                       ELSE '/multi/' || CAST(doc_id AS VARCHAR)
                     END AS path
              FROM documents),
            m AS (
              SELECT u.doc_id, u.host, u.path, s.allow, s.pattern, s.pat_len
              FROM urls u LEFT JOIN sel s
                ON u.host = s.host AND regexp_matches(u.path, s.pat_regex)),
            w AS (
              SELECT *, row_number() OVER (
                       PARTITION BY doc_id
                       ORDER BY pat_len DESC NULLS LAST,
                                allow DESC NULLS LAST,
                                pattern DESC NULLS LAST) AS rn
              FROM m)
            SELECT doc_id, host, path,
                   COALESCE(allow, TRUE) AS allowed,
                   COALESCE(pattern, '') AS matched_rule
            FROM w WHERE rn = 1
        """)
def _q_robots_filter(spark, sf):
    """RFC 9309 crawl-permission verdicts (r5): synthesize a robots.txt
    per host (group structure, comments, blank lines, multi-UA groups,
    wildcards, ``$`` anchors, empty no-op rules all exercised by host-id
    arithmetic), parse it with the pure-JVM window chain, and verdict one
    URL per document under agent ``trainbot``. The DuckDB oracle replays
    the ENTIRE chain — line split, group recovery, pattern→regex
    compilation, longest-match/allow-tie precedence — from the same
    synthesized text, so parser and matcher both gate."""
    from autoextract.sources.robots import parse_robots, robots_filter

    docs = _t(spark, sf, "documents").select("doc_id", "source")
    s = F.regexp_extract("source", r"([0-9]+)", 1).cast("int")
    hosts = docs.select(
        F.concat(F.col("source"), F.lit(".com")).alias("host"), s.alias("s")
    ).distinct()
    txt = F.concat(
        F.lit("# corpus policy\n"),
        F.when(
            F.col("s") % 2 == 0,
            F.lit("User-agent: trainbot\nDisallow: /private/\nAllow: /private/ok\n"),
        ).otherwise(F.lit("")),
        F.lit("\nUser-agent: *\nDisallow: /tmp/*\nAllow: /tmp/keep*\nDisallow:\n"),
        F.when(F.col("s") % 3 == 0, F.lit("Disallow: /exact$\n")).otherwise(F.lit("")),
        F.when(
            F.col("s") % 5 == 0,
            F.lit("\nUser-agent: otherbot\nUser-agent: trainbot\nDisallow: /multi\n"),
        ).otherwise(F.lit("")),
    )
    rules = parse_robots(hosts.select("host", txt.alias("robots_txt")))
    sid = F.col("doc_id").cast("string")
    path = (
        F.when(F.col("doc_id") % 7 == 0, F.concat(F.lit("/private/x"), sid))
        .when(F.col("doc_id") % 7 == 1, F.concat(F.lit("/private/ok"), sid))
        .when(F.col("doc_id") % 7 == 2, F.concat(F.lit("/tmp/junk"), sid))
        .when(F.col("doc_id") % 7 == 3, F.concat(F.lit("/tmp/keep"), sid))
        .when(F.col("doc_id") % 7 == 4, F.lit("/exact"))
        .when(F.col("doc_id") % 7 == 5, F.concat(F.lit("/exact"), sid))
        .otherwise(F.concat(F.lit("/multi/"), sid))
    )
    urls = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.concat(F.col("source"), F.lit(".com")).alias("host"),
        path.alias("path"),
    )
    return robots_filter(urls, rules, "TrainBot")


# head-metadata replay: every field derived arithmetically — the
# Spark side must land on these exact values through the real
# regex/entity chain over the generated HTML
@_query("html_metadata", """
            SELECT doc_id,
                   'Doc ' || doc_id || ' & Friends' AS title,
                   CASE WHEN doc_id % 3 = 0 THEN 'OG ' || doc_id END AS og_title,
                   CASE WHEN doc_id % 3 <> 1
                        THEN 'Summary of document ' || doc_id END
                     AS meta_description,
                   CASE WHEN doc_id % 4 = 0
                        THEN 'https://example.org/canon/' || doc_id END
                     AS canonical_url,
                   CASE WHEN doc_id % 5 = 0 THEN NULL
                        WHEN doc_id % 2 = 0 THEN 'en'
                        ELSE 'de-DE' END AS html_lang,
                   CASE WHEN doc_id % 7 = 0
                        THEN '2026-01-0' || (doc_id % 9 + 1) || 'T00:00:00Z' END
                     AS published_time,
                   doc_id % 11 = 0 AS noindex
            FROM documents WHERE doc_id < 500
        """)
def _q_html_metadata(spark, sf):
    """Head-metadata extraction (r5): per-page title / og:title /
    description / canonical / lang / published_time / robots-noindex via
    the pure-JVM regexp projection. The fixture rotates presence, both
    meta attribute orders (property-first and content-first), a
    whitespace-padded entity-bearing title, and an uppercase NOINDEX; the
    oracle derives every expected value arithmetically, so the regex
    chain, entity unescape, and NULL contracts all gate."""
    from autoextract.operators.html import extract_metadata

    docs = _docs(spark, sf, 500)
    d, did = F.col("doc_id"), F.col("doc_id").cast("string")
    lang_attr = (
        F.when(d % 5 == 0, F.lit(""))
        .when(d % 2 == 0, F.lit(" lang='en'"))
        .otherwise(F.lit(' lang="de-DE"'))
    )
    og = (
        F.when(
            d % 6 == 3,
            F.concat(F.lit('<meta content="OG '), did, F.lit('" property="og:title">')),
        )
        .when(
            d % 3 == 0,
            F.concat(F.lit('<meta property="og:title" content="OG '), did, F.lit('">')),
        )
        .otherwise(F.lit(""))
    )
    desc = F.when(
        d % 3 != 1,
        F.concat(F.lit('<meta name="description" content="Summary of document '), did, F.lit('">')),
    ).otherwise(F.lit(""))
    canon = F.when(
        d % 4 == 0,
        F.concat(F.lit('<link rel="canonical" href="https://example.org/canon/'), did, F.lit('">')),
    ).otherwise(F.lit(""))
    pub = F.when(
        d % 7 == 0,
        F.concat(
            F.lit('<meta property="article:published_time" content="2026-01-0'),
            (d % 9 + 1).cast("string"),
            F.lit('T00:00:00Z">'),
        ),
    ).otherwise(F.lit(""))
    robots = F.when(
        d % 11 == 0, F.lit('<meta name="robots" content="NOINDEX, nofollow">')
    ).otherwise(F.lit(""))
    html = F.concat(
        F.lit("<html"), lang_attr, F.lit("><head><title>  Doc "), did,
        F.lit(" &amp; Friends  </title>"), og, desc, canon, pub, robots,
        F.lit("</head><body><p>body</p></body></html>"),
    )
    return extract_metadata(docs.select("doc_id", html.alias("html"))).select(
        "doc_id", "title", "og_title", "meta_description", "canonical_url",
        "html_lang", "published_time", "noindex",
    )


# frontier replay: allowed set (robots), score product with NULL
# fallbacks, 9-dp rounding, md5 tie-break, per-host top-3
@_query("crawl_frontier", """
            WITH hosts AS (
              SELECT DISTINCT source || '.com' AS host,
                     CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) AS s
              FROM documents),
            c AS (
              SELECT d.doc_id, h.host, h.s
              FROM documents d JOIN hosts h ON d.source || '.com' = h.host
              WHERE d.doc_id % 5 <> 0),
            sc AS (
              SELECT host,
                     'https://' || host || '/page/' || doc_id AS url,
                     ROUND((s % 7 + 1) / 10.0
                       * (CASE WHEN doc_id % 3 = 0 THEN 0.5
                               ELSE (doc_id % 10) / 10.0 END), 9) AS score
              FROM c),
            r AS (
              SELECT host, url, score,
                     row_number() OVER (
                       PARTITION BY host
                       ORDER BY score DESC,
                         CAST(('0x' || substr(md5(url || 'hostcap-v1'), 1, 8))
                              AS UBIGINT) ASC,
                         url ASC) AS rn
              FROM sc)
            SELECT host, url, score, CAST(rn AS INT) AS fetch_rank
            FROM r WHERE rn <= 3
        """)
def _q_crawl_frontier(spark, sf):
    """Frontier assembly (r5): the crawl family composed end-to-end —
    per-host robots rules (Disallow: /private/ under the * group), a
    PageRank-style host prior, sitemap priorities with NULL fallback, and
    the skew-safe per-host cap — through ``build_frontier``. The oracle
    replays the whole chain arithmetically: allowed set, score product,
    9-dp rounding, and the cap's md5 tie-break ordering."""
    from autoextract.operators.frontier import build_frontier
    from autoextract.sources.robots import parse_robots

    docs = _t(spark, sf, "documents").select("doc_id", "source")
    s = F.regexp_extract("source", r"([0-9]+)", 1).cast("int")
    hosts = docs.select(
        F.concat(F.col("source"), F.lit(".com")).alias("host"), s.alias("s")
    ).distinct()
    d = F.col("doc_id")
    did = d.cast("string")
    host = F.concat(F.col("source"), F.lit(".com"))
    path = F.when(
        d % 5 == 0, F.concat(F.lit("/private/p"), did)
    ).otherwise(F.concat(F.lit("/page/"), did))
    priority = F.when(d % 3 == 0, F.lit(None).cast("double")).otherwise(
        (d % 10) / 10.0
    )
    candidates = docs.select(
        host.alias("host"),
        path.alias("path"),
        F.concat(F.lit("https://"), host, path).alias("url"),
        priority.alias("priority"),
    )
    rules = parse_robots(
        hosts.select(
            "host",
            F.lit("# policy\nUser-agent: *\nDisallow: /private/\n").alias(
                "robots_txt"
            ),
        )
    )
    ranks = hosts.select("host", ((F.col("s") % 7 + 1) / 10.0).alias("rank"))
    return build_frontier(candidates, rules, ranks, "trainbot", per_host_cap=3)


# table-grid replay: every (row, col) cell regenerated
# arithmetically with its words in left-to-right order
@_query("table_structure", """
            WITH docs AS (
              SELECT doc_id, doc_id % 3 + 3 AS nr, doc_id % 2 + 2 AS nc
              FROM documents WHERE doc_id < 300),
            r AS (SELECT doc_id, nc, unnest(range(0, nr)) AS row FROM docs),
            c AS (SELECT doc_id, row, unnest(range(0, nc)) AS col FROM r)
            SELECT doc_id, CAST(row AS INT) AS row, CAST(col AS INT) AS col,
                   'cell ' || doc_id || ' ' || row || ' ' || col AS text
            FROM c
        """)
def _q_table_structure(spark, sf):
    """Table-structure reconstruction (r5): 300 planted R×C grids (R,C by
    doc_id arithmetic) with 4-word cells, deterministic ±2px y-jitter, and
    shuffled word_seq-independent geometry; ``reconstruct_tables`` must
    recover every (row, col) cell with its words in left-to-right order
    through the projection-clustering kernel. The oracle regenerates the
    expected grid arithmetically — any row/column mis-clustering or cell
    mis-assembly changes the value hash."""
    from autoextract.operators.tables import reconstruct_tables

    docs = _docs(spark, sf, 300)
    d = F.col("doc_id")
    g = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), (d % 3 + 2).cast("int"))).alias("r"),
    )
    g = g.select(
        "doc_id", "r",
        F.explode(
            F.sequence(F.lit(0), (F.col("doc_id") % 2 + 1).cast("int"))
        ).alias("c"),
    )
    did = F.col("doc_id").cast("string")
    words = g.select(
        "doc_id", "r", "c",
        F.posexplode(
            F.array(
                F.lit("cell"), did,
                F.col("r").cast("string"), F.col("c").cast("string"),
            )
        ).alias("i", "content"),
    )
    jitter = ((F.col("doc_id") + F.col("r") + F.col("c")) % 5 - 2).cast("double")
    x0 = F.lit(40.0) + F.col("c") * 380.0 + F.col("i") * 85.0
    y0 = F.lit(100.0) + F.col("r") * 30.0 + jitter
    tw = words.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit(1).alias("page"),
        F.lit(0).alias("table_id"),
        (F.col("r") * 1000 + F.col("c") * 10 + F.col("i")).cast("int").alias("word_seq"),
        "content",
        x0.alias("x0"),
        y0.alias("y0"),
        (x0 + 80.0).alias("x1"),
        (y0 + 16.0).alias("y1"),
    )
    return reconstruct_tables(tw).select(
        F.col("doc_id").cast("long").alias("doc_id"), "row", "col", "text"
    )


# outline replay: exactly the title (level 1) + three section
# headings (level 2) per document, in reading order
@_query("document_outline", """
            WITH docs AS (SELECT doc_id FROM documents WHERE doc_id < 400)
            SELECT doc_id, CAST(0 AS INT) AS seq0, CAST(1 AS INT) AS level,
                   'Document ' || doc_id || ' Title' AS text
            FROM docs
            UNION ALL
            SELECT doc_id, CAST(10 * (s + 1) AS INT) AS seq0,
                   CAST(2 AS INT) AS level,
                   'Section ' || s || ' of document ' || doc_id AS text
            FROM docs, (SELECT unnest(range(0, 3)) AS s)
        """)
def _q_document_outline(spark, sf):
    """Heading detection (r5): per document, one 2×-height title, three
    1.5×-height section headings, and eight body lines; the box-height
    outline heuristic must emit exactly the title at level 1 and the
    sections at level 2, normalized by each document's own median line
    height (the body majority pins the median). Oracle regenerates the
    expected outline arithmetically."""
    from autoextract.operators.furniture import document_outline

    docs = _docs(spark, sf, 400)
    did = F.col("doc_id").cast("string")

    def line(seq, y, h, text):
        return F.struct(
            F.lit(seq).alias("seq0"), F.lit(float(y)).alias("y0"),
            F.lit(float(y + h)).alias("y1"), text.alias("text"),
        )

    arr = [line(0, 20, 32, F.concat(F.lit("Document "), did, F.lit(" Title")))]
    for s in range(3):
        arr.append(
            line(10 * (s + 1), 100 + 200 * s, 24,
                 F.concat(F.lit(f"Section {s} of document "), did))
        )
        for b in range(2):
            arr.append(
                line(10 * (s + 1) + b + 1, 130 + 200 * s + 30 * b, 16,
                     F.concat(F.lit(f"body line {s} {b} in "), did))
            )
    for b in range(2):
        arr.append(line(90 + b, 700 + 30 * b, 16,
                        F.concat(F.lit(f"closing body {b} of "), did)))
    lines = docs.select(
        "doc_id", F.lit(1).alias("page"), F.explode(F.array(*arr)).alias("l")
    ).select("doc_id", "page", "l.seq0", "l.y0", "l.y1", "l.text")
    return document_outline(lines).select(
        F.col("doc_id").cast("long").alias("doc_id"), "seq0", "level", "text"
    )


# sitemap replay: rebuild the same XML per host, split blocks with
# the identical dotall regex, preserve in-file order, read the
# optional child elements
@_query("sitemap_ingest", """
            WITH hosts AS (
              SELECT DISTINCT source || '.com' AS host,
                     CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) AS s
              FROM documents),
            x AS (
              SELECT host,
                CASE WHEN s % 4 = 0 THEN
                  '<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
                  || '<sitemap><loc>https://' || host
                  || '/sitemap1.xml</loc><lastmod>2026-01-0'
                  || CAST(s % 9 + 1 AS VARCHAR) || '</lastmod></sitemap>'
                  || '<sitemap><loc>https://' || host
                  || '/sitemap2.xml</loc></sitemap></sitemapindex>'
                ELSE
                  '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
                  || '<url><loc> https://' || host || '/p1 </loc>'
                  || CASE WHEN s % 2 = 1 THEN '<lastmod>2026-01-0'
                       || CAST(s % 9 + 1 AS VARCHAR) || '</lastmod>' ELSE '' END
                  || CASE WHEN s % 3 = 0 THEN '<priority>0.'
                       || CAST(s % 10 AS VARCHAR) || '</priority>' ELSE '' END
                  || '</url><url><loc>https://' || host || '/p2</loc></url>'
                  || '<url><loc>https://' || host
                  || '/p3</loc><priority>0.5</priority></url></urlset>'
                END AS xml
              FROM hosts),
            b AS (
              SELECT host,
                     CASE WHEN xml LIKE '<sitemapindex%' THEN 'sitemapindex'
                          ELSE 'urlset' END AS kind,
                     regexp_extract_all(xml,
                       '(?s)<(?:url|sitemap)>(.*?)</(?:url|sitemap)>', 1) AS bl
              FROM x),
            e AS (
              SELECT host, kind, bl, unnest(range(1, len(bl) + 1)) AS pos
              FROM b),
            p AS (
              SELECT host, kind, CAST(pos - 1 AS INT) AS ord, bl[pos] AS blk
              FROM e)
            SELECT host, kind, ord,
                   trim(regexp_extract(blk, '(?s)<loc>\\s*(.*?)\\s*</loc>', 1))
                     AS url,
                   NULLIF(regexp_extract(blk,
                     '<lastmod>\\s*([^<\\s]+)\\s*</lastmod>', 1), '') AS lastmod,
                   CAST(NULLIF(regexp_extract(blk,
                     '<priority>\\s*([^<\\s]+)\\s*</priority>', 1), '') AS DOUBLE)
                     AS priority
            FROM p
            WHERE trim(regexp_extract(blk, '(?s)<loc>\\s*(.*?)\\s*</loc>', 1)) <> ''
        """)
def _q_sitemap_ingest(spark, sf):
    """Sitemap XML parse (r5): synthesize a sitemaps.org payload per host
    (leaf urlsets with optional lastmod/priority, sitemapindex pointer
    files, whitespace-padded <loc>) and parse to per-entry rows with the
    pure-JVM regexp chain. The DuckDB oracle replays extraction from the
    same XML, so block split, order, kind detection, and optional-field
    NULLs all gate."""
    from autoextract.sources.sitemap import parse_sitemaps

    docs = _t(spark, sf, "documents").select("source")
    s = F.regexp_extract("source", r"([0-9]+)", 1).cast("int")
    hosts = docs.select(
        F.concat(F.col("source"), F.lit(".com")).alias("host"), s.alias("s")
    ).distinct()
    h, sc = F.col("host"), F.col("s")
    day = (sc % 9 + 1).cast("string")
    index_xml = F.concat(
        F.lit('<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'),
        F.lit("<sitemap><loc>https://"), h, F.lit("/sitemap1.xml</loc><lastmod>2026-01-0"),
        day, F.lit("</lastmod></sitemap>"),
        F.lit("<sitemap><loc>https://"), h, F.lit("/sitemap2.xml</loc></sitemap>"),
        F.lit("</sitemapindex>"),
    )
    urlset_xml = F.concat(
        F.lit('<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'),
        F.lit("<url><loc> https://"), h, F.lit("/p1 </loc>"),
        F.when(
            sc % 2 == 1,
            F.concat(F.lit("<lastmod>2026-01-0"), day, F.lit("</lastmod>")),
        ).otherwise(F.lit("")),
        F.when(
            sc % 3 == 0,
            F.concat(F.lit("<priority>0."), (sc % 10).cast("string"), F.lit("</priority>")),
        ).otherwise(F.lit("")),
        F.lit("</url><url><loc>https://"), h, F.lit("/p2</loc></url>"),
        F.lit("<url><loc>https://"), h, F.lit("/p3</loc><priority>0.5</priority></url>"),
        F.lit("</urlset>"),
    )
    xml = F.when(sc % 4 == 0, index_xml).otherwise(urlset_xml)
    return parse_sitemaps(hosts.select("host", xml.alias("sitemap_xml")))


# feed replay: every field derived arithmetically per (host, ord)
@_query("feed_ingest", """
            WITH hosts AS (
              SELECT DISTINCT source || '.com' AS host,
                     CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) AS s
              FROM documents),
            i AS (SELECT host, s, unnest(range(0, 3)) AS ord FROM hosts)
            SELECT host,
                   CASE WHEN s % 2 = 0 THEN 'rss' ELSE 'atom' END AS kind,
                   CAST(ord AS INT) AS ord,
                   CASE WHEN s % 2 = 0 THEN 'Post ' || ord || ' on ' || host
                        ELSE 'Entry ' || ord || ' of ' || host END AS title,
                   CASE WHEN s % 2 = 0
                        THEN 'https://' || host || '/post-' || ord
                        ELSE 'https://' || host || '/e' || ord END AS url,
                   CASE WHEN s % 2 = 0 AND ord < 2
                        THEN 'Mon, 0' || (ord + 1) || ' Jan 2026 00:00:00 GMT'
                        WHEN s % 2 = 1 AND ord % 2 = 0
                        THEN '2026-01-0' || (s % 9 + 1) || 'T00:00:00Z'
                   END AS published,
                   CASE WHEN s % 2 = 0 AND ord <> 2
                        THEN 'tag:' || host || ':' || ord
                        WHEN s % 2 = 1
                        THEN 'urn:' || host || ':' || ord
                   END AS entry_id
            FROM i
        """)
def _q_feed_ingest(spark, sf):
    """RSS/Atom feed parse (r5): synthesize per host an RSS 2.0 channel
    (element-text links, one CDATA title, rotating pubDate/guid presence)
    or an Atom feed (href-attribute links, rotating <updated>), and parse
    with the pure-JVM regexp chain. The oracle derives every field
    arithmetically, so block split, order, the RSS-vs-Atom link trap,
    CDATA stripping, and the NULL contracts all gate."""
    from autoextract.sources.feeds import parse_feeds

    docs = _t(spark, sf, "documents").select("source")
    s = F.regexp_extract("source", r"([0-9]+)", 1).cast("int")
    hosts = docs.select(
        F.concat(F.col("source"), F.lit(".com")).alias("host"), s.alias("s")
    ).distinct()
    h, sc = F.col("host"), F.col("s")

    def rss_item(i):
        title = (
            F.concat(F.lit("<title><![CDATA[Post 1 on "), h, F.lit("]]></title>"))
            if i == 1
            else F.concat(F.lit(f"<title>Post {i} on "), h, F.lit("</title>"))
        )
        parts = [
            F.lit("<item>"), title,
            F.lit(f"<link> https://"), h, F.lit(f"/post-{i} </link>"),
        ]
        if i < 2:
            parts.append(F.lit(f"<pubDate>Mon, 0{i + 1} Jan 2026 00:00:00 GMT</pubDate>"))
        if i != 2:
            parts += [F.lit('<guid isPermaLink="false">tag:'), h, F.lit(f":{i}</guid>")]
        parts.append(F.lit("</item>"))
        return F.concat(*parts)

    rss = F.concat(
        F.lit('<rss version="2.0"><channel><title>chan</title>'),
        rss_item(0), rss_item(1), rss_item(2),
        F.lit("</channel></rss>"),
    )

    def atom_entry(i):
        parts = [
            F.lit("<entry>"),
            F.concat(F.lit(f"<title>Entry {i} of "), h, F.lit("</title>")),
            F.lit(f'<link rel="alternate" href="https://'), h, F.lit(f'/e{i}"/>'),
        ]
        if i % 2 == 0:
            parts.append(
                F.concat(
                    F.lit("<updated>2026-01-0"), (sc % 9 + 1).cast("string"),
                    F.lit("T00:00:00Z</updated>"),
                )
            )
        parts += [F.lit("<id>urn:"), h, F.lit(f":{i}</id>"), F.lit("</entry>")]
        return F.concat(*parts)

    atom = F.concat(
        F.lit('<feed xmlns="http://www.w3.org/2005/Atom"><title>f</title>'),
        atom_entry(0), atom_entry(1), atom_entry(2),
        F.lit("</feed>"),
    )
    xml = F.when(sc % 2 == 0, rss).otherwise(atom)
    return parse_feeds(hosts.select("host", xml.alias("feed_xml")))


# jsonl replay: parsed fields derived arithmetically; corrupt
# lines -> valid=false with NULL fields
@_query("jsonl_ingest", """
            SELECT doc_id AS row_id,
                   CASE WHEN doc_id % 10 <> 7 THEN doc_id END AS doc_id,
                   CASE WHEN doc_id % 10 <> 7
                        THEN 'doc ' || doc_id || ' says "hi"' END AS text,
                   CASE WHEN doc_id % 10 = 7 THEN NULL
                        WHEN doc_id % 2 = 0 THEN 'en' ELSE 'de' END AS lang,
                   CASE WHEN doc_id % 10 <> 7 AND doc_id % 3 <> 0
                        THEN (doc_id % 10) / 10.0 END AS score,
                   CASE WHEN doc_id % 10 <> 7 THEN CAST(2 AS INT) END AS n_tags,
                   CASE WHEN doc_id % 10 <> 7 THEN 'a' END AS first_tag,
                   doc_id % 10 <> 7 AS valid
            FROM documents
        """)
def _q_jsonl_ingest(spark, sf):
    """JSONL column parsing (r5): per doc a JSON object with an escaped
    quote in the text, a nested meta struct (score absent on every third
    doc → field NULL), and a tag array; every 10th line is garbage and
    must surface as valid=false with NULL fields, never a task failure.
    Oracle derives the parsed values arithmetically."""
    from autoextract.sources.jsonl import parse_jsonl_column

    docs = _t(spark, sf, "documents").select(
        F.col("doc_id").cast("long").alias("row_id")
    )
    d = F.col("row_id")
    did = d.cast("string")
    lang = F.when(d % 2 == 0, F.lit("en")).otherwise(F.lit("de"))
    score_part = F.when(d % 3 == 0, F.lit("")).otherwise(
        F.concat(F.lit(', "score": 0.'), (d % 10).cast("string"))
    )
    good = F.concat(
        F.lit('{"doc_id": '), did,
        F.lit(', "text": "doc '), did, F.lit(' says \\"hi\\""'),
        F.lit(', "meta": {"lang": "'), lang, F.lit('"'), score_part,
        F.lit('}, "tags": ["a", "b'), did, F.lit('"]}'),
    )
    line = F.when(d % 10 == 7, F.concat(F.lit("not json "), did)).otherwise(good)
    parsed = parse_jsonl_column(
        docs.select("row_id", line.alias("line")),
        "doc_id bigint, text string, meta struct<lang:string,score:double>, "
        "tags array<string>",
    )
    return parsed.select(
        "row_id", "doc_id", "text",
        F.col("meta.lang").alias("lang"),
        F.col("meta.score").alias("score"),
        F.size("tags").alias("n_tags"),
        F.element_at("tags", 1).alias("first_tag"),
        "valid",
    )


# csv replay: RFC 4180 quoting derived arithmetically; all-empty
# records -> valid=false
@_query("csv_ingest", """
            SELECT doc_id AS row_id,
                   CASE WHEN doc_id % 9 <> 8 THEN doc_id END AS k,
                   CASE WHEN doc_id % 9 <> 8
                        THEN 'text with, comma and "quote" inside ' || doc_id
                   END AS body,
                   CASE WHEN doc_id % 9 <> 8
                        THEN CAST(doc_id % 10 + 0.5 AS DOUBLE) END AS score,
                   doc_id % 9 <> 8 AS valid
            FROM documents
        """)
def _q_csv_ingest(spark, sf):
    """CSV column parsing (r5): RFC 4180 quoting exercised per doc (a
    quoted field with embedded comma AND doubled quotes), numeric typing,
    and every 9th line an all-empty record that must flag valid=false.
    Oracle derives parsed values arithmetically."""
    from autoextract.sources.jsonl import parse_csv_column

    docs = _t(spark, sf, "documents").select(
        F.col("doc_id").cast("long").alias("row_id")
    )
    d = F.col("row_id")
    did = d.cast("string")
    good = F.concat(
        did, F.lit(',"text with, comma and ""quote"" inside '),
        did, F.lit('",'), (d % 10).cast("string"), F.lit(".5"),
    )
    line = F.when(d % 9 == 8, F.lit(",,")).otherwise(good)
    return parse_csv_column(
        docs.select("row_id", line.alias("line")),
        "k bigint, body string, score double",
    )


# wds replay: every member derived arithmetically (key zero-pad,
# multi-dot ext, text decode, bin sizes)
@_query("wds_ingest", """
            WITH docs AS (
              SELECT doc_id, doc_id % 3 + 1 AS n FROM documents
              WHERE doc_id < 200 AND doc_id % 19 <> 18),
            s AS (
              SELECT doc_id, unnest(range(0, n)) AS k FROM docs),
            keyed AS (
              SELECT doc_id, k,
                     lpad(CAST(doc_id AS VARCHAR), 6, '0') || '-' || k
                       AS sample_key
              FROM s)
            SELECT doc_id, sample_key, 'bin' AS ext,
                   CAST(NULL AS VARCHAR) AS content,
                   CAST(k + 3 AS BIGINT) AS n_bytes
            FROM keyed
            UNION ALL SELECT doc_id, sample_key, 'cls',
                   CAST((doc_id + k) % 10 AS VARCHAR),
                   CAST(length(CAST((doc_id + k) % 10 AS VARCHAR)) AS BIGINT)
            FROM keyed
            UNION ALL SELECT doc_id, sample_key, 'seg.png', NULL, 8
            FROM keyed WHERE doc_id % 4 = 0
            UNION ALL SELECT doc_id, sample_key, 'txt',
                   'caption ' || k || ' of shard ' || doc_id,
                   CAST(length('caption ' || k || ' of shard ' || doc_id)
                        AS BIGINT)
            FROM keyed
        """)
def _q_wds_ingest(spark, sf):
    """WebDataset shard split (r5): per doc a tar shard with 1–3 samples
    of .txt/.cls/.bin members (the LAION-style key.ext convention,
    including a multi-dot seg.png field name on every 4th doc); every
    19th payload corrupt → zero rows. Text members decode; oracle derives
    every (key, ext, content, n_bytes) arithmetically."""
    from autoextract.sources.webdataset import build_wds_tar, wds_members

    docs = _docs(spark, sf, 200)

    def render(d):
        if d % 19 == 18:
            return d, b"not a tar"
        samples = {}
        for k in range(d % 3 + 1):
            key = f"{d:06d}-{k}"
            fields = {
                "txt": f"caption {k} of shard {d}".encode(),
                "cls": str((d + k) % 10).encode(),
                "bin": bytes([d % 251]) * (k + 3),
            }
            if d % 4 == 0:
                fields["seg.png"] = b"\x89PNGstub"
            samples[key] = fields
        return d, build_wds_tar(samples)

    shards = map_rows(docs, render, "doc_id long, payload binary")
    members = wds_members(shards)
    return members.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "sample_key",
        "ext",
        F.when(
            F.col("ext").isin("txt", "cls"), F.decode("payload", "UTF-8")
        ).alias("content"),
        "n_bytes",
    )


# latex replay: every span derived arithmetically — ligatures,
# macro unwrap and cite bracketing land as the literals below;
# the conditional figure shifts later seqs
@_query("latex_ingest", """
            WITH docs AS (
              SELECT doc_id, doc_id % 4 = 0 AS has_fig
              FROM documents WHERE doc_id < 240 AND doc_id % 13 <> 12)
            SELECT CAST(doc_id AS VARCHAR) AS doc_id, CAST(0 AS INT) AS seq,
                   'heading' AS kind,
                   'Paper ' || doc_id || ' & results' AS text,
                   CAST(1 AS INT) AS level, CAST(NULL AS VARCHAR) AS media_ref
            FROM docs
            UNION ALL SELECT CAST(doc_id AS VARCHAR), 1, 'text',
                   'We study — topic ' || doc_id % 7
                     || ' carefully [ref' || doc_id || '] now.',
                   NULL, NULL FROM docs
            UNION ALL SELECT CAST(doc_id AS VARCHAR), 2, 'math',
                   'E_' || doc_id % 5 || ' = m c^2 + ' || doc_id,
                   NULL, NULL FROM docs
            UNION ALL SELECT CAST(doc_id AS VARCHAR), 3, 'image',
                   'Caption ' || doc_id, NULL, 'fig' || doc_id || '.png'
            FROM docs WHERE has_fig
            UNION ALL SELECT CAST(doc_id AS VARCHAR),
                   CASE WHEN has_fig THEN 4 ELSE 3 END, 'table',
                   'a | ' || doc_id % 3 || chr(10) || 'b | ' || doc_id % 5,
                   NULL, NULL FROM docs
            UNION ALL SELECT CAST(doc_id AS VARCHAR),
                   CASE WHEN has_fig THEN 5 ELSE 4 END, 'heading',
                   'Results ' || doc_id % 3, 2, NULL FROM docs
            UNION ALL SELECT CAST(doc_id AS VARCHAR),
                   CASE WHEN has_fig THEN 6 ELSE 5 END, 'text',
                   'Closing ' || doc_id || '.', NULL, NULL FROM docs
        """)
def _q_latex_ingest(spark, sf):
    """LaTeX ingestion (r5): per doc an arXiv-style source whose body
    exercises comment stripping, the ---/-- ligatures, style-macro
    unwrap, \\cite bracketing, accent composition and TeX escapes, plus
    a display equation, a figure with media_ref + caption on every 4th
    doc (shifting later seqs), a tabular flattened to the shared table
    vocabulary, and every 13th payload markerless → zero spans (O6)."""
    from autoextract.sources.latex import build_latex, latex_spans

    docs = _docs(spark, sf, 240)

    def render(d):
        if d % 13 == 12:
            return d, b"no tex markers"
        blocks = [
            ("heading", 1, f"Paper {d} & results"),
            ("text",
             f"We study --- topic {d % 7} \\emph{{carefully}} "
             f"\\cite{{ref{d}}}~now."),
            ("math", f"E_{d % 5} = m c^2 + {d}"),
        ]
        if d % 4 == 0:
            blocks.append(("image", f"fig{d}.png", f"Caption {d}"))
        blocks += [
            ("table", [["a", str(d % 3)], ["b", str(d % 5)]]),
            ("heading", 2, f"Results {d % 3}"),
            ("text", f"Closing {d}."),
        ]
        return d, build_latex(blocks)

    media = map_rows(docs, render, "doc_id long, payload binary")
    return latex_spans(media)


# markdown replay: every span derived arithmetically — entity
# unescape, emphasis/link unwrap and code protection land as the
# literals below; the conditional image shifts later seqs
@_query("markdown_ingest", """
            WITH docs AS (
              SELECT doc_id, doc_id % 4 = 0 AS has_img
              FROM documents WHERE doc_id < 240 AND doc_id % 13 <> 12)
            SELECT CAST(doc_id AS VARCHAR) AS doc_id, CAST(0 AS INT) AS seq,
                   'heading' AS kind,
                   'Guide ' || doc_id || ' & notes' AS text,
                   CAST(1 AS INT) AS level, CAST(NULL AS VARCHAR) AS media_ref
            FROM docs
            UNION ALL SELECT CAST(doc_id AS VARCHAR), 1, 'text',
                   'Intro bold ' || doc_id % 7 || ' see spec ' || doc_id
                     || ' and x_' || doc_id % 5 || ' now.',
                   NULL, NULL FROM docs
            UNION ALL SELECT CAST(doc_id AS VARCHAR), 2, 'code',
                   'def f():' || chr(10) || '    return ' || doc_id, NULL,
                   CASE doc_id % 3 WHEN 0 THEN 'py' WHEN 1 THEN 'js' END
            FROM docs
            UNION ALL SELECT CAST(doc_id AS VARCHAR), 3, 'image',
                   'Figure ' || doc_id, NULL, 'img' || doc_id || '.png'
            FROM docs WHERE has_img
            UNION ALL SELECT CAST(doc_id AS VARCHAR),
                   CASE WHEN has_img THEN 4 ELSE 3 END, 'table',
                   'k | v' || chr(10) || 'a | ' || doc_id % 3 || chr(10)
                     || 'b | ' || doc_id % 5, NULL, NULL FROM docs
            UNION ALL SELECT CAST(doc_id AS VARCHAR),
                   CASE WHEN has_img THEN 5 ELSE 4 END, 'heading',
                   'Results ' || doc_id % 3, 2, NULL FROM docs
            UNION ALL SELECT CAST(doc_id AS VARCHAR),
                   CASE WHEN has_img THEN 6 ELSE 5 END, 'list',
                   'alpha ' || doc_id % 2 || chr(10) || 'beta '
                     || doc_id % 3, NULL, NULL FROM docs
            UNION ALL SELECT CAST(doc_id AS VARCHAR),
                   CASE WHEN has_img THEN 7 ELSE 6 END, 'quote',
                   'Note ' || doc_id || '.', NULL, NULL FROM docs
            UNION ALL SELECT CAST(doc_id AS VARCHAR),
                   CASE WHEN has_img THEN 8 ELSE 7 END, 'text',
                   'Closing ' || doc_id || '.', NULL, NULL FROM docs
        """)
def _q_markdown_ingest(spark, sf):
    """Markdown ingestion (r5): per doc a GFM document exercising ATX +
    setext headings (the ----under-paragraph trap), entity unescape,
    emphasis/link unwrap with inline-code protection, a fenced code
    block with rotating info string (empty → NULL media_ref), a pipe
    table whose delimiter row vanishes, an image on every 4th doc
    (shifting later seqs — the oracle replays the shift), a list, a
    blockquote; every 13th payload is invalid UTF-8 → zero spans (O6)."""
    from autoextract.sources.markdown import build_markdown, markdown_spans

    docs = _docs(spark, sf, 240)

    def render(d):
        if d % 13 == 12:
            return d, b"\xff\xfe\x00md"
        blocks = [
            ("heading", 1, f"Guide {d} & notes"),
            ("rawtext",
             f"Intro **bold {d % 7}** see "
             f"[spec {d}](https://ex.com/{d}) and `x_{d % 5}` now."),
            ("code", ("py", "js", "")[d % 3],
             f"def f():\n    return {d}"),
        ]
        if d % 4 == 0:
            blocks.append(("image", f"img{d}.png", f"Figure {d}"))
        blocks += [
            ("table", [["k", "v"], ["a", str(d % 3)],
                       ["b", str(d % 5)]]),
            ("setext", 2, f"Results {d % 3}"),
            ("list", [f"alpha {d % 2}", f"beta {d % 3}"]),
            ("quote", f"Note {d}."),
            ("text", f"Closing {d}."),
        ]
        return d, build_markdown(blocks)

    media = map_rows(docs, render, "doc_id long, payload binary")
    return markdown_spans(media)


# mbox replay: every field derived arithmetically — encoded-word
# decode, CTE decode and mboxrd unquoting land as the literals
# below; date_ts replays the fixed-epoch arithmetic
@_query("mbox_ingest", """
            WITH docs AS (
              SELECT doc_id FROM documents
              WHERE doc_id < 200 AND doc_id % 11 <> 10)
            SELECT CAST(doc_id AS VARCHAR) AS doc_id, CAST(0 AS INT) AS msg_idx,
                   'u' || doc_id || '@example.com' AS from_addr,
                   'Hello ' || doc_id AS subject,
                   CAST(1704067200 + doc_id % 60 AS BIGINT) AS date_ts,
                   'm0@example.com' AS message_id,
                   'Report ' || doc_id || '.' || chr(10)
                     || 'From the field.' AS body
            FROM docs
            UNION ALL SELECT CAST(doc_id AS VARCHAR), 1,
                   'bob' || doc_id % 9 || '@example.org',
                   'Ré: topic ' || doc_id % 5,
                   CAST(1706887800 AS BIGINT), 'm1@example.com',
                   'Café item ' || doc_id % 7 || '.' FROM docs
            UNION ALL SELECT CAST(doc_id AS VARCHAR), 2,
                   'carol@example.net', 'naïve ' || doc_id % 4,
                   CAST(1647388799 AS BIGINT), 'm2@example.com',
                   'Plain wins ' || doc_id || '.' FROM docs
            WHERE doc_id % 3 = 0
        """)
def _q_mbox_ingest(spark, sf):
    """MBOX ingestion (r5): per doc a 2–3 message mailbox exercising
    RFC 4155 framing + mboxrd body quoting (a literal ``From `` body
    line must round-trip), RFC 2047 B- and Q-encoded subjects, the
    RFC 5322 date parser (numeric zone, negative offset, alpha GMT),
    quoted-printable and base64 transfer encodings rotating by doc, and
    on every 3rd doc a multipart/alternative where text/plain must win
    over the html part listed first; every 11th payload is junk → zero
    rows (O6)."""
    from autoextract.sources.mbox import build_mbox, mbox_messages

    docs = _docs(spark, sf, 200)

    def render(d):
        if d % 11 == 10:
            return d, b"not a mailbox"
        msgs = [
            {"from_name": "Ann", "from_addr": f"u{d}@example.com",
             "subject": f"Hello {d}",
             "date": "Mon, 1 Jan 2024 00:00:%02d +0000" % (d % 60),
             "body": f"Report {d}.\nFrom the field."},
            {"from_addr": f"bob{d % 9}@example.org",
             "subject": f"Ré: topic {d % 5}", "subject_enc": "B",
             "date": "2 Feb 2024 10:30:00 -0500",
             "cte": ("quoted-printable", "base64")[d % 2],
             "body": f"Café item {d % 7}."},
        ]
        if d % 3 == 0:
            msgs.append(
                {"from_addr": "carol@example.net",
                 "subject": f"naïve {d % 4}", "subject_enc": "Q",
                 "date": "Tue, 15 Mar 22 23:59:59 GMT",
                 "body": f"Plain wins {d}.",
                 "html": "<b>html loses</b>"})
        return d, build_mbox(msgs)

    media = map_rows(docs, render, "doc_id long, payload binary")
    return mbox_messages(media)


# odt replay: every span derived arithmetically — the <text:s/>
# whitespace element and entity escapes land as the literals
# below; the conditional image frame shifts later seqs
@_query("odt_ingest", """
            WITH docs AS (
              SELECT doc_id, doc_id % 5 = 0 AS has_img
              FROM documents WHERE doc_id < 240 AND doc_id % 9 <> 8)
            SELECT CAST(doc_id AS VARCHAR) AS doc_id, CAST(0 AS INT) AS seq,
                   'heading' AS kind, 'Spec ' || doc_id || ' & co' AS text,
                   CAST(1 AS INT) AS level, CAST(NULL AS VARCHAR) AS media_ref
            FROM docs
            UNION ALL SELECT CAST(doc_id AS VARCHAR), 1, 'text',
                   'Body  ' || doc_id % 7 || ' of <doc> ' || doc_id || '.',
                   NULL, NULL FROM docs
            UNION ALL SELECT CAST(doc_id AS VARCHAR), 2, 'image', '',
                   NULL, 'Pictures/img' || doc_id || '.png'
            FROM docs WHERE has_img
            UNION ALL SELECT CAST(doc_id AS VARCHAR),
                   CASE WHEN has_img THEN 3 ELSE 2 END, 'table',
                   'k | ' || doc_id % 3 || chr(10) || 'v | ' || doc_id % 5,
                   NULL, NULL FROM docs
            UNION ALL SELECT CAST(doc_id AS VARCHAR),
                   CASE WHEN has_img THEN 4 ELSE 3 END, 'list',
                   'one ' || doc_id % 2 || chr(10) || 'two ' || doc_id % 3,
                   NULL, NULL FROM docs
            UNION ALL SELECT CAST(doc_id AS VARCHAR),
                   CASE WHEN has_img THEN 5 ELSE 4 END, 'heading',
                   'Sub ' || doc_id % 4, 2, NULL FROM docs
            UNION ALL SELECT CAST(doc_id AS VARCHAR),
                   CASE WHEN has_img THEN 6 ELSE 5 END, 'text',
                   'Closing ' || doc_id || '.', NULL, NULL FROM docs
        """)
def _q_odt_ingest(spark, sf):
    """ODT ingestion (r5): per doc an OpenDocument package (stdlib
    zipfile + ODF content.xml) with two heading levels, entity-escaped
    paragraph text whose double space round-trips through the ODF
    ``<text:s/>`` whitespace element, a 2×2 table, a list, and an image
    frame on every 5th doc carrying its package href as media_ref
    (shifting later seqs — the oracle replays the shift); every 9th
    payload is not a ZIP → zero spans (O6)."""
    from autoextract.sources.odt import build_odt, odt_spans

    docs = _docs(spark, sf, 240)

    def render(d):
        if d % 9 == 8:
            return d, b"not a zip"
        blocks = [
            ("heading", 1, f"Spec {d} & co"),
            ("text", f"Body  {d % 7} of <doc> {d}."),
        ]
        if d % 5 == 0:
            blocks.append(("image", f"Pictures/img{d}.png"))
        blocks += [
            ("table", [["k", str(d % 3)], ["v", str(d % 5)]]),
            ("list", [f"one {d % 2}", f"two {d % 3}"]),
            ("heading", 2, f"Sub {d % 4}"),
            ("text", f"Closing {d}."),
        ]
        return d, build_odt(blocks)

    media = map_rows(docs, render, "doc_id long, payload binary")
    return odt_spans(media)


# ipynb replay: every span derived arithmetically — markdown-cell
# routing lands as the cleaned literals below; the conditional
# markdown cell shifts BOTH the cell index and the seq
@_query("ipynb_ingest", """
            WITH docs AS (
              SELECT doc_id, doc_id % 4 = 0 AS has_md2,
                     CASE doc_id % 3 WHEN 0 THEN 'python'
                          WHEN 1 THEN 'julia' ELSE 'r' END AS lang
              FROM documents WHERE doc_id < 240 AND doc_id % 13 <> 12)
            SELECT CAST(doc_id AS VARCHAR) AS doc_id, CAST(0 AS INT) AS cell,
                   CAST(0 AS INT) AS seq, 'heading' AS kind,
                   'Notebook ' || doc_id || ' & co' AS text,
                   CAST(1 AS INT) AS level, CAST(NULL AS VARCHAR) AS media_ref
            FROM docs
            UNION ALL SELECT CAST(doc_id AS VARCHAR), 0, 1, 'text',
                   'Intro bold ' || doc_id % 7 || '.', NULL, NULL FROM docs
            UNION ALL SELECT CAST(doc_id AS VARCHAR), 1, 2, 'code',
                   'x = ' || doc_id || chr(10) || 'print(x * '
                     || doc_id % 5 || ')', NULL, lang FROM docs
            UNION ALL SELECT CAST(doc_id AS VARCHAR), 1, 3, 'output',
                   CAST(doc_id * (doc_id % 5) AS VARCHAR) || chr(10),
                   NULL, NULL FROM docs
            UNION ALL SELECT CAST(doc_id AS VARCHAR), 2, 4, 'heading',
                   'Results ' || doc_id % 3, 2, NULL
            FROM docs WHERE has_md2
            UNION ALL SELECT CAST(doc_id AS VARCHAR),
                   CASE WHEN has_md2 THEN 3 ELSE 2 END,
                   CASE WHEN has_md2 THEN 5 ELSE 4 END, 'text',
                   'raw ' || doc_id, NULL, NULL FROM docs
        """)
def _q_ipynb_ingest(spark, sf):
    """Notebook ingestion (r5): per doc an nbformat-4 notebook whose
    markdown cells route through the markdown leg (same span
    vocabulary), a code cell with kernel language on media_ref
    (rotating python/julia/r) and an arithmetic stream output, an
    extra markdown cell on every 4th doc (shifting cell indices and
    seqs — the oracle replays both), and a raw cell; the ``source``
    string-vs-line-list wild forms alternate by doc and must parse
    identically; every 13th payload is not JSON → zero rows (O6)."""
    from autoextract.sources.ipynb import build_ipynb, ipynb_spans

    docs = _docs(spark, sf, 240)

    def render(d):
        if d % 13 == 12:
            return d, b"not json"
        cells = [
            ("markdown",
             f"# Notebook {d} & co\n\nIntro **bold {d % 7}**."),
            ("code", f"x = {d}\nprint(x * {d % 5})",
             [f"{d * (d % 5)}\n"]),
        ]
        if d % 4 == 0:
            cells.append(("markdown", f"## Results {d % 3}"))
        cells.append(("raw", f"raw {d}"))
        return d, build_ipynb(
            cells, lang=("python", "julia", "r")[d % 3],
            list_sources=bool(d % 2))

    media = map_rows(docs, render, "doc_id long, payload binary")
    return ipynb_spans(media)


# patch replay: every hunk row derived arithmetically — counted
# adds/dels, declared extents, /dev/null → NULL paths, and the
# file_idx shifts from the conditional add/binary files
@_query("patch_ingest", """
            WITH docs AS (
              SELECT doc_id, doc_id % 4 = 0 AS has_h2,
                     doc_id % 3 = 0 AS has_add, doc_id % 5 = 0 AS has_bin
              FROM documents WHERE doc_id < 240 AND doc_id % 13 <> 12)
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CAST(0 AS INT) AS file_idx,
                   'src/m' || doc_id % 7 || '.py' AS old_path,
                   'src/m' || doc_id % 7 || '.py' AS new_path,
                   FALSE AS is_binary, CAST(0 AS INT) AS hunk_idx,
                   CAST(doc_id % 20 + 1 AS INT) AS old_start,
                   CAST(3 AS INT) AS old_count,
                   CAST(doc_id % 20 + 1 AS INT) AS new_start,
                   CAST(3 AS INT) AS new_count,
                   CAST(1 AS INT) AS n_added, CAST(1 AS INT) AS n_deleted,
                   ' ctx ' || doc_id || chr(10) || '-old ' || doc_id % 5
                     || chr(10) || '+new ' || doc_id % 5 || chr(10)
                     || ' end' AS body,
                   TRUE AS valid
            FROM docs
            UNION ALL SELECT CAST(doc_id AS VARCHAR), 0,
                   'src/m' || doc_id % 7 || '.py',
                   'src/m' || doc_id % 7 || '.py', FALSE, 1,
                   50, 0, 51, 1, 1, 0, '+extra ' || doc_id, TRUE
            FROM docs WHERE has_h2
            UNION ALL SELECT CAST(doc_id AS VARCHAR), 1, NULL,
                   'docs/n' || doc_id || '.txt', FALSE, 0,
                   0, 0, 1, 2, 2, 0,
                   '+hello ' || doc_id || chr(10) || '+bye 0', TRUE
            FROM docs WHERE has_add
            UNION ALL SELECT CAST(doc_id AS VARCHAR),
                   CASE WHEN has_add THEN 2 ELSE 1 END,
                   'img.png', 'img.png', TRUE, NULL,
                   NULL, NULL, NULL, NULL, NULL, NULL, NULL, TRUE
            FROM docs WHERE has_bin
        """)
def _q_patch_ingest(spark, sf):
    """Unified-diff ingestion (r5): per doc a git-framed patch with a
    modify hunk (context + del + add + context), a second add-only hunk
    on every 4th doc, a /dev/null-old new-file on every 3rd doc and a
    binary file on every 5th (both shifting file_idx — the oracle
    replays the shifts); every 13th payload is prose → zero rows
    (O6)."""
    from autoextract.sources.patch import build_patch, patch_hunks

    docs = _docs(spark, sf, 240)

    def render(d):
        if d % 13 == 12:
            return d, b"plain prose"
        h0 = [(d % 20 + 1, d % 20 + 1,
               [(" ", f"ctx {d}"), ("-", f"old {d % 5}"),
                ("+", f"new {d % 5}"), (" ", "end")])]
        if d % 4 == 0:
            h0.append((50, 51, [("+", f"extra {d}")]))
        files = [(f"src/m{d % 7}.py", f"src/m{d % 7}.py", h0)]
        if d % 3 == 0:
            files.append((None, f"docs/n{d}.txt",
                          [(0, 1, [("+", f"hello {d}"),
                                   ("+", f"bye {d % 3}")])]))
        if d % 5 == 0:
            files.append(("img.png", "img.png", "binary"))
        return d, build_patch(files)

    media = map_rows(docs, render, "doc_id long, payload binary")
    return patch_hunks(media)


# heavy-hitters replay: the CMS pipeline's output is EXACT (no
# false negatives + candidate exact count), so the oracle is the
# plain census with the same relative threshold
@_query("heavy_hitters", """
            WITH t AS (
              SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token
              FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
            tt AS (SELECT token FROM t WHERE token <> ''),
            th AS (SELECT CAST(CEIL(0.03 * COUNT(*)) AS BIGINT) AS thr
                   FROM tt)
            SELECT token, COUNT(*) AS n
            FROM tt, th GROUP BY token, thr HAVING COUNT(*) >= thr
        """)
def _q_heavy_hitters(spark, sf):
    """CMS heavy hitters (r5): exact counts of tokens above 3% of the
    corpus token mass through the count-min two-pass — the vocabulary
    never shuffles (one bounded depth×width sketch exchange + d
    broadcast probes + a candidate-only exact count); the sketch's
    overcount can only widen the candidate slice, never change the
    answer, so the DuckDB oracle is the plain exact census."""
    from autoextract.operators.sketches import heavy_hitters

    return heavy_hitters(_spread(_t(spark, sf, "documents")),
                         min_frac=0.03, width=4096, depth=4)


# mp3 replay: every field derived arithmetically — frame-length
# walk, Xing override, VBR mean and the samples-per-frame
# duration formula all land as the integer math below
@_query("mp3_meta", """
            WITH docs AS (
              SELECT doc_id, 5 + doc_id % 7 AS n,
                     doc_id % 11 = 10 AS junk, doc_id % 3 AS v,
                     doc_id % 12 = 0 AS xing
              FROM documents WHERE doc_id < 240)
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
              CASE WHEN junk THEN NULL
                   WHEN v = 1 THEN '2' ELSE '1' END AS version,
              CASE WHEN junk THEN NULL ELSE 3 END AS layer,
              CASE WHEN junk THEN NULL
                   WHEN v = 1 THEN 22050 ELSE 44100 END AS sample_rate,
              CASE WHEN junk THEN NULL
                   WHEN v = 1 THEN 1 ELSE 2 END AS channels,
              CASE WHEN junk THEN NULL
                   WHEN v = 0 THEN 128
                   WHEN v = 1 THEN 64
                   ELSE (128 * (n - n // 2) + 192 * (n // 2)) // n
              END AS bitrate_kbps,
              CASE WHEN junk THEN NULL
                   WHEN v = 0 AND xing THEN 50 + doc_id % 20
                   ELSE n END AS n_frames,
              CAST(CASE WHEN junk THEN NULL
                   WHEN v = 0 AND xing
                     THEN (50 + doc_id % 20) * 1152 * 1000 // 44100
                   WHEN v = 0 THEN n * 1152 * 1000 // 44100
                   WHEN v = 1 THEN n * 576 * 1000 // 22050
                   ELSE n * 1152 * 1000 // 44100
              END AS BIGINT) AS duration_ms,
              CASE WHEN junk THEN NULL
                   WHEN v = 0 THEN xing
                   WHEN v = 1 THEN FALSE ELSE TRUE END AS vbr,
              NOT junk AS valid
            FROM docs
        """)
def _q_mp3_meta(spark, sf):
    """MP3 header walk (r5): per doc a frame stream rotating MPEG-1
    128k CBR stereo (Xing-tagged on every 12th doc — declared frames
    must win), MPEG-2 64k mono behind an ID3v2 prefix, and MPEG-1 VBR
    alternating 128/192 whose mean bitrate the oracle replays; every
    11th payload has no sync → NULL row with valid=false (O6)."""
    from autoextract.operators.id3 import build_id3
    from autoextract.operators.mp3 import build_mp3, mp3_meta

    docs = _docs(spark, sf, 240)

    def render(d):
        if d % 11 == 10:
            return d, b"no sync anywhere ..."
        n = 5 + d % 7
        if d % 3 == 0:
            p = build_mp3(
                n, xing=(50 + d % 20) if d % 12 == 0 else None)
        elif d % 3 == 1:
            p = build_mp3(n, version="2", bitrate=64, channels=1,
                          id3=build_id3(title=f"t{d}"))
        else:
            p = build_mp3(n, vbr_alternate=192)
        return d, p

    media = map_rows(docs, render, "doc_id long, payload binary")
    return mp3_meta(media)


# se-dump replay: every attribute derived arithmetically — the
# entity unescape lands as the literals below; wrapper lines gone
@_query("se_dump_ingest", """
            WITH docs AS (
              SELECT doc_id, doc_id % 2 = 0 AS is_q
              FROM documents WHERE doc_id < 240 AND doc_id % 13 <> 12)
            SELECT doc_id AS post_id,
                   CASE WHEN is_q THEN 1 ELSE 2 END AS post_type,
                   TIMESTAMP '2023-04-05 08:30:00'
                     + (doc_id % 60) * INTERVAL 1 SECOND AS creation_ts,
                   CAST(doc_id % 50 - 5 AS INT) AS score,
                   CASE WHEN is_q THEN 'Q & A ' || doc_id END AS title,
                   '<p>Body ' || doc_id || ' & more</p>' AS body,
                   CASE WHEN is_q
                        THEN 'tag' || doc_id % 5 || ',misc' END AS tags_csv,
                   (doc_id * 3) % 97 AS owner_user_id
            FROM docs
        """)
def _q_se_dump_ingest(spark, sf):
    """Stack Exchange dump ingestion (r5): per doc one posts.xml row
    line built with pure JVM concat (questions carry entity-escaped
    Title + Tags, answers neither; scores go negative; attribute order
    is fixed but the parser's space-anchored patterns are tested
    against reordering in pytest); every 13th line is the bare
    ``<posts>`` wrapper and must vanish (O6).  The whole query — render
    AND parse — is one codegen'd projection chain, zero Python."""
    from autoextract.sources.sedump import parse_se_posts

    d = F.col("doc_id")
    ss = F.lpad((d % 60).cast("string"), 2, "0")
    is_q = d % 2 == 0
    row_line = F.concat(
        F.lit('  <row Id="'), d.cast("string"),
        F.lit('" PostTypeId="'),
        F.when(is_q, F.lit("1")).otherwise(F.lit("2")),
        F.lit('" CreationDate="2023-04-05T08:30:'), ss,
        F.lit('.000" Score="'), (d % 50 - 5).cast("string"), F.lit('"'),
        F.when(is_q, F.concat(
            F.lit(' Title="Q &amp; A '), d.cast("string"),
            F.lit('" Tags="&lt;tag'), (d % 5).cast("string"),
            F.lit("&gt;&lt;misc&gt;\""))).otherwise(F.lit("")),
        F.lit(' Body="&lt;p&gt;Body '), d.cast("string"),
        F.lit(' &amp; more&lt;/p&gt;" OwnerUserId="'),
        ((d * 3) % 97).cast("string"), F.lit('" />'),
    )
    lines = _docs(spark, sf, 240).select(
        F.when(d % 13 == 12, F.lit("<posts>")).otherwise(row_line).alias("line")
    )
    return parse_se_posts(lines)


# snapshot replay: membership + mutation arithmetic decides every
# status; removed rows carry NULL source
@_query("snapshot_diff", """
            WITH d AS (
              SELECT doc_id, source, doc_id % 7 <> 6 AS in_old,
                     doc_id % 5 <> 4 AS in_new, doc_id % 3 = 0 AS mut
              FROM documents WHERE doc_id < 240)
            SELECT doc_id,
                   CASE WHEN NOT in_old THEN 'added'
                        WHEN NOT in_new THEN 'removed'
                        WHEN mut THEN 'changed'
                        ELSE 'unchanged' END AS status,
                   CASE WHEN in_new THEN source END AS source
            FROM d WHERE in_old OR in_new
        """)
def _q_snapshot_diff(spark, sf):
    """Snapshot diff (r5): derive two crawl snapshots of the same
    corpus deterministically (every 7th doc absent from the old one →
    added, every 5th absent from the new → removed, every 3rd mutated
    in the new → changed), full-outer join on doc_id over (key,
    sha256) projections — text never shuffles — and classify.  The
    oracle replays the membership/mutation arithmetic."""
    from autoextract.operators.snapshot import snapshot_diff

    d = F.col("doc_id")
    docs = _docs(spark, sf, 240, "text", "source")
    old = docs.where(d % 7 != 6)
    new = docs.where(d % 5 != 4).withColumn(
        "text", F.when(d % 3 == 0, F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text")))
    return snapshot_diff(old, new, carry=["source"]).select(
        "doc_id", "status", "source")


@_query("snapshot_churn", """
            WITH d AS (
              SELECT doc_id, source, doc_id % 7 <> 6 AS in_old,
                     doc_id % 5 <> 4 AS in_new, doc_id % 3 = 0 AS mut
              FROM documents WHERE doc_id < 240),
            s AS (
              SELECT CASE WHEN in_new THEN source END AS source,
                     CASE WHEN NOT in_old THEN 'added'
                          WHEN NOT in_new THEN 'removed'
                          WHEN mut THEN 'changed'
                          ELSE 'unchanged' END AS status
              FROM d WHERE in_old OR in_new)
            SELECT source, COUNT(*) AS n_total,
                   SUM(CASE WHEN status = 'added' THEN 1 ELSE 0 END)
                     AS n_added,
                   SUM(CASE WHEN status = 'removed' THEN 1 ELSE 0 END)
                     AS n_removed,
                   SUM(CASE WHEN status = 'changed' THEN 1 ELSE 0 END)
                     AS n_changed,
                   SUM(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END)
                     AS n_unchanged,
                   ROUND(SUM(CASE WHEN status <> 'unchanged' THEN 1
                             ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6)
                     AS churn_rate
            FROM s GROUP BY source
        """)
def _q_snapshot_churn(spark, sf):
    """Per-source churn rollup (r5) over the same derived snapshot
    pair: counts of each status + 6-dp churn rate per source (removed
    rows carry NULL source — they group under it, same as the SQL)."""
    from autoextract.operators.snapshot import (
        snapshot_diff,
        snapshot_diff_report,
    )

    d = F.col("doc_id")
    docs = _docs(spark, sf, 240, "text", "source")
    old = docs.where(d % 7 != 6)
    new = docs.where(d % 5 != 4).withColumn(
        "text", F.when(d % 3 == 0, F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text")))
    diff = snapshot_diff(old, new, carry=["source"])
    return snapshot_diff_report(diff, group_col="source")


# distinct-census replay: exact columns replayed; the HLL verdict
# must be uniformly true (its bound is part of the contract)
@_query("distinct_census", """
            SELECT source, COUNT(*) AS n_rows,
                   COUNT(DISTINCT text) AS n_distinct,
                   TRUE AS hll_ok
            FROM documents GROUP BY source
        """)
def _q_distinct_census(spark, sf):
    """HLL distinct census (r5): per source the row count, the EXACT
    distinct text count, and the HLL++ estimate checked against its
    own 5×rsd error bound — the sketch is the partial-aggregable
    100 TB path, the exact twin makes the estimate verified rather
    than trusted.  The oracle replays the exact columns and asserts
    the verdict is uniformly true."""
    from autoextract.functions.text import distinct_census

    return distinct_census(_t(spark, sf, "documents"),
                           key_col="text", group_col="source")


# subtitle replay: every cue derived arithmetically — timings,
# renumbered cue ids, multi-line join, VTT markup strip
@_query("subtitle_ingest", """
            WITH docs AS (
              SELECT doc_id FROM documents
              WHERE doc_id < 240 AND doc_id % 11 <> 10),
            k AS (SELECT unnest([0, 1, 2]) AS k)
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CAST(k AS INT) AS cue,
                   CAST(doc_id * 40 + k * 2000 AS BIGINT) AS start_ms,
                   CAST(doc_id * 40 + k * 2000 + 1500 + doc_id % 7
                        AS BIGINT) AS end_ms,
                   CASE WHEN k = 1
                        THEN 'Line A ' || doc_id || chr(10) || 'Line B '
                             || doc_id % 3
                        ELSE 'Cue ' || k || ' of ' || doc_id
                   END AS text
            FROM docs, k
        """)
def _q_subtitle_ingest(spark, sf):
    """Subtitle ingestion (r5): even docs carry SRT (comma millis,
    deliberately gapped indices the parser renumbers, a multi-line
    cue), odd docs WebVTT (dot millis, NOTE block, cue ids, settings
    after the timestamps, voice markup stripped); 3 cues per doc with
    arithmetic timings; every 11th payload has no timing line → zero
    rows (O6)."""
    from autoextract.sources.subtitles import (
        build_srt,
        build_vtt,
        subtitle_cues,
    )

    docs = _docs(spark, sf, 240)

    def render(d):
        if d % 11 == 10:
            return d, b"no cues here"
        cues = [
            (d * 40 + k * 2000, d * 40 + k * 2000 + 1500 + d % 7,
             (f"Cue {k} of {d}" if k != 1
              else f"Line A {d}\nLine B {d % 3}"))
            for k in range(3)
        ]
        p = build_srt(cues) if d % 2 == 0 else build_vtt(
            cues, note=f"meta {d}")
        return d, p

    media = map_rows(docs, render, "doc_id long, payload binary")
    return subtitle_cues(media)


# dialogue replay: every turn derived arithmetically — preamble
# drop, continuation join, per-doc 0-based numbering
@_query("dialogue_turns", """
            WITH docs AS (
              SELECT doc_id FROM documents
              WHERE doc_id < 240 AND doc_id % 9 <> 8)
            SELECT doc_id, CAST(0 AS INT) AS turn, 'Alice' AS speaker,
                   'Turn one ' || doc_id || ', continued ' || doc_id % 3
                     || '.' AS utterance
            FROM docs
            UNION ALL SELECT doc_id, 1, 'Bob',
                   'Reply ' || doc_id % 5 || '.' FROM docs
            UNION ALL SELECT doc_id, 2, 'Alice',
                   'Close ' || doc_id || '.' FROM docs
        """)
def _q_dialogue_turns(spark, sf):
    """Dialogue-turn assembly (r5): per doc a transcript built with
    pure JVM concat — dropped preamble, a two-line continuation turn,
    consecutive same-speaker turns kept separate; every 9th doc has no
    speaker tags → zero rows.  The whole query (render + assembly) is
    JVM-only: one window exchange + the fused turn agg."""
    from autoextract.functions.text import dialogue_turns

    d = F.col("doc_id")
    text = F.when(d % 9 == 8, F.lit("just prose\nno speakers")).otherwise(
        F.concat(
            F.lit("intro "), d.cast("string"),
            F.lit("\nAlice: Turn one "), d.cast("string"),
            F.lit(",\ncontinued "), (d % 3).cast("string"),
            F.lit(".\nBob: Reply "), (d % 5).cast("string"),
            F.lit(".\nAlice: Close "), d.cast("string"), F.lit("."),
        ))
    docs = _docs(spark, sf, 240).select("doc_id", text.alias("text"))
    return dialogue_turns(docs)


# html-tables replay: every cell derived arithmetically — colspan
# column advance, th header flags, entity unescape
@_query("html_tables", """
            WITH docs AS (
              SELECT doc_id, doc_id % 4 = 0 AS has_t2
              FROM documents WHERE doc_id < 240 AND doc_id % 9 <> 8)
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CAST(0 AS INT) AS table_id, CAST(0 AS INT) AS row,
                   CAST(0 AS INT) AS col, TRUE AS header, 'K' AS text
            FROM docs
            UNION ALL SELECT CAST(doc_id AS VARCHAR), 0, 0, 1, TRUE,
                   'W ' || doc_id % 3 FROM docs
            UNION ALL SELECT CAST(doc_id AS VARCHAR), 0, 1, 0, FALSE,
                   'a & ' || doc_id FROM docs
            UNION ALL SELECT CAST(doc_id AS VARCHAR), 0, 1, 1, FALSE,
                   CAST(doc_id % 5 AS VARCHAR) FROM docs
            UNION ALL SELECT CAST(doc_id AS VARCHAR), 0, 1, 2, FALSE,
                   CAST(doc_id % 7 AS VARCHAR) FROM docs
            UNION ALL SELECT CAST(doc_id AS VARCHAR), 1, 0, 0, FALSE,
                   'solo ' || doc_id FROM docs WHERE has_t2
        """)
def _q_html_tables(spark, sf):
    """HTML table extraction (r5): per doc a page rendered with pure
    JVM concat carrying a header row (th + colspan advancing the column
    cursor), an entity-escaped body row, and a second single-cell table
    on every 4th doc; every 9th doc has no table → zero rows (O6)."""
    from autoextract.operators.html import extract_html_tables

    d = F.col("doc_id")
    html = F.when(d % 9 == 8, F.lit("<p>no tables</p>")).otherwise(
        F.concat(
            F.lit("<html><body><p>pre</p><table><tr><th>K</th>"
                  '<th colspan="2">W '),
            (d % 3).cast("string"),
            F.lit("</th></tr><tr><td>a &amp; "), d.cast("string"),
            F.lit("</td><td>"), (d % 5).cast("string"),
            F.lit("</td><td>"), (d % 7).cast("string"),
            F.lit("</td></tr></table>"),
            F.when(d % 4 == 0, F.concat(
                F.lit("<table><tr><td>solo "), d.cast("string"),
                F.lit("</td></tr></table>"))).otherwise(F.lit("")),
            F.lit("</body></html>"),
        ))
    docs = _docs(spark, sf, 240).select("doc_id", html.alias("html"))
    return extract_html_tables(docs)


# front-matter replay: every field derived arithmetically — both
# list forms collapse to the same tags_csv; absent draft → NULL
@_query("front_matter", """
            WITH docs AS (
              SELECT doc_id, doc_id % 7 = 6 AS plain,
                     doc_id % 3 = 0 AS has_draft
              FROM documents WHERE doc_id < 240)
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CASE WHEN plain THEN NULL
                        ELSE 'Post ' || doc_id END AS title,
                   CASE WHEN plain THEN NULL
                        ELSE '2024-0' || (doc_id % 9 + 1) || '-15'
                   END AS date,
                   CASE WHEN plain THEN NULL
                        WHEN has_draft THEN TRUE END AS draft,
                   CASE WHEN plain THEN NULL
                        ELSE 't' || doc_id % 4 || ',extra' END AS tags_csv,
                   CAST(CASE WHEN plain THEN 0
                        WHEN has_draft THEN 5 ELSE 4 END AS INT) AS n_meta,
                   CASE WHEN plain THEN '# Plain ' || doc_id
                        ELSE '# Body ' || doc_id END AS body_first_line
            FROM docs
        """)
def _q_front_matter(spark, sf):
    """YAML front matter (r5): per doc a Jekyll/Hugo-style page —
    quoted + bare scalars, draft boolean on every 3rd doc, inline
    vs block tag lists alternating by doc, an extra ignored key, and
    the body's first line; every 7th doc has no front matter → NULL
    fields with the real first line (O6-adjacent contract)."""
    from autoextract.sources.markdown import front_matter

    docs = _docs(spark, sf, 240)

    def render(d):
        if d % 7 == 6:
            p = f"# Plain {d}\nno front matter".encode()
        else:
            tags = (f"tags: [t{d % 4}, extra]"
                    if d % 2 == 0
                    else f"tags:\n  - t{d % 4}\n  - extra")
            lines = [
                "---",
                f'title: "Post {d}"',
                f"date: 2024-0{d % 9 + 1}-15",
                tags,
                f"author: a{d % 5}",
            ]
            if d % 3 == 0:
                lines.append("draft: true")
            lines += ["---", "", f"# Body {d}", "text"]
            p = "\n".join(lines).encode()
        return d, p

    media = map_rows(docs, render, "doc_id long, payload binary")
    return front_matter(media)


# zorder replay: normalize → parallel bit-spread (stepwise CTEs,
# one per magic-number round) → interleave → bucket → rollup;
# the Morton arithmetic is value-checked cross-engine
@_query("zorder_layout", """
            WITH b AS (
              SELECT MIN(doc_id) lo1, MAX(doc_id) hi1,
                     MIN(n_chars) lo2, MAX(n_chars) hi2 FROM documents),
            n AS (
              SELECT doc_id, n_chars,
                COALESCE(CAST(FLOOR(CAST(doc_id - lo1 AS DOUBLE)
                  / CAST(GREATEST(hi1 - lo1, 1) AS DOUBLE) * 1023.0)
                  AS BIGINT), 0) & 4294967295 AS a0,
                COALESCE(CAST(FLOOR(CAST(n_chars - lo2 AS DOUBLE)
                  / CAST(GREATEST(hi2 - lo2, 1) AS DOUBLE) * 1023.0)
                  AS BIGINT), 0) & 4294967295 AS b0
              FROM documents, b),
            s1 AS (SELECT doc_id, n_chars,
                   (a0 | (a0 << 16)) & 281470681808895 AS a1,
                   (b0 | (b0 << 16)) & 281470681808895 AS b1 FROM n),
            s2 AS (SELECT doc_id, n_chars,
                   (a1 | (a1 << 8)) & 71777214294589695 AS a2,
                   (b1 | (b1 << 8)) & 71777214294589695 AS b2 FROM s1),
            s3 AS (SELECT doc_id, n_chars,
                   (a2 | (a2 << 4)) & 1085102592571150095 AS a3,
                   (b2 | (b2 << 4)) & 1085102592571150095 AS b3 FROM s2),
            s4 AS (SELECT doc_id, n_chars,
                   (a3 | (a3 << 2)) & 3689348814741910323 AS a4,
                   (b3 | (b3 << 2)) & 3689348814741910323 AS b4 FROM s3),
            s5 AS (SELECT doc_id, n_chars,
                   (a4 | (a4 << 1)) & 6148914691236517205 AS a5,
                   (b4 | (b4 << 1)) & 6148914691236517205 AS b5 FROM s4),
            k AS (SELECT doc_id, n_chars, a5 | (b5 << 1) AS zkey FROM s5),
            g AS (SELECT LEAST(CAST(FLOOR(CAST(zkey AS DOUBLE) / 1048576.0
                     * 16) AS INT), 15) AS bucket, doc_id, n_chars FROM k)
            SELECT bucket, COUNT(*) AS n_rows,
                   MIN(doc_id) AS doc_id_min, MAX(doc_id) AS doc_id_max,
                   MIN(n_chars) AS n_chars_min, MAX(n_chars) AS n_chars_max
            FROM g GROUP BY bucket ORDER BY bucket
        """)
def _q_zorder_layout(spark, sf):
    """Z-order layout report (r5): Morton-interleave (doc_id, n_chars)
    after exact min/max rank normalization, bucket rows into 16 equal
    key ranges arithmetically, and report each bucket's per-column
    min/max + row count — the quantities file-skipping reads.  The
    oracle replays the full parallel bit-spread (Hacker's Delight §7-2)
    in stepwise SQL, so the key arithmetic itself is value-checked
    cross-engine."""
    from autoextract.plans.zorder import layout_pruning_report

    docs = _t(spark, sf, "documents").select("doc_id", "n_chars")
    return layout_pruning_report(docs, ["doc_id", "n_chars"],
                                 partitions=16, bits=10)


# skew replay: exact census + the same (n desc, key asc) boundary
# tie-break; share and factor replay the double arithmetic
@_query("skew_report", """
            WITH c AS (
              SELECT CAST(user_id AS VARCHAR) AS key, COUNT(*) AS n
              FROM events GROUP BY user_id),
            t AS (SELECT SUM(n) AS total, COUNT(*) AS nkeys,
                         MAX(n) AS maxn FROM c)
            SELECT key, n,
                   ROUND(n / CAST(total AS DOUBLE), 6) AS share,
                   ROUND(maxn * nkeys / CAST(total AS DOUBLE), 6)
                     AS skew_factor
            FROM c, t ORDER BY n DESC, key ASC LIMIT 10
        """)
def _q_skew_report(spark, sf):
    """Skew report (r5): top-10 hottest user_id keys over events with
    per-key share and the global max/mean skew factor — the diagnosis
    that decides between plain shuffle, AQE skew split, salting, or
    the chunked hot-key paths.  One partial-agg exchange + a 1-row
    broadcast rollup + a distributed sort-limit; deterministic via the
    (count desc, key asc) tie-break the oracle replays."""
    from autoextract.plans.zorder import skew_report

    return skew_report(_t(spark, sf, "events"), "user_id", top_k=10)


# access-log replay: every field derived arithmetically — month
# table, zone-offset UTC shift, dash→NULL rules
@_query("access_log_ingest", """
            WITH docs AS (
              SELECT doc_id, doc_id % 9 = 8 AS junk
              FROM documents WHERE doc_id < 240)
            SELECT CASE WHEN junk THEN NULL
                        ELSE '198.51.100.' || doc_id % 250 END AS host,
                   CAST(CASE WHEN junk THEN NULL
                        ELSE 1680683400 + doc_id % 60
                             + CASE WHEN doc_id % 2 = 1 THEN 18000
                                    ELSE 0 END END AS BIGINT) AS ts,
                   CASE WHEN junk THEN NULL
                        WHEN doc_id % 2 = 0 THEN 'GET'
                        ELSE 'POST' END AS method,
                   CASE WHEN junk THEN NULL
                        ELSE '/p/' || doc_id END AS path,
                   CAST(CASE WHEN junk THEN NULL
                        ELSE [200, 301, 404, 500, 503][doc_id % 5 + 1]
                   END AS INT) AS status,
                   CAST(CASE WHEN junk OR doc_id % 7 = 6 THEN NULL
                        ELSE doc_id * 17 % 100000 END AS BIGINT)
                     AS n_bytes,
                   CASE WHEN junk OR doc_id % 2 = 1 THEN NULL
                        ELSE 'https://ref.example/' || doc_id % 10
                   END AS referer,
                   CASE WHEN junk THEN NULL
                        ELSE 'agent/' || doc_id % 4 END AS user_agent,
                   NOT junk AS valid
            FROM docs
        """)
def _q_access_log_ingest(spark, sf):
    """Access-log ingestion (r5): per doc a Combined Log Format line
    rendered with pure JVM concat — rotating zone (+0000 / -0500, the
    UTC shift replayed by the oracle), GET/POST, status by mod-5,
    '-' bytes on every 7th doc and '-' referer on odd docs; every 9th
    line is garbage → NULL row with valid=false (O6).  Render and
    parse are one codegen'd chain, zero Python, zero exchanges."""
    from autoextract.sources.accesslog import parse_access_log

    d = F.col("doc_id")
    ss = F.lpad((d % 60).cast("string"), 2, "0")
    line = F.when(d % 9 == 8, F.lit("garbage line")).otherwise(
        F.concat(
            F.lit("198.51.100."), (d % 250).cast("string"),
            F.lit(" - - [05/Apr/2023:08:30:"), ss,
            F.when(d % 2 == 0, F.lit(" +0000] \"GET /p/"))
            .otherwise(F.lit(" -0500] \"POST /p/")),
            d.cast("string"), F.lit(" HTTP/1.1\" "),
            F.element_at(F.array(F.lit("200"), F.lit("301"),
                                 F.lit("404"), F.lit("500"),
                                 F.lit("503")), (d % 5 + 1).cast("int")),
            F.lit(" "),
            F.when(d % 7 == 6, F.lit("-"))
            .otherwise((d * 17 % 100000).cast("string")),
            F.lit(' "'),
            F.when(d % 2 == 1, F.lit("-"))
            .otherwise(F.concat(F.lit("https://ref.example/"),
                                (d % 10).cast("string"))),
            F.lit('" "agent/'), (d % 4).cast("string"), F.lit('"'),
        ))
    lines = _docs(spark, sf, 240).select(line.alias("line"))
    return parse_access_log(lines)


# rtf replay: every span derived arithmetically (escape sequences
# round-trip to the literal text below) incl. the pict seq shift
@_query("rtf_ingest", """
            WITH docs AS (
              SELECT doc_id, doc_id % 3 = 0 AS has_img
              FROM documents WHERE doc_id < 240 AND doc_id % 11 <> 10)
            SELECT CAST(doc_id AS VARCHAR) AS doc_id, CAST(0 AS INT) AS seq,
                   'heading' AS kind, 'Memo ' || doc_id AS text,
                   CAST(1 AS INT) AS level
            FROM docs
            UNION ALL SELECT CAST(doc_id AS VARCHAR), 1, 'text',
                   'Café item — ' || doc_id % 7 || ' of ' || doc_id || '.',
                   NULL FROM docs
            UNION ALL SELECT CAST(doc_id AS VARCHAR), 2, 'table',
                   'k | ' || doc_id % 5 || chr(10) || 'v | ' || doc_id % 9,
                   NULL FROM docs
            UNION ALL SELECT CAST(doc_id AS VARCHAR), 3, 'image', '', NULL
            FROM docs WHERE has_img
            UNION ALL SELECT CAST(doc_id AS VARCHAR),
                   CASE WHEN has_img THEN 4 ELSE 3 END, 'text',
                   'Closing ' || doc_id || '.', NULL FROM docs
        """)
def _q_rtf_ingest(spark, sf):
    """RTF ingestion (r5): per doc a legacy RTF whose body text exercises
    cp1252 ``\\'hh`` and ``\\uN``-with-fallback escapes, a two-row table
    via trowd/cell/row, an image pict on every 3rd doc (shifting later
    seqs — the oracle replays the shift), a font table + ignorable
    ``{\\*\\generator}`` destination that must contribute nothing, and
    every 11th payload malformed → zero spans (O6)."""
    from autoextract.sources.rtf import build_rtf, rtf_spans

    docs = _docs(spark, sf, 240)

    def render(d):
        if d % 11 == 10:
            return d, b"not rtf at all"
        blocks = [
            ("heading", 1, f"Memo {d}"),
            ("text", f"Café item — {d % 7} of {d}."),
            ("table", [["k", str(d % 5)], ["v", str(d % 9)]]),
        ]
        if d % 3 == 0:
            blocks.append(("image",))
        blocks.append(("text", f"Closing {d}."))
        return d, build_rtf(blocks)

    media = map_rows(docs, render, "doc_id long, payload binary")
    return rtf_spans(media)


# docx replay: every span derived arithmetically incl. the seq
# shift caused by the conditional image anchor
@_query("docx_ingest", """
            WITH docs AS (
              SELECT doc_id, doc_id % 2 = 0 AS has_img
              FROM documents WHERE doc_id < 240)
            SELECT CAST(doc_id AS VARCHAR) AS doc_id, CAST(0 AS INT) AS seq,
                   'heading' AS kind,
                   'Document ' || doc_id || ' Report' AS text,
                   CAST(1 AS INT) AS level
            FROM docs
            UNION ALL SELECT CAST(doc_id AS VARCHAR), 1, 'text',
                   'Opening paragraph of ' || doc_id || ' with value '
                     || doc_id % 7 || '.', NULL FROM docs
            UNION ALL SELECT CAST(doc_id AS VARCHAR), 2, 'table',
                   'k | ' || doc_id % 5 || chr(10) || 'metric | '
                     || doc_id % 9, NULL FROM docs
            UNION ALL SELECT CAST(doc_id AS VARCHAR), 3, 'image', '', NULL
            FROM docs WHERE has_img
            UNION ALL SELECT CAST(doc_id AS VARCHAR),
                   CASE WHEN has_img THEN 4 ELSE 3 END, 'heading',
                   'Section ' || doc_id % 3, 2 FROM docs
            UNION ALL SELECT CAST(doc_id AS VARCHAR),
                   CASE WHEN has_img THEN 5 ELSE 4 END, 'text',
                   'Closing remarks for ' || doc_id || '.', NULL FROM docs
        """)
def _q_docx_ingest(spark, sf):
    """DOCX ingestion (r5): per doc a real ZIP/OOXML package (stdlib
    zipfile + WordprocessingML) with two heading levels, escaped-entity
    paragraph text, a 2×2 table, and an image anchor on even docs (which
    shifts later seqs — the oracle replays the shift); parse back to the
    engine's interleaved span vocabulary. Oracle derives every span
    arithmetically."""
    from autoextract.sources.docx import build_docx, docx_spans

    docs = _docs(spark, sf, 240)

    def render(d):
        blocks = [
            ("heading", 1, f"Document {d} Report"),
            ("text", f"Opening paragraph of {d} with value {d % 7}."),
            ("table", [["k", str(d % 5)], ["metric", str(d % 9)]]),
        ]
        if d % 2 == 0:
            blocks.append(("image",))
        blocks += [
            ("heading", 2, f"Section {d % 3}"),
            ("text", f"Closing remarks for {d}."),
        ]
        return d, build_docx(blocks)

    media = map_rows(docs, render, "doc_id long, payload binary")
    return docx_spans(media)


# xlsx replay: every cell derived arithmetically; corrupt
# payloads contribute zero cells
@_query("xlsx_ingest", """
            WITH docs AS (
              SELECT doc_id FROM documents
              WHERE doc_id < 240 AND doc_id % 13 <> 12)
            SELECT CAST(doc_id AS VARCHAR) AS doc_id, CAST(0 AS INT) AS row,
                   CAST(0 AS INT) AS col, 'name' AS value,
                   FALSE AS is_number FROM docs
            UNION ALL SELECT CAST(doc_id AS VARCHAR), 0, 1, 'count', FALSE
            FROM docs
            UNION ALL SELECT CAST(doc_id AS VARCHAR), 1, 0,
                   'item ' || doc_id % 5, FALSE FROM docs
            UNION ALL SELECT CAST(doc_id AS VARCHAR), 1, 1,
                   CAST(doc_id % 9 AS VARCHAR), TRUE FROM docs
            UNION ALL SELECT CAST(doc_id AS VARCHAR), 2, 0,
                   'thing ' || doc_id % 3, FALSE FROM docs
            UNION ALL SELECT CAST(doc_id AS VARCHAR), 2, 1,
                   CAST(doc_id % 7 AS VARCHAR), TRUE FROM docs
        """)
def _q_xlsx_ingest(spark, sf):
    """XLSX ingestion (r5): per doc a real SpreadsheetML package — header
    strings through the DEDUPLICATED shared-string table, odd docs using
    inlineStr cells instead, numbers inline, every 13th payload corrupt →
    zero cells. Oracle derives every cell arithmetically."""
    from autoextract.sources.xlsx import build_xlsx, xlsx_cells

    docs = _docs(spark, sf, 240)

    def render(d):
        if d % 13 == 12:
            return d, b"PK corrupt"
        grid = [
            ["name", "count"],
            [f"item {d % 5}", d % 9],
            [f"thing {d % 3}", d % 7],
        ]
        return d, build_xlsx(grid, inline_strings=(d % 2 == 1))

    media = map_rows(docs, render, "doc_id long, payload binary")
    return xlsx_cells(media)


# pptx replay: every slide paragraph derived arithmetically
@_query("pptx_ingest", """
            WITH docs AS (
              SELECT doc_id, doc_id % 3 + 1 AS n_slides FROM documents
              WHERE doc_id < 240 AND doc_id % 17 <> 16),
            s AS (
              SELECT doc_id, unnest(range(1, n_slides + 1)) AS slide
              FROM docs)
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CAST(slide AS INT) AS slide, CAST(0 AS INT) AS seq,
                   'Slide ' || slide || ' of deck ' || doc_id AS text
            FROM s
            UNION ALL
            SELECT CAST(doc_id AS VARCHAR), CAST(slide AS INT), 1,
                   'Point ' || slide || ' & detail ' || doc_id % 7
            FROM s
        """)
def _q_pptx_ingest(spark, sf):
    """PPTX ingestion (r5): per doc 1–3 slide parts (doc_id arithmetic),
    each with a title and a body paragraph carrying escaped entities;
    every 17th payload corrupt → zero rows. Oracle derives every
    (slide, seq, text) arithmetically."""
    from autoextract.sources.pptx import build_pptx, pptx_slides

    docs = _docs(spark, sf, 240)

    def render(d):
        if d % 17 == 16:
            return d, b"PK nope"
        n = d % 3 + 1
        slides = [
            [f"Slide {s} of deck {d}",
             f"Point {s} & detail {d % 7}"]
            for s in range(1, n + 1)
        ]
        return d, build_pptx(slides)

    media = map_rows(docs, render, "doc_id long, payload binary")
    return pptx_slides(media)


# epub replay: per (doc, chapter) the density vote must keep
# exactly the article (2 text spans + 1 media) and round-trip the
# chapter text
@_query("epub_ingest", """
            WITH docs AS (
              SELECT doc_id, doc_id % 2 + 1 AS n FROM documents
              WHERE doc_id < 200),
            c AS (SELECT doc_id, unnest(range(0, n)) AS chapter FROM docs)
            SELECT doc_id, CAST(chapter AS INT) AS chapter,
                   CAST(2 AS BIGINT) AS n_text_spans,
                   CAST(1 AS BIGINT) AS n_media,
                   'Book ' || doc_id || ' chapter ' || chapter
                     || ' tells a long story about extraction pipelines today'
                     AS text_rebuilt
            FROM c
        """)
def _q_epub_ingest(spark, sf):
    """EPUB ingestion (r5) end-to-end: per doc a real OCF/OPF package with
    1–2 boilerplate-framed XHTML chapters whose zip-member order is
    deliberately REVERSED from the spine (spine resolution is exercised,
    not member order), routed through the P6 density extractor per
    chapter. The oracle recomputes expected chapter text arithmetically —
    boilerplate leakage, content loss, or spine misordering all
    hash-mismatch."""
    from autoextract.operators.html import strip_html
    from autoextract.sources.epub import build_epub, epub_chapters
    from autoextract.sources.warc import doc_html_page

    docs = _docs(spark, sf, 200)

    def render(d):
        n = d % 2 + 1
        chapters = [
            doc_html_page(
                f"{d}:{c}",
                f"Book {d} chapter {c} tells a long story about "
                "extraction pipelines today",
            )
            for c in range(n)
        ]
        return d, build_epub(chapters)

    media = map_rows(docs, render, "doc_id long, payload binary")
    chapters = epub_chapters(media)
    keyed = chapters.select(
        F.concat(F.col("doc_id"), F.lit("#"), F.col("chapter").cast("string"))
        .alias("doc_id"),
        "html",
    )
    flat = strip_html(keyed)
    s = F.struct(F.col("seq"), F.col("text"))
    agg = flat.groupBy("doc_id").agg(
        F.count(F.when(F.col("kind") == "text", 1)).cast("long").alias("n_text_spans"),
        F.count(F.when(F.col("kind") == "media", 1)).cast("long").alias("n_media"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.when(F.col("kind") == "text", s))),
                lambda x: x["text"],
            ),
            " ",
        ).alias("text_rebuilt"),
    )
    return agg.select(
        F.split("doc_id", "#")[0].cast("long").alias("doc_id"),
        F.split("doc_id", "#")[1].cast("int").alias("chapter"),
        "n_text_spans", "n_media", "text_rebuilt",
    )


# DSIR replay: hashed-bigram buckets (md5-prefix mod 256), Laplace
# log-ratio table, per-doc weight sums, derandomized Gumbel keys,
# global top-200 under the rounded-key/doc_id ordering rule
@_query("dsir_sample", """
            WITH tl AS MATERIALIZED (
              SELECT doc_id, lang,
                     list_filter(string_split_regex(trim(text), '\\s+'),
                                 x -> x <> '') AS l
              FROM documents),
            bk AS MATERIALIZED (
              SELECT doc_id, lang,
                     CAST(('0x' || substr(md5(z[1] || ' ' || z[2] || 'dsir-v1'),
                                          1, 8)) AS UBIGINT) % 256 AS bucket
              FROM (SELECT doc_id, lang,
                           unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS z
                    FROM tl WHERE len(l) >= 2)),
            rc AS (SELECT bucket, CAST(COUNT(*) AS DOUBLE) AS rc
                   FROM bk GROUP BY bucket),
            tc AS (SELECT bucket, CAST(COUNT(*) AS DOUBLE) AS tc
                   FROM bk WHERE lang = 'en' GROUP BY bucket),
            rt AS (SELECT COALESCE(SUM(rc), 0) AS rt FROM rc),
            tt AS (SELECT COALESCE(SUM(tc), 0) AS tt FROM tc),
            ratio AS (
              SELECT COALESCE(rc.bucket, tc.bucket) AS bucket,
                     ln((COALESCE(tc, 0) + 1) / (tt + 256))
                     - ln((COALESCE(rc, 0) + 1) / (rt + 256)) AS lam
              FROM rc FULL JOIN tc ON rc.bucket = tc.bucket, rt, tt),
            pd AS (
              SELECT bk.doc_id, SUM(lam) AS lw
              FROM bk JOIN ratio USING (bucket) GROUP BY bk.doc_id),
            w AS (
              SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
                     round(COALESCE(lw, 0.0), 6) AS log_w
              FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id),
            g AS (
              SELECT doc_id, log_w,
                     round(log_w - ln(-ln(
                       (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                          || 'dsir-v1/g'), 1, 8)) AS UBIGINT) + 0.5)
                       / 4294967296.0)), 6) AS key
              FROM w)
            SELECT doc_id, log_w, key,
                   CAST(row_number() OVER (ORDER BY key DESC, doc_id ASC)
                        AS INT) AS rank
            FROM g ORDER BY key DESC, doc_id ASC LIMIT 200
        """)
def _q_dsir_sample(spark, sf):
    """DSIR importance resampling (r5): hashed-bigram importance weights
    of every document against the English-subset target distribution,
    then the derandomized Gumbel-top-k draw. The oracle replays the whole
    chain — bucket hashing, Laplace-smoothed log-ratios, per-doc sums,
    Gumbel keys, global top-k with the 6-dp/doc_id ordering rule — in
    DuckDB."""
    from autoextract.operators.sampling import dsir_resample

    raw = _spread(_t(spark, sf, "documents")).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text", "lang"
    )
    target = raw.where(F.col("lang") == "en")
    return dsir_resample(
        raw.select("doc_id", "text"),
        target.select("doc_id", "text"),
        k=200,
        n_buckets=256,
    )


# perceptual near-dup verdict: every planted brightness+patch twin
# recovered at hamming <= 6, zero extra pairs among the iid fields
@_query("image_neardup", """
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   TRUE AS recovered,
                   TRUE AS hamming_ok,
                   CAST(0 AS BIGINT) AS n_extra
            FROM documents WHERE doc_id < 40
        """)
def _q_image_neardup(spark, sf):
    """Perceptual image near-dup (r5) as a driver-checked verdict: 40
    deterministic random-field PNGs each planted with a near-duplicate
    (uniform +4 brightness — dHash-invariant — plus a 4×4 patch confined
    to one grid cell, ≤2 comparison bits), hashed with the REAL
    PNG-decode dHash kernel and blocked through the SAME Manku pigeonhole
    operator the text SimHash path uses. Every planted pair must be
    recovered at hamming ≤ 6 with ZERO extra pairs across all 3,160
    candidate pairings — iid random fields sit ~32 bits apart, so any
    blocking or hashing defect surfaces. Oracle = the all-true table."""
    from autoextract.operators.dedup import hamming_near_dup_pairs
    from autoextract.operators.multimodal import image_dhash

    plant = 10_000_000

    def doc_image(seed: int) -> bytes:
        from autoextract.operators.png_codec import encode_png

        rng = np.random.RandomState(seed % plant)
        base = rng.randint(0, 200, size=(64, 64, 3)).astype(np.uint8)
        if seed < plant:
            return encode_png(base)
        near = np.clip(base.astype(np.int16) + 4, 0, 255).astype(np.uint8)
        near[:4, :4] = 255
        return encode_png(near)

    docs = _docs(spark, sf, 40)
    ids = docs.union(
        docs.select((F.col("doc_id") + plant).alias("doc_id"))
    )

    def build(i):
        return str(i), doc_image(i)

    media = map_rows(ids, build, "media_ref string, payload binary")
    sk = image_dhash(media).where("valid").select(
        F.col("media_ref").cast("long").alias("doc_id"),
        F.col("dhash").alias("sk"),
    )
    pairs = hamming_near_dup_pairs(sk, max_hamming=10)
    is_planted = (F.col("doc_a") + plant) == F.col("doc_b")
    rec = pairs.where(is_planted).select(
        F.col("doc_a").alias("doc_id"),
        F.lit(True).alias("recovered"),
        (F.col("hamming") <= 6).alias("hamming_ok"),
    )
    to_base = lambda c: F.when(c >= plant, c - plant).otherwise(c)
    extra = (
        pairs.where(~is_planted)
        .select(
            F.explode(
                F.array(to_base(F.col("doc_a")), to_base(F.col("doc_b")))
            ).alias("doc_id")
        )
        .groupBy("doc_id")
        .agg(F.count("*").alias("__n"))
    )
    return (
        docs.join(rec, "doc_id", "left")
        .join(extra, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("recovered", F.lit(False)).alias("recovered"),
            F.coalesce("hamming_ok", F.lit(False)).alias("hamming_ok"),
            F.coalesce("__n", F.lit(0).cast("long")).alias("n_extra"),
        )
    )


# exif replay: all five fields derived arithmetically; corrupt
# payloads -> all-NULL rows
@_query("exif_metadata", """
            SELECT doc_id,
                   CASE WHEN doc_id % 12 <> 11 AND doc_id % 3 <> 0
                        THEN CAST(doc_id % 8 + 1 AS INT) END AS orientation,
                   CASE WHEN doc_id % 12 <> 11 AND doc_id % 4 <> 1
                        THEN 'Maker ' || doc_id % 5 END AS make,
                   CASE WHEN doc_id % 12 <> 11 AND doc_id % 7 <> 0
                        THEN 'Model ' || doc_id % 7 END AS model,
                   CASE WHEN doc_id % 12 <> 11 AND doc_id % 2 = 0
                        THEN '2026:01:0' || (doc_id % 9 + 1) || ' 00:00:00'
                   END AS datetime,
                   CASE WHEN doc_id % 12 <> 11 AND doc_id % 5 = 0
                        THEN '2025:11:0' || (doc_id % 9 + 1) || ' 12:00:00'
                   END AS datetime_original
            FROM documents WHERE doc_id < 240
        """)
def _q_exif_metadata(spark, sf):
    """EXIF extraction (r5): per doc an APP1/Exif segment with rotating
    byte order (II/MM), rotating field presence (orientation, Make, Model,
    DateTime inline-vs-offset ASCII, DateTimeOriginal behind the ExifIFD
    pointer), and every 12th payload corrupt (no SOI) → all-NULL row, never
    a failure. Oracle derives all five fields arithmetically."""
    from autoextract.operators.exif import (
        build_exif_app1,
        exif_metadata,
        splice_app1,
    )

    docs = _docs(spark, sf, 240)

    base = b"\xff\xd8\xff\xdb\x00\x04\x00\x00\xff\xda\x00\x02rest"

    def render(d):
        if d % 12 == 11:
            return d, b"not a jpeg"
        app1 = build_exif_app1(
            orientation=(d % 8 + 1) if d % 3 != 0 else None,
            make=f"Maker {d % 5}" if d % 4 != 1 else None,
            model=f"Model {d % 7}" if d % 7 != 0 else None,
            datetime=(
                f"2026:01:0{d % 9 + 1} 00:00:00" if d % 2 == 0 else None
            ),
            datetime_original=(
                f"2025:11:0{d % 9 + 1} 12:00:00" if d % 5 == 0 else None
            ),
            byte_order="II" if d % 2 == 0 else "MM",
        )
        return d, splice_app1(base, app1)

    media = map_rows(docs, render, "doc_id long, payload binary")
    return exif_metadata(media).select(
        "doc_id", "orientation", "make", "model", "datetime",
        "datetime_original",
    )


# id3 replay: all four fields derived arithmetically; corrupt
# payloads -> all-NULL rows
@_query("id3_metadata", """
            SELECT doc_id,
                   CASE WHEN doc_id % 11 <> 10
                        THEN 'Track ' || doc_id % 9 END AS title,
                   CASE WHEN doc_id % 11 <> 10 AND doc_id % 4 <> 1
                        THEN 'Artist ' || doc_id % 5 END AS artist,
                   CASE WHEN doc_id % 11 <> 10 AND doc_id % 7 <> 0
                        THEN 'Album ' || doc_id % 7 END AS album,
                   CASE WHEN doc_id % 11 <> 10 AND doc_id % 3 <> 2
                        THEN '201' || doc_id % 10 END AS year
            FROM documents WHERE doc_id < 240
        """)
def _q_id3_metadata(spark, sf):
    """ID3v2 extraction (r5): rotating tag version (2.3 plain / 2.4
    syncsafe frame sizes), rotating text encoding (latin-1 / UTF-16+BOM /
    UTF-8), rotating field presence, every 11th payload corrupt → all-NULL
    row. Oracle derives all four fields arithmetically."""
    from autoextract.operators.id3 import build_id3, id3_metadata

    docs = _docs(spark, sf, 240)

    def render(d):
        if d % 11 == 10:
            return d, b"\xff\xfbjunk"
        tag = build_id3(
            title=f"Track {d % 9}",
            artist=f"Artist {d % 5}" if d % 4 != 1 else None,
            album=f"Album {d % 7}" if d % 7 != 0 else None,
            year=f"201{d % 10}" if d % 3 != 2 else None,
            version=3 if d % 2 == 0 else 4,
            encoding=(0, 1, 3)[d % 3],
        )
        return d, tag + b"\xff\xfb..."

    media = map_rows(docs, render, "doc_id long, payload binary")
    return id3_metadata(media).select(
        "doc_id", "title", "artist", "album", "year"
    )


# BMFF replay: brand/version/track rotation + the integer
# duration*1000//timescale conversion, all derived arithmetically
@_query("mp4_metadata", """
            WITH p AS (
              SELECT doc_id,
                     doc_id % 12 <> 11 AS ok,
                     600 * (doc_id % 4 + 1) AS ts,
                     (doc_id % 7 + 1) * 600 * (doc_id % 4 + 1) + doc_id AS dur,
                     doc_id % 3 <> 0 AS has_video
              FROM documents WHERE doc_id < 240)
            SELECT doc_id,
                   ok AS valid,
                   CASE WHEN ok THEN ['isom','mp42','avc1'][doc_id % 3 + 1]
                   END AS major_brand,
                   CASE WHEN ok THEN CAST(dur * 1000 // ts AS BIGINT)
                   END AS duration_ms,
                   CASE WHEN ok THEN CAST(CASE WHEN has_video THEN 2 ELSE 1 END AS INT)
                   END AS n_tracks,
                   CASE WHEN ok AND has_video
                        THEN CAST(16 * (doc_id % 20 + 1) AS INT)
                   END AS video_width,
                   CASE WHEN ok AND has_video
                        THEN CAST(16 * (doc_id % 15 + 1) AS INT)
                   END AS video_height,
                   CASE WHEN ok
                        THEN CASE WHEN has_video THEN 'vide,soun' ELSE 'soun' END
                   END AS handlers
            FROM p
        """)
def _q_mp4_metadata(spark, sf):
    """MP4/ISO-BMFF metadata walk (r5): per doc a deterministic BMFF
    container with rotating brand, mvhd version (0=32-bit / 1=64-bit
    duration), largesize moov framing (every 8th), timescale/duration
    arithmetic, and a video track (16.16 fixed dims) present for 2 of 3
    docs; every 12th payload corrupt → valid=false row, never a failure.
    Oracle derives every field arithmetically, including the integer
    duration*1000//timescale millisecond conversion."""
    from autoextract.sources.mp4 import mp4_meta_table, to_mp4

    docs = _docs(spark, sf, 240)

    brands = ["isom", "mp42", "avc1"]

    def render(d):
        if d % 12 == 11:
            return d, b"not a container"
        ts = 600 * (d % 4 + 1)
        dur = (d % 7 + 1) * ts + d
        tracks = [("soun", 0, 0)]
        if d % 3 != 0:
            tracks = [("vide", 16 * (d % 20 + 1), 16 * (d % 15 + 1))] + tracks
        return d, to_mp4(
            brands[d % 3], ts, dur, tracks,
            mvhd_version=1 if d % 5 == 0 else 0,
            moov_largesize=(d % 8 == 3),
        )

    media = map_rows(docs, render, "doc_id long, payload binary")
    return mp4_meta_table(media)


# strip verdict: production kernel output must satisfy all four
# invariants per doc (flag exact, EXIF-free, decodable, clean
# pass-through) — oracle is the all-true table
@_query("exif_strip", """
            SELECT doc_id, true AS strip_ok
            FROM documents WHERE doc_id < 120
        """)
def _q_exif_strip(spark, sf):
    """Metadata stripping as a DRIVER-CHECKED verdict (r5): 120 JPEGs with
    rotating EXIF/COM metadata (every 4th clean) go through the production
    ``strip_media_metadata`` kernel; per doc the stripped flag must equal
    the planted had-metadata fact, the output must re-parse EXIF-free,
    still decode to identical pixels, and clean files must pass through
    byte-identical. Oracle = the derived flag table."""
    from autoextract.operators.exif import (
        build_exif_app1,
        parse_exif,
        splice_app1,
        strip_media_metadata,
    )
    from autoextract.operators.jpeg_codec import decode_jpeg, encode_jpeg

    docs = _docs(spark, sf, 120)

    def build(d):
        g = (
            np.arange(24, dtype=np.float64)[None, :]
            + np.arange(16, dtype=np.float64)[:, None] * 3
            + d
        ) % 256
        rgb = np.stack([g, (g * 2) % 256, (g * 5) % 256], axis=2)
        j = encode_jpeg(rgb.astype(np.uint8), quality=90)
        if d % 4 != 3:
            j = splice_app1(
                j,
                build_exif_app1(orientation=d % 8 + 1, make=f"Cam {d % 5}"),
            )
        if d % 3 == 0 and d % 4 != 3:
            note = f"note {d}".encode("ascii")
            com = b"\xff\xfe" + (len(note) + 2).to_bytes(2, "big") + note
            j = j[:2] + com + j[2:]
        return str(d), j

    media = map_rows(docs, build, "media_ref string, payload binary")
    stripped = strip_media_metadata(media)

    def check(ref, payload, was):
        d = int(ref)
        had_meta = d % 4 != 3
        ok = bool(was) == had_meta
        if ok:
            meta = parse_exif(payload)
            ok = all(v is None for v in meta.values())
        if ok:
            try:
                ok = decode_jpeg(payload).shape == (16, 24, 3)
            except Exception:
                ok = False
        return d, bool(ok)

    return map_rows(stripped, check, "doc_id long, strip_ok boolean")


# mojibake replay: the repaired text must equal the accented clean
# text for every doc; repaired flags exactly where a corrupted doc
# actually contained non-ASCII (pure-ASCII corruption is a no-op)
@_query("mojibake_repair", """
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CASE WHEN doc_id % 3 = 0 THEN replace(text, 'e', 'é')
                        WHEN doc_id % 3 = 1 THEN replace(text, 'a', 'ä')
                        ELSE text END AS text,
                   (doc_id % 2 = 0 AND (
                      (doc_id % 3 = 0 AND text LIKE '%e%')
                      OR (doc_id % 3 = 1 AND text LIKE '%a%')
                   )) AS repaired
            FROM documents
        """)
def _q_mojibake_repair(spark, sf):
    """Mojibake repair (r5): deterministically accent the corpus (replace
    e→é or a→ä by doc_id arithmetic), UTF-8→Latin-1 double-read half the
    docs inside the kernel (the classic wild corruption), and require
    ``repair_mojibake`` to restore every corrupted document EXACTLY while
    leaving clean docs (including clean non-ASCII ones) untouched. The
    oracle rebuilds the expected clean text and repair flags from the
    documents table with the same replace() arithmetic."""
    from autoextract.functions.encoding import repair_mojibake

    docs = _spread(_t(spark, sf, "documents")).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    clean = (
        F.when(F.col("doc_id") % 3 == 0, F.regexp_replace("text", "e", "é"))
        .when(F.col("doc_id") % 3 == 1, F.regexp_replace("text", "a", "ä"))
        .otherwise(F.col("text"))
    )
    staged = docs.select("doc_id", clean.alias("text"))

    def corrupt(d, t):
        return d, t.encode("utf-8").decode("latin-1") if d % 2 == 0 else t

    corrupted = map_rows(staged, corrupt, "doc_id long, text string")
    return repair_mojibake(corrupted)


# NFC cross-engine: DuckDB's ICU normalizer over the same
# decomposed construction must equal our unicodedata kernel
@_query("unicode_nfc", """
            WITH staged AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 3 = 0
                          THEN replace(text, 'e', 'e' || chr(769))
                          WHEN doc_id % 3 = 1
                          THEN replace(text, 'a', 'a' || chr(776))
                          ELSE text END AS t
              FROM documents)
            SELECT doc_id, nfc_normalize(t) AS text,
                   nfc_normalize(t) <> t AS normalized
            FROM staged
        """)
def _q_unicode_nfc(spark, sf):
    """Unicode NFC normalization (r5): decompose the corpus
    deterministically JVM-side (e→e+U+0301 or a→a+U+0308 by doc_id
    arithmetic), then ``normalize_unicode`` must recompose to the
    precomposed forms. The oracle runs DuckDB's independent ICU
    ``nfc_normalize`` over the SAME decomposed construction — a genuine
    cross-engine equivalence check, not a replay of our own code."""
    from autoextract.functions.encoding import normalize_unicode

    docs = _spread(_t(spark, sf, "documents")).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    staged = (
        F.when(F.col("doc_id") % 3 == 0,
               F.regexp_replace("text", "e", "e\u0301"))
        .when(F.col("doc_id") % 3 == 1,
              F.regexp_replace("text", "a", "a\u0308"))
        .otherwise(F.col("text"))
    )
    return normalize_unicode(
        docs.select("doc_id", staged.alias("text"))
    ).select("doc_id", "text", "normalized")


# script-census replay: counts/fractions/dominance derived
# arithmetically from the planted run lengths
@_query("script_profile", """
            WITH d AS (
              SELECT doc_id,
                     2 * (doc_id % 7) AS lat, 2 * (doc_id % 5) AS cyr,
                     doc_id % 3 AS han, doc_id % 2 AS grk
              FROM documents),
            t AS (SELECT *, lat + cyr + han + grk AS total FROM d)
            SELECT doc_id, CAST(total AS INT) AS n_letters,
                   ROUND(CASE WHEN total > 0 THEN lat / CAST(total AS DOUBLE) ELSE 0 END, 6) AS frac_latin,
                   ROUND(CASE WHEN total > 0 THEN cyr / CAST(total AS DOUBLE) ELSE 0 END, 6) AS frac_cyrillic,
                   ROUND(CASE WHEN total > 0 THEN han / CAST(total AS DOUBLE) ELSE 0 END, 6) AS frac_han,
                   ROUND(CASE WHEN total > 0 THEN grk / CAST(total AS DOUBLE) ELSE 0 END, 6) AS frac_greek,
                   CASE WHEN total = 0 THEN 'none'
                        WHEN lat >= cyr AND lat >= han AND lat >= grk THEN 'latin'
                        WHEN cyr >= han AND cyr >= grk THEN 'cyrillic'
                        WHEN grk >= han THEN 'greek'
                        ELSE 'han' END AS dominant_script
            FROM t
        """)
def _q_script_profile(spark, sf):
    """Unicode-script census (r5): per doc a deterministic mix of Latin /
    Cyrillic / Han / Greek runs (doc_id arithmetic; every 210th doc has no
    letters at all → the 'none' branch); the census must produce exact
    letter counts, 6-dp fractions, and the fixed-order dominance
    tie-break. Oracle derives everything arithmetically."""
    from autoextract.functions.text import script_profile

    docs = (
        _t(spark, sf, "documents")
        .select(F.col("doc_id").cast("long").alias("doc_id"))
    )
    d = F.col("doc_id")
    text = F.concat(
        F.repeat(F.lit("ab "), (d % 7).cast("int")),
        F.repeat(F.lit("пр "), (d % 5).cast("int")),
        F.repeat(F.lit("你 "), (d % 3).cast("int")),
        F.repeat(F.lit("α "), (d % 2).cast("int")),
    )
    prof = script_profile(docs.select("doc_id", text.alias("text")))
    return prof.select(
        "doc_id", "n_letters", "frac_latin", "frac_cyrillic", "frac_han",
        "frac_greek", "dominant_script",
    )


# sentence replay: the four expected sentences per doc, in order
@_query("sentence_split", """
            WITH docs AS (SELECT doc_id FROM documents)
            SELECT doc_id, CAST(0 AS INT) AS sent_id,
                   'Dr. Smith measured ' || doc_id || ' units at St. Mary.'
                     AS sentence FROM docs
            UNION ALL SELECT doc_id, 1, 'The result e.g. was fine!' FROM docs
            UNION ALL SELECT doc_id, 2,
                   'Was it batch ' || doc_id % 7 || '?' FROM docs
            UNION ALL SELECT doc_id, 3, 'Yes.' FROM docs
        """)
def _q_sentence_split(spark, sf):
    """Sentence segmentation (r5): each doc's fixture paragraph exercises
    abbreviation protection (Dr., St., e.g.), all three terminators, a
    digit-opener boundary, and a lowercase continuation that must NOT
    split. Oracle regenerates the four expected sentences arithmetically."""
    from autoextract.functions.text import split_sentences

    docs = _spread(
        _t(spark, sf, "documents")
        .select(F.col("doc_id").cast("long").alias("doc_id"))
    )
    did = F.col("doc_id").cast("string")
    k = (F.col("doc_id") % 7).cast("string")
    text = F.concat(
        F.lit("Dr. Smith measured "), did,
        F.lit(" units at St. Mary. The result e.g. was fine! Was it batch "),
        k, F.lit("? Yes."),
    )
    return split_sentences(docs.select("doc_id", text.alias("text")))


# chunk replay: the greedy boundary at max_tokens=12 over the
# known 8/5/4/1 token counts
@_query("sentence_chunking", """
            WITH docs AS (SELECT doc_id FROM documents)
            SELECT doc_id, CAST(0 AS INT) AS chunk_id,
                   'Dr. Smith measured ' || doc_id
                     || ' units at St. Mary.' AS text,
                   CAST(1 AS INT) AS n_sentences, CAST(8 AS INT) AS n_tokens
            FROM docs
            UNION ALL
            SELECT doc_id, 1,
                   'The result e.g. was fine! Was it batch ' || doc_id % 7
                     || '? Yes.',
                   3, 10
            FROM docs
        """)
def _q_sentence_chunking(spark, sf):
    """Sentence-boundary chunking (r5): the sentence_split fixture (token
    counts 8/5/4/1 per doc) packed greedily at max_tokens=12 must yield
    exactly chunk 0 = the 8-token sentence (adding the next would
    overflow) and chunk 1 = the remaining three (10 tokens). Oracle
    derives both chunks arithmetically — the greedy boundary itself is
    under the driver hash."""
    from autoextract.functions.text import sentence_chunks, split_sentences

    docs = _spread(
        _t(spark, sf, "documents")
        .select(F.col("doc_id").cast("long").alias("doc_id"))
    )
    did = F.col("doc_id").cast("string")
    k = (F.col("doc_id") % 7).cast("string")
    text = F.concat(
        F.lit("Dr. Smith measured "), did,
        F.lit(" units at St. Mary. The result e.g. was fine! Was it batch "),
        k, F.lit("? Yes."),
    )
    sents = split_sentences(docs.select("doc_id", text.alias("text")))
    return sentence_chunks(sents, max_tokens=12)


# consistency replay: majority vote + mixed flag arithmetically
@_query("language_consistency", """
            SELECT doc_id, CAST(3 + doc_id % 3 AS INT) AS n_sents,
                   'en' AS majority_lang,
                   ROUND(3.0 / (3 + doc_id % 3), 6) AS majority_frac,
                   doc_id % 3 <> 0 AS mixed
            FROM documents
        """)
def _q_language_consistency(spark, sf):
    """Code-switching detector (r5): per doc three English sentences plus
    0–2 German ones (doc_id arithmetic) through the full
    split→classify→majority chain; majority stays 'en', the fraction and
    the mixed flag (majority < 0.8) must match the arithmetic replay."""
    from autoextract.functions.text import language_consistency

    docs = _t(spark, sf, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    d = F.col("doc_id")
    text = F.concat(
        F.lit(
            "The cat and the dog is here. The bird and the fish is fine. "
            "The sun and the moon is up."
        ),
        F.when(
            d % 3 >= 1, F.lit(" Der Hund und die Katze nicht da.")
        ).otherwise(F.lit("")),
        F.when(
            d % 3 == 2, F.lit(" Der Wind und das Wetter nicht gut.")
        ).otherwise(F.lit("")),
    )
    return language_consistency(
        _spread(docs.select("doc_id", text.alias("text")))
    )


# compression verdict: planted repetitive vs pseudo-random docs
# must land on the expected sides of the ratio thresholds
@_query("compression_signal", """
            SELECT doc_id, TRUE AS repetitive_low, TRUE AS random_high,
                   TRUE AS bounds_ok
            FROM documents WHERE doc_id < 200
        """)
def _q_compression_signal(spark, sf):
    """Compression-ratio quality signal (r5) as a driver verdict: per doc
    a highly repetitive payload must compress below 0.25 and an md5-chain
    pseudo-random payload must stay above 0.35, with both ratios in
    (0, 1.1]. Not SQL-expressible (DuckDB has no zlib scalar), so the
    oracle is the expected all-true table — the thresholds themselves are
    the invariant."""
    from autoextract.functions.text import compression_ratio

    docs = _docs(spark, sf, 200)
    did = F.col("doc_id").cast("string")
    rep = F.repeat(F.concat(F.lit("spam ham "), did, F.lit(" ")), 50)
    rnd = F.concat(*[
        F.md5(F.concat(did, F.lit(f"salt{i}"))) for i in range(8)
    ])
    low = compression_ratio(docs.select("doc_id", rep.alias("text"))).select(
        "doc_id", F.col("comp_ratio").alias("r_low")
    )
    high = compression_ratio(docs.select("doc_id", rnd.alias("text"))).select(
        "doc_id", F.col("comp_ratio").alias("r_high")
    )
    j = low.join(high, "doc_id")
    return j.select(
        "doc_id",
        (F.col("r_low") < 0.25).alias("repetitive_low"),
        (F.col("r_high") > 0.35).alias("random_high"),
        (
            (F.col("r_low") > 0) & (F.col("r_low") <= 1.1)
            & (F.col("r_high") > 0) & (F.col("r_high") <= 1.1)
        ).alias("bounds_ok"),
    )


# scrub replay: the canonical cleaned form derived arithmetically
@_query("text_scrub", """
            SELECT doc_id,
                   CASE WHEN doc_id % 10 = 9 THEN 'clean ' || doc_id
                        ELSE 'Alpha beta ' || doc_id || chr(10) || chr(10)
                             || 'Gamma delta.' END AS text,
                   doc_id % 10 <> 9 AS scrubbed
            FROM documents
        """)
def _q_text_scrub(spark, sf):
    """C4-style scrub (r5): per doc a payload with control chars,
    zero-width space, tab runs, double spaces, a 4-newline run and
    trailing whitespace must clean to the exact canonical form (every
    10th doc is already clean and must come back untouched with
    scrubbed=false). Oracle derives the expected text arithmetically."""
    from autoextract.functions.text import scrub_text

    docs = _t(spark, sf, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    d = F.col("doc_id")
    did = d.cast("string")
    dirty = F.concat(
        F.lit("Alpha "),
        F.when(d % 2 == 0, F.lit("\x07")).otherwise(F.lit("\x08")),
        F.lit(" beta  "), did, F.lit("\u200b"),
        F.lit("\n\n\n\nGamma\t\tdelta. "),
    )
    text = F.when(d % 10 == 9, F.concat(F.lit("clean "), did)).otherwise(dirty)
    return scrub_text(docs.select("doc_id", text.alias("text")))


# reply-strip replay: the four surviving body lines + drop count
@_query("reply_strip", """
            SELECT doc_id,
                   'Hello ' || doc_id || ' team,' || chr(10) || chr(10)
                   || 'The actual reply body ' || doc_id || '.' || chr(10)
                   || 'Another body line.' AS text,
                   CAST(6 AS INT) AS n_dropped
            FROM documents
        """)
def _q_reply_strip(spark, sf):
    """Quoted-reply stripping (r5): per doc a mail-shaped fixture with an
    attribution line, two quote depths, a signature delimiter and
    post-signature content; only the four body lines may survive. Oracle
    derives the cleaned text + drop count arithmetically."""
    from autoextract.functions.text import strip_quoted_replies

    docs = _t(spark, sf, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    did = F.col("doc_id").cast("string")
    k = (F.col("doc_id") % 5).cast("string")
    text = F.concat_ws(
        "\n",
        F.concat(F.lit("Hello "), did, F.lit(" team,")),
        F.lit(""),
        F.concat(F.lit("On Monday, reviewer "), k, F.lit(" wrote:")),
        F.concat(F.lit("> old quoted line "), did),
        F.lit(" >> nested quote"),
        F.concat(F.lit("The actual reply body "), did, F.lit(".")),
        F.lit("Another body line."),
        F.lit("-- "),
        F.concat(F.lit("sig name "), did),
        F.lit("> trailing quote"),
    )
    return strip_quoted_replies(docs.select("doc_id", text.alias("text")))


# fence replay: both blocks verbatim, untagged lang NULL
@_query("code_fences", """
            SELECT doc_id, CAST(0 AS INT) AS fence_id, 'python' AS lang,
                   'print(' || doc_id || ')' || chr(10) || 'x = ' || doc_id
                     || ' % 7' AS code
            FROM documents
            UNION ALL
            SELECT doc_id, 1, NULL, 'plain block ' || doc_id
            FROM documents
        """)
def _q_code_fences(spark, sf):
    """Code-fence extraction (r5): markdown-ish prose with an inline
    backtick distractor, a python-tagged fence and an untagged fence; both
    blocks must come back verbatim (multiline, trailing newline stripped)
    with lang NULL for the untagged one. Oracle derives both blocks
    arithmetically."""
    from autoextract.functions.text import extract_code_fences

    docs = _t(spark, sf, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    did = F.col("doc_id").cast("string")
    text = F.concat(
        F.lit("Intro prose "), did, F.lit(" with `inline` code.\n"),
        F.lit("```python\nprint("), did, F.lit(")\nx = "), did,
        F.lit(" % 7\n```\nmiddle text\n```\nplain block "), did,
        F.lit("\n```\ntail"),
    )
    return extract_code_fences(docs.select("doc_id", text.alias("text")))


# CDC verdict: spans partition each blob within size bounds, and
# the prefixed twin re-shares >=70% of chunk hashes (realignment)
@_query("cdc_chunks", """
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   TRUE AS partition_ok,
                   TRUE AS bounds_ok,
                   TRUE AS realign_ok
            FROM documents WHERE doc_id < 60
        """)
def _q_cdc_chunks(spark, sf):
    """Content-defined chunking (r5) as a driver-checked verdict: 60 blobs
    (32 KiB deterministic random bytes each) plus a 137-byte-prefixed twin
    of every one, chunked with the gear CDC kernel. Per doc: the chunk
    spans must partition the blob exactly (offset 0, contiguous, total
    32768) with every non-final chunk inside [min,max] — and ≥70% of the
    original's chunk hashes must reappear in the shifted twin, the
    boundary-realignment property that is the whole point of CDC (a
    fixed-size chunker scores ~0%). Oracle = the all-true table."""
    from autoextract.operators.cdc import blob_chunks

    n_bytes, kw = 32768, dict(avg_bits=10, min_size=256, max_size=4096)

    def payload(kind: str, seed: int) -> bytes:
        body = np.random.RandomState(seed).bytes(n_bytes)
        if kind == "b":
            return np.random.RandomState(100000 + seed).bytes(137) + body
        return body

    pairs = _docs(spark, sf, 60).select(
        "doc_id", F.explode(F.array(F.lit("a"), F.lit("b"))).alias("side")
    )

    def build(i, side):
        return f"{side}{i}", payload(side, i)

    blobs = map_rows(pairs, build, "blob_id string, payload binary")
    chunks = blob_chunks(blobs, **kw).select(
        F.substring("blob_id", 1, 1).alias("side"),
        F.expr("substring(blob_id, 2)").cast("long").alias("doc_id"),
        "ord",
        "offset",
        "length",
        "chunk_sha",
    )
    a = chunks.where(F.col("side") == "a")
    total_a = F.lit(n_bytes)
    part = a.groupBy("doc_id").agg(
        (
            (F.min("offset") == 0)
            & (F.sum("length") == total_a)
            & (F.max(F.col("offset") + F.col("length")) == total_a)
        ).alias("partition_ok"),
        (
            (F.max("length") <= kw["max_size"])
            & (
                F.coalesce(
                    F.min(
                        F.when(
                            F.col("offset") + F.col("length") < total_a,
                            F.col("length"),
                        )
                    ),
                    F.lit(kw["min_size"]),
                )
                >= kw["min_size"]
            )
        ).alias("bounds_ok"),
    )
    a_sha = a.select("doc_id", "chunk_sha").distinct()
    b_sha = chunks.where(F.col("side") == "b").select("doc_id", "chunk_sha").distinct()
    na = a_sha.groupBy("doc_id").agg(F.count("*").alias("__na"))
    shared = a_sha.join(b_sha, ["doc_id", "chunk_sha"]).groupBy("doc_id").agg(
        F.count("*").alias("__ns")
    )
    return (
        part.join(na, "doc_id")
        .join(shared, "doc_id", "left")
        .select(
            "doc_id",
            "partition_ok",
            "bounds_ok",
            (F.coalesce("__ns", F.lit(0)) >= 0.7 * F.col("__na")).alias(
                "realign_ok"
            ),
        )
    )


# page-furniture replay: regenerate the multi-page line fixture
# arithmetically, classify bands from the same geometry (y1 <=
# 0.2*800 header, y0 >= 0.8*800 footer), fold digits to '#', and
# apply the identical repetition census (>=2 pages AND >= ceil(half
# the doc's pages), same band only)
@_query("page_furniture", """
            WITH docs AS (
              SELECT doc_id, doc_id % 4 + 2 AS n_pages
              FROM documents WHERE doc_id < 300),
            pg AS (
              SELECT doc_id, n_pages, unnest(range(1, n_pages + 1)) AS page
              FROM docs),
            l AS (
              SELECT doc_id, page, n_pages, 20 AS y0,
                     'Acme Quarterly Report' AS text FROM pg
              UNION ALL SELECT doc_id, page, n_pages, 60,
                     'Draft stamp ' || doc_id FROM pg WHERE page = 1
              UNION ALL SELECT doc_id, page, n_pages, 300,
                     'Body content block ' || doc_id || ' alpha ' || page FROM pg
              UNION ALL SELECT doc_id, page, n_pages, 340,
                     'Body section ' || doc_id || ' beta ' || page FROM pg
              UNION ALL SELECT doc_id, page, n_pages, 420,
                     'Confidential material enclosed herein' FROM pg
              UNION ALL SELECT doc_id, page, n_pages, 760,
                     'Page ' || page || ' of ' || n_pages FROM pg),
            b AS (
              SELECT doc_id, page, n_pages, y0, text,
                     CASE WHEN y0 + 16 <= 160 THEN 'header'
                          WHEN y0 >= 640 THEN 'footer'
                          ELSE 'body' END AS band,
                     regexp_replace(regexp_replace(lower(trim(text)),
                       '[0-9]+', '#', 'g'), '\\s+', ' ', 'g') AS norm
              FROM l),
            reps AS (
              SELECT doc_id, band, norm, COUNT(DISTINCT page) AS rep
              FROM b WHERE band <> 'body' GROUP BY doc_id, band, norm)
            SELECT b.doc_id, CAST(b.page AS INT) AS page,
                   CAST(b.y0 AS INT) AS y0, b.text, b.band,
                   (COALESCE(r.rep, 0) >= 2
                    AND COALESCE(r.rep, 0) >= CEIL(b.n_pages * 0.5))
                     AS is_furniture
            FROM b LEFT JOIN reps r
              ON b.doc_id = r.doc_id AND b.band = r.band AND b.norm = r.norm
        """)
def _q_page_furniture(spark, sf):
    """Page-furniture removal (r5): running headers / page-number footers
    recur across pages and must be flagged; a page-1-only header-band
    stamp (frequency trap) and a body line repeated verbatim on every
    page (band trap) must NOT be. The fixture travels the REAL chain —
    word boxes → ``order_words`` (XY-cut + line clustering) →
    ``lines_table`` → ``mark_furniture`` — so line reassembly, digit-fold
    normalization, band geometry, and both repetition thresholds all gate
    against the DuckDB replay, which regenerates the lines arithmetically
    and applies the same census. Replaces nothing in the reference (its
    OCR emits furniture into the text verbatim); this is the cleanup every
    training pipeline runs before PDF text is usable."""
    from autoextract.operators.furniture import lines_table, mark_furniture
    from autoextract.operators.layout import order_words

    boxes = _furniture_lines_fixture(spark, sf)
    marked = mark_furniture(lines_table(order_words(boxes)), page_height=800.0)
    return marked.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "page",
        F.col("y0").cast("int").alias("y0"),
        "text",
        "band",
        "is_furniture",
    )


# capstone replay: the exact clean text after layout + furniture
# strip + hyphen repair, page by page in reading order
@_query("clean_extraction", """
            WITH docs AS (
              SELECT doc_id, doc_id % 4 + 2 AS n_pages
              FROM documents WHERE doc_id < 300),
            pg AS (
              SELECT doc_id, n_pages, unnest(range(1, n_pages + 1)) AS page
              FROM docs),
            pt AS (
              SELECT doc_id, page,
                (CASE WHEN page = 1
                      THEN 'Draft stamp ' || doc_id || chr(10) ELSE '' END)
                || 'Body content block ' || doc_id || ' alpha ' || page
                || chr(10)
                || 'Body section ' || doc_id || ' beta ' || page || chr(10)
                || 'Confidential material enclosed herein' || chr(10)
                || 'running example' || chr(10)
                || 'continues here' AS t
              FROM pg)
            SELECT doc_id, string_agg(t, chr(10) ORDER BY page) AS clean_text
            FROM pt GROUP BY doc_id
        """)
def _q_clean_extraction(spark, sf):
    """The cleanup-integrated extraction capstone (r5): word boxes →
    ``order_words`` (XY-cut reading order) → ``lines_table`` →
    ``strip_furniture`` (running header + page-number footer removed, the
    page-1 stamp and the repeated BODY notice kept) →
    ``repair_hyphenation`` (the planted ``exam-``/``ple`` split rejoined)
    → per-document text reassembly in (page, reading-order) order. One
    oracle hash over the final clean text gates the whole chain."""
    from autoextract.operators.furniture import (
        lines_table,
        repair_hyphenation,
        strip_furniture,
    )
    from autoextract.operators.layout import order_words

    docs = _docs(spark, sf, 300)
    n_pages = (F.col("doc_id") % 4 + 2).cast("int")
    pages = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), n_pages)).alias("page"),
        n_pages.alias("n_pages"),
    )
    did = F.col("doc_id").cast("string")
    pg = F.col("page").cast("string")
    npg = F.col("n_pages").cast("string")

    def line(ln, y0, text):
        return F.struct(
            F.lit(ln).alias("ln"), F.lit(float(y0)).alias("ly0"), text.alias("lt")
        )

    base_lines = F.array(
        line(0, 20.0, F.lit("Acme Quarterly Report")),
        line(2, 300.0, F.concat(F.lit("Body content block "), did, F.lit(" alpha "), pg)),
        line(3, 340.0, F.concat(F.lit("Body section "), did, F.lit(" beta "), pg)),
        line(4, 420.0, F.lit("Confidential material enclosed herein")),
        line(5, 460.0, F.lit("running exam-")),
        line(6, 500.0, F.lit("ple continues here")),
        line(7, 760.0, F.concat(F.lit("Page "), pg, F.lit(" of "), npg)),
    )
    stamp = F.when(
        F.col("page") == 1,
        F.array(line(1, 60.0, F.concat(F.lit("Draft stamp "), did))),
    ).otherwise(F.array().cast("array<struct<ln:int,ly0:double,lt:string>>"))
    lines = pages.select(
        "doc_id", "page", F.explode(F.concat(base_lines, stamp)).alias("l")
    ).select("doc_id", "page", "l.ln", "l.ly0", "l.lt")
    words = lines.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "page", "ln", "ly0",
        F.posexplode(F.split("lt", " ")).alias("wpos", "content"),
    )
    x0 = F.lit(40.0) + F.col("wpos") * 90.0
    boxes = words.select(
        "doc_id", "page",
        (F.col("ln") * 16 + F.col("wpos")).cast("int").alias("word_seq"),
        F.lit("text").alias("kind"), "content",
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(1.0).alias("rec_score"),
        x0.alias("x0"), F.col("ly0").alias("y0"),
        (x0 + 80.0).alias("x1"), (F.col("ly0") + 16.0).alias("y1"),
    )
    clean = repair_hyphenation(
        strip_furniture(lines_table(order_words(boxes)), page_height=800.0)
    )
    doc_text = clean.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("page"), F.col("seq0"), F.col("text")))
                ),
                lambda s: s["text"],
            ),
            "\n",
        ).alias("clean_text")
    )
    return doc_text.select(
        F.col("doc_id").cast("long").alias("doc_id"), "clean_text"
    )


# hyphenation replay: the same lag/lead window and regex chain —
# fragment = trailing <letters>{2}-, merge iff next line starts
# lowercase, compounds keep their hyphen, consumed first words drop
@_query("hyphenation_repair", """
            WITH docs AS (SELECT doc_id FROM documents WHERE doc_id < 400),
            l AS (
              SELECT doc_id, 0 AS line_no,
                     'Document ' || doc_id || ' covers an exam-' AS text FROM docs
              UNION ALL SELECT doc_id, 1,
                     'ple of broken words across lines in docu-' FROM docs
              UNION ALL SELECT doc_id, 2,
                     'Ment scans where capitals block the merge' FROM docs
              UNION ALL SELECT doc_id, 3, 'while state-of-the-' FROM docs
              UNION ALL SELECT doc_id, 4,
                     'art systems rejoin compounds cleanly 19' || doc_id || '-' FROM docs
              UNION ALL SELECT doc_id, 5,
                     'digit tails never merge into the next line' FROM docs),
            w AS (
              SELECT doc_id, line_no, text,
                     COALESCE(lead(text) OVER
                       (PARTITION BY doc_id ORDER BY line_no), '') AS nxt,
                     COALESCE(lag(text) OVER
                       (PARTITION BY doc_id ORDER BY line_no), '') AS prv
              FROM l),
            c AS (
              SELECT *,
                     regexp_extract(text, '(\\S*\\p{L}{2})-$', 0) AS frag,
                     regexp_extract(nxt, '^(\\S+)', 1) AS next_first,
                     regexp_extract(prv, '(\\S*\\p{L}{2})-$', 0) AS prev_frag,
                     regexp_extract(text, '^(\\S+)', 1) AS first_w
              FROM w),
            m AS (
              SELECT *,
                     (frag <> '' AND regexp_matches(next_first, '^\\p{Ll}'))
                       AS merge_ok,
                     (prev_frag <> '' AND regexp_matches(first_w, '^\\p{Ll}'))
                       AS consumed
              FROM c),
            b AS (
              SELECT *,
                     CASE WHEN consumed
                          THEN ltrim(regexp_replace(text, '^\\S+\\s*', ''))
                          ELSE text END AS base,
                     CASE WHEN regexp_replace(frag, '-$', '') LIKE '%-%'
                          THEN frag
                          ELSE regexp_replace(frag, '-$', '') END
                       || next_first AS merged_word
              FROM m)
            SELECT doc_id, line_no,
                   CASE WHEN merge_ok
                        THEN regexp_replace(base, '\\S+-$', '') || merged_word
                        ELSE base END AS text,
                   b.text AS text_raw
            FROM b
        """)
def _q_hyphenation_repair(spark, sf):
    """End-of-line hyphenation repair (r5): the other classic extraction
    artifact. Per document, a 6-line page exercises every branch of the
    conservative merge rule — a plain split (``exam-`` + ``ple…``), a
    capitalized continuation that must NOT merge (``docu-`` + ``Ment…``),
    a mid-compound split that merges into the hyphenated compound
    (``state-of-the-`` + ``art…``), a no-hyphen line, and a digit tail
    that must not count as a letter fragment. The oracle replays the
    lag/lead window and the exact regex chain in DuckDB."""
    from autoextract.operators.furniture import repair_hyphenation

    docs = _docs(spark, sf, 400)
    did = F.col("doc_id").cast("string")

    def line(ln, text):
        return F.struct(F.lit(ln).alias("seq0"), text.alias("text"))

    lines = docs.select(
        "doc_id",
        F.lit(1).alias("page"),
        F.explode(
            F.array(
                line(0, F.concat(F.lit("Document "), did, F.lit(" covers an exam-"))),
                line(1, F.lit("ple of broken words across lines in docu-")),
                line(2, F.lit("Ment scans where capitals block the merge")),
                line(3, F.lit("while state-of-the-")),
                line(4, F.concat(F.lit("art systems rejoin compounds cleanly 19"), did, F.lit("-"))),
                line(5, F.lit("digit tails never merge into the next line")),
            )
        ).alias("l"),
    ).select("doc_id", "page", "l.seq0", "l.text")
    return repair_hyphenation(lines).select(
        "doc_id", F.col("seq0").alias("line_no"), "text", "text_raw"
    )


@_query("pdf_ingest_spans", """
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CAST(len(list_slice(string_split_regex(trim(text), '\\s+'), 1, 60)) AS BIGINT) AS n_spans,
                   array_to_string(list_slice(string_split_regex(trim(text), '\\s+'), 1, 60), ' ') AS text_rebuilt
            FROM documents WHERE doc_id < 300
        """)
def _q_pdf_ingest_spans(spark, sf):
    """P1 end-to-end: documents → typeset into REAL multi-page PDF payloads
    → text-layer parse back to word boxes → the ordinary layout/span
    pipeline. The oracle recomputes the expected reassembled text straight
    from the source table, so the whole render→parse→order→assemble chain
    must reconstruct each document's leading tokens exactly."""
    from autoextract.sources.pdf import pdf_words_table, render_docs_to_pdf

    docs = _spread(_t(spark, sf, "documents").where(F.col("doc_id") < 300))
    raw = render_docs_to_pdf(
        docs.select(F.col("doc_id").cast("string").alias("doc_id"), "text")
    )
    spans = spans_table(pdf_words_table(raw))
    return spans.select(
        "doc_id",
        F.size("spans").cast("long").alias("n_spans"),
        F.array_join(F.transform("spans", lambda s: s["text"]), " ").alias(
            "text_rebuilt"
        ),
    )


# same text-reassembly oracle as pdf_ingest_spans: the ObjStm/LZW
# payload shape must parse back to identical leading tokens
@_query("pdf_modern_ingest", """
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CAST(len(list_slice(string_split_regex(trim(text), '\\s+'), 1, 60)) AS BIGINT) AS n_spans,
                   array_to_string(list_slice(string_split_regex(trim(text), '\\s+'), 1, 60), ' ') AS text_rebuilt
            FROM documents WHERE doc_id < 200
        """)
def _q_pdf_modern_ingest(spark, sf):
    """P1 wild-PDF widening (r4): the SAME render→parse→order→assemble
    round-trip as ``pdf_ingest_spans``, but the payloads are PDF 1.5+ files
    — dictionary objects packed into compressed /Type /ObjStm object
    streams with a binary xref STREAM, content streams rotating the
    Flate / LZW / ASCII85+Flate / RunLength filter chains per document.
    The oracle recomputes expected text straight from the source table, so
    the ObjStm expansion and every filter decoder must reconstruct each
    document exactly. Reference parity: the reference ingests arbitrary
    real-world uploads through PyMuPDF (lambda/api/app/utils/pdf.py:53-87),
    which reads all of these shapes; this query pins the engine's own
    parser to the same real-world envelope."""
    from autoextract.sources.pdf import pdf_words_table, render_docs_to_pdf

    docs = _spread(_t(spark, sf, "documents").where(F.col("doc_id") < 200))
    raw = render_docs_to_pdf(
        docs.select(F.col("doc_id").cast("string").alias("doc_id"), "text"),
        compress="mixed",
        modern=True,
    )
    spans = spans_table(pdf_words_table(raw))
    return spans.select(
        "doc_id",
        F.size("spans").cast("long").alias("n_spans"),
        F.array_join(F.transform("spans", lambda s: s["text"]), " ").alias(
            "text_rebuilt"
        ),
    )


# encrypted + CID-font files must reassemble the same leading tokens
@_query("pdf_encrypted_ingest", """
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CAST(len(list_slice(string_split_regex(trim(text), '\\s+'), 1, 60)) AS BIGINT) AS n_spans,
                   array_to_string(list_slice(string_split_regex(trim(text), '\\s+'), 1, 60), ' ') AS text_rebuilt
            FROM documents WHERE doc_id < 150
        """)
def _q_pdf_encrypted_ingest(spark, sf):
    """P1 wild-PDF widening (r4, AES r5): render → ENCRYPT with the
    standard security handler, rotating revisions per doc — V1/R2 40-bit
    RC4, V2/R3 128-bit RC4, V4/R4 AES-128-CBC (AESV2), V5/R5 AES-256
    (AESV3) — all with empty user passwords, composite Type0/Identity-H
    fonts, and string-object encryption → parse back through password
    verification, per-object stream+string decryption (AES: IV strip +
    CBC + /Length re-patch), and /ToUnicode CID resolution → the ordinary
    layout/span pipeline. Same text-reassembly oracle: ciphertext on disk
    must reconstruct every document's leading tokens exactly. Reference
    parity: PyMuPDF opens empty-user-password encrypted uploads
    transparently (lambda/api/app/utils/pdf.py:53-87 sets no password), so
    the reference app accepts these files; the engine must too. R6's
    hardened 2.B hash (deliberately ~1s/file by spec) is pytest-gated
    instead (test_encrypted_pdf_aes256_roundtrip)."""
    from autoextract.sources.pdf import pdf_words_table, render_docs_to_pdf

    docs = _spread(_t(spark, sf, "documents").where(F.col("doc_id") < 150))
    raw = render_docs_to_pdf(
        docs.select(F.col("doc_id").cast("string").alias("doc_id"), "text"),
        encrypt="mixed",
        font="type0",
    )
    spans = spans_table(pdf_words_table(raw))
    return spans.select(
        "doc_id",
        F.size("spans").cast("long").alias("n_spans"),
        F.array_join(F.transform("spans", lambda s: s["text"]), " ").alias(
            "text_rebuilt"
        ),
    )


@_query("pdf_aes256_ingest", """
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CAST(len(list_slice(string_split_regex(trim(text), '\\s+'), 1, 60)) AS BIGINT) AS n_spans,
                   array_to_string(list_slice(string_split_regex(trim(text), '\\s+'), 1, 60), ' ') AS text_rebuilt
            FROM documents WHERE doc_id < 6
        """)
def _q_pdf_aes256_ingest(spark, sf):
    """The AES-256 hardened path (V5/R6 — the PDF 2.0 default) as its own
    small-set driver gate: 6 docs render → encrypt with the standard
    handler at R6 (Algorithm 2.B iterated hash, /UE file-key unwrap,
    AESV3 stream+string decryption) → reassemble through the ordinary
    layout/span pipeline. Small on purpose: 2.B costs ~1 s/file BY SPEC
    (the hardening is the feature), so the wide rotation lives in
    ``pdf_encrypted_ingest`` and this query pins R6 specifically."""
    from autoextract.sources.pdf import pdf_words_table, render_docs_to_pdf

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 6)
    raw = render_docs_to_pdf(
        docs.select(F.col("doc_id").cast("string").alias("doc_id"), "text"),
        encrypt="aes256r6",
        font="type0",
    )
    spans = spans_table(pdf_words_table(raw))
    return spans.select(
        "doc_id",
        F.size("spans").cast("long").alias("n_spans"),
        F.array_join(F.transform("spans", lambda s: s["text"]), " ").alias(
            "text_rebuilt"
        ),
    )


@_query("interval_count_null_bounds", """
            SELECT s.event_id, s.user_id,
                   CAST(count(c.ts) AS BIGINT) AS n_clicks
            FROM (SELECT event_id, user_id,
                         CASE WHEN event_id % 7 = 0 THEN NULL ELSE ts END AS start_ts,
                         ts + INTERVAL 30 MINUTE AS end_ts
                  FROM events WHERE event_type = 'signup') s
            LEFT JOIN events c
              ON s.user_id = c.user_id AND c.event_type = 'click'
             AND c.ts >= s.start_ts AND c.ts <= s.end_ts
            GROUP BY 1, 2
        """)
def _q_interval_count_null_bounds(spark, sf):
    """NULL-bounded intervals (ADVICE r4): every 7th signup's start_ts is
    NULLed; such rows must SURVIVE to the output with n_clicks = 0 (the
    explode_outer path) — checked value-for-value against DuckDB's natural
    LEFT JOIN semantics, where a NULL bound simply never matches."""
    from autoextract.operators import temporal as TMP

    e = _t(spark, sf, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    signups = e.where(F.col("event_type") == "signup").select(
        "event_id",
        "user_id",
        F.when(F.col("event_id") % 7 == 0, F.lit(None))
        .otherwise(F.col("ts"))
        .alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end_ts"),
    )
    clicks = e.where(F.col("event_type") == "click").select("user_id", "ts")
    out = TMP.interval_count_join(
        signups, clicks, on="user_id", start_col="start_ts", end_col="end_ts",
        count_alias="n_clicks",
    )
    return out.select(
        "event_id", "user_id", F.col("n_clicks").cast("long").alias("n_clicks")
    )


# ---- sketch/ANN families as DRIVER-CHECKED verdict tables (r2 VERDICT
# "Next round" #1: the engine computes a per-row pass/fail fact; the DuckDB
# oracle is the expected all-true table, so the hash compare enforces it) ----

@_query("pdf_media_roundtrip", """
            SELECT CAST(range AS BIGINT) AS doc_id, true AS media_ok
            FROM range(50)
        """)
def _q_pdf_media_roundtrip(spark, sf):
    """The embedded-media half of interleaved documents as a DRIVER-CHECKED
    verdict: 50 docs are typeset into PDFs carrying a deterministic per-doc
    image — even docs a baseline JPEG (DCTDecode XObject, extracted
    byte-identically), odd docs (r5) a Flate raw-bitmap XObject that
    ``pdf_media_table`` must inflate and PNG-wrap into a decodable file;
    each payload must decode to the expected pixel grid. Oracle = the
    expected all-true table."""
    from autoextract.operators.jpeg_codec import decode_jpeg, encode_jpeg
    from autoextract.operators.png_codec import decode_png
    from autoextract.sources.pdf import make_text_pdf, pdf_media_table

    def doc_pixels(doc_id: int) -> np.ndarray:
        g = np.tile(
            np.arange(16, dtype=np.float64)[None, :] * 10 + (doc_id % 100), (16, 1)
        )
        return np.clip(g, 0, 255).astype(np.uint8)

    def doc_jpeg(doc_id: int) -> bytes:
        return encode_jpeg(doc_pixels(doc_id), quality=95)

    docs = _docs(spark, sf, 50)

    def build(d):
        pages = [[("w0", 50.0, 60.0), (None, 50.0, 120.0, 200.0, 150.0),
                  ("w1", 50.0, 320.0)]]
        img_kw = (
            {"image_jpeg": doc_jpeg(d)} if d % 2 == 0
            else {"image_raw": (16, 16, doc_pixels(d).tobytes())}
        )
        return str(d), make_text_pdf(pages, compress=True, **img_kw)

    raw = map_rows(docs, build, "doc_id string, payload binary")
    media = pdf_media_table(raw)

    def check(doc_id, ref, payload, fmt):
        b = payload if payload is not None else b""
        d = int(doc_id)
        try:
            if d % 2 == 0:
                ok = (fmt == "jpeg" and ref == f"pdf:{doc_id}:0"
                      and b == doc_jpeg(d)
                      and decode_jpeg(b).shape == (16, 16, 1))
            else:
                arr = decode_png(b)
                ok = (fmt == "png" and ref == f"pdf:{doc_id}:0"
                      and arr.shape[:2] == (16, 16)
                      and bool(np.array_equal(arr[:, :, 0], doc_pixels(d))))
        except Exception:
            ok = False
        return d, bool(ok)

    verdict = map_rows(media, check, "doc_id long, media_ok boolean")
    # exactly one media row per doc AND every row ok
    agg = verdict.groupBy("doc_id").agg(
        (F.count("*") == 1).alias("one_row"), F.min("media_ok").alias("all_ok")
    )
    return docs.join(agg, "doc_id", "left").select(
        "doc_id",
        (F.coalesce(F.col("one_row"), F.lit(False))
         & F.coalesce(F.col("all_ok"), F.lit(False))).alias("media_ok"),
    )


@_query("media_resize_roundtrip", """
            SELECT CAST(range AS BIGINT) AS doc_id, true AS resize_ok
            FROM range(60)
        """)
def _q_media_resize_roundtrip(spark, sf):
    """P2 as a DRIVER-CHECKED verdict: 60 docs carry a deterministic
    OVERSIZED image rotating across the codec family — PNG, baseline JPEG,
    PROGRESSIVE JPEG, single-frame GIF, ANIMATED GIF, (r5) LOSSLESS
    WebP/VP8L with the subtract-green transform, plus late-r5 baseline
    TIFF (PackBits multi-strip) and 24-bit BMP — the production
    ``resize_image`` kernel must mark each resized AND produce decodable
    bytes at exactly the ``resize_plan`` target dims (same ≤1568 long-edge
    policy as the reference's helpers.py:58-104). Oracle = all-true."""
    from autoextract.operators import multimodal as MM

    def doc_image(doc_id: int) -> bytes:
        w = 1600 + (doc_id % 7) * 16  # long edge over the 1568 cap
        h = 24 + (doc_id % 5) * 8
        kind = doc_id % 8
        if kind in (0, 1, 2, 5, 6, 7):
            g = (
                np.arange(w, dtype=np.float64)[None, :] % 251
                + np.arange(h, dtype=np.float64)[:, None] * 3
                + doc_id
            ) % 256
            rgb = np.stack([g, (g * 2) % 256, (g * 3) % 256], axis=2).astype(
                np.uint8
            )
            if kind == 0:
                from autoextract.operators.png_codec import encode_png

                return encode_png(rgb)
            if kind == 5:
                from autoextract.operators.webp_codec import encode_webp_lossless

                return encode_webp_lossless(rgb, use_subtract_green=True)
            if kind == 6:
                from autoextract.operators.tiff_codec import encode_tiff

                return encode_tiff(rgb, compression=32773, rows_per_strip=16)
            if kind == 7:
                from autoextract.operators.bmp_codec import encode_bmp

                return encode_bmp(rgb)
            from autoextract.operators.jpeg_codec import (
                encode_jpeg,
                encode_progressive_jpeg,
            )

            enc = encode_jpeg if kind == 1 else encode_progressive_jpeg
            return enc(rgb, quality=90)
        from autoextract.operators import gif_codec as G

        pal = np.stack(
            [np.arange(16) * 16, (np.arange(16) * 8) % 256, np.full(16, doc_id % 256)],
            axis=1,
        ).astype(np.uint8)
        idx = ((np.arange(w)[None, :] + np.arange(h)[:, None] + doc_id) % 16).astype(
            np.uint8
        )
        single = G.encode_gif(idx, pal)
        if kind == 3:
            return single
        # 2-frame animation: the image section starts right after the
        # header + global color table (searching for 0x2C is wrong — the
        # palette itself can contain that byte)
        desc = 13 + (3 * (2 << (single[10] & 7)) if single[10] & 0x80 else 0)
        return single[:-1] + single[desc:-1] + b"\x3b"

    from autoextract.operators.bmp_codec import decode_bmp
    from autoextract.operators.gif_codec import (
        decode_gif_indexed,
        parse_animated_gif,
    )
    from autoextract.operators.jpeg_codec import decode_jpeg
    from autoextract.operators.png_codec import decode_png
    from autoextract.operators.tiff_codec import decode_tiff
    from autoextract.operators.webp_codec import decode_webp

    def build(d):
        return str(d), doc_image(d)

    # spread before the render: the 60-row scan is one split, and render,
    # resize and check would otherwise all run in one task
    media = map_rows(_spread(_docs(spark, sf, 60)), build, "media_ref string, payload binary")
    resized = MM.resize_image(media)

    def check(ref, out, was_resized):
        doc_id = int(ref)
        src = doc_image(doc_id)
        w = 1600 + (doc_id % 7) * 16
        h = 24 + (doc_id % 5) * 8
        scale = MM.MAX_LONG_EDGE / max(w, h)
        tw = max(int(round(w * scale)), 1)
        th = max(int(round(h * scale)), 1)
        kind = doc_id % 8
        ok = bool(was_resized)
        if ok:
            try:
                if kind == 0:
                    got = decode_png(out).shape[:2]
                elif kind == 5:
                    got = decode_webp(out).shape[:2]
                elif kind == 6:
                    got = decode_tiff(out).shape[:2]
                elif kind == 7:
                    got = decode_bmp(out).shape[:2]
                elif kind in (1, 2):
                    got = decode_jpeg(out).shape[:2]
                elif kind == 3:
                    got = decode_gif_indexed(out)[0].shape
                else:
                    gw, gh, _, frames = parse_animated_gif(out)
                    got = (gh, gw)
                    ok = len(frames) == 2
                ok = ok and got == (th, tw) and out != src
            except Exception:
                ok = False
        return doc_id, bool(ok)

    return map_rows(resized, check, "doc_id long, resize_ok boolean").orderBy(
        "doc_id"
    )


@_query("audio_transcode_roundtrip", """
            SELECT CAST(range AS BIGINT) AS doc_id, true AS audio_ok
            FROM range(50)
        """)
def _q_audio_transcode_roundtrip(spark, sf):
    """The audio normalizer as a DRIVER-CHECKED verdict: 50 docs carry
    deterministic sine payloads at rotating sample rates (8/22.05/44.1/48
    kHz), channel counts and frequencies — every third doc as a REAL FLAC
    file (r5: CONSTANT/FIXED subframes + Rice residuals, mid/side when
    stereo, decoded by the pure-Python RFC 9639 codec), the rest as PCM
    WAV; ``transcode_wav`` must emit 16 kHz mono 16-bit PCM whose duration
    matches and whose tone frequency survives resampling (zero-crossing
    count). Oracle = all-true."""
    from autoextract.operators import audio as AU

    rates = [8000, 22050, 44100, 48000]

    def doc_wav(doc_id: int) -> tuple[bytes, float, float]:
        rate = rates[doc_id % 4]
        freq = 200.0 + (doc_id % 10) * 55.0  # 200..695 Hz < Nyquist at 16k
        seconds = 0.2 + (doc_id % 3) * 0.05
        t = np.arange(int(rate * seconds)) / rate
        tone = 0.6 * np.sin(2 * np.pi * freq * t)
        x = tone[:, None] if doc_id % 2 else np.stack([tone, tone * 0.5], axis=1)
        if doc_id % 3 == 0:
            from autoextract.operators.flac_codec import encode_flac

            # rotate the codec variants so the driver gate covers every
            # decoder branch: stereo decorrelation modes, LPC subframes,
            # Rice partitions/escapes/5-bit params, wasted bits
            stereo = ("mid_side", "left_side", "right_side")[
                (doc_id // 3) % 3
            ] if x.shape[1] == 2 else None
            knobs = [
                {},
                {"use_lpc": True},
                {"partition_order": 1},
                {"rice_escape": True},
                {"method5": True, "wasted_bits": 1},
            ][(doc_id // 3) % 5]
            return (
                encode_flac(x, sample_rate=rate, stereo_mode=stereo, **knobs),
                freq,
                seconds,
            )
        return AU.make_wav(x, sample_rate=rate), freq, seconds

    def build(d):
        return str(d), doc_wav(d)[0]

    media = map_rows(_docs(spark, sf, 50), build, "media_ref string, payload binary")
    out = AU.transcode_wav(media, target_rate=16000)

    def check(ref, payload, transcoded):
        doc_id = int(ref)
        _, freq, seconds = doc_wav(doc_id)
        ok = bool(transcoded)
        if ok:
            try:
                y, rate = AU.decode_wav(payload)
                zc = int(np.sum(np.abs(np.diff(np.signbit(y[:, 0]).astype(int)))))
                ok = (
                    rate == 16000
                    and y.shape[1] == 1
                    and abs(y.shape[0] - 16000 * seconds) <= 2
                    and abs(zc - 2 * freq * seconds) <= 4
                )
            except Exception:
                ok = False
        return doc_id, bool(ok)

    return map_rows(
        out.select("media_ref", "payload", "transcoded"),
        check,
        "doc_id long, audio_ok boolean",
    ).orderBy("doc_id")


@_query("extraction_oracle", """
            SELECT printf('doc-13-%09d', range) AS doc_id,
                   true AS fields_exact
            FROM range(50)
        """)
def _q_extraction_oracle(spark, sf):
    """J4 (the flagship label-proximity extractor) as a DRIVER-CHECKED
    oracle: engine extraction over 50 generated form docs must equal the
    generation-plan ground truth EXACTLY — values, word-id provenance, and
    confidence per field. The oracle SQL is the expected per-doc verdict."""
    from autoextract import corpus
    from autoextract.operators.extract import extract_fields
    from autoextract.operators.layout import order_words
    from autoextract.schema import SHIPPING_SCHEMA

    gen = corpus.gen_corpus(spark, 50, seed=13)
    got = extract_fields(
        order_words(corpus.ocr_words_view(gen)), SHIPPING_SCHEMA
    ).where(F.col("value") != "")
    exp = corpus.expected_extracted(spark, 50, seed=13)
    bad_docs = (
        got.exceptAll(exp)
        .unionByName(exp.exceptAll(got))
        .select("doc_id")
        .distinct()
        .withColumn("bad", F.lit(True))
    )
    return (
        gen.select("doc_id")
        .distinct()
        .join(bad_docs, "doc_id", "left")
        .select(
            "doc_id", F.coalesce(~F.col("bad"), F.lit(True)).alias("fields_exact")
        )
    )


@_query("winnowing_fingerprints", f"""
            WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
                          FROM documents),
            sh AS (SELECT doc_id, {_SHINGLES_SQL} AS s FROM toks),
            h AS (SELECT doc_id,
                         [CAST(CAST(('0x' || substr(md5(x), 1, 8)) AS UBIGINT) AS BIGINT)
                          for x in s] AS hs
                  FROM sh),
            w AS (SELECT doc_id,
                         [list_min(hs[i:i+3])
                          for i in range(1, greatest(len(hs) - 3, 1) + 1)] AS mins
                  FROM h)
            SELECT doc_id, unnest(list_distinct(mins)) AS fp FROM w
        """)
def _q_winnowing(spark, sf):
    return DD.winnowing_fingerprints(_spread(_t(spark, sf, "documents")), k=3, window=4)


@_query("simhash_sketches", """
            SELECT CAST(range AS BIGINT) AS doc_id, true AS simhash_ok
            FROM range(100)
        """)
def _q_simhash(spark, sf):
    """SimHash sketches as a verdict: planted exact duplicates recovered by
    the Manku pigeonhole blocking (hamming 0, guaranteed), one-token-edit
    locality ≤ 12 bits, and strict near-vs-unrelated separation — per doc."""
    return DD.simhash_verdict(_t(spark, sf, "documents"), n_docs=100)


@_query("srp_ann_topk", """
            SELECT CAST(range AS BIGINT) AS query_id, true AS ann_ok
            FROM range(8)
        """)
def _q_srp_ann_topk(spark, sf):
    """SRP ANN as a verdict: each query's planted ε-twin recovered by the
    production multi-probe bucket search AND recall@10 vs exact ≥ 0.3."""
    return SIM.srp_ann_verdict(
        _t(spark, sf, "embeddings"), n_queries=8, k=10, n_planes=4
    )


@_query("ivf_ann_topk", """
            SELECT CAST(range AS BIGINT) AS query_id, true AS ann_ok
            FROM range(8)
        """)
def _q_ivf_ann_topk(spark, sf):
    """IVF ANN as a verdict: planted ε-twin recovered by nprobe-cell search
    AND recall@10 vs exact ≥ 0.3, per query."""
    return SIM.ivf_ann_verdict(
        _t(spark, sf, "embeddings"), n_queries=8, k=10, n_cells=8, nprobe=2
    )


@_query("pq_ann_topk", """
            SELECT CAST(range AS BIGINT) AS query_id, true AS ann_ok
            FROM range(8)
        """)
def _q_pq_ann_topk(spark, sf):
    """PQ ANN as a verdict (r5): the planted ε-twin must be recovered
    through the FULL compressed path — per-subspace codebooks → m-byte
    codes → ADC table scoring (float vectors never load) → top-rerank
    prune → exact cosine rerank — AND recall@10 vs exact ≥ 0.3, per
    query. PQ is the memory tier of the ANN family: 64 floats become 8
    bytes, which is what lets a 10^12-vector store sit in cluster RAM."""
    return SIM.pq_ann_verdict(
        _t(spark, sf, "embeddings"), n_queries=8, k=10, m=8, n_codes=16
    )


@_query("kmeans_clusters", """
            SELECT CAST(range AS INT) AS cluster,
                   true AS pure, true AS distinct_label
            FROM range(6)
        """)
def _q_kmeans_clusters(spark, sf):
    """Distributed k-means as a verdict (r5): Lloyd rounds where the
    assignment matmul runs over the whole corpus and the centroid update
    is a map-side partial aggregation (exchange ∝ k·dim·partitions, never
    corpus size) must EXACTLY recover six planted well-separated clusters:
    per planted cluster one learned label (purity) owned by no other
    planted cluster (distinctness)."""
    from autoextract.operators.clustering import kmeans_verdict

    return kmeans_verdict(spark, n_clusters=6, per_cluster=40, n_rounds=8)


@_query("semantic_dedup", """
            SELECT CAST(range AS BIGINT) AS query_id, true AS semdedup_ok
            FROM range(8)
        """)
def _q_semantic_dedup(spark, sf):
    """SemDeDup as a verdict (r5): plant ε-twins, run the FULL pipeline
    (IVF k-means cells → per-cell BLAS Gram near-dup pairs → connected
    components → min-id keeper); per planted pair the original and twin
    must share a component that keeps exactly one member, the minimum id."""
    return SIM.semantic_dedup_verdict(
        _t(spark, sf, "embeddings"), n_plants=8, threshold=0.95, n_cells=8
    )


@_query("batch_ann_knn", """
            SELECT CAST(range AS BIGINT) AS query_id, true AS ann_ok
            FROM range(50)
        """)
def _q_batch_ann_knn(spark, sf):
    """Batch k-NN join as a verdict: the FULL production batch_ann_topk runs
    over the planted corpus; each of the first 50 rows must recover its
    ε-twin in its top-5."""
    e = _t(spark, sf, "embeddings")
    dim = len(e.select("embedding").first()["embedding"])
    return SIM.batch_knn_verdict(e, dim=dim, n_queries=50, k=5, n_planes=8)


# --- queries below have driver CORRECTNESS_r05 rows ---
@_query("spans_token_offsets", """
            SELECT doc_id,
                   CAST(generate_subscripts(l, 1) - 1 AS BIGINT) AS offset,
                   unnest(l) AS token
            FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
                  FROM documents WHERE doc_id < 100)
        """)
def _q_token_offsets(spark, sf):
    d = _t(spark, sf, "documents").where(F.col("doc_id") < 100)
    return d.select(
        "doc_id",
        F.posexplode(F.split(F.trim("text"), _TOK)).alias("offset", "token"),
    ).select("doc_id", F.col("offset").cast("long").alias("offset"), "token")


@_query("spans_reassemble", """
            SELECT doc_id,
                   CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
                   array_to_string(string_split_regex(trim(text), '\\s+'), ' ') AS text_rebuilt
            FROM documents
        """)
def _q_reassemble(spark, sf):
    d = _t(spark, sf, "documents")
    toks = F.split(F.trim("text"), _TOK)
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.array_join(toks, " ").alias("text_rebuilt"),
    )


@_query("word_count", """
            SELECT doc_id,
                   CAST(CASE WHEN len(trim(text)) = 0 THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS word_count
            FROM documents
        """)
def _q_word_count(spark, sf):
    return _t(spark, sf, "documents").select(
        "doc_id", TX.word_count("text").cast("long").alias("word_count")
    )


@_query("status_rollup", """
            SELECT o_custkey,
                   CASE WHEN count_if(o_orderstatus != 'F') = 0 THEN 'completed'
                        WHEN count_if(o_orderstatus = 'P') > 0 THEN 'failed'
                        WHEN count_if(o_orderstatus = 'O') > 0 THEN 'processing'
                        ELSE 'converting' END AS rollup_status,
                   CAST(count(*) AS BIGINT) AS n_orders
            FROM orders GROUP BY o_custkey
        """)
def _q_status_rollup(spark, sf):
    o = _t(spark, sf, "orders")
    return o.groupBy("o_custkey").agg(
        F.when(F.count_if(F.col("o_orderstatus") != "F") == 0, "completed")
        .when(F.count_if(F.col("o_orderstatus") == "P") > 0, "failed")
        .when(F.count_if(F.col("o_orderstatus") == "O") > 0, "processing")
        .otherwise("converting")
        .alias("rollup_status"),
        F.count("*").cast("long").alias("n_orders"),
    )


@_query("pending_anti_join", """
            SELECT c_custkey, c_name FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        """)
def _q_pending_anti_join(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select(
        "c_custkey", "c_name"
    )


@_query("word_id_dereference", """
            SELECT doc_id, l[1] AS first_token, l[3] AS third_token
            FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l FROM documents)
        """)
def _q_word_id_dereference(spark, sf):
    d = _t(spark, sf, "documents")
    toks = F.split(F.trim("text"), _TOK)
    return d.select(
        "doc_id",
        F.element_at(toks, 1).alias("first_token"),
        F.element_at(toks, 3).alias("third_token"),
    )


@_query("dim_broadcast_join", """
            SELECT n_name, round(sum(o_totalprice), 2) AS revenue,
                   CAST(count(*) AS BIGINT) AS n_orders
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY n_name
        """)
def _q_dim_broadcast_join(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    n = _t(spark, sf, "nation")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").cast("long").alias("n_orders"),
        )
    )


@_query("latest_first_topk", """
            SELECT user_id, event_id, rn FROM (
              SELECT user_id, event_id,
                     CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id) AS BIGINT) AS rn
              FROM events) WHERE rn <= 3
        """)
def _q_latest_first_topk(spark, sf):
    from pyspark.sql import Window

    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.asc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 3)
        .select("user_id", "event_id", "rn")
    )


@_query("tpch_q1", """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_discount), 4) AS avg_disc,
                   CAST(count(*) AS BIGINT) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """)
def _q_tpch_q1(spark, sf):
    l = _t(spark, sf, "lineitem")
    return (
        l.where(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").cast("long").alias("count_order"),
        )
    )


@_query("tpch_q3", """
            SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
                   o_orderpriority,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
            JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            WHERE o_orderdate < TIMESTAMP '1995-03-15'
            GROUP BY o_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, o_orderkey LIMIT 20
        """)
def _q_tpch_q3(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    l = _t(spark, sf, "lineitem")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(l, o["o_orderkey"] == l["l_orderkey"])
        .where(F.col("o_orderdate") < "1995-03-15")
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(20)
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
            "revenue",
        )
    )


@_query("scalar_surface", """
            SELECT event_id,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k,
                   strftime(ts, '%Y-%m-%d %H') AS hour_str,
                   upper(event_type) AS etype,
                   string_split(event_type, '_')[1] AS etype_head,
                   CAST(len(regexp_extract_all(props, '[0-9]')) AS BIGINT) AS n_digits
            FROM events WHERE event_id < 500
        """)
def _q_scalar_surface(spark, sf):
    e = _t(spark, sf, "events").where(F.col("event_id") < 500)
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
        F.date_format("ts", "yyyy-MM-dd HH").alias("hour_str"),
        F.upper("event_type").alias("etype"),
        F.substring_index("event_type", "_", 1).alias("etype_head"),
        F.size(F.regexp_extract_all(F.col("props"), F.lit(r"[0-9]"), 0))
        .cast("long")
        .alias("n_digits"),
    )


@_query("dedup_exact", """
            SELECT sha256(text) AS text_hash, min(doc_id) AS keeper_doc_id,
                   CAST(count(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY sha256(text)
        """)
def _q_dedup_exact(spark, sf):
    return DD.exact_duplicate_groups(_spread(_t(spark, sf, "documents")))


@_query("dedup_normalized", """
            SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
                   min(doc_id) AS keeper_doc_id,
                   CAST(count(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY 1
        """)
def _q_dedup_normalized(spark, sf):
    return DD.normalized_duplicate_groups(_spread(_t(spark, sf, "documents")))


@_query("minhash_signatures", f"""
            SELECT doc_id,
                   list_aggregate(list_transform(sh, x -> md5('0' || x)), 'min') AS mh0,
                   list_aggregate(list_transform(sh, x -> md5('1' || x)), 'min') AS mh1,
                   list_aggregate(list_transform(sh, x -> md5('2' || x)), 'min') AS mh2,
                   list_aggregate(list_transform(sh, x -> md5('3' || x)), 'min') AS mh3
            FROM (SELECT doc_id, {_SHINGLES_SQL} AS sh
                  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l FROM documents))
        """)
def _q_minhash_signatures(spark, sf):
    return DD.minhash_signatures_agg(_spread(_t(spark, sf, "documents")), n_hashes=4)


@_query("minhash_band_buckets", f"""
            WITH sig AS (
              SELECT doc_id,
                     [CAST(b AS VARCHAR) || '|' ||
                      list_aggregate(list_transform(sh, x -> md5(CAST(b AS VARCHAR) || x)), 'min')
                      for b in range(0, 4)] AS bands
              FROM (SELECT doc_id, {_SHINGLES_SQL} AS sh
                    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l FROM documents)))
            SELECT band, CAST(count(*) AS BIGINT) AS n_docs, min(doc_id) AS min_doc
            FROM (SELECT doc_id, unnest(bands) AS band FROM sig)
            GROUP BY band HAVING count(*) > 1
        """)
def _q_minhash_band_buckets(spark, sf):
    sig = DD.minhash_signatures_agg(_spread(_t(spark, sf, "documents")), n_hashes=4)
    bands = F.array(
        *[F.concat_ws("|", F.lit(str(b)), F.col(f"mh{b}")) for b in range(4)]
    )
    return (
        sig.select("doc_id", F.explode(bands).alias("band"))
        .groupBy("band")
        .agg(F.count("*").cast("long").alias("n_docs"), F.min("doc_id").alias("min_doc"))
        .where(F.col("n_docs") > 1)
    )


@_query("dedup_components", f"""
            WITH RECURSIVE
            toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
                     FROM documents WHERE doc_id < 500),
            sh AS (SELECT doc_id, {_SHINGLES_SQL} AS s FROM toks),
            shd AS (SELECT doc_id, list_distinct(s) AS s FROM sh),
            sig AS (SELECT doc_id,
                           [CAST(b AS VARCHAR) || '|' ||
                            list_aggregate(list_transform(s, x -> md5(CAST(2*b AS VARCHAR) || x)), 'min') || '|' ||
                            list_aggregate(list_transform(s, x -> md5(CAST(2*b+1 AS VARCHAR) || x)), 'min')
                            for b in range(0, 4)] AS bands
                    FROM sh),
            ex AS (SELECT doc_id, unnest(bands) AS band FROM sig),
            cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                     FROM ex a JOIN ex b USING (band)
                     WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
            ver AS (SELECT doc_a, doc_b FROM cand
                    JOIN shd sa ON sa.doc_id = cand.doc_a
                    JOIN shd sb ON sb.doc_id = cand.doc_b
                    WHERE round(CASE WHEN len(list_distinct(sa.s || sb.s)) > 0
                          THEN CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                               / len(list_distinct(sa.s || sb.s))
                          ELSE 0.0 END, 6) >= 0.6),
            bidir AS (SELECT doc_a AS a, doc_b AS b FROM ver
                      UNION SELECT doc_b, doc_a FROM ver),
            reach(a, b) AS (SELECT a, b FROM bidir
                            UNION SELECT r.a, d.b FROM reach r
                                  JOIN bidir d ON r.b = d.a WHERE d.b != r.a),
            comp AS (SELECT a AS doc_id, min(b) AS m FROM reach GROUP BY a)
            SELECT d.doc_id,
                   CAST(least(coalesce(comp.m, d.doc_id), d.doc_id) AS BIGINT) AS component
            FROM (SELECT doc_id FROM documents WHERE doc_id < 500) d
            LEFT JOIN comp ON d.doc_id = comp.doc_id
        """)
def _q_dedup_components(spark, sf):
    """Corpus dedup end-to-end: MinHash LSH candidates → Jaccard verify →
    connected components (iterative min-label propagation with pointer
    jumping) → per-doc cluster keeper. The oracle recomputes the same edge
    set in SQL and takes the transitive closure with a recursive CTE."""
    d = _t(spark, sf, "documents").where(F.col("doc_id") < 500)
    return DD.duplicate_clusters(d, threshold=0.6).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
    )


@_query("dedup_canonical_keep", f"""
            WITH RECURSIVE
            toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
                     FROM documents WHERE doc_id < 500),
            sh AS (SELECT doc_id, {_SHINGLES_SQL} AS s FROM toks),
            shd AS (SELECT doc_id, list_distinct(s) AS s FROM sh),
            sig AS (SELECT doc_id,
                           [CAST(b AS VARCHAR) || '|' ||
                            list_aggregate(list_transform(s, x -> md5(CAST(2*b AS VARCHAR) || x)), 'min') || '|' ||
                            list_aggregate(list_transform(s, x -> md5(CAST(2*b+1 AS VARCHAR) || x)), 'min')
                            for b in range(0, 4)] AS bands
                    FROM sh),
            ex AS (SELECT doc_id, unnest(bands) AS band FROM sig),
            cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                     FROM ex a JOIN ex b USING (band)
                     WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
            ver AS (SELECT doc_a, doc_b FROM cand
                    JOIN shd sa ON sa.doc_id = cand.doc_a
                    JOIN shd sb ON sb.doc_id = cand.doc_b
                    WHERE round(CASE WHEN len(list_distinct(sa.s || sb.s)) > 0
                          THEN CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                               / len(list_distinct(sa.s || sb.s))
                          ELSE 0.0 END, 6) >= 0.6),
            bidir AS (SELECT doc_a AS a, doc_b AS b FROM ver
                      UNION SELECT doc_b, doc_a FROM ver),
            reach(a, b) AS (SELECT a, b FROM bidir
                            UNION SELECT r.a, d.b FROM reach r
                                  JOIN bidir d ON r.b = d.a WHERE d.b != r.a),
            comp AS (SELECT a AS doc_id, min(b) AS m FROM reach GROUP BY a),
            labeled AS (
                SELECT d.doc_id,
                       CAST(least(coalesce(comp.m, d.doc_id), d.doc_id) AS BIGINT) AS component,
                       CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT) AS n_tokens
                FROM (SELECT doc_id, text FROM documents WHERE doc_id < 500) d
                LEFT JOIN comp ON d.doc_id = comp.doc_id)
            SELECT doc_id, component, n_tokens,
                   row_number() OVER (PARTITION BY component
                                      ORDER BY n_tokens DESC, doc_id ASC) = 1
                       AS is_canonical
            FROM labeled
        """)
def _q_dedup_canonical_keep(spark, sf):
    """Quality-aware canonical selection (r5): the post-clustering keep
    decision — per duplicate cluster, the member with the most tokens
    (ties → smallest doc_id) is canonical. Skew-proof max_by aggregation,
    not a window sort (the mega-cluster of a boilerplate page duplicated
    millions of times would serialize a row_number). Oracle: the same
    recursive-CTE closure as dedup_components + a quality argmax."""
    d = _t(spark, sf, "documents").where(F.col("doc_id") < 500)
    return DD.canonical_docs(d, threshold=0.6).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "is_canonical",
    )


@_query("common_line_removal", """
            WITH lined AS (
              SELECT doc_id,
                     'site nav boilerplate header' || chr(10) ||
                     array_to_string(
                       [array_to_string(list_slice(l, i*8+1, i*8+8), ' ')
                        for i in range(0, greatest(CAST(ceil(len(l)/8.0) AS INT), 1))],
                       chr(10)) AS text
              FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
                    FROM documents WHERE doc_id < 400)),
            lines AS (
              SELECT doc_id,
                     unnest(string_split(text, chr(10))) AS line,
                     generate_subscripts(string_split(text, chr(10)), 1) AS pos
              FROM lined),
            counts AS (SELECT line, count(DISTINCT doc_id) AS nd
                       FROM lines GROUP BY line)
            SELECT l.doc_id,
                   coalesce(string_agg(l.line, chr(10) ORDER BY l.pos)
                            FILTER (WHERE c.nd < 2), '') AS clean_text,
                   CAST(count_if(c.nd < 2) AS BIGINT) AS n_kept,
                   CAST(count_if(c.nd >= 2) AS BIGINT) AS n_removed
            FROM lines l JOIN counts c ON l.line = c.line
            GROUP BY l.doc_id
        """)
def _q_common_line_removal(spark, sf):
    """CCNet/RefinedWeb-style boilerplate line removal (r5) as a driver
    gate: documents are re-lined deterministically (8-token lines, plus an
    injected nav/header line shared by EVERY doc), then any line occurring
    in ≥2 distinct docs is stripped corpus-wide. The injected boilerplate
    must vanish from all docs and per-doc kept/removed counts must match
    DuckDB's raw-line computation (Spark side counts/joins on xxhash64 of
    the line — raw text never shuffles as a key)."""
    d = _t(spark, sf, "documents").where(F.col("doc_id") < 400)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n_lines = F.greatest(F.ceil(F.size(toks) / 8).cast("int"), F.lit(1))
    lines = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.array_join(F.slice(toks, i * 8 + 1, 8), " "),
    )
    lined = d.select(
        "doc_id",
        F.concat_ws(
            "\n", F.lit("site nav boilerplate header"), F.array_join(lines, "\n")
        ).alias("text"),
    )
    out = DD.remove_common_lines(lined, min_docs=2)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "clean_text",
        "n_kept",
        "n_removed",
    )


@_query("contamination_flags", """
            WITH g AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
                       FROM documents WHERE doc_id < 400),
            bg AS (SELECT DISTINCT unnest(
                     [array_to_string(list_slice(l, i+1, i+13), ' ')
                      for i in range(0, len(l) - 12)]) AS gram
                   FROM g WHERE doc_id < 5 AND len(l) >= 13),
            dg AS (SELECT doc_id, unnest(
                     [array_to_string(list_slice(l, i+1, i+13), ' ')
                      for i in range(0, len(l) - 12)]) AS gram
                   FROM g WHERE len(l) >= 13),
            hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
                     FROM dg JOIN bg USING (gram) GROUP BY doc_id)
            SELECT g.doc_id, hits.doc_id IS NOT NULL AS contaminated,
                   CAST(coalesce(hits.n_hits, 0) AS BIGINT) AS n_hits
            FROM (SELECT DISTINCT doc_id FROM g) g
            LEFT JOIN hits USING (doc_id)
        """)
def _q_contamination_flags(spark, sf):
    """Benchmark decontamination (r5) as a driver gate: docs 0-4 act as
    the evaluation set; every corpus doc sharing a full 13-gram with them
    (themselves and their exact duplicates, by construction) must flag
    with the exact hit count. Broadcast benchmark-gram join — only 8-byte
    hashes shuffle."""
    d = _t(spark, sf, "documents").where(F.col("doc_id") < 400)
    return DD.contamination_flags(
        d, d.where(F.col("doc_id") < 5), n=13
    ).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "contaminated",
        F.col("n_hits").cast("long").alias("n_hits"),
    )


@_query("sequence_packing", """
            SELECT CAST(range AS BIGINT) AS doc_id, true AS pack_ok
            FROM range(400)
        """)
def _q_sequence_packing(spark, sf):
    """Sequence packing (r5) as a driver verdict: 400 docs greedily
    next-fit-packed into 256-token training bins; per doc the gate checks
    exactly-once assignment, bin totals ≤ budget (single-doc overflow bins
    exempt), and the EXACT next-fit invariant (a closed bin plus the next
    bin's first doc exceeds the budget). Oracle = all-true."""
    from autoextract.operators import packing as PK

    d = _t(spark, sf, "documents").where(F.col("doc_id") < 400)
    return PK.packing_verdict(d, budget=256).select(
        F.col("doc_id").cast("long").alias("doc_id"), "pack_ok"
    )


@_query("doc_chunking", """
            WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
                       FROM documents WHERE doc_id < 300),
            c AS (SELECT doc_id,
                         [array_to_string(list_slice(l, i*28+1, i*28+32), ' ')
                          for i in range(0, greatest(CAST(ceil((len(l)-4)/28.0) AS INT), 1))] AS chunks
                  FROM t)
            SELECT doc_id,
                   CAST(generate_subscripts(chunks, 1) - 1 AS BIGINT) AS chunk_idx,
                   unnest(chunks) AS chunk_text,
                   CAST(len(string_split_regex(unnest(chunks), '\\s+')) AS BIGINT) AS n_tokens
            FROM c
        """)
def _q_doc_chunking(spark, sf):
    """Sliding-window chunking (r5): every doc < 300 becomes 32-token
    chunks with 4-token overlap — pure JVM transform+posexplode, no
    shuffle; value-checked chunk-for-chunk against DuckDB."""
    d = _t(spark, sf, "documents").where(F.col("doc_id") < 300)
    return TX.chunk_documents(d, chunk_tokens=32, overlap=4).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        "chunk_text",
        "n_tokens",
    )


@_query("train_val_split", """
            SELECT doc_id,
                   CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'split-v1'), 1, 8)) AS UBIGINT) % 100 AS BIGINT) AS bucket,
                   CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'split-v1'), 1, 8)) AS UBIGINT) % 100 < 10
                        THEN 'val' ELSE 'train' END AS split
            FROM documents WHERE doc_id < 500
        """)
def _q_train_val_split(spark, sf):
    """Deterministic md5-bucketed train/val assignment (r5) — reproducible
    across engines by construction; the oracle recomputes the identical
    bucket in DuckDB."""
    d = _t(spark, sf, "documents").where(F.col("doc_id") < 500)
    return TX.train_val_split(d.select("doc_id"), val_pct=10).select(
        F.col("doc_id").cast("long").alias("doc_id"), "bucket", "split"
    )


@_query("source_quota_sample", """
            WITH d AS (SELECT doc_id,
                              CASE WHEN doc_id % 10 < 7 THEN 'mega' ELSE source END AS source
                       FROM documents),
            c AS (SELECT source, COUNT(*) AS n_source_docs FROM d GROUP BY source)
            SELECT d.doc_id, d.source, c.n_source_docs
            FROM d JOIN c USING (source)
            WHERE c.n_source_docs <= 50
               OR CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || 'quota-v1'), 1, 8)) AS UBIGINT)
                  < 50.0 / c.n_source_docs * 4294967296.0
        """)
def _q_source_quota_sample(spark, sf):
    """Per-source quota downsampling (r5): a synthetic mega-source (70% of
    the corpus) is hash-threshold downsampled to ~cap while the small
    sources pass through whole — one broadcast of per-source counts onto a
    single filter pass, no document-row shuffle; the oracle recomputes the
    identical md5-threshold rule in DuckDB."""
    from autoextract.operators import sampling as SMP

    d = (
        _t(spark, sf, "documents")
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 10 < 7, F.lit("mega"))
            .otherwise(F.col("source"))
            .alias("source"),
        )
    )
    return SMP.source_quota_sample(d, cap=50).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        F.col("n_source_docs").cast("long").alias("n_source_docs"),
    )


# single-phase window replay — must equal the engine's two-phase
# skew-safe plan exactly (top-K merge property under the hash)
@_query("host_cap_topk", """
            WITH d AS (SELECT doc_id,
                              CASE WHEN doc_id % 10 < 7 THEN 'mega' ELSE source END AS source,
                              n_chars
                       FROM documents),
            r AS (SELECT doc_id, source,
                         row_number() OVER (
                             PARTITION BY source
                             ORDER BY n_chars DESC,
                                 CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'hostcap-v1'), 1, 8)) AS UBIGINT) ASC,
                                 doc_id ASC) AS rank
                  FROM d)
            SELECT doc_id, source, CAST(rank AS INTEGER) AS rank
            FROM r WHERE rank <= 40
        """)
def _q_host_cap_topk(spark, sf):
    """EXACT per-host cap (r5): keep the best 40 docs per host by quality
    (n_chars) through the SKEW-SAFE two-phase plan (salt_parts=8) over a
    deliberately skewed fixture (one host holds 70% of the corpus). The
    oracle replays the single-phase window rule — the two plans must agree
    exactly, so the sub-partition top-K merge property itself is under the
    driver hash."""
    from autoextract.operators import sampling as SMP

    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 10 < 7, F.lit("mega"))
        .otherwise(F.col("source"))
        .alias("source"),
        "n_chars",
    )
    return SMP.host_cap_topk(
        d, cap=40, priority_col="n_chars", salt_parts=8
    ).select(
        F.col("doc_id").cast("long").alias("doc_id"), "source", "rank"
    )


# unrolled-CTE replay of the exact Jacobi recurrence, generated by
# the same module as the operator (autoextract/operators/graph.py)
@_query(
    "pagerank",
    pagerank_oracle_sql(_PAGERANK_EDGES_SQL, n_iter=10, damping=0.85),
)
def _q_pagerank(spark, sf):
    """Link-graph centrality (r5): 10 synchronous PageRank rounds with
    dangling-mass redistribution over a deterministic 1,700-node /
    ~3,200-edge graph synthesized from the documents table. The DuckDB
    oracle replays the identical Jacobi recurrence as an unrolled CTE
    chain (generated by the same module as the operator, so they cannot
    drift); ranks match to 8 dp. Per round the engine shuffles only
    (long, long, double) rows — two exchanges — and truncates lineage
    with localCheckpoint."""
    from autoextract.operators.graph import pagerank

    d = _t(spark, sf, "documents").where(
        (F.col("doc_id") < 2000) & (F.col("doc_id") % 5 != 0)
    )
    edges = d.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 7 + 1) % 500).alias("dst"),
    ).unionByName(
        d.select(
            F.col("doc_id").alias("src"),
            ((F.col("doc_id") * 13 + 3) % 500).alias("dst"),
        )
    )
    pr = pagerank(edges, n_iter=10, damping=0.85)
    return pr.select(
        F.col("node").cast("long").alias("node"),
        F.round("rank", 8).alias("rank"),
    )


@_query("shard_assignment", """
            WITH h AS (
              SELECT doc_id,
                     CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'shard-v1'), 1, 8)) AS UBIGINT) AS h1,
                     CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'shard-v1/order'), 1, 8)) AS UBIGINT) AS h2
              FROM documents)
            SELECT doc_id,
                   CAST(h1 % 16 AS BIGINT) AS shard,
                   CAST(ROW_NUMBER() OVER (PARTITION BY h1 % 16 ORDER BY h2, doc_id) - 1 AS BIGINT) AS pos
            FROM h
        """)
def _q_shard_assignment(spark, sf):
    """Deterministic training-shard layout (r5): shard = md5-hash mod K is
    a map-side expression; within-shard position is a per-shard rank that
    matches the physical repartition+sortWithinPartitions write — no
    global sort, skew impossible under a uniform hash.  Byte-identical
    across runs, engines, and cluster sizes; DuckDB replays the rule."""
    from autoextract.operators import sampling as SMP

    d = _t(spark, sf, "documents").select("doc_id")
    return SMP.shard_assignment(d, n_shards=16).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("shard").cast("long").alias("shard"),
        F.col("pos").cast("long").alias("pos"),
    )


@_query("exact_substring_dedup", """
            WITH t AS (
              SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
              FROM documents),
            g AS (
              SELECT doc_id, i - 1 AS start,
                     md5(array_to_string(toks[i:i+7], ' ')) AS h
              FROM t, UNNEST(generate_series(1, len(toks) - 7)) u(i)
              WHERE len(toks) >= 8),
            occ AS (
              SELECT doc_id, start,
                     ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, start) AS rn
              FROM g),
            pos AS (
              SELECT DISTINCT doc_id, start + off AS p
              FROM occ, UNNEST(generate_series(0, 7)) v(off)
              WHERE rn > 1),
            agg AS (
              SELECT doc_id, COUNT(*) AS n_dup, list(p ORDER BY p) AS ps
              FROM pos GROUP BY doc_id)
            SELECT t.doc_id,
                   CAST(len(t.toks) AS BIGINT) AS n_tokens,
                   CAST(COALESCE(a.n_dup, 0) AS BIGINT) AS n_dup_tokens,
                   COALESCE(array_to_string(
                     [t.toks[i] for i in generate_series(1, len(t.toks))
                      if NOT COALESCE(list_contains(a.ps, i - 1), false)], ' '), '')
                     AS clean_text
            FROM t LEFT JOIN agg a USING (doc_id)
        """)
def _q_exact_substring_dedup(spark, sf):
    """ExactSubstr range dedup (r5): every duplicated 8-token window past
    its first (doc_id, start)-lexicographic occurrence is excised from the
    text — the Lee-et-al. suffix-array pass re-expressed as a sliding-hash
    window shuffle (one exchange, md5 keys, never raw text). The oracle
    replays the identical rule in DuckDB with list comprehensions."""
    d = _t(spark, sf, "documents")
    return DD.exact_substring_dedup(d, window=8).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_tokens",
        "n_dup_tokens",
        "clean_text",
    )


@_query("temperature_mixture_sample", """
            WITH d AS (SELECT doc_id,
                              CASE WHEN doc_id % 10 < 7 THEN 'mega' ELSE source END AS source
                       FROM documents),
            c AS (SELECT source, CAST(COUNT(*) AS DOUBLE) AS n_src FROM d GROUP BY source),
            t AS (SELECT SUM(pow(n_src, 0.5)) AS sum_pow FROM c)
            SELECT d.doc_id, d.source,
                   CAST(c.n_src AS BIGINT) AS n_source_docs,
                   round(pow(c.n_src, 0.5) / t.sum_pow, 6) AS p_target
            FROM d JOIN c USING (source), t
            WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || 'temp-v1'), 1, 8)) AS UBIGINT)
                  < LEAST(1.0, 300.0 * pow(c.n_src, 0.5) / t.sum_pow / c.n_src) * 4294967296.0
        """)
def _q_temperature_mixture_sample(spark, sf):
    """Temperature mixture resampling (r5): the same synthetic mega-source
    skew as the quota query, reshaped to p_s ∝ n_s^0.5 at a 300-doc
    target — rare sources keep everything (rate clamps at 1), the mega
    source thins to its temperature share. One broadcast of per-source
    counts + the Σn^α scalar onto a single filter pass."""
    from autoextract.operators import sampling as SMP

    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 10 < 7, F.lit("mega"))
        .otherwise(F.col("source"))
        .alias("source"),
    )
    return SMP.temperature_mixture_sample(d, alpha=0.5, target_total=300).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        "n_source_docs",
        "p_target",
    )


@_query("unigram_quality", """
            WITH tk AS (
              SELECT doc_id,
                     unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                                        x -> x <> '')) AS tok
              FROM documents),
            c AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS cnt FROM tk GROUP BY tok),
            t AS (SELECT SUM(cnt) AS total FROM c)
            SELECT tk.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   round(-avg(ln(cnt / total)), 6) AS cross_entropy
            FROM tk JOIN c USING (tok), t
            GROUP BY tk.doc_id
        """)
def _q_unigram_quality(spark, sf):
    """Corpus-unigram cross-entropy (r5): the CCNet perplexity-style
    quality signal with the corpus itself as the LM — deterministic, no
    external model. Two partial-agg shuffles on short keys (token, then
    doc_id); raw text never shuffles."""
    from autoextract.functions.text import unigram_cross_entropy

    return unigram_cross_entropy(_spread(_t(spark, sf, "documents"))).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_tokens",
        "cross_entropy",
    )


# CCNet buckets: independent CE chain + quantile_cont tertiles
# per lang (same interpolation as Spark's exact percentile), both
# sides 6-dp-rounded before the bucket comparison
@_query("perplexity_buckets", f"""
            WITH tk AS (
              SELECT doc_id,
                     unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                                        x -> x <> '')) AS tok
              FROM documents),
            c AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS cnt FROM tk GROUP BY tok),
            t AS (SELECT SUM(cnt) AS total FROM c),
            ce AS (
              SELECT tk.doc_id,
                     round(-avg(ln(cnt / total)), 6) AS cross_entropy
              FROM tk JOIN c USING (tok), t
              GROUP BY tk.doc_id),
            lg AS (
              SELECT doc_id,
                     CASE WHEN greatest(s_de, s_en, s_es, s_fr) <= 0 THEN 'und'
                          WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                          WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
                          WHEN s_es >= s_fr THEN 'es'
                          ELSE 'fr' END AS lang
              FROM (SELECT doc_id,
                           {_LANG_SCORE['de']} AS s_de,
                           {_LANG_SCORE['en']} AS s_en,
                           {_LANG_SCORE['es']} AS s_es,
                           {_LANG_SCORE['fr']} AS s_fr
                    FROM documents)),
            j AS (SELECT ce.doc_id, lg.lang, ce.cross_entropy
                  FROM ce JOIN lg USING (doc_id)),
            th AS (
              SELECT lang,
                     round(quantile_cont(cross_entropy, 1.0/3.0), 6) AS t1,
                     round(quantile_cont(cross_entropy, 2.0/3.0), 6) AS t2
              FROM j GROUP BY lang)
            SELECT j.doc_id, j.lang, j.cross_entropy,
                   CASE WHEN j.cross_entropy <= th.t1 THEN 'head'
                        WHEN j.cross_entropy <= th.t2 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM j JOIN th USING (lang)
        """)
def _q_perplexity_buckets(spark, sf):
    """CCNet head/middle/tail buckets (r5): per-language tertiles of the
    corpus-LM cross-entropy; thresholds and scores both 6-dp-rounded so
    the bucket edges are engine-portable. Oracle recomputes the CE chain
    AND the quantile_cont tertiles independently."""
    from autoextract.functions.text import perplexity_buckets

    return perplexity_buckets(_spread(_t(spark, sf, "documents"))).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        "cross_entropy",
        "bucket",
    )


# readability replay: the same documented syllable rule computed
# with DuckDB's own list/regexp machinery
@_query("readability", """
            WITH w AS (
              SELECT doc_id,
                     list_filter(
                       list_transform(
                         string_split_regex(trim(lower(text)), '\\s+'),
                         x -> regexp_replace(x, '[^a-z]', '', 'g')),
                       x -> x <> '') AS ws,
                     greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                       AS n_sent
              FROM documents),
            s AS (
              SELECT doc_id, ws, n_sent,
                     list_transform(ws, x ->
                       greatest(len(regexp_extract_all(x, '[aeiouy]+'))
                         - CASE WHEN x LIKE '%e'
                                 AND len(regexp_extract_all(x, '[aeiouy]+')) > 1
                                THEN 1 ELSE 0 END, 1)) AS syls
              FROM w)
            SELECT doc_id,
                   CAST(len(ws) AS BIGINT) AS n_words,
                   CAST(n_sent AS BIGINT) AS n_sentences,
                   CAST(coalesce(list_sum(syls), 0) AS BIGINT) AS n_syllables,
                   round(206.835
                         - 1.015 * (CAST(greatest(len(ws),1) AS DOUBLE)/n_sent)
                         - 84.6 * (CAST(coalesce(list_sum(syls), 0) AS DOUBLE)
                                   / greatest(len(ws),1)), 6)
                     AS flesch_reading_ease,
                   round(0.39 * (CAST(greatest(len(ws),1) AS DOUBLE)/n_sent)
                         + 11.8 * (CAST(coalesce(list_sum(syls), 0) AS DOUBLE)
                                   / greatest(len(ws),1))
                         - 15.59, 6) AS fk_grade
            FROM s
        """)
def _q_readability(spark, sf):
    """Flesch readability (r5): word/sentence/syllable counts and both
    scores from the documented deterministic syllable rule; DuckDB
    recomputes the whole chain independently (list_transform + regexp) —
    engine-portable by construction."""
    from autoextract.functions.text import readability_metrics

    return readability_metrics(_t(spark, sf, "documents")).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_words", "n_sentences", "n_syllables",
        "flesch_reading_ease", "fk_grade",
    )


# identical interpolation chain: λ·cnt2/ctx + (1-λ)·cnt1/total,
# contexts derived from the bigram table itself
@_query("bigram_quality", """
            WITH tl AS MATERIALIZED (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(text), '\\s+'),
                                 x -> x <> '') AS l
              FROM documents),
            tk AS MATERIALIZED (SELECT doc_id, unnest(l) AS tok FROM tl),
            bg AS MATERIALIZED (
              SELECT doc_id, z[1] AS prev, z[2] AS cur
              FROM (SELECT doc_id,
                           unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS z
                    FROM tl WHERE len(l) >= 2)),
            c2 AS MATERIALIZED (SELECT prev, cur, CAST(COUNT(*) AS DOUBLE) AS cnt2
                                FROM bg GROUP BY prev, cur),
            cx AS (SELECT prev, SUM(cnt2) AS ctx FROM c2 GROUP BY prev),
            c1 AS MATERIALIZED (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS cnt1
                                FROM tk GROUP BY tok),
            t AS (SELECT SUM(cnt1) AS total FROM c1)
            SELECT bg.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                   round(-avg(ln(0.75 * cnt2 / ctx + 0.25 * cnt1 / total)), 6)
                       AS cross_entropy
            FROM bg
            JOIN c2 USING (prev, cur)
            JOIN cx USING (prev)
            JOIN c1 ON bg.cur = c1.tok, t
            GROUP BY bg.doc_id
        """)
def _q_bigram_quality(spark, sf):
    """Interpolated-bigram LM quality (r5): the corpus-as-LM perplexity
    signal one order above unigram_quality — locally scrambled text scores
    high even when every word is common. Bigrams are an arrays_zip
    expression (no positional self-join); the vocab aggregates carry short
    keys only. DuckDB replays the identical interpolation chain."""
    from autoextract.functions.text import bigram_cross_entropy

    return bigram_cross_entropy(_spread(_t(spark, sf, "documents")))


@_query("bpe_train", """
            SELECT * FROM (VALUES
                (1, 'w', 'e', 'we', 12),
                (2, 'e', 'we', 'ewe', 10),
                (3, 'n', 'ewe', 'newe', 10),
                (4, 's', 't', 'st', 9),
                (5, 'l', 'o', 'lo', 7),
                (6, 'newe', 'st', 'newest', 6),
                (7, 'lo', 'w', 'low', 5),
                (8, 'd', 'e', 'de', 4)
            ) AS t(step, "left", "right", merged, pair_count)
        """)
def _q_bpe_train(spark, sf):
    """Distributed BPE tokenizer training (r5): 8 merge rounds over a
    planted corpus whose merge sequence is analytically fixed (the
    Sennrich worked-example shape: low/lower/newest/widest/newer/wider at
    engineered frequencies). Each round is one pair-count aggregate over
    the unique-word vocabulary (corpus touched once, up front) + a 1-row
    argmax + a pure-JVM aggregate-HOF merge apply. The oracle is the
    hand-derivable merge table — steps, pairs, and weighted pair counts
    all gate, including the count-10 tie at step 2 broken
    lexicographically ('e','we') < ('n','e')."""
    from autoextract.operators.tokenizer import bpe_merges_df

    wc = {"low": 5, "lower": 2, "newest": 6, "widest": 3, "newer": 4, "wider": 1}
    corpus = spark.createDataFrame(
        [(i, " ".join([w] * c)) for i, (w, c) in enumerate(sorted(wc.items()))],
        "doc_id long, text string",
    )
    return bpe_merges_df(corpus, 8)


# the analytically-fixed merge table for the planted corpus —
# every step's pair and weighted count, incl. the lexicographic
# tie-break at step 2
# bpe-encode replay: per probe word the hand-derived tokenization
# under the fixed merge table (newest fully merges; lowest stops
# at lo/we/st; lox exercises an unseen char)
@_query("bpe_encode", """
            WITH w AS (SELECT * FROM (VALUES
                (0, 'newest', 'newest'),
                (1, 'lowest', 'lo we st'),
                (2, 'wider', 'w i de r'),
                (3, 'low', 'low'),
                (4, 'newer', 'newe r'),
                (5, 'lox', 'lo x')) AS t(k, word, toks)),
            docs AS (SELECT doc_id, CAST(doc_id % 6 AS INT) AS k1,
                            CAST((doc_id + 2) % 6 AS INT) AS k2
                     FROM documents WHERE doc_id < 240)
            SELECT d.doc_id, a.word || ' ' || b.word AS text,
                   a.toks || ' ' || b.toks AS tokens
            FROM docs d JOIN w a ON a.k = d.k1 JOIN w b ON b.k = d.k2
        """)
def _q_bpe_encode(spark, sf):
    """BPE encode (r5): apply the 8 merges trained on the planted
    Sennrich corpus (same construction as bpe_train, so the merge
    table is analytically fixed) to a probe set of two words per doc —
    seen words, partially-mergeable words, and an unseen-char word.
    Encoding is len(merges) chained JVM HOF projections, zero Python,
    zero shuffles; the oracle hardcodes the hand-derived tokenization
    of each probe word."""
    from autoextract.operators.tokenizer import bpe_encode, bpe_train

    wc = {"low": 5, "lower": 2, "newest": 6, "widest": 3, "newer": 4,
          "wider": 1}
    corpus = spark.createDataFrame(
        [(i, " ".join([w] * c)) for i, (w, c) in enumerate(sorted(wc.items()))],
        "doc_id long, text string",
    )
    merges = bpe_train(corpus, 8)

    words = ["newest", "lowest", "wider", "low", "newer", "lox"]
    d = F.col("doc_id")
    pick = lambda e: F.element_at(  # noqa: E731
        F.array(*[F.lit(w) for w in words]), (e % 6 + 1).cast("int"))
    probe = _docs(spark, sf, 240).select(
        "doc_id", F.concat(pick(d), F.lit(" "), pick(d + 2)).alias("text")
    )
    return bpe_encode(probe, merges).select(
        "doc_id", "text",
        F.array_join("bpe_tokens", " ").alias("tokens"))


# admitted set derived arithmetically: batch minus fingerprint
# hits minus in-batch clone losers, plus the orphan clones
@_query("dedup_incremental", """
            SELECT doc_id, text FROM documents
            WHERE doc_id >= 200 AND doc_id < 400
            UNION ALL
            SELECT doc_id + 20000 AS doc_id, text FROM documents
            WHERE doc_id >= 400 AND doc_id < 420
        """)
def _q_dedup_incremental(spark, sf):
    """Cross-snapshot dedup (r5): a continuously-crawled corpus admits a
    new batch only where the sha256 is absent from the running fingerprint
    table AND not claimed earlier in the batch. Fixture: seen = docs
    0..199; batch = docs 100..399 (100..199 must bounce off the
    fingerprint table) + clones of 300..319 at doc_id+10000 (must lose the
    in-batch keeper window to their originals) + clones of 400..419 at
    doc_id+20000 (original absent everywhere → the clone itself is
    admitted). The oracle derives the admitted set purely arithmetically."""
    from autoextract.operators.dedup import incremental_dedup

    d = _t(spark, sf, "documents").select("doc_id", "text")
    seen = d.where(F.col("doc_id") < 200).select(
        F.sha2(F.col("text"), 256).alias("text_hash")
    )
    batch = (
        d.where((F.col("doc_id") >= 100) & (F.col("doc_id") < 400))
        .unionByName(
            d.where((F.col("doc_id") >= 300) & (F.col("doc_id") < 320)).select(
                (F.col("doc_id") + 10000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            d.where((F.col("doc_id") >= 400) & (F.col("doc_id") < 420)).select(
                (F.col("doc_id") + 20000).alias("doc_id"), "text"
            )
        )
    )
    return incremental_dedup(batch, seen).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )


# the Bloom variant's contract IS output-equality with the plain
# incremental dedup — identical oracle by construction
@_query("dedup_incremental_bloom", """
            SELECT doc_id, text FROM documents
            WHERE doc_id >= 200 AND doc_id < 400
            UNION ALL
            SELECT doc_id + 20000 AS doc_id, text FROM documents
            WHERE doc_id >= 400 AND doc_id < 420
        """)
def _q_dedup_incremental_bloom(spark, sf):
    """The Bloom-prefiltered twin of ``dedup_incremental`` (r5): same
    fixture, same oracle SQL, but the fingerprint table is pruned map-side
    through a broadcast Bloom filter of the batch's hashes before the
    exact anti-join — the restructuring a 10^12-row fingerprint table
    needs (the big table never shuffles). The driver hash enforces
    bit-identical output with the plain variant's oracle, which is the
    operator's whole contract: false positives add candidates the exact
    join ignores; false negatives cannot exist."""
    from autoextract.operators.dedup import incremental_dedup_bloom

    d = _t(spark, sf, "documents").select("doc_id", "text")
    seen = d.where(F.col("doc_id") < 200).select(
        F.sha2(F.col("text"), 256).alias("text_hash")
    )
    batch = (
        d.where((F.col("doc_id") >= 100) & (F.col("doc_id") < 400))
        .unionByName(
            d.where((F.col("doc_id") >= 300) & (F.col("doc_id") < 320)).select(
                (F.col("doc_id") + 10000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            d.where((F.col("doc_id") >= 400) & (F.col("doc_id") < 420)).select(
                (F.col("doc_id") + 20000).alias("doc_id"), "text"
            )
        )
    )
    return incremental_dedup_bloom(batch, seen).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )


# fuzzy replay: same blocking + DuckDB's independent levenshtein
@_query("fuzzy_title_pairs", """
            WITH t AS (
              SELECT doc_id AS id,
                     'annual report '
                       || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS f
              FROM documents WHERE doc_id < 500
              UNION ALL
              SELECT doc_id + 10000,
                     'annuel report '
                       || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
              FROM documents WHERE doc_id < 60),
            k AS (
              SELECT id, f,
                     substr(f, 1, 4) || '|'
                       || CAST(CAST(FLOOR(length(f) / 4) AS INT) AS VARCHAR)
                       AS block
              FROM t)
            SELECT a.id AS id1, b.id AS id2, a.f AS field1, b.f AS field2,
                   CAST(levenshtein(a.f, b.f) AS INT) AS distance
            FROM k a JOIN k b USING (block)
            WHERE a.id < b.id AND levenshtein(a.f, b.f) <= 2
        """)
def _q_fuzzy_title_pairs(spark, sf):
    """Edit-distance metadata dedup (r5): 500 titles carrying md5-derived
    12-hex tails, 60 planted one-edit typo twins (Annuel/Annual); blocking
    on the normalized 4-char prefix + length bucket, then JVM
    ``levenshtein`` within blocks. The oracle replays blocking AND edit
    distance with DuckDB's independent levenshtein — cross-engine
    edit-distance parity, including any deterministic accidental pairs
    among the hex tails."""
    from autoextract.operators.dedup import fuzzy_field_pairs

    d500 = _docs(spark, sf, 500)
    did = F.col("doc_id").cast("string")
    tail = F.substring(F.md5(did), 1, 12)
    base = d500.select(
        "doc_id", F.concat(F.lit("Annual Report "), tail).alias("title")
    )
    twins = (
        d500.where(F.col("doc_id") < 60)
        .select(
            (F.col("doc_id") + 10000).alias("doc_id"),
            F.concat(F.lit("Annuel Report "), tail).alias("title"),
        )
    )
    return fuzzy_field_pairs(
        base.unionByName(twins), "title", max_distance=2
    )


@_query("bm25_topk", """
            WITH tk AS (
              SELECT doc_id,
                     unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                                        x -> x <> '')) AS term
              FROM documents),
            post AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
                     FROM tk GROUP BY doc_id, term),
            dl AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl
                   FROM tk GROUP BY doc_id),
            n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
            ad AS (SELECT AVG(dl.dl) AS avgdl FROM dl),
            dft AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df
                    FROM post GROUP BY term),
            q(query_id, term) AS (VALUES
              (1, 'table'), (1, 'scan'), (2, 'hash'), (2, 'merge'),
              (3, 'spark'), (3, 'vector'), (3, 'fast')),
            sc AS (
              SELECT q.query_id, post.doc_id,
                     round(SUM(
                       ln(1.0 + (n.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                       * (post.tf * 2.2)
                       / (post.tf + 1.2 * (0.25 + 0.75 * dl.dl / ad.avgdl))
                     ), 6) AS score
              FROM post
              JOIN q USING (term)
              JOIN dft USING (term)
              JOIN dl ON post.doc_id = dl.doc_id
              CROSS JOIN n CROSS JOIN ad
              GROUP BY q.query_id, post.doc_id)
            SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score, rank
            FROM (SELECT query_id, doc_id, score,
                         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY score DESC, doc_id) AS BIGINT) AS rank
                  FROM sc)
            WHERE rank <= 10
        """)
def _q_bm25_topk(spark, sf):
    """Distributed inverted-index + BM25 ranking (r5): postings from ONE
    partial-agg shuffle over exploded tokens, tiny query set broadcast,
    per-query window top-k over the 6-dp-rounded score (doc_id tiebreak)
    so ranking is float-sum-order-proof across engines."""
    from autoextract.operators import retrieval as RET

    d = _spread(_t(spark, sf, "documents"))
    qt = spark.createDataFrame(
        [
            (1, "table"),
            (1, "scan"),
            (2, "hash"),
            (2, "merge"),
            (3, "spark"),
            (3, "vector"),
            (3, "fast"),
        ],
        "query_id long, term string",
    )
    return RET.bm25_topk(d, qt, k=10).select(
        "query_id",
        F.col("doc_id").cast("long").alias("doc_id"),
        "score",
        "rank",
    )


@_query("url_domain_filter", """
            WITH d AS (
              SELECT doc_id,
                     'HTTPS://WWW.' || source ||
                     CASE WHEN doc_id % 4 = 0 THEN '.CO.UK' ELSE '.com' END ||
                     CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END ||
                     '/Path/' || CAST(doc_id AS VARCHAR) ||
                     CASE WHEN doc_id % 3 = 0
                          THEN '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR)
                          ELSE '?id=' || CAST(doc_id AS VARCHAR) || '&utm_campaign=x'
                     END ||
                     CASE WHEN doc_id % 5 = 0 THEN '#Frag' ELSE '' END AS url
              FROM documents),
            p AS (
              SELECT doc_id, url,
                     lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                     lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]+)', 1)) AS host,
                     regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#:]+:([0-9]+)', 1) AS port,
                     regexp_extract(regexp_replace(url, '#.*$', '', 'g'),
                                    '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1) AS pq
              FROM d),
            n AS (
              SELECT doc_id,
                     scheme || '://' ||
                     CASE WHEN port = '' THEN host
                          WHEN (scheme = 'http' AND port = '80')
                            OR (scheme = 'https' AND port = '443') THEN host
                          ELSE host || ':' || port END ||
                     regexp_replace(
                       regexp_replace(pq, '(?:utm_[A-Za-z]+|fbclid|gclid)=[^&#]*&', '', 'g'),
                       '[?&](?:utm_[A-Za-z]+|fbclid|gclid)=[^&#]*$', '', 'g') AS url_norm,
                     regexp_extract(host,
                       '([^.]+\\.(?:co|com|ac|org|net|gov)\\.(?:uk|au|jp|br|in)|[^.]+\\.[^.]+)$',
                       1) AS domain
              FROM p)
            SELECT doc_id, url_norm, domain,
                   domain IN ('src3.com', 'src7.co.uk') AS blocked
            FROM n
        """)
def _q_url_domain_filter(spark, sf):
    """URL hygiene pass (r5): synthesize an adversarial URL per doc
    (uppercase scheme/host, multi-part public suffix, default port,
    interior+trailing tracking params, fragment), then normalize, extract
    the registered domain, and verdict against a broadcast blocklist —
    one codegen'd projection + broadcast left join, no doc-row shuffle.
    The DuckDB oracle replays the identical Java∩RE2 regex chain."""
    from autoextract.functions import urls as U

    d = _spread(_t(spark, sf, "documents")).select("doc_id", "source")
    url = F.concat(
        F.lit("HTTPS://WWW."),
        F.col("source"),
        F.when(F.col("doc_id") % 4 == 0, F.lit(".CO.UK")).otherwise(F.lit(".com")),
        F.when(F.col("doc_id") % 2 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/Path/"),
        F.col("doc_id").cast("string"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("?utm_source=feed&id="), F.col("doc_id").cast("string")),
        ).otherwise(
            F.concat(
                F.lit("?id="),
                F.col("doc_id").cast("string"),
                F.lit("&utm_campaign=x"),
            )
        ),
        F.when(F.col("doc_id") % 5 == 0, F.lit("#Frag")).otherwise(F.lit("")),
    )
    bl = spark.createDataFrame([("src3.com",), ("src7.co.uk",)], "domain string")
    return U.domain_filter(d.withColumn("url", url), bl).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "url_norm",
        "domain",
        "blocked",
    )


@_query("corpus_stats", """
            WITH t AS (
              SELECT source, lang, n_chars,
                     len(list_filter(string_split_regex(trim(text), '\\s+'),
                                     x -> x <> '')) AS wc
              FROM documents)
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   round(AVG(n_chars), 6) AS avg_chars,
                   round(quantile_cont(wc, 0.5), 6) AS p50_tokens,
                   round(quantile_cont(wc, 0.9), 6) AS p90_tokens,
                   CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
            FROM t GROUP BY source
        """)
def _q_corpus_stats(spark, sf):
    """Per-source corpus report (r5): one partial-agg shuffle on the
    group key; exact percentiles anchor the oracle (approx_percentile is
    the documented 100 TB path in the same plan shape)."""
    from autoextract.functions.text import corpus_stats

    return corpus_stats(_t(spark, sf, "documents"))


@_query("quality_classifier", """
            WITH m AS (
              SELECT doc_id,
                     CAST(n_words AS BIGINT) AS n_words,
                     round(CASE WHEN n_words > 0 THEN CAST(n_chars - n_words + 1 AS DOUBLE)/n_words ELSE 0.0 END, 4) AS mwl,
                     round(CASE WHEN n_chars > 0 THEN CAST(alpha_chars AS DOUBLE)/n_chars ELSE 0.0 END, 4) AS ar,
                     round(CASE WHEN n_chars > 0 THEN CAST(punct_chars AS DOUBLE)/n_chars ELSE 0.0 END, 4) AS pr,
                     round(CASE WHEN n_words > 0 THEN CAST(stop_hits AS DOUBLE)/n_words ELSE 0.0 END, 4) AS sr
              FROM (SELECT doc_id, len(text) AS n_chars,
                           CASE WHEN len(trim(text)) = 0 THEN 0
                                ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_words,
                           len(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha_chars,
                           len(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct_chars,
                           {_LANG} AS stop_hits
                    FROM documents)),
            z AS (SELECT doc_id,
                         -1.0 + 1.5 * (mwl / 10.0) + 2.0 * ar + (-3.0) * pr
                         + 2.5 * sr + 1.0 * (ln(1.0 + n_words) / 10.0) AS zz
                  FROM m)
            SELECT doc_id,
                   round(1.0 / (1.0 + exp(-zz)), 6) AS qscore,
                   round(1.0 / (1.0 + exp(-zz)), 6) >= 0.5 AS clf_keep
            FROM z
        """.replace("{_LANG}", _LANG_SCORE["en"]))
def _q_quality_classifier(spark, sf):
    """Model-based quality filter (r5): logistic score over the rounded
    rule-based features in ONE codegen'd projection — the DCLM/fastText
    classifier stage with deterministic stand-in weights (production swaps
    trained weights without touching the plan)."""
    from autoextract.functions.text import quality_classifier

    return quality_classifier(_t(spark, sf, "documents"))


@_query("ngram_jaccard_topk", f"""
            WITH sh AS (
              SELECT doc_id, source, list_distinct({_SHINGLES_SQL}) AS s
              FROM (SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS l
                    FROM documents WHERE doc_id < 2000))
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   round(CASE WHEN len(list_distinct(a.s || b.s)) > 0
                         THEN CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                              / len(list_distinct(a.s || b.s))
                         ELSE 0.0 END, 6) AS jaccard
            FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
            ORDER BY jaccard DESC, doc_a, doc_b LIMIT 50
        """)
def _q_ngram_jaccard_topk(spark, sf):
    # doc_id bound keeps the deliberately-quadratic verify demo O(constant)
    # as sf grows — the scale path is minhash_candidates -> verified pairs
    d = _spread(_t(spark, sf, "documents").where(F.col("doc_id") < 2000))
    pairs = DD.ngram_jaccard_pairs(d, block_col="source", k=3)
    return pairs.orderBy(
        F.desc("jaccard"), F.asc("doc_a"), F.asc("doc_b")
    ).limit(50)


@_query("embedding_cosine_topk", """
            WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
            SELECT e.vec_id,
                   round(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))
                         / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                            * sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))), 6) AS cosine
            FROM embeddings e, q
            ORDER BY cosine DESC, e.vec_id LIMIT 10
        """)
def _q_embedding_cosine_topk(spark, sf):
    e = _t(spark, sf, "embeddings")
    qvec = [float(x) for x in e.where(F.col("vec_id") == 0).first()["embedding"]]
    return SIM.cosine_topk(e, qvec, k=10)


@_query("embedding_neardup", """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
                         / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                            * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6) AS cosine
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
                         / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                            * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6) >= 0.2
            ORDER BY cosine DESC, id_a, id_b LIMIT 50
        """)
def _q_embedding_neardup(spark, sf):
    e = _t(spark, sf, "embeddings")
    return SIM.embedding_near_dup_pairs(
        e, threshold=0.2, block_col="label", id_col="vec_id"
    ).orderBy(F.desc("cosine"), "id_a", "id_b").limit(50)


@_query("embedding_neardup_blas", """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
                         / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                            * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6) AS cosine
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
                         / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                            * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6) >= 0.2
            
        """)
def _q_embedding_neardup_blas(spark, sf):
    """The Gram-matrix SCALE path for near-dup (one BLAS matmul per block
    inside applyInPandas) checked VALUE-LEVEL against DuckDB's exact pair
    computation — same oracle family as `embedding_neardup`, but this one
    gates the vectorized production variant, full result set (no top-k)."""
    e = _t(spark, sf, "embeddings")
    out = SIM.embedding_near_dup_pairs_blas(e, threshold=0.2, block_col="label")
    return out.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "cosine",
    )


@_query("lang_id", f"""
            SELECT doc_id,
                   CASE WHEN greatest(s_de, s_en, s_es, s_fr) <= 0 THEN 'und'
                        WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                        WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
                        WHEN s_es >= s_fr THEN 'es'
                        ELSE 'fr' END AS lang_guess
            FROM (SELECT doc_id,
                         {_LANG_SCORE['de']} AS s_de,
                         {_LANG_SCORE['en']} AS s_en,
                         {_LANG_SCORE['es']} AS s_es,
                         {_LANG_SCORE['fr']} AS s_fr
                  FROM documents)
        """)
def _q_lang_id(spark, sf):
    return _t(spark, sf, "documents").select(
        "doc_id", TX.lang_guess(F.col("text")).alias("lang_guess")
    )


@_query("quality_metrics", f"""
            SELECT doc_id,
                   CAST(n_chars AS BIGINT) AS n_chars,
                   CAST(n_words AS BIGINT) AS n_words,
                   round(CASE WHEN n_words > 0 THEN CAST(n_chars - n_words + 1 AS DOUBLE)/n_words ELSE 0.0 END, 4) AS mean_word_len,
                   round(CASE WHEN n_chars > 0 THEN CAST(alpha_chars AS DOUBLE)/n_chars ELSE 0.0 END, 4) AS alpha_ratio,
                   round(CASE WHEN n_chars > 0 THEN CAST(punct_chars AS DOUBLE)/n_chars ELSE 0.0 END, 4) AS punct_ratio,
                   round(CASE WHEN n_words > 0 THEN CAST(stop_hits AS DOUBLE)/n_words ELSE 0.0 END, 4) AS stopword_ratio,
                   (n_words >= 10
                    AND (CASE WHEN n_words > 0 THEN CAST(n_chars - n_words + 1 AS DOUBLE)/n_words ELSE 0.0 END) >= 2.0
                    AND (CASE WHEN n_words > 0 THEN CAST(n_chars - n_words + 1 AS DOUBLE)/n_words ELSE 0.0 END) <= 12.0
                    AND (CASE WHEN n_chars > 0 THEN CAST(alpha_chars AS DOUBLE)/n_chars ELSE 0.0 END) >= 0.6
                    AND (CASE WHEN n_chars > 0 THEN CAST(punct_chars AS DOUBLE)/n_chars ELSE 0.0 END) <= 0.2) AS quality_keep
            FROM (SELECT doc_id, len(text) AS n_chars,
                         CASE WHEN len(trim(text)) = 0 THEN 0
                              ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_words,
                         len(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha_chars,
                         len(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct_chars,
                         {_LANG_SCORE['en']} AS stop_hits
                  FROM documents)
        """)
def _q_quality(spark, sf):
    d = _t(spark, sf, "documents")
    m = TX.quality_metrics(F.col("text"))
    return d.select("doc_id", *[v.alias(k) for k, v in m.items()])


@_query("bpe_token_count", """
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens
            FROM documents
        """)
def _q_bpe_tokens(spark, sf):
    return _t(spark, sf, "documents").select(
        "doc_id", TX.bpe_token_count("text").cast("long").alias("n_bpe_tokens")
    )


@_query("fingerprint", """
            SELECT doc_id,
                   md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
            FROM documents
        """)
def _q_fingerprint(spark, sf):
    return _t(spark, sf, "documents").select(
        "doc_id", TX.fingerprint("text").alias("fp")
    )


@_query("pii_redaction", """
            WITH inj AS (
              SELECT doc_id,
                     text || ' contact user' || doc_id || '@example.com ip 10.0.0.'
                          || (doc_id % 256) || ' tel +1 555-01'
                          || printf('%02d', doc_id % 100) AS injected
              FROM documents WHERE doc_id < 300)
            SELECT doc_id,
                   regexp_replace(regexp_replace(regexp_replace(injected,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                       '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g'),
                       '\\+\\d{1,3}[- ]?\\d{3}[- ]?\\d{3,4}(?:[- ]?\\d{3,4})?', '<PHONE>', 'g') AS redacted,
                   CAST(len(regexp_extract_all(injected, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
                   CAST(len(regexp_extract_all(injected, '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b')) AS BIGINT) AS n_ips,
                   CAST(len(regexp_extract_all(injected, '\\+\\d{1,3}[- ]?\\d{3}[- ]?\\d{3,4}(?:[- ]?\\d{3,4})?')) AS BIGINT) AS n_phones
            FROM inj
        """)
def _q_pii_redaction(spark, sf):
    """Training-data scrubbing: deterministic PII is injected per doc (so
    the op provably fires on every row), then redacted; audit counts ride
    along. Pure JVM regexp — the oracle runs the identical patterns."""
    d = _t(spark, sf, "documents").where(F.col("doc_id") < 300)
    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com ip 10.0.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(" tel +1 555-01"),
        F.format_string("%02d", (F.col("doc_id") % 100).cast("int")),
    )
    counts = TX.pii_counts(injected)
    return d.select(
        "doc_id",
        TX.redact_pii(injected).alias("redacted"),
        *[v.cast("long").alias(k) for k, v in counts.items()],
    )
