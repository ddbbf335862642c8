"""Exact per-document comparison of pipeline outputs against generator oracles.

Each side is reduced to rows ``(doc_id, v)`` where ``v`` is one comparable
value (a whole span array, one extracted field, one flat HTML span). A
document passes only if, in every output, its sorted list of ``v`` equals
the oracle's exactly, so a missing, extra, duplicated or altered document all
count as one failed document. The compare is one Spark job over all outputs
and drops no rows.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _per_doc(rows: DataFrame, keys: list[str]) -> DataFrame:
    return rows.groupBy(*keys).agg(F.sort_array(F.collect_list("v")).alias("vs"))


def bad_docs(expected: DataFrame, outputs: list[DataFrame]) -> DataFrame:
    """``(job, doc_id)`` of every document missing from, extra in, or unequal
    in output number ``job``. ``expected`` and every output have columns
    ``(doc_id, v)``."""
    spark = expected.sparkSession
    got = reduce(
        DataFrame.unionByName,
        [o.select(F.lit(i).alias("job"), "doc_id", "v") for i, o in enumerate(outputs)],
    )
    jobs = spark.range(len(outputs)).select(F.col("id").cast("int").alias("job"))
    exp = _per_doc(expected, ["doc_id"]).crossJoin(jobs)
    bad = (
        exp.alias("e")
        .join(_per_doc(got, ["job", "doc_id"]).alias("g"), ["job", "doc_id"], "full_outer")
        .where(~F.col("e.vs").eqNullSafe(F.col("g.vs")))
    )
    return bad.select("job", "doc_id")


def count_failed(*bad: DataFrame) -> int:
    """Distinct failing ``(job, doc_id)`` pairs over several checks."""
    return reduce(DataFrame.union, bad).distinct().count()


def spans_rows(spans: DataFrame) -> DataFrame:
    """``documents(doc_id, spans)`` → one row per document, the whole ordered
    ``(kind, text, media_ref, offset)`` array as the compared value."""
    return spans.select("doc_id", F.col("spans").alias("v"))


def extracted_rows(extracted: DataFrame) -> DataFrame:
    """Long-format extraction → one row per field, compared on
    ``(field_path, value, word_ids, confidence)``."""
    return extracted.select(
        "doc_id",
        F.struct(
            "field_path",
            "value",
            F.col("word_ids").cast("array<int>").alias("word_ids"),
            "confidence",
        ).alias("v"),
    )


def flat_span_rows(spans: DataFrame) -> DataFrame:
    """``documents(doc_id, spans)`` → one row per span with its position, the
    shape of ``corpus.gen_html_corpus``'s expected table."""
    flat = spans.select("doc_id", F.posexplode("spans").alias("seq", "s"))
    return flat.select(
        "doc_id",
        F.struct(
            F.col("seq").cast("int").alias("seq"),
            F.col("s.kind").alias("kind"),
            F.col("s.text").alias("text"),
            F.col("s.media_ref").alias("media_ref"),
        ).alias("v"),
    )


def html_expected_rows(expected: DataFrame) -> DataFrame:
    return expected.select(
        "doc_id",
        F.struct(
            F.col("seq").cast("int").alias("seq"), "kind", "text", "media_ref"
        ).alias("v"),
    )
