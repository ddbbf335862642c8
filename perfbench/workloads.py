"""The benchmark's workloads: seeded inputs, the pipeline calls one closed-loop
iteration makes, and the oracle each output is checked against.

Inputs come from ``autoextract.corpus``'s seeded generators and are written
to parquet before timing starts, so a timed call reads stored input the way a
production run does. See README.md in this directory for why each workload
exists.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from autoextract import corpus
from autoextract.plans import pipeline
from autoextract.schema import SHIPPING_SCHEMA

from . import oracle


@dataclass
class Call:
    """One public pipeline call made inside the timed loop."""

    name: str
    tag: str  # setJobGroup id of the Spark jobs it ran
    wall_s: float
    start: float  # epoch seconds
    end: float
    docs: int  # documents committed by the call
    buckets: int  # buckets the call processed
    span: int | None = None  # trace span id


def timed_call(spark: SparkSession, name: str, tag: str, fn) -> Call:
    """Run one pipeline call with its Spark jobs tagged ``tag``."""
    spark.sparkContext.setJobGroup(tag, name)
    t0, e0 = time.monotonic(), time.time()
    res = fn()
    wall = time.monotonic() - t0
    r = res[0] if isinstance(res, tuple) else res  # run_full_job: (spans, extract)
    return Call(name, tag, wall, e0, time.time(), r.rows, r.buckets_processed)


class Workload:
    name = ""
    docs_per_job = 0
    #: does a closed-loop iteration commit through a kill/resume pair?
    resumes = False
    #: Python-kernel operator name → the layer it belongs to
    kernels: dict[str, str] = {}

    def generate_input(self, spark: SparkSession, n_docs: int, seed: int, base: str) -> None:
        """Write the seeded input to ``base/input``."""
        raise NotImplementedError

    def generate_oracle(self, spark: SparkSession, n_docs: int, seed: int, base: str) -> None:
        """Write the oracle tables for ``base/input`` under ``base``."""
        raise NotImplementedError

    def source(self, spark: SparkSession, base: str) -> DataFrame:
        return spark.read.parquet(f"{base}/input")

    def cycle(self, spark: SparkSession, src: DataFrame, out: str, tag: str) -> list[Call]:
        """One closed-loop iteration into a fresh output dir."""
        return [timed_call(spark, "run_spans_job", tag, lambda: pipeline.run_spans_job(spark, src, out))]

    def bad_docs(self, spark: SparkSession, base: str, outs: list[str]) -> list[DataFrame]:
        """Failing ``(job, doc_id)`` pairs of each oracle check."""
        exp = oracle.spans_rows(spark.read.parquet(f"{base}/expected_spans"))
        return [oracle.bad_docs(exp, [oracle.spans_rows(pipeline.read_spans(spark, o)) for o in outs])]

    def pages(self, spark: SparkSession, base: str) -> DataFrame | None:
        """``(doc_id, page, word_seq, x0, y0, x1, y1)`` of every input word,
        for the direct layout-kernel timing; None without a layout layer."""
        return None


class FormsSpans(Workload):
    """Shipping forms (1-3 pages, shuffled emission order, media spans)
    through ``run_spans_job``; every page's geometry is distinct."""

    name = "forms_spans"
    docs_per_job = 1000
    kernels = {"MapInArrow": "layout"}

    def generate_input(self, spark, n_docs, seed, base):
        corpus.gen_corpus(spark, n_docs, seed=seed).write.parquet(f"{base}/input")

    def generate_oracle(self, spark, n_docs, seed, base):
        corpus.expected_spans(spark.read.parquet(f"{base}/input")).write.parquet(f"{base}/expected_spans")

    def generate_extract_oracle(self, spark, n_docs, seed, base):
        corpus.expected_extracted(spark, n_docs, seed=seed).write.parquet(f"{base}/expected_extracted")

    def source(self, spark, base):
        return corpus.ocr_words_view(spark.read.parquet(f"{base}/input"))

    def pages(self, spark, base):
        xs = F.transform("points", lambda q: q[0])
        ys = F.transform("points", lambda q: q[1])
        return spark.read.parquet(f"{base}/input").select(
            "doc_id", "page", "word_seq",
            F.array_min(xs).alias("x0"), F.array_min(ys).alias("y0"),
            F.array_max(xs).alias("x1"), F.array_max(ys).alias("y1"),
        )

    def extract_bad_docs(self, spark, base, outs):
        exp = oracle.extracted_rows(spark.read.parquet(f"{base}/expected_extracted"))
        got = [oracle.extracted_rows(spark.read.parquet(o)) for o in outs]
        return oracle.bad_docs(exp, got)


class FormsFull(FormsSpans):
    """The same forms through ``run_full_job``: one persisted layout pass
    feeding both span assembly and field extraction."""

    name = "forms_full"
    docs_per_job = 600
    kernels = {"MapInArrow": "layout", "MapInPandas": "extract"}

    def generate_oracle(self, spark, n_docs, seed, base):
        super().generate_oracle(spark, n_docs, seed, base)
        self.generate_extract_oracle(spark, n_docs, seed, base)

    def cycle(self, spark, src, out, tag):
        return [timed_call(
            spark, "run_full_job", tag,
            lambda: pipeline.run_full_job(spark, src, SHIPPING_SCHEMA, out),
        )]

    def bad_docs(self, spark, base, outs):
        extracted = [f"{o}/extracted" for o in outs]
        return super().bad_docs(spark, base, outs) + [self.extract_bad_docs(spark, base, extracted)]


class GridSpans(Workload):
    """Seeded text documents laid out by the flagship query's word-grid
    renderer (``__spark_entry__._docs_to_word_boxes``): page geometry depends
    only on a document's word count, so pages repeat."""

    name = "grid_spans"
    docs_per_job = 4000
    kernels = {"MapInArrow": "layout"}

    def generate_input(self, spark, n_docs, seed, base):
        # the HTML generator's main-content prose: seeded text with a small
        # spread of word counts
        _, spans = corpus.gen_html_corpus(spark, n_docs, seed=seed)
        paragraphs = F.sort_array(F.collect_list(F.struct("seq", "text")))
        spans.where(F.col("kind") == "text").groupBy("doc_id").agg(
            F.concat_ws(" ", F.transform(paragraphs, lambda s: s["text"])).alias("text")
        ).write.parquet(f"{base}/input")

    def generate_oracle(self, spark, n_docs, seed, base):
        docs = spark.read.parquet(f"{base}/input")
        toks = docs.select("doc_id", F.posexplode(F.split(F.trim("text"), r"\s+")).alias("pos", "tok"))
        toks.groupBy("doc_id").agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                lambda s: F.struct(
                    F.lit("text").alias("kind"),
                    s["tok"].alias("text"),
                    F.lit(None).cast("string").alias("media_ref"),
                    s["pos"].cast("int").alias("offset"),
                ),
            ).alias("spans")
        ).write.parquet(f"{base}/expected_spans")

    def source(self, spark, base):
        import __spark_entry__ as entry

        return entry._docs_to_word_boxes(spark.read.parquet(f"{base}/input"))

    def pages(self, spark, base):
        return self.source(spark, base).select("doc_id", "page", "word_seq", "x0", "y0", "x1", "y1")


class HtmlResume(Workload):
    """HTML articles through ``run_html_job``: killed after half the buckets,
    resumed, then rerun over the finished output."""

    name = "html_resume"
    docs_per_job = 2000
    resumes = True
    kernels = {"MapInPandas": "html"}
    N_BUCKETS = 32  # run_html_job's default
    KILLED_AFTER = set(range(0, N_BUCKETS, 2))

    def generate_input(self, spark, n_docs, seed, base):
        docs, _ = corpus.gen_html_corpus(spark, n_docs, seed=seed)
        docs.write.parquet(f"{base}/input")

    def generate_oracle(self, spark, n_docs, seed, base):
        _, expected = corpus.gen_html_corpus(spark, n_docs, seed=seed)
        expected.write.parquet(f"{base}/expected_flat")

    def cycle(self, spark, src, out, tag):
        def run(**kw):
            return lambda: pipeline.run_html_job(spark, src, out, **kw)

        return [
            timed_call(spark, "run_html_job:killed", f"{tag}a", run(only_buckets=self.KILLED_AFTER)),
            timed_call(spark, "run_html_job:resume", f"{tag}b", run()),
            timed_call(spark, "run_html_job:noop", f"{tag}c", run()),
        ]

    def bad_docs(self, spark, base, outs):
        exp = oracle.html_expected_rows(spark.read.parquet(f"{base}/expected_flat"))
        return [oracle.bad_docs(exp, [oracle.flat_span_rows(pipeline.read_spans(spark, o)) for o in outs])]


WORKLOADS = {w.name: w for w in (FormsSpans(), GridSpans(), FormsFull(), HtmlResume())}
