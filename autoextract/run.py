"""CLI driver — the ``spark-submit --py-files`` entry (north_rule).

Usage (in-sandbox; on a cluster replace ``--parallelism`` with the usual
``spark-submit --num-executors ...`` and ship the package via --py-files)::

    python -m autoextract.run --stage spans  --source synthetic --n-docs 2000 \
        --out /tmp/ae_out --n-buckets 32 --parallelism 32
    python -m autoextract.run --stage spans  --source words --input words.parquet --out ...
    python -m autoextract.run --stage html    --source html  --input html.parquet --out ...
    python -m autoextract.run --stage spans  --source pdf   --input raw_pdfs.parquet --out ...
    python -m autoextract.run --stage extract --source synthetic --n-docs 2000 --out ...

A rerun over the same ``--out`` resumes: completed buckets are skipped via
the checkpoint table (kill it mid-run and run it again to see).
"""

from __future__ import annotations

import argparse
import json
import sys

from . import corpus
from .plans import pipeline
from .schema import SHIPPING_SCHEMA
from .session import get_spark


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="autoextract.run")
    p.add_argument("--stage", choices=["spans", "extract", "both", "html"], default="spans")
    p.add_argument(
        "--source", choices=["synthetic", "words", "html", "pdf"], default="synthetic"
    )
    p.add_argument("--input", help="parquet path for --source words/html/pdf")
    p.add_argument("--out", required=True)
    p.add_argument("--n-docs", type=int, default=1000)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--mega-doc", action="store_true", help="include the skew fixture")
    p.add_argument(
        "--n-buckets", type=int, default=32,
        help="checkpoint and file buckets; also caps a stage's kernel task count, so keep it >= cores",
    )
    p.add_argument("--parallelism", type=int, default=None)
    p.add_argument("--run-id", default=None)
    args = p.parse_args(argv)

    spark = get_spark(parallelism=args.parallelism)
    spark.sparkContext.setLogLevel("WARN")

    if args.source == "synthetic":
        if args.stage == "html":
            src, _ = corpus.gen_html_corpus(spark, args.n_docs, seed=args.seed)
        else:
            src = corpus.ocr_words_view(
                corpus.gen_corpus(spark, args.n_docs, seed=args.seed, mega_doc=args.mega_doc)
            )
    else:
        if not args.input:
            p.error("--input required for --source words/html/pdf")
        src = spark.read.parquet(args.input)
        if args.source == "pdf":
            # raw (doc_id, payload) PDFs → text-layer word boxes; from here
            # the ordinary spans/extract stages apply unchanged
            from .sources.pdf import pdf_words_table

            src = pdf_words_table(src)

    if args.stage == "spans":
        results = [
            pipeline.run_spans_job(
                spark, src, args.out, n_buckets=args.n_buckets, run_id=args.run_id
            )
        ]
    elif args.stage == "extract":
        results = [
            pipeline.run_extract_job(
                spark, src, SHIPPING_SCHEMA, args.out, n_buckets=args.n_buckets, run_id=args.run_id
            )
        ]
    elif args.stage == "both":
        results = list(
            pipeline.run_full_job(
                spark, src, SHIPPING_SCHEMA, args.out, n_buckets=args.n_buckets, run_id=args.run_id
            )
        )
    else:
        results = [
            pipeline.run_html_job(
                spark, src, args.out, n_buckets=args.n_buckets, run_id=args.run_id
            )
        ]

    for res in results:
        print(
            json.dumps(
                {
                    "run_id": res.run_id,
                    "stage": res.stage,
                    "buckets_processed": res.buckets_processed,
                    "rows": res.rows,
                    "wall_ms": res.wall_ms,
                    "rows_per_sec": round(res.rows_per_sec, 2),
                }
            )
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
