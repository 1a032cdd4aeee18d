"""raw_files_extract — point the engine at a directory of actual files.

    spark-submit --py-files engine.zip jobs/raw_files_extract.py \
        --input /path/to/files --out /tmp/out [--glob '*.pdf'] [--run-id r1]

The reference's front door is raw bytes (multipart upload → MIME sniff →
dispatch, ``main.py:39-73`` → ``file_format.py:62-71,196-211``). This job is
that path end-to-end on Spark:

    binaryFile scan → magic-byte sniff (+ OOXML zip resolution)
      → one interleaved-docs row per file:
          text-ish kinds (text/html) decode inline into the span text;
          media kinds (pdf/docx/pptx/image) carry the file path as media_ref
          with the payload registered in the blob side-table
      → run_extract_pipeline (routing, extraction, PII, ordered spans)
      → results parquet + one JSON summary line.

Scale notes: the binaryFile source splits the listing across executors; the
sniff is codegen; only zip containers and extractable media payloads cross
the Arrow boundary (filtered legs). At 10^12 files the same plan reads an
Iceberg table of (path, content) instead of a directory listing.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from text_extract_api_spark import jobrun  # noqa: E402
from text_extract_api_spark.checkpoint import bucket_col, write_progress  # noqa: E402
from text_extract_api_spark.extractors.pdf import pdf_text_extract  # noqa: E402
from text_extract_api_spark.ingest import ingest_binary, read_binary_files  # noqa: E402
from text_extract_api_spark.io import read_table, write_table  # noqa: E402
from text_extract_api_spark.pipeline import run_extract_pipeline  # noqa: E402

TEXT_KINDS = ("text", "html")
OFFICE_KINDS = ("docx", "pptx")


def main(argv: list[str] | None = None, spark=None) -> dict:
    ap = jobrun.arg_parser("raw-0")
    ap.add_argument("--input", required=True, help="directory of raw files")
    ap.add_argument("--glob", default=None)
    args = ap.parse_args(argv)
    job = jobrun.Job("raw_files_extract", args, spark)
    spark = job.spark

    typed = ingest_binary(read_binary_files(spark, args.input, args.glob))

    kind = F.col("kind")
    docs = typed.select(
        F.col("path").alias("doc_id"),
        F.array(
            F.struct(
                kind.alias("kind"),
                # text-ish payloads decode inline (try_cast = lenient decode,
                # malformed bytes → U+FFFD: one latin-1 file must not abort
                # the run; strict F.decode throws in Spark 4); media spans
                # carry no text
                F.when(
                    kind.isin(*TEXT_KINDS),
                    F.coalesce(F.col("content").try_cast("string"), F.lit("")),
                )
                .otherwise(F.lit(""))
                .alias("text"),
                F.when(~kind.isin(*TEXT_KINDS), F.col("path"))
                .otherwise(F.lit(""))
                .alias("media_ref"),
                F.lit(0).cast("int").alias("offset"),
            )
        ).alias("spans"),
    )
    # blob side-table for the office spans (payload fetched by media_ref)
    office_blobs = typed.filter(kind.isin(*OFFICE_KINDS)).select(
        F.col("path").alias("media_ref"), F.col("content").alias("payload")
    )
    # REAL page store for the pdf leg: text recovered from the content
    # streams by the stdlib parser (classic-xref, raw/FlateDecode — the
    # born-digital majority; scanned PDFs yield no pages here and would
    # route to OCR in a full deployment). Same (media_ref, page_no,
    # page_text) contract the pipeline's page join expects.
    media_pages = pdf_text_extract(
        typed.filter(kind == "pdf").select(
            F.col("path").alias("media_ref"), F.col("content").alias("payload")
        )
    )

    results, _ = run_extract_pipeline(
        spark, docs, media_pages=media_pages, cache=None,
        run_id=args.run_id, office_blobs=office_blobs,
    )
    results_loc = f"{args.out}/results"
    write_table(results, results_loc, mode="overwrite")

    # done markers + metrics from the written results (cheap columnar
    # re-read), so `tools/cli.py result` can poll this run like any other
    written = read_table(spark, results_loc).withColumn(
        "bucket", bucket_col(F.col("doc_id"), 16)
    )
    write_progress(written, job.progress_loc, args.run_id, args.run_ts)
    return job.finish(docs=written.count())


if __name__ == "__main__":
    main()
