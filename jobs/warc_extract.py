"""warc_extract — point the engine at WARC segments (the Common Crawl door).

    spark-submit --py-files engine.zip jobs/warc_extract.py \
        --input /path/to/segments --out /tmp/out [--glob '*.warc.gz']

The 100-TB front door: a directory (or Iceberg listing) of WARC segment
files, each holding framed HTTP responses. Per segment — the parallel
unit, no shuffle until extraction itself:

    binaryFile scan → stdlib WARC parse (per-record gzip members or
    plain; length-framed record walk) → one interleaved-docs row per
    response (html responses carry the markup for the DOM-heuristic
    strip; text/* decode inline; other MIMEs ride as media refs) →
    run_extract_pipeline (routing, boilerplate strip, PII, ordered
    spans) → results parquet + one JSON summary line.

Reference provenance: the reference ingests one uploaded file per request
(main.py:39-73); WARC is what the same pipeline's input actually looks
like at crawl scale (the reference has no batch door at all).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Observation, functions as F  # noqa: E402

from text_extract_api_spark import jobrun  # noqa: E402
from text_extract_api_spark.extractors.warc import warc_ingest  # noqa: E402
from text_extract_api_spark.ingest import read_binary_files  # noqa: E402
from text_extract_api_spark.io import write_table  # noqa: E402
from text_extract_api_spark.pipeline import run_extract_pipeline  # noqa: E402


def main(argv: list[str] | None = None, spark=None) -> dict:
    ap = jobrun.arg_parser("warc-0", run_ts=False)
    ap.add_argument("--input", required=True, help="directory of WARC segments")
    ap.add_argument("--glob", default=None)
    args = ap.parse_args(argv)
    job = jobrun.Job("warc_extract", args, spark)
    spark = job.spark

    segments = read_binary_files(spark, args.input, args.glob).select(
        F.col("path").alias("segment"), F.col("content").alias("payload")
    )
    recs = warc_ingest(segments)

    # one doc per response record; html keeps its markup for the strip leg,
    # text/* decodes inline, everything else rides as an opaque media ref
    is_html = F.col("mime").startswith("text/html")
    is_text = F.col("mime").startswith("text/") & ~is_html
    kind = (
        F.when(is_html, F.lit("html"))
        .when(is_text, F.lit("text"))
        .otherwise(F.lit("image"))
    )
    docs = recs.select(
        F.concat_ws("#", "segment", F.col("rec_no").cast("string")).alias(
            "doc_id"
        ),
        F.array(
            F.struct(
                kind.alias("kind"),
                F.when(
                    is_html | is_text,
                    F.coalesce(F.col("body").try_cast("string"), F.lit("")),
                )
                .otherwise(F.lit(""))
                .alias("text"),
                F.when(~(is_html | is_text), F.col("url"))
                .otherwise(F.lit(""))
                .alias("media_ref"),
                F.lit(0).cast("int").alias("offset"),
            )
        ).alias("spans"),
    )

    results, _ = run_extract_pipeline(
        spark, docs, media_pages=None, cache=None, run_id=args.run_id
    )
    # the doc count rides the results write — no re-read of the table
    written = Observation("results")
    write_table(
        results.observe(written, F.count(F.lit(1)).alias("docs")),
        f"{args.out}/results", mode="overwrite",
    )
    return job.finish(docs=written.get["docs"])


if __name__ == "__main__":
    main()
