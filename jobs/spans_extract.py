"""spans_extract — the shippable extraction job.

    spark-submit --py-files engine.zip jobs/spans_extract.py \
        --sf-dir /root/testdata/sf0.1 --out /tmp/out \
        --run-id r1 --run-ts 2026-01-01T00:00:00 [--waves 4] [--resume]

One batch plan replaces the reference's FastAPI→Celery→Redis queue
(SURVEY.md §3): synthesize/read the interleaved docs table → content-hash →
cache anti-join → per-kind vectorized extract → ordered reassembly → write
results + cache + per-bucket progress markers.

Resumability (``jobrun.Job.run_waves``): documents are processed in
``--waves`` sequential wave groups (bucket % waves). Each wave overwrites
its own ``(run_id, wave)`` result partition (dynamic partition overwrite →
idempotent), appends its cache entries, then its per-bucket progress
markers; ``--resume`` skips every wave whose buckets are all marked done for
the run-id and recomputes any other wave whole, so a crash costs at most one
wave of recompute and never duplicates output rows or markers.

Prints one JSON line: docs, spans, wall seconds, docs/sec.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Observation, functions as F  # noqa: E402

from text_extract_api_spark import jobrun  # noqa: E402
from text_extract_api_spark.checkpoint import bucket_col  # noqa: E402
from text_extract_api_spark.extractors.media import validate_media_pages  # noqa: E402
from text_extract_api_spark.io import read_table, table_exists, write_table  # noqa: E402
from text_extract_api_spark.partitioning import payload_size_col  # noqa: E402
from text_extract_api_spark.pipeline import run_extract_pipeline  # noqa: E402
from text_extract_api_spark.synth import synthesize_interleaved_office  # noqa: E402


def main(argv: list[str] | None = None, spark=None) -> dict:
    ap = jobrun.arg_parser("run-0", waves=True)
    ap.add_argument("--input-table", default=None,
                    help="pre-built interleaved table location (skips synthesis)")
    ap.add_argument("--media-table", default=None)
    ap.add_argument("--office-table", default=None,
                    help="office blob sidecar (media_ref, payload) for the "
                         "docx/pptx legs when using --input-table")
    ap.add_argument("--multiplier", type=int, default=1,
                    help="deterministic corpus scale-up for scaling benches")
    ap.add_argument("--inflate", type=int, default=1,
                    help="deterministic per-document size scale-up (bench)")
    ap.add_argument("--warmup", action="store_true",
                    help="run the pipeline on a small slice before the timed "
                         "window (JIT + Python-worker warmup for benches)")
    args = ap.parse_args(argv)
    job = jobrun.Job("spans_extract", args, spark)
    spark = job.spark

    if args.input_table:
        docs = read_table(spark, args.input_table)
        media = read_table(spark, args.media_table) if args.media_table else None
        office_blobs = (
            read_table(spark, args.office_table) if args.office_table else None
        )
    else:
        docs, media, office_blobs = synthesize_interleaved_office(
            spark, args.sf_dir, args.multiplier, args.inflate
        )
        # Synthesis is a stand-in for the Iceberg scan; materialize it so the
        # timed window measures extraction, and so multi-action waves don't
        # recompute the synthesis joins. The count that builds the cache
        # also observes the corpus size the shuffles are sized from.
        docs = docs.persist()
        corpus = Observation("corpus")
        docs.observe(corpus, F.sum(payload_size_col()).alias("bytes")).count()
        job.size_shuffles(corpus.get["bytes"] or 0)

    results_loc = f"{args.out}/results"
    cache_loc = f"{args.out}/cache"
    quarantine_loc = f"{args.out}/quarantine"

    # Media validity quarantine (reference: PIL verify raises per image,
    # image.py:43-48; the engine splits bad pages out instead of failing the
    # task). ONE decoder pass: verdicts + page text come out of the same
    # Arrow stage, materialized by the quarantine write; the pdf leg then
    # joins only surviving pages and the bad rows land in a queryable sink.
    n_quarantined = 0
    if media is not None:
        validated = validate_media_pages(media).persist()
        quarantined = Observation("quarantined")
        write_table(
            validated.filter(~F.col("valid")).select("media_ref", "page_no", "reason")
            .observe(quarantined, F.count(F.lit(1)).alias("rows"))
            .coalesce(4),
            quarantine_loc, mode="overwrite",
        )
        n_quarantined = quarantined.get["rows"]
        media = validated.filter(F.col("valid")).select(
            "media_ref", "page_no", "page_text"
        )
    if office_blobs is not None:
        # small sidecar (one row per office doc) but its lineage carries the
        # synthesis joins + an Arrow stage — pin it so per-wave actions and
        # the cache/progress re-reads don't rebuild the OOXML blobs
        office_blobs = office_blobs.persist()
        office_blobs.count()

    cache = read_table(spark, cache_loc) if table_exists(spark, cache_loc) else None

    docs = docs.withColumn("bucket", bucket_col(F.col("doc_id"), args.n_buckets))

    if args.warmup:
        # JIT-compile the hot codegen paths and spawn the Python workers
        # before the timed window: a fresh JVM otherwise spends its first
        # seconds interpreted, which reads as fake serial time in scaling
        # measurements (disclosed in BENCH/BASELINE.md).
        warm, _ = run_extract_pipeline(
            spark, docs.limit(256).select("doc_id", "spans", "bucket"),
            media, cache, "warmup", office_blobs=office_blobs,
        )
        warm.write.format("noop").mode("overwrite").save()

    def extract(wave_docs):
        # Any input layout goes straight in: the pipeline's reattach join
        # partitions by doc_id whatever the layout, and AQE's skew-join
        # splitting takes the oversized docs.
        results, _ = run_extract_pipeline(
            spark, wave_docs.select("doc_id", "spans", "bucket"),
            media, cache, args.run_id, office_blobs=office_blobs,
        )
        # bucket is a pure function of doc_id — recompute instead of joining
        return results.withColumn(
            "bucket", bucket_col(F.col("doc_id"), args.n_buckets)
        )

    def append_cache(written):
        # cache entries derive from the *written* results, not from the
        # results lineage, which would recompute the extraction subtree
        new_cache = (
            written.filter(~F.col("from_cache"))
            .dropDuplicates(["content_hash"])
            .select("content_hash", "spans", F.lit(args.run_id).alias("run_id"))
        )
        if cache is not None:
            # keep the cache near-unique: only genuinely new hashes append
            new_cache = new_cache.join(
                cache.select("content_hash"), "content_hash", "left_anti"
            )
        # the cache table is small rows (hash + spans); 8 output files beat
        # shuffle.partitions× tiny files and their task-commit overhead
        write_table(new_cache.coalesce(8), cache_loc, mode="append")

    # ONE heavy action per wave: the results write, partitioned by (run_id,
    # wave). Partitioning by bucket dirs (r2) forced a full-array
    # repartition before the write purely to avoid a tasks×buckets
    # small-file spray; with one wave dir every task writes one file, so the
    # results keep their join partitioning and the spans cross ZERO extra
    # exchanges between extraction and storage (r3, VERDICT item 4). bucket
    # stays a data column for markers/resume bookkeeping.
    job.start_clock()
    totals = job.run_waves(docs, results_loc, extract, after_write=append_cache)
    # injected sessions: caller owns cache cleanup (tests clearCache)
    return job.finish(
        docs=totals["docs"], spans=totals["spans"], quarantined=n_quarantined,
        waves=args.waves, rate_docs=totals["docs"],
    )


if __name__ == "__main__":
    main()
