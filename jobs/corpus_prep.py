"""corpus_prep — the shippable, resumable training-corpus prep job.

    spark-submit --py-files engine.zip jobs/corpus_prep.py \
        --sf-dir /root/testdata/sf0.1 --out /tmp/prep \
        --run-id r1 --run-ts 2026-01-01T00:00:00 [--waves 4] [--resume]

The pipeline a training-data user runs for weeks (VERDICT r3 #4): curation
funnel → per-source quota cap → deterministic shard/order assignment,
composed from the same ``functions/prep.py`` operators the oracle-checked
``corpus_prep_e2e`` query pins — the job adds checkpoints, a reject table,
and a manifest, none of which change the math.

Stage layout and resume semantics (progress markers in ``out/progress``):

1. **noncanon** (global, ``stage:`` marker): the near-dup membership set —
   the one signal that depends on every other document. Materialized once
   (idempotent overwrite) so the verdict pass becomes row-local.
2. **verdicts** (wave-resumable, per-bucket ``done`` markers): per-doc
   keep/drop verdicts in ``--waves`` wave groups against the stage-1 table,
   each wave overwriting its own ``(run_id, wave)`` partition then appending
   markers — a crash re-does at most one wave, never duplicates rows
   (``jobrun.Job.run_waves``, the same loop jobs/spans_extract.py runs,
   proven by the same crash-injection pytest pattern).
3. **rejects** (global, ``stage:`` marker): the quarantine-style reject
   table — every non-keep verdict, queryable by reason. Derived from the
   WRITTEN verdicts (cheap columnar re-read, no lineage recompute).
4. **manifest** (global, ``stage:`` marker): keep → quota → shard; the
   loader manifest (doc_id, source, shard, pos) partitioned by shard.

Exactly-once: every stage writes its output BEFORE its marker, every stage
output is a deterministic overwrite (hash-ordered selection, no RNG), so a
crash between write and marker re-runs one stage onto identical bytes.
``SPARK_GRAFT_CRASH_AFTER=<stage>`` (or ``verdicts_wave_<n>``) injects a
crash inside exactly that window for the pytest.

Prints one JSON line: docs_in, kept, rejected, manifest_rows, wall seconds.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from text_extract_api_spark import jobrun  # noqa: E402
from text_extract_api_spark.checkpoint import bucket_col  # noqa: E402
from text_extract_api_spark.functions.prep import (  # noqa: E402
    funnel_verdicts,
    noncanonical_docs,
    prep_manifest,
)
from text_extract_api_spark.io import read_table, write_table  # noqa: E402

# the manifest's shard count: prep_manifest assigns it and the write
# clusters by it
N_SHARDS = 8


def main(argv: list[str] | None = None, spark=None) -> dict:
    args = jobrun.arg_parser("prep-0", waves=True).parse_args(argv)
    job = jobrun.Job("corpus_prep", args, spark)
    spark = job.spark

    noncanon_loc = f"{args.out}/noncanon"
    verdicts_loc = f"{args.out}/verdicts"
    rejects_loc = f"{args.out}/rejects"
    manifest_loc = f"{args.out}/manifest"

    docs = spark.read.parquet(f"{args.sf_dir}/documents.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )

    # ---- stage 1: global near-dup membership -----------------------------
    job.run_stage("noncanon", lambda: write_table(
        noncanonical_docs(docs).coalesce(8),
        noncanon_loc, mode="overwrite",
    ))
    noncanon = read_table(spark, noncanon_loc)

    # ---- stage 2: per-doc verdicts, wave-resumable -----------------------
    def verdicts(wave_docs):
        return funnel_verdicts(wave_docs, noncanon=noncanon).join(
            wave_docs.select("doc_id", "bucket"), "doc_id"
        ).select("doc_id", "verdict", "bucket")

    totals = job.run_waves(
        docs.withColumn("bucket", bucket_col(F.col("doc_id"), args.n_buckets)),
        verdicts_loc, verdicts,
    )
    all_verdicts = read_table(spark, verdicts_loc).filter(
        F.col("run_id") == args.run_id
    )

    # ---- stage 3: reject table (quarantine analog) -----------------------
    job.run_stage("rejects", lambda: write_table(
        all_verdicts.filter(F.col("verdict") != "keep")
        .select("doc_id", F.col("verdict").alias("reason"))
        .coalesce(8),
        rejects_loc, mode="overwrite",
    ))

    # ---- stage 4: quota + shard manifest ----------------------------------
    def write_manifest():
        manifest = prep_manifest(docs, all_verdicts, n_shards=N_SHARDS)
        # cluster by the partition column before the partitioned write —
        # otherwise every task sprays one file per shard dir and the serial
        # driver commit dominates
        write_table(
            manifest.repartition(N_SHARDS, "shard"),
            manifest_loc, mode="overwrite", partition_by=["shard"],
        )
        return {"docs": read_table(spark, manifest_loc).count()}

    job.run_stage("manifest", write_manifest)

    n_docs = docs.count()
    return job.finish(
        docs_in=n_docs,
        verdicts_written=totals["docs"],
        kept=all_verdicts.filter(F.col("verdict") == "keep").count(),
        rejected=read_table(spark, rejects_loc).count(),
        manifest_rows=read_table(spark, manifest_loc).count(),
        waves=args.waves,
        rate_docs=n_docs,
    )


if __name__ == "__main__":
    main()
