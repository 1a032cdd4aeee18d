"""mm_prep — the shippable, resumable MULTIMODAL corpus-prep job.

    spark-submit --py-files engine.zip jobs/mm_prep.py \
        --sf-dir /root/testdata/sf0.1 --out /tmp/mmprep \
        --run-id m1 --run-ts 2026-01-01T00:00:00 [--waves 4] [--resume]

The VLM analog of ``jobs/corpus_prep.py``: the same staged-checkpoint /
reject-table / manifest contract, but over the INTERLEAVED text+media
corpus (the input-contract table; synthesized here from the driver data as
the Iceberg-scan stand-in, like every other consumer of the interleaved
shape). Composes the oracle-checked interleave operators — the structure /
anchoring gates of ``mm_corpus_prep`` plus the cross-document span
boilerplate signal of ``span_boilerplate_strip`` — into verdicts a
curation team can audit, then emits the deterministic (shard, pos) epoch
order training loaders consume.

Stage layout and resume semantics (progress markers in ``out/progress``):

1. **hotspans** (global, ``stage:`` marker): the corpus-wide state — md5
   fingerprints of text-span payloads recurring in 2+ DISTINCT documents,
   plus media refs recurring in ``MEDIA_HOT_MIN_DOCS``+ (the OBELICS
   logo/icon signal). The signals that depend on every other document;
   materialized once so the verdict pass becomes doc-local (the
   ``noncanon`` pattern).
2. **verdicts** (wave-resumable, per-bucket ``done`` markers): per-doc
   keep/reject verdicts with reasons (no_media / not_interleaved /
   unanchored / boilerplate / hot_media) in ``--waves`` wave groups, each
   wave overwriting its own ``(run_id, wave)`` partition then appending
   markers (``jobrun.Job.run_waves``). Resume skips fully marked waves and
   recomputes any other wave whole, so a crash re-does at most one wave
   and never duplicates rows or markers.
3. **rejects** (global): the reject table, queryable by reason.
4. **manifest** (global): keep docs → ``epoch_shuffle`` (its default
   seed, so the permutation does not depend on the run id) → the
   (doc_id, shard, pos) loader manifest partitioned by shard; zero RNG, so
   a resumed run regenerates the identical permutation.
5. **snapshot** (global): the cleaned corpus itself — kept docs' spans
   with cross-document boilerplate text spans removed and offsets rebased
   (``strip_boilerplate_apply``), written partitioned by the manifest's
   shard so each training shard reads one partition. This is the table
   the next corpus epoch treats as its input.

Exactly-once: every stage writes its output BEFORE its marker and every
stage output is a deterministic overwrite, so a crash between write and
marker re-runs one stage onto identical bytes
(``SPARK_GRAFT_CRASH_AFTER=<stage>`` or ``verdicts_wave_<n>`` injects a
crash inside exactly that window for the pytest).

Prints one JSON line: docs_in, kept, rejected, manifest_rows, wall sec.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Observation, Window, functions as F  # noqa: E402

from text_extract_api_spark import jobrun  # noqa: E402
from text_extract_api_spark.checkpoint import bucket_col  # noqa: E402
from text_extract_api_spark.functions.interleave import (  # noqa: E402
    MEDIA_KINDS,
    media_reuse_stats,
    mm_funnel_verdicts,
)
from text_extract_api_spark.functions.sampling import epoch_shuffle  # noqa: E402
from text_extract_api_spark.io import read_table, write_table  # noqa: E402
from text_extract_api_spark.partitioning import payload_size_col  # noqa: E402
from text_extract_api_spark.synth import synthesize_interleaved  # noqa: E402

# the manifest's and snapshot's shard count: epoch_shuffle assigns it and
# both writes cluster by it
N_SHARDS = 8
# 2, not media_reuse_stats' generic 3: the synth corpus's only media reuse
# is the eff_id-sharing duplicate pairs (n_docs never exceeds 2)
MEDIA_HOT_MIN_DOCS = 2


def main(argv: list[str] | None = None, spark=None) -> dict:
    ap = jobrun.arg_parser("mmprep-0", waves=True)
    ap.add_argument("--multiplier", type=int, default=1,
                    help="deterministic corpus scale-up for scaling benches")
    ap.add_argument("--inflate", type=int, default=1,
                    help="deterministic per-document size scale-up (bench)")
    args = ap.parse_args(argv)
    job = jobrun.Job("mm_prep", args, spark)
    spark = job.spark

    hotspans_loc = f"{args.out}/hotspans"
    hotmedia_loc = f"{args.out}/hotmedia"
    verdicts_loc = f"{args.out}/verdicts"
    rejects_loc = f"{args.out}/rejects"
    manifest_loc = f"{args.out}/manifest"
    snapshot_loc = f"{args.out}/snapshot"

    # The interleaved corpus (Iceberg-scan stand-in). localCheckpoint it
    # once: every stage consumes it and the synthesis subtree would
    # otherwise replay per stage. The checkpoint also observes the corpus
    # size, which sizes the shuffles of every stage after it. The flat
    # span table is a narrow explode of the checkpointed nested one.
    docs_nested, _ = synthesize_interleaved(
        spark, args.sf_dir, args.multiplier, args.inflate
    )
    corpus = Observation("corpus")
    docs_nested = docs_nested.observe(
        corpus, F.sum(payload_size_col()).alias("bytes")
    ).localCheckpoint()
    job.size_shuffles(corpus.get["bytes"] or 0)
    flat = docs_nested.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id", "s.offset", "s.kind", "s.text", "s.media_ref"
    )
    job.start_clock()

    # ---- stage 1: corpus-global boilerplate fingerprints -----------------
    def write_hotspans():
        texts = flat.filter(~F.col("kind").isin(*MEDIA_KINDS)).select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.md5("text").alias("fp"),
        )
        hot = (
            texts.groupBy("fp")
            .agg(F.count_distinct("doc_id").alias("n_docs"))
            # strip_boilerplate_apply's min_docs: the snapshot must equal
            # that operator's output
            .filter(F.col("n_docs") >= 2)
        )
        write_table(hot.coalesce(8), hotspans_loc, mode="overwrite")
        # the media half of the same corpus-global stage: refs recurring
        # across documents (the OBELICS logo/icon signal). Both writes are
        # deterministic overwrites under ONE marker — a crash between them
        # re-does the whole stage onto identical bytes.
        hot_media = media_reuse_stats(
            flat, hot_min_docs=MEDIA_HOT_MIN_DOCS
        ).filter(F.col("is_hot")).select("media_ref")
        write_table(hot_media.coalesce(8), hotmedia_loc, mode="overwrite")

    job.run_stage("hotspans", write_hotspans)
    hot_fps = read_table(spark, hotspans_loc)
    hot_refs = read_table(spark, hotmedia_loc)

    # ---- stage 2: per-doc verdicts, wave-resumable -----------------------
    def verdicts(wave_nested):
        wave_flat = flat.join(
            wave_nested.select("doc_id"), "doc_id", "left_semi"
        )
        return mm_funnel_verdicts(
            wave_nested, wave_flat, hot_fps, hot_refs=hot_refs
        ).join(wave_nested.select("doc_id", "bucket"), "doc_id").select(
            "doc_id", "verdict", "boiler_pct", "bucket"
        )

    totals = job.run_waves(
        docs_nested.withColumn(
            "bucket", bucket_col(F.col("doc_id"), args.n_buckets)
        ),
        verdicts_loc, verdicts,
    )
    all_verdicts = read_table(spark, verdicts_loc).filter(
        F.col("run_id") == args.run_id
    )

    # ---- stage 3: reject table (reason-queryable) ------------------------
    job.run_stage("rejects", lambda: write_table(
        all_verdicts.filter(F.col("verdict") != "keep")
        .select("doc_id", F.col("verdict").alias("reason"), "boiler_pct")
        .coalesce(8),
        rejects_loc, mode="overwrite",
    ))

    # ---- stage 4: deterministic epoch-order manifest ---------------------
    def write_manifest():
        kept = all_verdicts.filter(F.col("verdict") == "keep").select("doc_id")
        manifest = epoch_shuffle(kept, n_shards=N_SHARDS)
        write_table(
            manifest.repartition(N_SHARDS, "shard"),
            manifest_loc, mode="overwrite", partition_by=["shard"],
        )
        return {"docs": read_table(spark, manifest_loc).count()}

    job.run_stage("manifest", write_manifest)

    # ---- stage 5: cleaned corpus snapshot, shard-aligned ------------------
    def write_snapshot():
        manifest_map = read_table(spark, manifest_loc).select("doc_id", "shard")
        # reuse the persisted stage-1 state instead of recomputing the
        # corpus-wide counts: a text span is dropped iff its fp is in the
        # hotspans table — bit-identical to strip_boilerplate_apply's
        # inline counts (the pytest cross-checks the two forms)
        is_media = F.col("kind").isin(*MEDIA_KINDS)
        flagged = flat.withColumn(
            "fp", F.when(~is_media, F.md5("text"))
        ).join(
            hot_fps.select("fp", F.lit(True).alias("_hot")), "fp", "left"
        )
        w = Window.partitionBy("doc_id").orderBy("offset")
        cleaned = (
            flagged.filter(is_media | (F.col("_hot").isNull() & F.col("fp").isNotNull()))
            .withColumn("offset", (F.row_number().over(w) - 1).cast("int"))
            .select("doc_id", "offset", "kind", "text", "media_ref")
            .join(manifest_map, "doc_id")
        )
        write_table(
            cleaned.repartition(N_SHARDS, "shard"),
            snapshot_loc, mode="overwrite", partition_by=["shard"],
        )
        return {"spans": read_table(spark, snapshot_loc).count()}

    job.run_stage("snapshot", write_snapshot)

    n_docs = docs_nested.count()
    return job.finish(
        docs_in=n_docs,
        verdicts_written=totals["docs"],
        kept=all_verdicts.filter(F.col("verdict") == "keep").count(),
        rejected=read_table(spark, rejects_loc).count(),
        manifest_rows=read_table(spark, manifest_loc).count(),
        snapshot_spans=read_table(spark, snapshot_loc).count(),
        waves=args.waves,
        rate_docs=n_docs,
    )


if __name__ == "__main__":
    main()
