"""Benchmark runner — one JSON line for the round driver.

Runs the flagship extraction pipeline plus the headline operator queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints:

    {"metric": "e2e_extraction_wall_sec", "value": <sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": ..., "docs_per_sec": ...}

Every timing uses the noop sink so the full plan executes (count() alone
would let Catalyst prune most of the work).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from text_extract_api_spark.extractors.media import validate_media_pages
from text_extract_api_spark.pipeline import run_extract_pipeline
from text_extract_api_spark.session import get_spark
from text_extract_api_spark.synth import synthesize_interleaved_office

HEADLINE = [
    "pipeline_extract_flat",
    "pipeline_extract_office",
    "bigram_logppl",
    "decontaminate_fuzzy",
    "decontaminate_semantic",
    "quality_char_entropy",
    "batch_by_length",
    "temperature_mix",
    "tokenizer_fertility",
    "snapshot_diff",
    "quality_percentile_gate",
    "holdout_split",
    "dedup_minhash_neardups",
    "neardup_clusters",
    "dedup_simhash",
    "quality_repetition",
    "quality_gopher_rules",
    "quality_c4_rules",
    "semdedup_kmeans",
    "prune_prototypes",
    "dedup_substrings",
    "quality_unigram_logppl",
    "ccnet_ppl_buckets",
    "dsir_select",
    "kl_drift",
    "quality_classifier",
    "corpus_datacard",
    "neardup_keep_best",
    "bpe_train_merges",
    "bpe_apply",
    "dedup_intradoc",
    "decontaminate_ngrams",
    "dedup_paragraphs",
    "chunk_windows",
    "pack_sequences",
    "pack_multimodal",
    "span_kind_stats",
    "url_domain_stats",
    "ner_anonymize",
    "vocab_topk",
    "length_quantiles",
    "events_asof_purchase",
    "quota_per_source",
    "quota_tokens_per_source",
    "sample_soft_quality",
    "interleave_stats",
    "media_text_pairing",
    "epoch_shuffle",
    "mm_corpus_prep",
    "span_boilerplate_strip",
    "span_boilerplate_apply",
    "media_reuse_stats",
    "shard_assign",
    "corpus_prep_e2e",
    "dedup_embedding_cosine",
    "dedup_incremental",
    "dedup_exact_normalized",
    "tfidf_topk_terms",
    "url_canonicalize",
    "ann_quantized_topk",
    "ann_pq_topk",
    "ann_cosine_topk",
    "ann_batch_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "ann_ivf_append_topk",
    "ann_pq_append_topk",
    "ann_quantized_append_topk",
    "pdf_text_extract",
    "warc_ingest",
    "image_header_meta",
    "html_to_markdown",
    "html_outlinks",
    "decontaminate_bloom",
    "anchor_text_agg",
    "link_pagerank",
    "media_image_metadata",
    "quality_score",
    "page_explode_concat",
    "pii_anonymize",
    "tpch_q1_pricing_summary",
    "tpch_q3_top_orders",
    "tpch_q6_revenue",
    "events_sessionize",
    "events_hourly_rollup",
]


def _time_noop(make_df) -> float:
    """Time plan CONSTRUCTION + execution: some operators (scoped-cache
    dedup) run their consuming action eagerly inside the query function, so
    timing only the final noop write would under-report them."""
    t0 = time.time()
    make_df().write.format("noop").mode("overwrite").save()
    return time.time() - t0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").split("sf")[-1]

    spark = get_spark("bench", master=f"local[{cpus}]")

    # --- flagship: full pipeline incl. result write (the BASELINE metric).
    # Warmup pass + min-of-2 timed passes: the single-shot timing made the
    # headline the least noise-protected number in the file (r2 verdict
    # item 3 — the driver saw 11.0 s where a same-day local run saw 6.6 s).
    ambient_load = os.getloadavg()[0]
    out_dir = tempfile.mkdtemp(prefix="bench_out_")
    try:
        # the flagship corpus matches jobs/spans_extract.py since r3: office
        # (docx/pptx) spans + blob sidecar, and the media-validity quarantine
        # split runs inside the timed window (it is part of the job)
        docs, media, blobs = synthesize_interleaved_office(spark, sf_dir)
        docs = docs.persist()
        n_docs = docs.count()  # materialize input outside the timed window
        blobs = blobs.persist()
        blobs.count()

        def _run_flagship() -> float:
            t0 = time.time()
            validated = validate_media_pages(media).persist()
            try:
                validated.filter(~F.col("valid")).write.format("noop").mode(
                    "overwrite"
                ).save()  # the quarantine sink write
                media_ok = validated.filter(F.col("valid")).select(
                    "media_ref", "page_no", "page_text"
                )
                results, _ = run_extract_pipeline(
                    spark, docs, media_ok, None, "bench", office_blobs=blobs
                )
                results.write.mode("overwrite").parquet(f"{out_dir}/results")
            finally:
                validated.unpersist()
            return time.time() - t0

        _run_flagship()  # warmup: JIT, codegen compile, shuffle-service spinup
        e2e_sec = min(_run_flagship() for _ in range(2))
        docs.unpersist()
        blobs.unpersist()
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)

    # --- headline operator queries (best of 2: single-shot timings on a
    # shared box are ±5s noisy; min-of-2 reports the plan's real cost) ---
    qs = entrymod.queries()
    per_query: dict[str, float] = {}
    for name in HEADLINE:
        per_query[name] = round(
            min(
                _time_noop(lambda name=name: qs[name](spark, sf_dir))
                for _ in range(2)
            ),
            3,
        )
        # no clearCache needed: no operator pins caches anymore (dedup's
        # multi-consumer intermediates materialize via reused exchanges)

    # per-query delta vs the most recent recorded round, so regressions are
    # visible round-over-round (VERDICT r1 item 10)
    delta_vs_prev: dict[str, float] = {}
    prev_paths = sorted(
        glob.glob(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_r*.json"))
    )
    if prev_paths:
        try:
            with open(prev_paths[-1]) as f:
                prev = json.load(f)
            # the driver wraps bench output under 'parsed'
            prev_q = (prev.get("parsed") or prev).get("queries", {})
            for name, sec in per_query.items():
                if name in prev_q and prev_q[name] > 0:
                    delta_vs_prev[name] = round(sec / prev_q[name] - 1.0, 3)
        except Exception:
            pass

    print(
        json.dumps(
            {
                "metric": "e2e_extraction_wall_sec",
                "value": round(e2e_sec, 3),
                "unit": "sec",
                "queries": per_query,
                "sf": sf,
                "docs": n_docs,
                "docs_per_sec": round(n_docs / e2e_sec, 2),
                "cpus": cpus,
                "ambient_load": round(ambient_load, 2),
                "delta_vs_prev": delta_vs_prev,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
