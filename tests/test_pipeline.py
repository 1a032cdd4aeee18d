"""Span-sequence golden tests: Spark pipeline vs the pure-Python oracle.

The north-rule invariant: per doc_id, strict sequence equality on
(kind, text, media_ref, order).
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from text_extract_api_spark.pipeline import (
    extract_flat_no_cache,
    run_extract_pipeline,
    with_content_hash,
)
from text_extract_api_spark.synth import synthesize_interleaved

from .oracle import expected_extraction


@pytest.fixture(scope="module")
def synth(spark, sf_dir):
    docs, media = synthesize_interleaved(spark, sf_dir)
    docs = docs.persist()
    media = media.persist()
    yield docs, media
    docs.unpersist()
    media.unpersist()


@pytest.fixture(scope="module")
def expected(sf_dir):
    pdf = pd.read_parquet(f"{sf_dir}/documents.parquet")
    return expected_extraction(pdf)


def _collect_flat(df) -> dict[str, list[tuple]]:
    out: dict[str, list[tuple]] = {}
    for r in df.collect():
        out.setdefault(r["doc_id"], []).append(
            (r["kind"], r["text"], r["media_ref"], r["offset"])
        )
    for v in out.values():
        v.sort(key=lambda s: s[3])
    return out


def test_flat_extraction_matches_oracle(spark, synth, expected):
    docs, media = synth
    got = _collect_flat(extract_flat_no_cache(spark, docs, media))
    assert set(got) == set(expected)
    for doc_id in expected:
        assert got[doc_id] == expected[doc_id], f"doc {doc_id} mismatch"


def test_permutation_invariance(spark, synth, expected):
    """Shuffled/odd-partitioned input must yield identical span sequences —
    order may never come from partition layout."""
    docs, media = synth
    shuffled = docs.repartition(7).sortWithinPartitions(F.md5("doc_id"))
    got = _collect_flat(extract_flat_no_cache(spark, shuffled, media))
    for doc_id in expected:
        assert got[doc_id] == expected[doc_id]


def test_full_pipeline_results_match_oracle(spark, synth, expected):
    docs, media = synth
    results, new_cache = run_extract_pipeline(spark, docs, media, None, "t1")
    rows = results.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id", "s.kind", "s.text", "s.media_ref", "s.offset"
    )
    got = _collect_flat(rows)
    for doc_id in expected:
        assert got[doc_id] == expected[doc_id]


def test_cache_hit_branch_short_circuits(spark, synth):
    docs, media = synth
    _, cache1 = run_extract_pipeline(spark, docs, media, None, "warm")
    cache1 = cache1.persist()
    results2, new2 = run_extract_pipeline(spark, docs, media, cache1, "second")
    assert results2.filter(~F.col("from_cache")).count() == 0
    assert new2.count() == 0
    assert results2.count() == docs.count()
    cache1.unpersist()


def test_duplicate_payloads_share_hash_and_results(spark, synth):
    docs, _ = synth
    hashed = with_content_hash(docs)
    dups = (
        hashed.groupBy("content_hash")
        .agg(F.count("*").alias("n"), F.collect_list("doc_id").alias("ids"))
        .filter(F.col("n") > 1)
    )
    rows = dups.collect()
    assert len(rows) > 0, "synthesizer must produce duplicate payloads"
    for r in rows:
        ids = sorted(int(i) for i in r["ids"])
        assert len(ids) == 2 and ids[1] - ids[0] == 7


def test_compute_once_per_distinct_payload(spark, synth):
    """Duplicate docs must produce identical extracted spans (fan-back join)."""
    docs, media = synth
    results, _ = run_extract_pipeline(spark, docs, media, None, "t2")
    per_hash = results.groupBy("content_hash").agg(
        F.countDistinct(F.to_json("spans")).alias("variants")
    )
    assert per_hash.filter(F.col("variants") > 1).count() == 0


def test_office_and_quarantine_legs(spark, sf_dir):
    """Flagship-job corpus (VERDICT r2 item 5): docx/pptx spans extract real
    OOXML text via the office legs, and quarantined (bit-rot) media pages
    drop out of the pdf page concat."""
    import hashlib

    from text_extract_api_spark.extractors.media import (
        CORRUPT_MD5_PREFIX,
        validate_media_pages,
    )
    from text_extract_api_spark.synth import synthesize_interleaved_office

    from .oracle import anonymize, norm

    docs, media, blobs = synthesize_interleaved_office(spark, sf_dir)
    validated = validate_media_pages(media).persist()
    media_ok = validated.filter(F.col("valid")).select(
        "media_ref", "page_no", "page_text"
    )
    flat = extract_flat_no_cache(spark, docs, media_ok, office_blobs=blobs)
    office_rows = flat.filter(F.col("kind").isin("docx", "pptx")).collect()
    assert office_rows, "no office spans in the office corpus"
    # every office span extracted its blob's source chunk (normalized+anon)
    src = pd.read_parquet(f"{sf_dir}/documents.parquet")
    text_by_id = dict(zip(src["doc_id"].astype(str), src["text"]))
    for r in office_rows:
        eff_id = int(r["media_ref"].split("://")[1])
        expected = anonymize(norm(text_by_id[str(eff_id)][:120]))
        assert r["text"] == expected, f"office span {r['media_ref']} mismatch"
        assert r["offset"] == 6 and r["media_ref"].startswith("office://")

    # quarantined pages must not appear in any pdf span's concatenated text
    bad = validated.filter(~F.col("valid")).collect()
    assert bad, "stub quarantine produced no invalid pages at this sf"
    bad_texts = {r["page_text"] for r in bad}
    assert all(
        hashlib.md5(t.encode()).hexdigest().startswith(CORRUPT_MD5_PREFIX)
        for t in bad_texts
    )
    pdf_texts = {
        r["media_ref"]: r["text"] for r in flat.filter(F.col("kind") == "pdf").collect()
    }
    bad_by_ref = {}
    for r in bad:
        bad_by_ref.setdefault(r["media_ref"], []).append(r["page_text"])
    hit = 0
    for ref, pages in bad_by_ref.items():
        if ref in pdf_texts:
            hit += 1
            for page in pages:
                page_norm = anonymize(norm(page))
                if page_norm:
                    assert page_norm not in pdf_texts[ref].split("\n\n"), (
                        f"quarantined page of {ref} leaked into the pdf span"
                    )
    assert hit > 0
    validated.unpersist()


def test_every_leg_runs_on_every_core(spark):
    """The extraction legs are union children. Left to AQE's coalescing,
    they split its minimum parallelism between them and each ran one task,
    so one core parsed every html row. The pipeline puts one
    explicit-count exchange under the legs; the extraction stage (the
    job group's largest) runs the Python leg and the column leg, each on
    every core: exactly 2 × shuffle.partitions tasks (the pdf leg declines
    without a page store, and the Python leg is one leg for html and
    office). A media-less pdf span still extracts to '' and keeps its
    media_ref."""
    from text_extract_api_spark.schema import DOCS_INTERLEAVED_SCHEMA

    rows = [
        (
            f"h{i:04d}",
            [("html", f"<html><body><p>doc {i} part {j}</p></body></html>", "", j)
             for j in range(3)]
            + [("text", f"plain {i}", "", 3)],
        )
        for i in range(400)
    ] + [("p0000", [("pdf", "", "pdf://p0000", 0)])]
    docs = spark.createDataFrame(rows, DOCS_INTERLEAVED_SCHEMA)
    results, _ = run_extract_pipeline(spark, docs, None, None, "legs")
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))

    sc = spark.sparkContext
    sc.setJobGroup("every_leg_every_core", "extraction stage task counts")
    try:
        got = _collect_flat(
            results.select("doc_id", F.explode("spans").alias("s")).select(
                "doc_id", "s.kind", "s.text", "s.media_ref", "s.offset"
            )
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    task_counts = [
        tracker.getStageInfo(sid).numTasks
        for jid in tracker.getJobIdsForGroup("every_leg_every_core")
        for sid in tracker.getJobInfo(jid).stageIds
        if tracker.getStageInfo(sid) is not None
    ]
    assert max(task_counts) == 2 * n_parts, task_counts

    assert len(got) == 401
    assert got["h0007"][1] == ("html", "doc 7 part 1", "", 1)
    assert got["p0000"] == [("pdf", "", "pdf://p0000", 0)]
