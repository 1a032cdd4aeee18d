"""Span-sequence golden tests: Spark pipeline vs the pure-Python oracle.

The north-rule invariant: per doc_id, strict sequence equality on
(kind, text, media_ref, order).
"""

from __future__ import annotations

import re

import pandas as pd
import pytest
from pyspark.sql import functions as F, types as T

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


def _final_exchanges(df) -> list[str]:
    """Run ``df`` and return the arguments of every shuffle that ran: the
    Exchange nodes of the AQE final plan, minus the ones it reused."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    final = plan.split("== Initial Plan ==")[0]
    return [
        re.sub(r"#\d+|, \[plan_id=\d+\]", "", m)
        for m in re.findall(r"^[\s:|+\-]*Exchange (.*)$", final, re.M)
    ]


def test_table_input_runs_the_dedup_chain_once(spark, sf_dir, tmp_path):
    """A parquet read makes ``spans`` nullable. A nullable content_hash let
    the optimizer push an inferred ``isnotnull`` into the JVM legs but not
    past the Python leg's mapInPandas, so the legs' dedup chains stopped
    matching and ran twice. With media pages and office blobs (all three
    legs), the md5 exchange and the exchange under the legs each run once."""
    from text_extract_api_spark.io import read_table, write_table
    from text_extract_api_spark.synth import synthesize_interleaved_office

    tables = dict(
        zip(("docs", "media", "office"), synthesize_interleaved_office(spark, sf_dir))
    )
    for name, df in tables.items():
        write_table(df, str(tmp_path / name), mode="overwrite")
    docs, media, office = (read_table(spark, str(tmp_path / n)) for n in tables)
    assert docs.schema["spans"].nullable
    results, _ = run_extract_pipeline(
        spark, docs, media.select("media_ref", "page_no", "page_text"), None,
        "table", office_blobs=office,
    )
    exchanges = _final_exchanges(results)
    by_hash = [e for e in exchanges if e.startswith("hashpartitioning(content_hash,")]
    by_num = [e for e in exchanges if "REPARTITION_BY_NUM" in e]
    assert len(by_hash) == 1, exchanges
    assert len(by_num) == 1 and by_num[0].startswith("hashpartitioning(key,"), exchanges
    assert results.count() == docs.count()


def test_nullable_table_input_hashes_and_rows(spark, tmp_path):
    """A parquet-read table holding a doc with null spans, one with [] and
    two duplicates. The null and the [] doc each get a result row with no
    spans, computed (never cached) with or without a cache; the duplicates
    share one extraction. Every hash of
    a non-null payload is the md5 of the canonical payload, so cache
    tables written by earlier runs keep hitting."""
    import hashlib

    from text_extract_api_spark.pipeline import RS, US
    from text_extract_api_spark.schema import SPANS_TYPE

    spans = [("html", "<p>same</p>", "", 1), ("text", "a b", "", 0)]
    rows = [("n", None), ("e", []), ("d1", spans), ("d2", spans),
            ("u", [("markdown", "# head", "", 0)])]
    schema = T.StructType([T.StructField("doc_id", T.StringType(), False),
                           T.StructField("spans", SPANS_TYPE, True)])
    loc = str(tmp_path / "docs")
    spark.createDataFrame(rows, schema).write.parquet(loc)
    docs = spark.read.parquet(loc)

    hashes = {r["doc_id"]: r["content_hash"] for r in with_content_hash(docs).collect()}
    for doc_id, doc_spans in rows:
        if doc_spans is None:
            assert not hashes[doc_id]
            continue
        payload = RS.join(
            US.join((k, t, m)) for k, t, m, _ in sorted(doc_spans, key=lambda s: s[3])
        )
        assert hashes[doc_id] == hashlib.md5(payload.encode()).hexdigest(), doc_id

    def collect(results):
        return {
            r["doc_id"]: (r["content_hash"], [tuple(s) for s in r["spans"]], r["from_cache"])
            for r in results.collect()
        }

    results, new_cache = run_extract_pipeline(spark, docs, None, None, "cold")
    cold = collect(results)
    assert cold == {
        "d1": (hashes["d1"], [("text", "a b", "", 0), ("html", "same", "", 1)], False),
        "d2": (hashes["d1"], [("text", "a b", "", 0), ("html", "same", "", 1)], False),
        "u": (hashes["u"], [("markdown", "head", "", 0)], False),
        "n": ("", [], False),
        "e": (hashlib.md5(b"").hexdigest(), [], False),
    }
    assert new_cache.count() == 2

    # the cache holds only docs with spans: n and e are computed again
    results, new_cache = run_extract_pipeline(spark, docs, None, new_cache, "warm")
    assert collect(results) == {
        k: (h, s, bool(s)) for k, (h, s, _) in cold.items()
    }
    assert new_cache.count() == 0
