"""Output check: every job result is compared per document with a digest
of the cache-free extraction path, computed once at set-up."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, functions as F

from text_extract_api_spark.pipeline import extract_flat_no_cache, sorted_spans


def spans_digest(spans_col) -> F.Column:
    return F.md5(F.to_json(sorted_spans(spans_col)))


def reference_digests(spark, docs: DataFrame, media=None, office=None) -> dict[str, str]:
    """doc_id → digest of the cache-free path (``extract_flat_no_cache``),
    reassembled into offset-ordered span arrays like the job's results."""
    flat = extract_flat_no_cache(spark, docs, media, office)
    grouped = flat.groupBy("doc_id").agg(
        F.collect_list(F.struct("kind", "text", "media_ref", "offset")).alias("spans")
    )
    rows = grouped.select("doc_id", spans_digest(F.col("spans")).alias("d")).collect()
    return {r["doc_id"]: r["d"] for r in rows}


def corrupt_one(results: DataFrame, doc_id: str) -> DataFrame:
    """Append one character to the first span of ``doc_id`` (self-test)."""
    return results.withColumn(
        "spans",
        F.when(
            F.col("doc_id") == doc_id,
            F.transform(
                "spans",
                lambda s, i: F.when(
                    i == 0, s.withField("text", F.concat(s["text"], F.lit("#")))
                ).otherwise(s),
            ),
        ).otherwise(F.col("spans")),
    )


def check_results(results: DataFrame, reference: dict[str, str]) -> tuple[int, int, dict[str, int]]:
    """(attempted, failed, reasons). A reference doc fails when its output
    row is missing, duplicated, differs from the reference, or says
    ``from_cache`` (every call writes into a fresh, empty output dir, so a
    cache hit means state leaked between calls). Output rows for unknown
    doc_ids also count as failures."""
    rows = results.select(
        "doc_id", spans_digest(F.col("spans")).alias("d"), "from_cache"
    ).collect()
    seen = Counter(r["doc_id"] for r in rows)
    got = {r["doc_id"]: (r["d"], bool(r["from_cache"])) for r in rows}
    reasons: Counter = Counter()
    for doc_id, want in reference.items():
        if seen[doc_id] == 0:
            reasons["missing"] += 1
        elif seen[doc_id] > 1:
            reasons["duplicated"] += 1
        elif got[doc_id][0] != want:
            reasons["differs"] += 1
        elif got[doc_id][1]:
            reasons["from_cache"] += 1
    reasons["unknown"] = sum(n for d, n in seen.items() if d not in reference)
    failed = min(len(reference), sum(reasons.values()))
    return len(reference), failed, dict(reasons)
