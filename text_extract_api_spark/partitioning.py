"""Skew handling: size-bucketed salted repartitioning.

North-rule requirement: "handles skew from oversized media documents via
salted repartitioning and adaptive coalesce". The synthesizer inflates ~1%
of documents 50× (synth.py OVERSIZE knobs) to make this observable.

Strategy (API-level, no custom Catalyst rule needed — SURVEY.md §4):
- estimate per-document payload size cheaply (sum of span text UTF-8
  byte lengths — a codegen'd expression, no Python);
- size bucket = log2 class of the payload size;
- salt = pmod(xxhash64(doc_id), S) so heavy docs of the same size class
  spread across S partitions;
- repartition on (size_bucket, salt) → each output partition carries a
  bounded byte volume instead of a bounded row count.

AQE (enabled in session.py) then coalesces the small ones back and splits
stragglers at shuffle time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def payload_size_col() -> F.Column:
    """UTF-8 bytes of a ``spans`` array's text (``length`` would count
    characters: 3 bytes each for CJK, 4 for emoji)."""
    return F.aggregate(
        F.col("spans"),
        F.lit(0).cast("long"),
        lambda acc, s: acc + F.coalesce(F.octet_length(s["text"]), F.lit(0)).cast("long"),
    )


def repartition_by_size(docs: DataFrame, num_partitions: int, salt_buckets: int = 16) -> DataFrame:
    sized = docs.withColumn("_bytes", payload_size_col())
    bucketed = sized.withColumn(
        "_size_bucket",
        F.when(F.col("_bytes") <= 0, F.lit(0)).otherwise(
            F.floor(F.log2(F.col("_bytes").cast("double") + 1.0)).cast("int")
        ),
    ).withColumn("_salt", F.pmod(F.xxhash64("doc_id"), F.lit(salt_buckets)).cast("int"))
    return (
        bucketed.repartition(num_partitions, "_size_bucket", "_salt")
        .drop("_bytes", "_size_bucket", "_salt")
    )
