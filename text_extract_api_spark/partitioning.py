"""Per-document payload size.

``payload_size_col`` is the corpus-size statistic: the jobs sum it in an
``Observation`` to size their shuffles (``jobrun.Job.size_shuffles``) and
the progress markers record it per bucket.

Skew from oversized media documents (the synthesizer inflates ~1% of
documents 50×, synth.py) is left to AQE's runtime skew-join splitting and
coalescing (session.py). No job salts its input: the pipeline's reattach
join re-partitions by ``doc_id`` whatever the input layout, so a salted
pre-shuffle would be undone by the next exchange.
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
    """Repartition on (log2 size class, pmod(xxhash64(doc_id), salt_buckets)).

    No job calls this; only the benchmark's ``partitioning`` trace layer
    still does, and it goes with that layer."""
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
