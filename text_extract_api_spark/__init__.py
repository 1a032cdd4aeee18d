"""text_extract_api_spark — a PySpark-native document-extraction engine.

A brand-new batch/streaming extraction engine with the capabilities of the
reference service ``tonner007/text-extract-api`` (FastAPI + Celery + Redis
per-document OCR/extraction pipeline), re-expressed Spark-first:

- input: table of interleaved text + media documents,
  ``(doc_id: string, spans: array<struct<kind, text, media_ref, offset>>)``
- per-kind vectorized extraction (text / html / markdown / pdf / image / pii)
- content-hash cache dedup (the reference's Redis memoization,
  ``text_extract_api/extract/tasks.py:44-69``) as a left-anti join
- ordered span reassembly with strict ``(kind, text, media_ref, order)``
  sequence equality
- per-partition checkpoint/lineage for resumability, AQE everywhere
  (runtime skew-join splitting for media-size skew).

All heavy logic is either JVM-side ``pyspark.sql.functions`` (whole-stage
codegen) or Arrow-batched pandas UDFs — never per-row Python.
"""

__version__ = "0.1.0"
