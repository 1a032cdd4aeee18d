"""Canonical schemas for the extraction engine.

The interleaved-document shape comes from the build contract
(``BASELINE.json:input_hint``); it generalizes the reference's runtime
MIME-dispatch data model (``text_extract_api/files/file_formats/
file_format.py:196-211``) into a fixed columnar schema: one row per
document, one array element per span.
"""

from __future__ import annotations

from pyspark.sql import types as T

# kind domain — generalizes the reference's accepted MIME types
# (pdf.py:10-11, image.py:18-19) plus the north-rule kinds (html, docx, pptx).
KINDS = ("text", "html", "markdown", "pdf", "docx", "pptx", "image", "audio", "video", "pii_text")

# Kinds whose payload is inline text vs. referenced media.
TEXT_KINDS = ("text", "html", "markdown", "pii_text")
MEDIA_KINDS = ("pdf", "docx", "pptx", "image", "audio", "video")

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

SPANS_TYPE = T.ArrayType(SPAN_STRUCT, containsNull=False)

# Input table: interleaved text + media documents (BASELINE.json:input_hint).
DOCS_INTERLEAVED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", SPANS_TYPE, False),
    ]
)

# Sidecar media store: page payloads for pageable media (the engine analog of
# the reference's pdf2image page expansion, converters/pdf_to_jpeg.py:12-29).
# ``page_no`` is 1-based, matching ``enumerate(pages, start=1)`` there.
MEDIA_PAGES_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("page_no", T.IntegerType(), False),
        T.StructField("page_text", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),
    ]
)

# Extraction results table (same span shape as input → strict sequence
# equality checks are a single comparison).
RESULTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("content_hash", T.StringType(), False),
        T.StructField("spans", SPANS_TYPE, False),
        T.StructField("run_id", T.StringType(), True),
        T.StructField("from_cache", T.BooleanType(), False),
    ]
)

# Cache table — the engine analog of the reference's Redis memoization
# (tasks.py:44-48,68-69), keyed by md5 of the document payload
# (file_format.py:109-110).
CACHE_SCHEMA = T.StructType(
    [
        T.StructField("content_hash", T.StringType(), False),
        T.StructField("spans", SPANS_TYPE, False),
        T.StructField("run_id", T.StringType(), True),
    ]
)
