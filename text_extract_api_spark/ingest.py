"""Raw-bytes ingest + format sniffing — the engine's front door.

The reference's entry point is raw bytes + MIME sniff: ``libmagic`` over the
first bytes (``files/file_formats/file_format.py:205-211``) followed by a
format-class dispatch (``file_format.py:196-202``), with a defensive
magic-byte check in the PDF class (``pdf.py:32-34`` ``%PDF`` header). The
engine re-expresses this as:

- :func:`read_binary_files` — ``spark.read.format("binaryFile")`` over a
  directory: one row per file, ``(path, modificationTime, length,
  content:binary)``. At 100 TB the same operator reads an Iceberg table
  with a ``binary`` payload column; the sniff below is identical.
- :func:`sniff_fmt_col` — cheap magic-byte prefix dispatch as a pure
  codegen CASE chain over ``substring(content, 1, k)``: zero Python for
  every unambiguous format (pdf / png / jpeg / gif / zip container / html).
- :func:`resolve_zip_fmt` — the one ambiguous case: a ``PK\\x03\\x04`` zip
  container is docx, pptx, or a plain zip depending on its *member paths*
  (OOXML convention: ``word/`` vs ``ppt/``). Resolved by a pandas UDF over
  ONLY the zip-sniffed rows (filtered Arrow leg — the same only-pay-if-hit
  shape as the html/office extraction legs).

Scale notes: the sniff is a narrow map (no shuffle); the zip-resolution UDF
reads only the container's central directory via zipfile (bounded work per
row, not proportional to payload size — it never decompresses members).
"""

from __future__ import annotations

import io
import zipfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

# (kind, fmt, magic prefix) — checked in order; first hit wins, mirroring
# the reference's class-dispatch priority (file_format.py:196-202).
MAGIC_PREFIXES: list[tuple[str, str, bytes]] = [
    ("pdf", "pdf", b"%PDF"),
    ("image", "png", bytes.fromhex("89504E470D0A1A0A")),
    ("image", "jpeg", b"\xff\xd8\xff"),
    ("image", "gif", b"GIF8"),
    ("zip", "zip", b"PK\x03\x04"),
]

# fmt → span kind (the engine's routing domain, schema.KINDS).
FMT_TO_KIND = {
    "pdf": "pdf",
    "png": "image",
    "jpeg": "image",
    "gif": "image",
    "zip": "zip",
    "docx": "docx",
    "pptx": "pptx",
    "html": "html",
    "text": "text",
}


def sniff_fmt_col(content: Column) -> Column:
    """Magic-byte format sniff over a binary column — pure JVM CASE chain.

    Returns 'pdf'/'png'/'jpeg'/'gif'/'zip'/'html'/'text'. CASE branches
    evaluate lazily per row, so the html text-decode only runs for rows no
    binary magic matched.
    """
    expr = None
    for _, fmt, prefix in MAGIC_PREFIXES:
        cond = F.substring(content, 1, len(prefix)) == F.lit(prefix)
        expr = F.when(cond, F.lit(fmt)) if expr is None else expr.when(cond, F.lit(fmt))
    # html detection is case-insensitive on the decoded text prefix (the
    # reference delegates this distinction to libmagic's text heuristics).
    # try_cast, NOT decode: strict UTF-8 decode throws on any payload that
    # matched no binary magic and isn't clean ASCII at the cut (mp3/bmp/tiff
    # fall through to here!) — a poison row must not kill the job. try_cast
    # substitutes U+FFFD for malformed bytes, which simply fails the match.
    # Tolerate a leading BOM / whitespace / newlines before the tag (libmagic
    # does; byte-0-only matching demoted real HTML to 'text' — ADVICE r2).
    # Bounded: only the first 64 decoded bytes are considered, so a row with
    # pathological leading whitespace degrades to 'text', never to a scan.
    stripped = F.regexp_replace(
        F.substring(content, 1, 64).try_cast("string"), "^[\\s﻿]+", ""
    )
    doctype = F.upper(F.substring(stripped, 1, 9)) == "<!DOCTYPE"
    htag = F.upper(F.substring(stripped, 1, 5)) == "<HTML"
    return expr.when(doctype | htag, F.lit("html")).otherwise(F.lit("text"))


def _zip_fmt(b) -> str:
    """docx / pptx / zip from an OOXML container's member paths.

    Reads only the zip central directory (namelist) — bounded per-row work,
    no member decompression.
    """
    try:
        with zipfile.ZipFile(io.BytesIO(bytes(b))) as z:
            names = z.namelist()
    except Exception:
        return "zip"
    if any(n.startswith("word/") for n in names):
        return "docx"
    if any(n.startswith("ppt/") for n in names):
        return "pptx"
    return "zip"


def resolve_zip_fmt(
    df: DataFrame, content_col: str = "content", fmt_col: str = "fmt"
) -> DataFrame:
    """Refine fmt='zip' rows to docx/pptx/zip via a filtered pandas-UDF leg.

    Only zip-sniffed rows cross the Arrow boundary; all other rows pass
    through untouched (separate JVM-only leg, unionByName).
    """
    zip_rows = df.filter(F.col(fmt_col) == "zip")
    rest = df.filter(F.coalesce(F.col(fmt_col) != "zip", F.lit(True)))

    cols = df.columns

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf[fmt_col] = pdf[content_col].map(_zip_fmt)
            yield pdf

    resolved = zip_rows.mapInPandas(op, zip_rows.schema)
    return resolved.select(*cols).unionByName(rest.select(*cols))


def kind_from_fmt_col(fmt: Column) -> Column:
    """fmt → routing kind (the engine's analog of accepted-MIME dispatch,
    pdf.py:10-11 / image.py:18-19 / file_format.py:199-202)."""
    expr = None
    for f_name, kind in FMT_TO_KIND.items():
        cond = fmt == f_name
        expr = F.when(cond, F.lit(kind)) if expr is None else expr.when(cond, F.lit(kind))
    return expr.otherwise(F.lit("text"))


def decode_base64_col(b64: Column) -> Column:
    """Base64 transport decode (S2 — the reference's ``from_base64``,
    file_format.py:54-59 / the POST /ocr/request JSON body, main.py:147-168).
    MIME newlines are tolerated, matching Python's ``base64.b64decode``."""
    return F.unbase64(F.regexp_replace(b64, "[\\r\\n]", ""))


def read_binary_files(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """Raw-file ingest: one row per file with the payload as binary.

    The batch analog of the reference's multipart upload (main.py:39-73) —
    at scale, point this at an object-store prefix; Spark lists and splits
    the files across executors.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def ingest_binary(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Full S3 operator: binary rows → typed rows with (fmt, kind) columns.

    Cheap magic sniff (codegen) + zip-container resolution (filtered pandas
    leg) — the Spark re-expression of ``FileFormat.from_binary``
    (file_format.py:62-71, 196-211).
    """
    sniffed = df.withColumn("fmt", sniff_fmt_col(F.col(content_col)))
    resolved = resolve_zip_fmt(sniffed, content_col=content_col)
    return resolved.withColumn("kind", kind_from_fmt_col(F.col("fmt")))
