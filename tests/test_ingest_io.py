"""Binary ingest (S1/S3/F3/P2), media validity (P3), storage list/delete (S6)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from text_extract_api_spark.extractors.media import (
    validate_images,
    verify_image,
)
from text_extract_api_spark.extractors.office import make_docx, make_pptx
from text_extract_api_spark.ingest import (
    ingest_binary,
    read_binary_files,
    sniff_fmt_col,
)
from text_extract_api_spark.io import (
    delete_table,
    list_tables,
    table_exists,
    write_table,
)


def test_read_binary_files_and_sniff(spark, tmp_path):
    """The reference's front door: raw files on disk → typed rows
    (file_format.py:62-71,196-211)."""
    (tmp_path / "a.pdf").write_bytes(b"%PDF-1.7\nhello")
    (tmp_path / "b.png").write_bytes(bytes.fromhex("89504E470D0A1A0A") + b"x")
    (tmp_path / "c.html").write_bytes(b"<!doctype html><html>hi</html>")
    (tmp_path / "d.docx").write_bytes(make_docx(["para"]))
    (tmp_path / "e.txt").write_bytes(b"just words")

    df = ingest_binary(read_binary_files(spark, str(tmp_path)))
    got = {
        os.path.basename(r["path"]): (r["fmt"], r["kind"])
        for r in df.select("path", "fmt", "kind").collect()
    }
    assert got == {
        "a.pdf": ("pdf", "pdf"),
        "b.png": ("png", "image"),
        "c.html": ("html", "html"),
        "d.docx": ("docx", "docx"),
        "e.txt": ("text", "text"),
    }


def test_sniff_magic_priority_and_pdf_predicate(spark):
    rows = [
        ("pdf", b"%PDF-1.4"),
        ("jpeg", b"\xff\xd8\xff\xe1exif"),
        ("gif", b"GIF87a"),
        ("zip_corrupt", b"PK\x03\x04 not really"),
        ("pptx", make_pptx([["s"]])),
        ("html_upper", b"<HTML><BODY>"),
        # real-world HTML often leads with a BOM / whitespace / newline —
        # libmagic tolerates it, so the sniff must too (ADVICE r2)
        ("html_bom", b"\xef\xbb\xbf\n  <!doctype html><html>"),
        ("html_ws", b"  \r\n<html lang=en>"),
        ("text", b"GIF not at start? no: plain"),
    ]
    df = spark.createDataFrame(rows, "tag string, content binary")
    out = ingest_binary(df)
    got = {r["tag"]: (r["fmt"], r["kind"]) for r in out.collect()}
    assert got["pdf"] == ("pdf", "pdf")
    assert got["jpeg"] == ("jpeg", "image")
    assert got["gif"] == ("gif", "image")
    # unparseable PK container stays a generic zip
    assert got["zip_corrupt"] == ("zip", "zip")
    assert got["pptx"] == ("pptx", "pptx")
    assert got["html_upper"] == ("html", "html")
    assert got["html_bom"] == ("html", "html")
    assert got["html_ws"] == ("html", "html")
    assert got["text"] == ("text", "text")


def test_sniff_is_pure_codegen(spark):
    """The magic-prefix sniff must not cross into Python (S3 'cheap path')."""
    df = spark.createDataFrame([("a", b"%PDF-x")], "tag string, content binary")
    plan = df.select(sniff_fmt_col(F.col("content")))._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_verify_image_stub_deterministic():
    ok, reason = verify_image(b"")
    assert (ok, reason) == (False, "empty_payload")
    # md5(b'corrupt-me-f...') — find a payload in the corrupt slice
    import hashlib

    payload = next(
        bytes([i]) + b"x" for i in range(256)
        if hashlib.md5(bytes([i]) + b"x").hexdigest().startswith("f")
    )
    assert verify_image(payload) == (False, "decode_error")
    good = b"this payload hashes elsewhere"
    assert hashlib.md5(good).hexdigest()[0] != "f"
    assert verify_image(good) == (True, "")


def test_validate_images_quarantine_split(spark):
    rows = [
        ("m1", 1, b""),  # empty → quarantined
        ("m2", 1, b"healthy payload q"),
    ]
    df = spark.createDataFrame(rows, "media_ref string, page_no int, payload binary")
    got = {r["media_ref"]: r for r in validate_images(df).collect()}
    assert got["m1"]["valid"] is False and got["m1"]["reason"] == "empty_payload"
    import hashlib

    expect_valid = not hashlib.md5(b"healthy payload q").hexdigest().startswith("f")
    assert got["m2"]["valid"] is expect_valid


def test_storage_list_delete(spark, tmp_path):
    """A plain path and a ``file://`` URI both list and delete through the
    session's Hadoop FileSystem, as ``s3a://`` and ``hdfs://`` locations
    must (an ``os.path`` listing saw no directory at a URI)."""
    for base in (str(tmp_path / "wh_path"), (tmp_path / "wh_uri").as_uri()):
        df = spark.range(5).select(F.col("id"))
        write_table(df, f"{base}/t1", mode="overwrite")
        write_table(df, f"{base}/t2", mode="overwrite")
        assert list_tables(spark, base) == ["t1", "t2"]
        assert delete_table(spark, f"{base}/t1") is True
        assert list_tables(spark, base) == ["t2"]
        assert delete_table(spark, f"{base}/t1") is False  # already gone
    assert not (tmp_path / "wh_uri" / "t1").exists()
    assert list_tables(spark, str(tmp_path / "missing")) == []
    assert list_tables(spark, (tmp_path / "missing").as_uri()) == []


def test_table_exists_answers_missing_without_a_read(spark, tmp_path, monkeypatch):
    """A missing location is answered by the filesystem, not by a parquet
    read: the read logs a FileNotFoundException stack trace, and every job
    into a fresh output dir probes a missing cache. An empty directory
    still reads as absent, a written table as present."""
    from pyspark.sql.readwriter import DataFrameReader

    write_table(spark.range(3), str(tmp_path / "t"), mode="overwrite")
    (tmp_path / "empty").mkdir()
    assert table_exists(spark, str(tmp_path / "t")) is True
    assert table_exists(spark, str(tmp_path / "empty")) is False

    def no_read(self, *paths, **options):
        raise AssertionError(f"parquet read of {paths}")

    monkeypatch.setattr(DataFrameReader, "parquet", no_read)
    assert table_exists(spark, str(tmp_path / "missing")) is False
    assert table_exists(spark, f"file://{tmp_path}/missing/cache") is False


def test_raw_files_job_end_to_end(spark, tmp_path):
    """The reference's flagship user flow on the engine: a directory of
    actual files → sniff → dispatch → extracted spans (HTML stripped to the
    article, OOXML really parsed, PII masked)."""
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    import raw_files_extract

    inp = tmp_path / "files"
    inp.mkdir()
    (inp / "report.html").write_bytes(
        b'<!DOCTYPE html><html><body><nav><a href="/">Home</a></nav>'
        b"<article><p>Body text that matters.</p></article>"
        b"<footer>c</footer></body></html>"
    )
    (inp / "notes.txt").write_bytes(b"call 555-0147 maybe  spaced   out")
    (inp / "memo.docx").write_bytes(make_docx(["Alpha", "Beta"]))

    out = str(tmp_path / "out")
    summary = raw_files_extract.main(
        ["--input", str(inp), "--out", out], spark=spark
    )
    assert summary["docs"] == 3

    rows = {
        os.path.basename(r["doc_id"]): r["spans"][0]
        for r in spark.read.parquet(f"{out}/results").collect()
    }
    assert rows["report.html"]["kind"] == "html"
    assert rows["report.html"]["text"] == "Body text that matters."
    assert rows["memo.docx"]["kind"] == "docx"
    assert rows["memo.docx"]["text"] == "Alpha Beta"
    assert "ANONYMIZED" in rows["notes.txt"]["text"]
    assert "555" not in rows["notes.txt"]["text"]


def test_sniff_survives_poison_bytes(spark):
    """Regression (r2 review): unrecognized binary formats and truncated
    multibyte text fall into the html-check branch; a strict UTF-8 decode
    there killed the whole job. Sniff must be total over arbitrary bytes."""
    rows = [
        ("mp3", bytes.fromhex("FFFB9064") + b"\x00" * 8),
        ("bmp", b"BM\x8a\x02\x00\x00"),
        ("split_mb", b"12345678" + "é".encode()[0:1]),  # cut mid-codepoint
        ("latin1", "café".encode("latin-1")),
        ("doctype", b"<!DOCTYPE html><html>ok"),
    ]
    df = spark.createDataFrame(rows, "tag string, content binary")
    got = {r["tag"]: r["fmt"] for r in ingest_binary(df).collect()}
    assert got["doctype"] == "html"
    for tag in ("mp3", "bmp", "split_mb", "latin1"):
        assert got[tag] == "text"  # unknown bytes degrade, never crash


def test_raw_files_job_tolerates_non_utf8(spark, tmp_path):
    """Regression (r2 review): one latin-1 text file must not abort the
    run — lenient decode substitutes U+FFFD and the doc survives."""
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    import raw_files_extract

    inp = tmp_path / "files"
    inp.mkdir()
    (inp / "ok.txt").write_bytes(b"clean ascii")
    (inp / "legacy.txt").write_bytes("caf\xe9 au lait".encode("latin-1"))

    out = str(tmp_path / "out")
    summary = raw_files_extract.main(["--input", str(inp), "--out", out], spark=spark)
    assert summary["docs"] == 2
    rows = {
        os.path.basename(r["doc_id"]): r["spans"][0]["text"]
        for r in spark.read.parquet(f"{out}/results").collect()
    }
    assert rows["ok.txt"] == "clean ascii"
    assert "au lait" in rows["legacy.txt"]  # survived, lenient-decoded
