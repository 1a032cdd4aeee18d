"""Stdlib PDF text extraction (VERDICT r4 #5): real bytes in, exact text
out — classic-xref object graph, page-tree order, FlateDecode inflate,
Tj/'/"/TJ operator scan with the full literal-string escape set."""

from __future__ import annotations

import os
import zlib

import pytest
from pyspark.sql import functions as F

from text_extract_api_spark.extractors.pdf import (
    _scan_strings,
    extract_pdf_text,
    make_pdf,
    pdf_text_extract,
)


@pytest.mark.parametrize("compress", [True, False])
def test_roundtrip_exact(compress):
    pages = [
        "Plain first page.",
        "Parens (nested (deep)) and back\\slash and )stray(",
        "tab\there newline\nand CR\rchars",
        "x" * 1000,  # multi-chunk literal
        "",
    ]
    assert extract_pdf_text(make_pdf(pages, compress=compress)) == pages


@pytest.mark.parametrize("compress", [True, False])
@pytest.mark.parametrize("objstm", [True, False])
def test_non_latin1_text_roundtrips_as_utf16_hex(compress, objstm):
    """Text latin-1 cannot encode is written as a <FEFF…> UTF-16BE hex
    string and read back exactly (it used to come back as '?'), on a TJ
    page (even index) and a Tj page (odd index). A latin-1 page that
    begins with þÿ, the byte-order mark's latin-1 spelling, survives too."""
    pages = ["naïve Ωμέγα 中文 😀", "naïve Ωμέγα 中文 😀", "þÿ latin-1", "plain"]
    pdf = make_pdf(pages, compress=compress, objstm=objstm)
    assert extract_pdf_text(pdf) == pages


def test_page_order_follows_kids_not_object_order():
    # hand-built file whose /Kids order DISAGREES with object-number order:
    # the extractor must follow the tree (document order), not the ids
    def page(cid: int, pid: int, text: bytes) -> bytes:
        stream = b"BT (" + text + b") Tj ET"
        return (
            b"%d 0 obj\n<< /Length %d >>\nstream\n" % (cid, len(stream))
            + stream
            + b"\nendstream\nendobj\n"
            + b"%d 0 obj\n<< /Type /Page /Parent 5 0 R /Contents %d 0 R >>\nendobj\n"
            % (pid, cid)
        )

    pdf = (
        b"%PDF-1.4\n"
        + page(1, 2, b"obj-early")
        + page(3, 4, b"obj-late")
        + b"5 0 obj\n<< /Type /Pages /Kids [4 0 R 2 0 R] /Count 2 >>\nendobj\n"
        + b"6 0 obj\n<< /Type /Catalog /Pages 5 0 R >>\nendobj\n"
        + b"trailer\n<< /Root 6 0 R >>\n%%EOF\n"
    )
    assert extract_pdf_text(pdf) == ["obj-late", "obj-early"]
    # and the writer's own output stays in declared order
    assert extract_pdf_text(make_pdf(["first", "second", "third"])) == [
        "first", "second", "third"]


def test_escape_octal_and_hex_strings():
    # hand-built content stream: octal escapes + hex string + quote operator
    stream = b"BT (A\\101\\102) Tj <48656c6c6f> Tj (line) ' ET"
    body = b"<< /Length %d >>\nstream\n%s\nendstream" % (len(stream), stream)
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n" + body + b"\nendobj\n"
        b"2 0 obj\n<< /Type /Page /Parent 3 0 R /Contents 1 0 R >>\nendobj\n"
        b"3 0 obj\n<< /Type /Pages /Kids [2 0 R] /Count 1 >>\nendobj\n"
        b"4 0 obj\n<< /Type /Catalog /Pages 3 0 R >>\nendobj\n"
        b"trailer\n<< /Root 4 0 R >>\n%%EOF\n"
    )
    assert extract_pdf_text(pdf) == ["AABHelloline"]


def test_tj_array_keeps_segment_order_and_ignores_kerning():
    stream = b"BT [(seg one) -250 ( and ) 12 (seg two)] TJ ET"
    body = b"<< /Length %d >>\nstream\n%s\nendstream" % (len(stream), stream)
    pdf = (
        b"%PDF-1.4\n1 0 obj\n" + body + b"\nendobj\n"
        b"2 0 obj\n<< /Type /Page /Parent 3 0 R /Contents 1 0 R >>\nendobj\n"
        b"3 0 obj\n<< /Type /Pages /Kids [2 0 R] /Count 1 >>\nendobj\n"
        b"4 0 obj\n<< /Type /Catalog /Pages 3 0 R >>\nendobj\n"
        b"trailer\n<< /Root 4 0 R >>\n%%EOF\n"
    )
    assert extract_pdf_text(pdf) == ["seg one and seg two"]


def test_non_text_string_operands_are_not_emitted():
    # a string consumed by a non-show operator (e.g. a /Name + string for
    # a hypothetical op) must not leak into the page text
    stream = b"BT (shown) Tj (not shown) Tz (also shown) Tj ET"
    body = b"<< /Length %d >>\nstream\n%s\nendstream" % (len(stream), stream)
    pdf = (
        b"%PDF-1.4\n1 0 obj\n" + body + b"\nendobj\n"
        b"2 0 obj\n<< /Type /Page /Parent 3 0 R /Contents 1 0 R >>\nendobj\n"
        b"3 0 obj\n<< /Type /Pages /Kids [2 0 R] /Count 1 >>\nendobj\n"
        b"4 0 obj\n<< /Type /Catalog /Pages 3 0 R >>\nendobj\n"
        b"trailer\n<< /Root 4 0 R >>\n%%EOF\n"
    )
    assert extract_pdf_text(pdf) == ["shownalso shown"]


def test_name_operand_spelling_a_show_operator_is_not_one():
    # /Tj and /TJ are name operands (e.g. of gs or BMC), not text-show
    # operators: the strings before them are consumed by the real operator
    # that follows, and only the last string is shown
    assert _scan_strings(b"BT (drop) /Tj gs (keep) Tj ET") == ["keep"]
    assert _scan_strings(b"BT (a) /TJ BMC (b) Tj EMC ET") == ["b"]


@pytest.mark.parametrize("compress", [True, False])
def test_modern_objstm_layout_roundtrip(compress):
    """PDF 1.5+ layout: catalog/pages/page dicts live inside a FlateDecode
    /Type /ObjStm, /Root comes from the XRef stream dict, no classic
    trailer — the dominant born-digital shape must round-trip too."""
    pages = ["Modern page one.", "Parens (still (fine))", "x" * 900]
    pdf = make_pdf(pages, compress=compress, objstm=True)
    assert b"/ObjStm" in pdf and b"trailer" not in pdf
    assert extract_pdf_text(pdf) == pages


def test_corrupt_objstm_degrades_to_empty_not_crash():
    pdf = bytearray(make_pdf(["page one", "page two"], objstm=True))
    at = bytes(pdf).find(b"/ObjStm")
    start = bytes(pdf).find(b"stream\n", at) + len(b"stream\n")
    pdf[start : start + 4] = b"\x00\x00\x00\x00"  # break the deflate bytes
    got = extract_pdf_text(bytes(pdf))
    # page dicts are unrecoverable -> no pages; never an exception
    assert got == []


def test_objstm_does_not_shadow_direct_objects():
    # an ObjStm entry whose object number collides with a DIRECT object
    # must not replace it (setdefault semantics): malformed shadowing
    # can't swap a content stream for a packed dict
    from text_extract_api_spark.extractors.pdf import _parse_objects

    payload = zlib.compress(b"1 5 " + b"     " + b"<< /Shadow true >> ")
    objstm = (
        b"2 0 obj\n<< /Type /ObjStm /N 1 /First 5 /Length "
        + str(len(payload)).encode()
        + b" /Filter /FlateDecode >>\nstream\n"
        + payload
        + b"\nendstream\nendobj\n"
    )
    pdf = (
        b"%PDF-1.5\n"
        b"1 0 obj\n<< /Length 2 >>\nstream\nhi\nendstream\nendobj\n"
        + objstm
    )
    objs = _parse_objects(pdf)
    assert b"stream" in objs[1] and b"/Shadow" not in objs[1]


def test_never_raises_on_garbage():
    for junk in (
        b"",
        b"not a pdf",
        b"%PDF-1.4 then garbage",
        b"%PDF-1.4\n1 0 obj\n<< /Contents 9 0 R >>\nendobj\n",
        make_pdf(["ok"])[:-40],  # truncated tail
        b"%PDF-1.4\n1 0 obj\n<< /Length 5 /Filter /FlateDecode >>\n"
        b"stream\nnotzl\nendstream\nendobj\n",  # corrupt deflate
    ):
        assert isinstance(extract_pdf_text(junk), list)


def test_corrupt_flate_page_drops_only_that_stream():
    pdf = bytearray(make_pdf(["good page", "bad page", "also good"]))
    # corrupt the middle page's deflate bytes (page 2 content = object 2)
    marker = b"2 0 obj\n"
    at = bytes(pdf).find(marker)
    start = bytes(pdf).find(b"stream\n", at) + len(b"stream\n")
    pdf[start : start + 4] = b"\x00\x00\x00\x00"
    got = extract_pdf_text(bytes(pdf))
    assert got == ["good page", "", "also good"]


def test_distributed_operator_and_raw_files_job(spark, tmp_path):
    """pdf_text_extract over a binaryFile scan of real .pdf files on disk,
    then the raw-files job end-to-end: the pdf leg's span text must be the
    pages joined in 1-based order (reference: pdf_to_jpeg.py:16 ordering,
    easyocr.py:52-56 page concat)."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "jobs"))
    import raw_files_extract

    inp = tmp_path / "files"
    inp.mkdir()
    (inp / "two_pages.pdf").write_bytes(
        make_pdf(["First page text.", "Second page text."], compress=True)
    )
    (inp / "raw_stream.pdf").write_bytes(make_pdf(["Uncompressed."], compress=False))
    (inp / "notes.txt").write_bytes(b"plain text file")

    out = str(tmp_path / "out")
    summary = raw_files_extract.main(["--input", str(inp), "--out", out], spark=spark)
    assert summary["docs"] == 3
    rows = {
        os.path.basename(r["doc_id"]): r["spans"][0]
        for r in spark.read.parquet(f"{out}/results").collect()
    }
    assert rows["two_pages.pdf"]["kind"] == "pdf"
    assert rows["two_pages.pdf"]["text"] == "First page text.\n\nSecond page text."
    assert rows["raw_stream.pdf"]["text"] == "Uncompressed."

    # the operator alone, over the scan
    scan = (
        spark.read.format("binaryFile")
        .load(str(inp), pathGlobFilter="*.pdf")
        .select(
            F.element_at(F.split("path", "/"), -1).alias("media_ref"),
            F.col("content").alias("payload"),
        )
    )
    pages = {
        (r["media_ref"], r["page_no"]): r["page_text"]
        for r in pdf_text_extract(scan).collect()
    }
    assert pages[("two_pages.pdf", 1)] == "First page text."
    assert pages[("two_pages.pdf", 2)] == "Second page text."
    assert pages[("raw_stream.pdf", 1)] == "Uncompressed."
