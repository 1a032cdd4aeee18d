"""WARC ingest (ISO 28500): framed record walk, gzip members, the job."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from text_extract_api_spark.extractors.warc import (
    make_warc,
    parse_warc,
    warc_ingest,
)

RECS = [
    ("http://example.com/a", b"<html><p>hello</p></html>", "text/html"),
    ("http://example.com/b", b"plain body text", "text/plain"),
    ("http://example.com/bin", bytes(range(16)), "application/octet-stream"),
]


@pytest.mark.parametrize("gz", [False, True])
def test_roundtrip_plain_and_gzip_members(gz):
    got = parse_warc(make_warc(RECS, gzip_members=gz))
    assert [(r["url"], r["body"], r["mime"], r["status"]) for r in got] == [
        (u, b, c, 200) for u, b, c in RECS
    ]


def test_payload_embedding_warc_marker_does_not_split_records():
    tricky = [
        ("http://t/x", b"WARC/1.0\r\nWARC-Type: response\r\n\r\nfake", "text/plain"),
        ("http://t/y", b"after", "text/plain"),
    ]
    got = parse_warc(make_warc(tricky))
    assert len(got) == 2
    assert got[0]["body"] == tricky[0][1]
    assert got[1]["body"] == b"after"


def test_non_response_records_skipped_and_totality():
    info = (
        b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 4\r\n\r\nmeta\r\n\r\n"
    )
    w = info + make_warc(RECS[:1])
    got = parse_warc(w)
    assert len(got) == 1 and got[0]["url"] == "http://example.com/a"
    for junk in (b"", b"garbage", b"\x1f\x8bbroken", b"WARC/1.0\r\nno-len\r\n\r\nx"):
        assert isinstance(parse_warc(junk), list)


@pytest.mark.parametrize("gz", [False, True])
@pytest.mark.parametrize("size", [1, 5, 4096])
def test_chunked_bodies_are_dechunked(gz, size):
    got = parse_warc(make_warc(RECS, gzip_members=gz, chunked=size))
    assert [(r["url"], r["body"], r["mime"], r["status"]) for r in got] == [
        (u, b, c, 200) for u, b, c in RECS
    ]


def _http_record(http: bytes, warc_type: bytes = b"response") -> bytes:
    return (
        b"WARC/1.0\r\nWARC-Type: " + warc_type
        + b"\r\nWARC-Target-URI: http://c/x\r\nContent-Length: "
        + str(len(http)).encode() + b"\r\n\r\n" + http + b"\r\n\r\n"
    )


@pytest.mark.parametrize(
    "chunks,want",
    [
        # extensions and trailer fields are framing, not payload
        (b"4;name=v\r\nWiki\r\n5\r\npedia\r\n0\r\nExpires: x\r\n\r\n",
         b"Wikipedia"),
        # a bad size line ends the body after the chunks before it
        (b"4\r\nWiki\r\nzz\r\npedia\r\n0\r\n\r\n", b"Wiki"),
        # int(x, 16) would read these as sizes
        (b"4\r\nWiki\r\n0x5\r\npedia\r\n0\r\n\r\n", b"Wiki"),
        (b"4\r\nWiki\r\n+5\r\npedia\r\n0\r\n\r\n", b"Wiki"),
        # a chunk longer than its size: its declared bytes, then stop
        (b"4\r\nWikipedia\r\n0\r\n\r\n", b"Wiki"),
        # cut short: the bytes that are there
        (b"ff\r\nWiki", b"Wiki"),
        # no last chunk, no size line at all
        (b"4\r\nWiki\r\n", b"Wiki"),
        (b"", b""),
    ],
)
def test_malformed_chunk_framing_keeps_what_decoded(chunks, want):
    http = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"
        b"Transfer-Encoding: Chunked\r\n\r\n" + chunks
    )
    (got,) = parse_warc(_http_record(http))
    assert got["body"] == want and got["status"] == 200


def test_revisit_records_are_skipped():
    """A revisit record holds an HTTP envelope too (headers, no payload);
    only response records become rows."""
    revisit = _http_record(
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n", b"revisit"
    )
    got = parse_warc(revisit + make_warc(RECS[1:2]) + revisit)
    assert [r["url"] for r in got] == ["http://example.com/b"]


def test_warc_extract_job_end_to_end(spark, tmp_path):
    """A directory of .warc.gz segments → extracted spans: html stripped
    to the article, text decoded, binaries riding as media refs."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "jobs"))
    import warc_extract

    inp = tmp_path / "segments"
    inp.mkdir()
    seg1 = [
        (
            "http://site/a",
            b"<html><body><nav>Home</nav><article><p>Body text that "
            b"matters.</p></article><footer>c</footer></body></html>",
            "text/html",
        ),
        ("http://site/b", b"call 555-0147 now", "text/plain"),
    ]
    seg2 = [("http://site/img", b"\x89PNG\r\n\x1a\nfake", "image/png")]
    (inp / "seg1.warc.gz").write_bytes(make_warc(seg1, gzip_members=True))
    (inp / "seg2.warc").write_bytes(make_warc(seg2))

    out = str(tmp_path / "out")
    summary = warc_extract.main(["--input", str(inp), "--out", out], spark=spark)
    assert summary["docs"] == 3
    rows = {
        r["doc_id"].rsplit("/", 1)[-1]: r["spans"][0]
        for r in spark.read.parquet(f"{out}/results").collect()
    }
    html_row = rows["seg1.warc.gz#1"]
    assert html_row["kind"] == "html"
    assert html_row["text"] == "Body text that matters."
    text_row = rows["seg1.warc.gz#2"]
    assert "ANONYMIZED" in text_row["text"] and "555" not in text_row["text"]
    media_row = rows["seg2.warc#1"]
    assert media_row["kind"] == "image"
    assert media_row["media_ref"] == "http://site/img"


def test_distributed_operator_layout_independence(spark):
    """The same records parse identically from plain and gzip segments."""
    df = spark.createDataFrame(
        [("plain", bytearray(make_warc(RECS))),
         ("gz", bytearray(make_warc(RECS, gzip_members=True)))],
        "segment string, payload binary",
    )
    rows = warc_ingest(df).collect()
    by_seg = {}
    for r in rows:
        by_seg.setdefault(r["segment"], []).append(
            (r["rec_no"], r["url"], r["status"], r["mime"], bytes(r["body"]))
        )
    assert sorted(by_seg["plain"]) == sorted(by_seg["gz"])
    assert len(by_seg["plain"]) == 3


@pytest.mark.parametrize("doc_id", [0, 1])
def test_warc_ingest_oracle_counts_body_bytes(doc_id):
    """The oracle's byte_len is the record body's byte count (what the
    engine measures on the parsed binary body), not its character count."""
    import hashlib

    import duckdb
    import pandas as pd

    import __spark_entry__ as entry

    text = "naïve café — 東京 😀"
    documents = pd.DataFrame({"doc_id": [doc_id], "text": [text]})  # noqa: F841
    con = duckdb.connect()
    row = con.execute(entry.oracle_sql()["warc_ingest"]).fetchone()
    body = (
        f"<html><body><p>{text}</p></body></html>" if doc_id % 2 == 0 else text
    ).encode()
    url = f"http://example.com/doc/{doc_id}"
    (parsed,) = parse_warc(make_warc([(url, body, "text/plain")]))
    assert parsed["body"] == body
    byte_len, body_md5 = row[5], row[6]
    assert byte_len == len(body)
    assert body_md5 == hashlib.md5(body).hexdigest()
