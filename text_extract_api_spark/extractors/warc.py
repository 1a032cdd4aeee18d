"""WARC (ISO 28500) ingest — the Common Crawl container, pure stdlib.

A web-scale training pipeline's rawest input is WARC: framed records of
HTTP responses, shipped as concatenated per-record gzip members
(``.warc.gz``) or plain. The reference ingests one uploaded file at a
time (``main.py:39-73``); at 100 TB the front door is a WARC segment
listing. This module parses both layouts with stdlib ``zlib`` only:

- :func:`make_warc` — deterministic fixture writer (WARC/1.0 response
  records wrapping an HTTP/1.1 envelope), optionally gzipped per record
  exactly like Common Crawl ships them, and optionally with
  ``Transfer-Encoding: chunked`` bodies.
- :func:`parse_warc` — record splitter + header parser + HTTP envelope
  strip + chunked-body decode; total over garbage (a malformed record is
  skipped, malformed chunk framing ends its body early, never a crash).
- :func:`warc_ingest` — the distributed operator: one Arrow batch pass,
  one output row per response record; segments are the parallel unit
  (each WARC blob parses independently — at CC scale one task per
  ~1 GB segment file, no shuffle at all until downstream ops add one).

Scale notes: parsing is row-local (zero shuffles); per-record gzip
members mean a segment streams record-by-record without inflating the
whole file; the operator carries payload bytes only as far as the caller
projects them (drop ``body`` early and the scan never ships it).
"""

from __future__ import annotations

import re
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

WARC_DATE = "2026-01-01T00:00:00Z"  # fixed: fixtures must be byte-stable
_CRLF = b"\r\n"


def _gzip_member(data: bytes) -> bytes:
    co = zlib.compressobj(6, zlib.DEFLATED, 16 + zlib.MAX_WBITS)  # gzip wrapper
    return co.compress(data) + co.flush()


def _chunk(payload: bytes, size: int) -> bytes:
    """``payload`` in chunked transfer coding: ``size``-byte chunks, each
    behind its hex length line, then the zero-length last chunk."""
    out = bytearray()
    for i in range(0, len(payload), size):
        piece = payload[i : i + size]
        out += b"%x" % len(piece) + _CRLF + piece + _CRLF
    return bytes(out + b"0" + _CRLF + _CRLF)


def make_warc(
    records: list[tuple[str, bytes, str]],
    gzip_members: bool = False,
    chunked: int = 0,
) -> bytes:
    """Records of (target_uri, payload_bytes, content_type) → WARC/1.0
    response records with an HTTP/1.1 200 envelope; ``gzip_members=True``
    emits one gzip member per record (the Common Crawl .warc.gz layout,
    concatenated members); ``chunked=n`` sends each HTTP body with
    ``Transfer-Encoding: chunked`` in ``n``-byte chunks instead of a
    ``Content-Length``."""
    out = bytearray()
    for uri, payload, ctype in records:
        framing = (
            b"Transfer-Encoding: chunked" if chunked
            else b"Content-Length: " + str(len(payload)).encode()
        )
        http = (
            b"HTTP/1.1 200 OK" + _CRLF
            + b"Content-Type: " + ctype.encode("ascii") + _CRLF
            + framing + _CRLF
            + _CRLF
            + (_chunk(payload, chunked) if chunked else payload)
        )
        rec = (
            b"WARC/1.0" + _CRLF
            + b"WARC-Type: response" + _CRLF
            + b"WARC-Target-URI: " + uri.encode("ascii") + _CRLF
            + b"WARC-Date: " + WARC_DATE.encode() + _CRLF
            + b"Content-Type: application/http;msgtype=response" + _CRLF
            + b"Content-Length: " + str(len(http)).encode() + _CRLF
            + _CRLF
            + http
            + _CRLF + _CRLF
        )
        out += _gzip_member(rec) if gzip_members else rec
    return bytes(out)


_STATUS_RE = re.compile(rb"HTTP/\d\.\d\s+(\d{3})")


def _split_gzip_members(p: bytes) -> list[bytes]:
    """Decompress concatenated gzip members one at a time (the CC layout);
    a corrupt member ends the walk with what decoded so far."""
    out = []
    pos = 0
    while pos < len(p) and p[pos : pos + 2] == b"\x1f\x8b":
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        try:
            out.append(d.decompress(p[pos:]))
        except zlib.error:
            break
        consumed = len(p) - pos - len(d.unused_data)
        if consumed <= 0:
            break
        pos += consumed
    return out


_WARC_MAGIC_RE = re.compile(rb"WARC/\d\.\d\r?\n")
_CHUNK_SIZE_RE = re.compile(rb"[0-9A-Fa-f]+")


def _dechunk(body: bytes) -> bytes:
    """Decode a ``Transfer-Encoding: chunked`` body (RFC 9112 §7.1):
    chunk extensions and trailer fields are dropped. Total: a malformed
    size line, a chunk cut short or a missing chunk CRLF ends the decode
    with the bytes decoded so far."""
    out = bytearray()
    pos = 0
    while True:
        eol = body.find(_CRLF, pos)
        if eol == -1:
            break
        size_line = body[pos:eol].split(b";", 1)[0].strip(b" \t")
        # fullmatch, not int(x, 16): that also takes "0x", "+" and "_"
        if not _CHUNK_SIZE_RE.fullmatch(size_line):
            break
        size = int(size_line, 16)
        if size == 0:
            break
        start = eol + 2
        out += body[start : start + size]
        pos = start + size
        if body[pos : pos + 2] != _CRLF:
            break
        pos += 2
    return bytes(out)


def _walk_records(chunk: bytes) -> Iterator[tuple[dict[bytes, bytes], bytes]]:
    """Sequential record walk by Content-Length — NEVER by scanning for
    the next ``WARC/`` marker, which a payload can legally contain (a
    crawled page quoting a WARC file must not split the record)."""
    pos = 0
    n = len(chunk)
    while pos < n:
        m = _WARC_MAGIC_RE.match(chunk, pos)
        if m is None:
            # tolerate inter-record garbage: resynchronize at the next
            # plausible magic (payloads are already behind us — lengths
            # advanced past them)
            nxt = chunk.find(b"WARC/", pos)
            if nxt == -1:
                return
            pos = nxt if nxt > pos else pos + 5
            continue
        head_end = chunk.find(b"\r\n\r\n", pos)
        if head_end == -1:
            return
        headers: dict[bytes, bytes] = {}
        for line in chunk[pos:head_end].split(b"\r\n")[1:]:
            k, _, v = line.partition(b":")
            headers[k.strip().lower()] = v.strip()
        try:
            clen = int(headers.get(b"content-length", b""))
        except ValueError:
            return  # cannot advance reliably without a length
        body = chunk[head_end + 4 : head_end + 4 + clen]
        yield headers, body
        pos = head_end + 4 + clen
        while chunk[pos : pos + 2] == b"\r\n":
            pos += 2


def parse_warc(payload: bytes) -> list[dict]:
    """All WARC *response* records of a segment, in order:
    ``{"url", "status", "mime", "body"}``. Handles plain and
    per-record-gzipped segments; a chunked HTTP body is de-chunked;
    non-response records (warcinfo, request, metadata, revisit) are
    skipped; malformed records are dropped, never raised."""
    p = payload or b""
    if p[:2] == b"\x1f\x8b":
        chunks = _split_gzip_members(p)
    else:
        chunks = [p]
    out: list[dict] = []
    for chunk in chunks:
        for headers, body in _walk_records(chunk):
            if headers.get(b"warc-type") != b"response":
                continue
            # strip the HTTP envelope
            status = 0
            mime = ""
            payload_bytes = body
            if body[:5] == b"HTTP/":
                m = _STATUS_RE.match(body)
                if m:
                    status = int(m.group(1))
                try:
                    hend = body.index(b"\r\n\r\n")
                except ValueError:
                    continue
                chunked = False
                for line in body[:hend].split(b"\r\n")[1:]:
                    k, _, v = line.partition(b":")
                    k = k.strip().lower()
                    if k == b"content-type":
                        mime = v.strip().decode("latin-1")
                    elif k == b"transfer-encoding":
                        # chunked is always the last coding applied
                        chunked = v.split(b",")[-1].strip().lower() == b"chunked"
                payload_bytes = body[hend + 4 :]
                if chunked:
                    payload_bytes = _dechunk(payload_bytes)
            out.append(
                {
                    "url": headers.get(b"warc-target-uri", b"").decode("latin-1"),
                    "status": status,
                    "mime": mime,
                    "body": payload_bytes,
                }
            )
    return out


WARC_SCHEMA = (
    "segment string, rec_no int, url string, status int, mime string, "
    "body binary"
)


def warc_ingest(df: DataFrame) -> DataFrame:
    """(segment:string, payload:binary) → one row per response record:
    (segment, rec_no 1-based, url, status, mime, body). Arrow-batched,
    row-local — segments are the parallel unit, no shuffle."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            segs: list[str] = []
            nos: list[int] = []
            urls: list[str] = []
            statuses: list[int] = []
            mimes: list[str] = []
            bodies: list[bytes] = []
            for seg, payload in zip(pdf["segment"].values, pdf["payload"].values):
                recs = parse_warc(bytes(payload) if payload is not None else b"")
                for i, r in enumerate(recs):
                    segs.append(seg)
                    nos.append(i + 1)
                    urls.append(r["url"])
                    statuses.append(r["status"])
                    mimes.append(r["mime"])
                    bodies.append(r["body"])
            yield pd.DataFrame(
                {
                    "segment": segs,
                    "rec_no": pd.Series(nos, dtype="int32"),
                    "url": urls,
                    "status": pd.Series(statuses, dtype="int32"),
                    "mime": mimes,
                    "body": bodies,
                }
            )

    return df.select("segment", "payload").mapInPandas(op, WARC_SCHEMA)
