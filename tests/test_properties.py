"""Property-based tests (hypothesis) for the pure extractor cores."""

from __future__ import annotations

import re

from hypothesis import given, settings, strategies as st

from text_extract_api_spark.extractors.html import extract_main_content_py
from text_extract_api_spark.extractors.office import make_docx, make_pptx
from text_extract_api_spark.extractors.strategies import (
    html_main_content,
    html_markdown,
    office_docx,
    office_pptx,
)
from tests.oracle import anonymize, norm, strip_md

text_st = st.text(
    alphabet=st.characters(codec="ascii", exclude_characters="<>&\x00"),
    max_size=400,
)


@settings(max_examples=200, deadline=None)
@given(text_st)
def test_norm_idempotent(s):
    assert norm(norm(s)) == norm(s)


@settings(max_examples=200, deadline=None)
@given(text_st)
def test_anonymize_idempotent(s):
    assert anonymize(anonymize(s)) == anonymize(s)


@settings(max_examples=200, deadline=None)
@given(text_st)
def test_anonymize_leaves_no_emails(s):
    out = anonymize(s + " someone@example.com")
    assert not re.search(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", out)


@settings(max_examples=100, deadline=None)
@given(text_st)
def test_html_wrapper_roundtrip(s):
    """Any benign text wrapped in the content template survives extraction."""
    html = f"<html><body><nav><a href='/'>x</a></nav><article><p>{s}</p></article></body></html>"
    assert extract_main_content_py(html) == norm(s)


@settings(max_examples=100, deadline=None)
@given(text_st)
def test_strip_md_idempotent(s):
    assert strip_md(strip_md(s)) == strip_md(s)


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=64))
def test_zip_fmt_never_crashes(payload):
    """Arbitrary bytes through the zip resolver: total function, closed
    domain (poison payloads must not kill a 10^12-row job)."""
    from text_extract_api_spark.ingest import _zip_fmt

    assert _zip_fmt(payload) in {"docx", "pptx", "zip"}


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=64))
def test_verify_image_total(payload):
    from text_extract_api_spark.extractors.media import verify_image

    valid, reason = verify_image(payload)
    assert isinstance(valid, bool)
    assert reason in {"", "empty_payload", "decode_error"}
    assert valid == (reason == "")


@settings(max_examples=200, deadline=None)
@given(text_st)
def test_anonymize_overlap_never_leaks_ssn_tail(s):
    """Any text containing an SSN-shaped token loses it entirely — the
    chained-order invariant, fuzzed (ADVICE r1: an alternation leaked
    '89-1234' from '123-4567-89-1234')."""
    out = anonymize(s + " 123-45-6789 " + s)
    assert "123-45-6789" not in out
    assert "45-6789" not in out


# The per-span functions of the Python extraction leg. They share one Arrow
# batch, so one raising span would fail every Python span of its batch:
# each must return a str for any input.
_HTML_FNS = [html_main_content().py_fn, html_markdown().py_fn]
_OFFICE_FNS = [office_docx().py_fn, office_pptx().py_fn]


def _mutated(data: bytes, cut: int, flips: list[tuple[int, int]]) -> bytes:
    buf = bytearray(data[: cut % (len(data) + 1)] if cut else data)
    for pos, val in flips:
        if buf:
            buf[pos % len(buf)] = val
    return bytes(buf)


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=400))
def test_html_span_fns_total(s):
    for fn in _HTML_FNS:
        assert isinstance(fn(s, None), str)


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=256))
def test_office_span_fns_total_on_arbitrary_bytes(payload):
    for fn in _OFFICE_FNS:
        assert isinstance(fn("", payload), str)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.text(max_size=40), min_size=1, max_size=3),
    st.integers(min_value=0, max_value=4096),
    st.lists(
        st.tuples(st.integers(min_value=0), st.integers(0, 255)), max_size=8
    ),
)
def test_office_span_fns_total_on_mutated_ooxml(texts, cut, flips):
    """Valid OOXML, then truncated and/or byte-flipped: every prefix and
    every corruption still yields a str."""
    for data in (make_docx(texts), make_pptx([texts])):
        bad = _mutated(data, cut, flips)
        for fn in _OFFICE_FNS:
            assert isinstance(fn("", bad), str)
