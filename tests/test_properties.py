"""Property-based tests (hypothesis) for the pure extractor cores."""

from __future__ import annotations

import re

import pytest
from hypothesis import given, settings, strategies as st

from text_extract_api_spark.extractors.html import extract_main_content_py
from text_extract_api_spark.extractors.markdown import html_to_markdown_py
from text_extract_api_spark.extractors.office import make_docx, make_pptx
from text_extract_api_spark.extractors.pii import (
    PII_PATTERNS,
    TOKEN,
    _DIGIT_SEP_RE,
)
from text_extract_api_spark.extractors.strategies import (
    html_main_content,
    html_markdown,
    office_docx,
    office_pptx,
)
from text_extract_api_spark.extractors.text import normalize_ws
from tests import oracle
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


# Differential tests of the regex-free whitespace passes against their
# frozen regex versions (tests/oracle.py). Generated HTML mixes tags,
# character references (named, numeric, malformed), the engine's whitespace
# class, whitespace outside it (\x0b, \f, NBSP, U+3000, \x1c) and
# non-ASCII text.
_WS_CHARS = " \t\r\n\x0b\f\xa0\u3000\x1c"
_TEXT_ST = st.text(
    alphabet=st.sampled_from(_WS_CHARS + "ab Zé中д😀@-.09")
    | st.characters(exclude_characters="<&"),
    max_size=30,
)
_TAG_ST = st.sampled_from(
    [
        f"<{t}>" for t in "p div li h2 td blockquote strong em b i span ul body".split()
    ]
    + [
        f"</{t}>" for t in "p div li h2 td blockquote strong em b i span ul a".split()
    ]
    + [
        "<a href='/x'>",
        "<a href=\"\">",
        "<a>",
        "<br>",
        "<br/>",
        "<nav>",
        "</nav>",
        "<script>",
        "</script>",
        "<style>x{}</style>",
        "<!-- c -->",
        "<p\tclass=x\n>",
        "</",
        "<",
    ]
)
_CHARREF_ST = st.sampled_from(
    "&amp; &lt; &nbsp; &#160; &#x3000; &#9; &#10; &#13; &#11; &#12; &#32; "
    "&eacute; &#x1F600; &bogus; &#; & &amp".split(" ")
)
# a block whose link density sits near MAX_LINK_DENSITY, so that a
# miscounted whitespace character flips whether it is kept
_WS_RUN_ST = st.text(alphabet=st.sampled_from(_WS_CHARS), max_size=8)
_LINK_BLOCK_ST = st.tuples(_TEXT_ST | _WS_RUN_ST, _TEXT_ST, _TEXT_ST | _WS_RUN_ST).map(
    lambda t: f"<p>{t[0]}<a href='/x'>{t[1]}</a>{t[2]}</p>"
)
_HTML_ST = st.lists(
    st.one_of(_TAG_ST, _CHARREF_ST, _TEXT_ST, _LINK_BLOCK_ST), max_size=40
).map("".join)


@settings(max_examples=500, deadline=2000)
@given(st.text(alphabet=st.sampled_from(_WS_CHARS + "ab中"), max_size=80) | st.text())
def test_normalize_ws_matches_regex(s):
    assert normalize_ws(s) == norm(s)


@settings(max_examples=300, deadline=2000)
@given(_HTML_ST)
def test_html_fns_match_regex_reference(html):
    html_span = html_main_content().py_fn
    assert extract_main_content_py(html) == oracle.main_content(html)
    assert html_span(html, None) == norm(oracle.main_content(html))
    assert html_to_markdown_py(html) == oracle.html_to_markdown(html)


# anonymize_col skips the email pass on text without '@' and the digit
# passes on text without _DIGIT_SEP_RE (extractors/pii.py). That is exact
# only while every match of each pattern holds its guard; a new or edited
# pattern that breaks it fails here instead of leaving PII unmasked.
@pytest.mark.parametrize("name,pat", PII_PATTERNS, ids=[n for n, _ in PII_PATTERNS])
@settings(max_examples=200, deadline=2000)
@given(data=st.data())
def test_pii_pattern_matches_hold_their_guard(name, pat, data):
    assert PII_PATTERNS[0][0] == "email"
    assert not re.search("[0-9@]", TOKEN)
    s = data.draw(st.from_regex(pat, fullmatch=True))
    if name == "email":
        assert "@" in s
    else:
        assert re.search(_DIGIT_SEP_RE, s)
