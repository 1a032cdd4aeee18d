"""Pure-Python oracle: independent reimplementation of synthesis+extraction.

Mirrors the *specification* (FIXTURES.md / synth.py docstring), not the
Spark code — a separate implementation so tests catch drift in either.
Used for strict span-sequence equality checks: (kind, text, media_ref,
order) per doc (the north-rule invariant).
"""

from __future__ import annotations

import re
from unittest import mock

import pandas as pd

from text_extract_api_spark.extractors import markdown
from text_extract_api_spark.extractors.html import (
    MAX_LINK_DENSITY,
    MIN_WORDS,
    _BlockParser,
)
from text_extract_api_spark.extractors.pii import PII_PATTERNS, TOKEN
from text_extract_api_spark.synth import (
    CHUNK,
    DUP_MOD,
    DUP_REM,
    HTML_POST,
    HTML_PRE,
    KIND_CYCLE,
    MAX_SPANS,
    OVERSIZE_MOD,
    OVERSIZE_REPEAT,
)

_WS = re.compile(r"[ \t\r\n]+")


def norm(s: str) -> str:
    # F.trim twin: SPACE-ONLY strip. After the [ \t\r\n]+ collapse any
    # leading/trailing run of that class is a single space, and exotic
    # whitespace (\x0b, \f, NBSP) must SURVIVE — bare .strip() would eat it
    # and diverge from both engines' trim discipline.
    return _WS.sub(" ", s).strip(" ")


def anonymize(s: str) -> str:
    for _, pat in PII_PATTERNS:
        s = re.sub(pat, TOKEN, s)
    return s


class RegexBlockParser(_BlockParser):
    """``_BlockParser`` with its original regex whitespace passes, frozen
    as the reference of the differential tests: the package's parser
    collapses with ``normalize_ws`` and counts with ``str.count``."""

    def _flush(self) -> None:
        text = _WS.sub(" ", "".join(self._buf)).strip(" \t\r\n")
        if text:
            self.blocks.append((text, self._total_chars, self._link_chars))
        self._buf = []
        self._link_chars = 0
        self._total_chars = 0

    def handle_data(self, data: str) -> None:
        if self._kill_depth or not data:
            return
        self._buf.append(data)
        stripped = len(_WS.sub("", data))
        self._total_chars += stripped
        if self._a_depth:
            self._link_chars += stripped


def main_content(html: str) -> str:
    """Reference of ``extract_main_content_py``: the same block scoring
    over :class:`RegexBlockParser`."""
    if not html:
        return ""
    parser = RegexBlockParser()
    try:
        parser.feed(html)
        parser.close()
    except Exception:
        return ""
    return "\n".join(
        text
        for text, total, link_chars in parser.blocks
        if total > 0
        and link_chars / total <= MAX_LINK_DENSITY
        and len(text.split(" ")) >= MIN_WORDS
    )


def html_to_markdown(html: str) -> str:
    """Reference of ``html_to_markdown_py``: its parser with the regex
    collapse (``norm``) in place of ``normalize_ws``."""
    with mock.patch.object(markdown, "normalize_ws", norm):
        return markdown.html_to_markdown_py(html)


def strip_md(s: str) -> str:
    s = re.sub(r"#+ *", "", s)
    s = re.sub(r"[*_]{1,3}", "", s)
    return norm(s)


def synth_doc(doc_id: int, text: str, n_chars: int, docs_by_id: dict[int, tuple[str, int]]):
    """Returns ordered list of input spans (kind, text, media_ref, offset)."""
    eff_id = doc_id
    if doc_id % DUP_MOD == DUP_REM and doc_id >= DUP_REM and (doc_id - DUP_REM) in docs_by_id:
        eff_id = doc_id - DUP_REM
        text, n_chars = docs_by_id[eff_id]
    n = max(1, min(MAX_SPANS, -(-n_chars // CHUNK)))
    spans = []
    for k in range(n):
        kind = KIND_CYCLE[(eff_id + k) % 6]
        chunk = text[k * CHUNK : (k + 1) * CHUNK]
        if kind == "text":
            t = chunk * OVERSIZE_REPEAT if eff_id % OVERSIZE_MOD == 0 else chunk
            m = ""
        elif kind == "html":
            t, m = HTML_PRE + chunk + HTML_POST, ""
        elif kind == "markdown":
            t, m = f"# Section {k} \n\n{chunk}", ""
        elif kind == "pii_text":
            t = f"{chunk} Contact user{eff_id}@example.com or call 555-010{k}."
            m = ""
        elif kind == "pdf":
            t, m = "", f"pdf://{eff_id}/{k}"
        else:
            t, m = "", f"img://{eff_id}/{k}"
        spans.append((kind, t, m, k))
    return spans


def extract_span(kind: str, text: str, media_ref: str, chunk: str):
    if kind == "text" or kind == "pii_text":
        out = anonymize(norm(text))
    elif kind == "html":
        out = anonymize(norm(main_content(text)))
    elif kind == "markdown":
        out = anonymize(strip_md(text))
    elif kind == "pdf":
        p1, p2 = chunk[:60], chunk[60:120]
        raw = f"{p1}\n\n{p2}" if p2 else (p1 if p1 else "")
        out = anonymize(raw)
    else:
        out = ""
    m = media_ref if kind in ("pdf", "image", "docx", "pptx", "audio", "video") else ""
    return kind, out, m


def expected_extraction(documents: pd.DataFrame) -> dict[str, list[tuple]]:
    """doc_id(str) → ordered [(kind, text, media_ref, offset)] after extraction."""
    docs_by_id = {
        int(r.doc_id): (r.text, int(r.n_chars)) for r in documents.itertuples()
    }
    out: dict[str, list[tuple]] = {}
    for r in documents.itertuples():
        doc_id, text, n_chars = int(r.doc_id), r.text, int(r.n_chars)
        eff_id = doc_id
        src_text = text
        if doc_id % DUP_MOD == DUP_REM and doc_id >= DUP_REM and (doc_id - DUP_REM) in docs_by_id:
            eff_id = doc_id - DUP_REM
            src_text = docs_by_id[eff_id][0]
        spans = synth_doc(doc_id, text, n_chars, docs_by_id)
        res = []
        for kind, t, m, k in spans:
            chunk = src_text[k * CHUNK : (k + 1) * CHUNK]
            ek, et, em = extract_span(kind, t, m, chunk)
            res.append((ek, et, em, k))
        out[str(doc_id)] = res
    return out
