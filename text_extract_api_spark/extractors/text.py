"""Plain-text and markdown normalization — pure Column expressions.

These stay JVM-side (regexp_replace / trim are codegen'd builtins), which is
the engine's default: Python only where semantics demand it. The reference's
text handling is pass-through concatenation (``easyocr.py:49-56``); the
engine adds deterministic whitespace canonicalization so span equality is
well-defined across sources.

Every regex here must behave identically under Java regex (Spark) and RE2
(DuckDB oracle) — keep them to character classes and simple quantifiers.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, functions as F

# Collapse all whitespace runs to a single space, then trim.
WS_RE = "[ \\t\\r\\n]+"

# Markdown structure markers to strip (headings, emphasis, list bullets).
MD_HEADING_RE = "#+ *"
MD_EMPH_RE = "[*_]{1,3}"


def normalize_ws_col(c: Column) -> Column:
    return F.trim(F.regexp_replace(c, WS_RE, " "))


_WS_PY_RE = re.compile(WS_RE)


def normalize_ws(s: str) -> str:
    """Python twin of :func:`normalize_ws_col` for the per-span functions:
    Spark's ``trim`` strips the space character only, so ``strip(" ")``,
    never bare ``strip()`` (which would also trim \\x0b, \\f, NBSP...)."""
    return _WS_PY_RE.sub(" ", s).strip(" ")


def strip_markdown_col(c: Column) -> Column:
    """Markdown → plain text: drop heading markers and emphasis, normalize.

    Deterministic replacement for the reference's LLM-driven markdown
    structuring (``extract/strategies/ollama.py:44-62``).
    """
    out = F.regexp_replace(c, MD_HEADING_RE, "")
    out = F.regexp_replace(out, MD_EMPH_RE, "")
    return normalize_ws_col(out)
