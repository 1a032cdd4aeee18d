"""Per-kind extractors.

Each extractor is either a pure-Column expression (JVM-side, whole-stage
codegen — the fast path) or a plain per-span Python function (the slow
path, reserved for genuinely non-SQL logic: the HTML DOM-heuristic
stripper, HTML → Markdown and the OOXML parsers). They are the engine's
analog of the reference's Strategy classes
(``extract/strategies/strategy.py:31-37``): the row-at-a-time
``extract_text(file_format, language)`` contract survives as
``(text, payload) -> str``, which the pipeline calls over Arrow batches.
"""

from .text import normalize_ws_col, strip_markdown_col
from .pii import anonymize_col, PII_PATTERNS
from .html import extract_main_content_py

__all__ = [
    "normalize_ws_col",
    "strip_markdown_col",
    "anonymize_col",
    "PII_PATTERNS",
    "extract_main_content_py",
]
