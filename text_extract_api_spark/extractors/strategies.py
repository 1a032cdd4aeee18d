"""Built-in extraction strategies — the factories the YAML config names.

Each factory takes the per-strategy config dict (reference:
``set_strategy_config``, strategy.py:21-22) and returns an
:class:`~text_extract_api_spark.registry.ExtractorStrategy`. The module's
``register_strategies`` hook makes them autodiscoverable (registry.py) even
without a config file — config-declared entries win (keep-unless-override).

Strategy → reference parity:

- ``text`` / ``pii_text``: passthrough + whitespace normalize (the
  reference's extracted-text handling before the LLM transform).
- ``markdown``: heading/emphasis strip (the reference emits markdown from
  its OCR strategies; the engine normalizes it to plain text).
- ``html``: DOM-heuristic main-content extraction **[north-rule]**.
- ``html_md``: structure-preserving HTML → Markdown conversion
  (extractors/markdown.py) under its own opt-in kind.
- ``pdf``: page-store join + explicit-order page concat
  (converters/pdf_to_jpeg.py:12-29, easyocr.py:52-56).
- ``docx`` / ``pptx``: OOXML zip+XML parse (README-claimed formats the
  reference never shipped).

``text`` and ``markdown`` are ``column_fn`` strategies (JVM codegen);
``html``, ``html_md``, ``docx`` and ``pptx`` are ``py_fn`` per-span
functions, which the pipeline runs together in one Arrow leg. Each must
return a ``str`` and never raise: one raising span would fail every
Python span of its batch. ``pdf`` is the one ``leg_fn`` (a JVM join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..registry import ExtractorStrategy
from .html import extract_main_content_py
from .markdown import html_to_markdown_py
from .office import extract_docx_py, extract_pptx_py
from .text import normalize_ws, normalize_ws_col, strip_markdown_col


def text_normalize(config: dict | None = None) -> ExtractorStrategy:
    config = config or {}
    return ExtractorStrategy(
        name="text",
        kinds=tuple(config.get("kinds", ("text", "pii_text"))),
        column_fn=lambda c, cfg: normalize_ws_col(c),
        config=config,
    )


def markdown_strip(config: dict | None = None) -> ExtractorStrategy:
    config = config or {}
    return ExtractorStrategy(
        name="markdown",
        kinds=tuple(config.get("kinds", ("markdown",))),
        column_fn=lambda c, cfg: strip_markdown_col(c),
        config=config,
    )


def _html_span(text: str | None, payload: bytes | None) -> str:
    return normalize_ws(extract_main_content_py(text or ""))


def _html_md_span(text: str | None, payload: bytes | None) -> str:
    return html_to_markdown_py(text or "")


def _docx_span(text: str | None, payload: bytes | None) -> str:
    return normalize_ws(extract_docx_py(payload or b""))


def _pptx_span(text: str | None, payload: bytes | None) -> str:
    return normalize_ws(extract_pptx_py(payload or b""))


def html_main_content(config: dict | None = None) -> ExtractorStrategy:
    config = config or {}
    return ExtractorStrategy(
        name="html",
        kinds=tuple(config.get("kinds", ("html",))),
        py_fn=_html_span,
        config=config,
    )


def html_markdown(config: dict | None = None) -> ExtractorStrategy:
    """Structure-PRESERVING html extraction (extractors/markdown.py): emits
    Markdown with headings/lists/links intact instead of flattened main
    content, so no whitespace normalization. Registered under its own kind
    (``html_md``) so a user opts a span slice into it via YAML/`register`
    without changing the default ``html`` flattening contract (and the
    flagship oracle)."""
    config = config or {}
    return ExtractorStrategy(
        name="html_md",
        kinds=tuple(config.get("kinds", ("html_md",))),
        py_fn=_html_md_span,
        config=config,
    )


def pdf_pages(config: dict | None = None) -> ExtractorStrategy:
    config = config or {}

    def leg(flat_slice: DataFrame, ctx: dict, cfg: dict) -> DataFrame | None:
        from ..pipeline import pdf_page_texts

        media_pages = ctx.get("media_pages")
        if media_pages is None:
            return None  # decline: kinds fall through to the default '' leg
        pages = pdf_page_texts(media_pages, cfg.get("page_sep"))
        # merge hint: page-store size scales with the corpus but derived
        # lineage hides that from the static planner; AQE re-plans small
        # cases back to broadcast.
        return (
            flat_slice.join(pages.hint("merge"), "media_ref", "left")
            .withColumn("extracted", F.coalesce(F.col("pdf_text"), F.lit("")))
            .drop("pdf_text")
        )

    return ExtractorStrategy(
        name="pdf",
        kinds=tuple(config.get("kinds", ("pdf",))),
        leg_fn=leg,
        config=config,
    )


def office_docx(config: dict | None = None) -> ExtractorStrategy:
    config = config or {}
    return ExtractorStrategy(
        name="docx",
        kinds=tuple(config.get("kinds", ("docx",))),
        py_fn=_docx_span,
        config=config,
    )


def office_pptx(config: dict | None = None) -> ExtractorStrategy:
    config = config or {}
    return ExtractorStrategy(
        name="pptx",
        kinds=tuple(config.get("kinds", ("pptx",))),
        py_fn=_pptx_span,
        config=config,
    )


def register_strategies(registry) -> None:
    """Autodiscovery hook (registry.autodiscover). Order matters: it is the
    leg build / when-chain order, mirroring conf/strategies.yaml."""
    for factory in (
        html_main_content,
        html_markdown,
        pdf_pages,
        office_docx,
        office_pptx,
        text_normalize,
        markdown_strip,
    ):
        registry.register(factory({}))
