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
- ``html``: DOM-heuristic main-content extraction **[north-rule]** — a
  Python (pandas-UDF) text path, so it runs as its own filtered leg.
- ``html_md``: structure-preserving HTML → Markdown conversion
  (extractors/markdown.py) under its own opt-in kind.
- ``pdf``: page-store join + explicit-order page concat
  (converters/pdf_to_jpeg.py:12-29, easyocr.py:52-56).
- ``docx`` / ``pptx``: OOXML zip+XML parse legs (README-claimed formats the
  reference never shipped).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..registry import ExtractorStrategy
from .html import extract_main_content_udf
from .office import extract_docx_udf, extract_pptx_udf
from .text import normalize_ws_col, strip_markdown_col


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


def html_main_content(config: dict | None = None) -> ExtractorStrategy:
    config = config or {}

    def leg(flat_slice: DataFrame, ctx: dict, cfg: dict) -> DataFrame:
        return flat_slice.withColumn(
            "extracted", normalize_ws_col(extract_main_content_udf(F.col("text")))
        )

    return ExtractorStrategy(
        name="html",
        kinds=tuple(config.get("kinds", ("html",))),
        leg_fn=leg,
        config=config,
    )


def html_markdown(config: dict | None = None) -> ExtractorStrategy:
    """Structure-PRESERVING html leg (extractors/markdown.py): emits
    Markdown with headings/lists/links intact instead of flattened main
    content. Registered under its own kind (``html_md``) so a user opts a
    span slice into it via YAML/`register` without changing the default
    ``html`` leg's flattening contract (and the flagship oracle)."""
    config = config or {}

    def leg(flat_slice: DataFrame, ctx: dict, cfg: dict) -> DataFrame:
        from .markdown import html_to_markdown_udf

        return flat_slice.withColumn(
            "extracted", html_to_markdown_udf(F.col("text"))
        )

    return ExtractorStrategy(
        name="html_md",
        kinds=tuple(config.get("kinds", ("html_md",))),
        leg_fn=leg,
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


def _office_leg(udf):
    def leg(flat_slice: DataFrame, ctx: dict, cfg: dict) -> DataFrame | None:
        blobs = ctx.get("office_blobs")
        if blobs is None:
            return None  # decline: kinds fall through to the default '' leg
        return (
            flat_slice.join(
                blobs.select("media_ref", "payload").hint("merge"),
                "media_ref",
                "left",
            )
            .withColumn("extracted", normalize_ws_col(udf(F.col("payload"))))
            .drop("payload")
        )

    return leg


def office_docx(config: dict | None = None) -> ExtractorStrategy:
    config = config or {}
    return ExtractorStrategy(
        name="docx",
        kinds=tuple(config.get("kinds", ("docx",))),
        leg_fn=_office_leg(extract_docx_udf),
        config=config,
    )


def office_pptx(config: dict | None = None) -> ExtractorStrategy:
    config = config or {}
    return ExtractorStrategy(
        name="pptx",
        kinds=tuple(config.get("kinds", ("pptx",))),
        leg_fn=_office_leg(extract_pptx_udf),
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
