"""Strategy registry tests — mirror the reference's registry behavior
(extract/strategies/strategy.py:40-139): YAML loading, get/unknown error,
register keep-unless-override, and registry-driven pipeline dispatch."""

from __future__ import annotations

import textwrap

import pytest
from pyspark.sql import functions as F

from text_extract_api_spark.registry import (
    DEFAULT_CONFIG_PATH,
    ExtractorStrategy,
    StrategyRegistry,
    autodiscover,
    default_registry,
    load_registry_from_config,
)


def _dummy(name: str, kinds=("text",)) -> ExtractorStrategy:
    return ExtractorStrategy(name=name, kinds=kinds, column_fn=lambda c, cfg: c)


def test_get_unknown_strategy_error_message():
    reg = StrategyRegistry()
    reg.register(_dummy("text"))
    reg.register(_dummy("html", ("html",)))
    # reference: ValueError "Unknown strategy '<name>'. Available: ..."
    with pytest.raises(ValueError, match=r"Unknown strategy 'nope'\. Available: text, html"):
        reg.get("nope")


def test_register_keep_unless_override():
    reg = StrategyRegistry()
    first = _dummy("text")
    second = _dummy("text")
    reg.register(first)
    reg.register(second)  # reference semantics: silently kept existing
    assert reg.get("text") is first
    reg.register(second, override=True)
    assert reg.get("text") is second


def test_strategy_requires_exactly_one_impl():
    with pytest.raises(ValueError, match="exactly one"):
        ExtractorStrategy(name="bad", kinds=("text",))
    with pytest.raises(ValueError, match="exactly one"):
        ExtractorStrategy(
            name="bad",
            kinds=("text",),
            column_fn=lambda c, cfg: c,
            leg_fn=lambda df, ctx, cfg: df,
        )


def test_yaml_config_loads_default_registry():
    reg = load_registry_from_config(DEFAULT_CONFIG_PATH)
    assert set(reg.names()) == {
        "html", "html_md", "pdf", "docx", "pptx", "text", "markdown",
    }
    # per-strategy config travels (reference set_strategy_config)
    assert reg.get("pdf").config.get("page_sep") == "\n\n"
    assert reg.get("text").kinds == ("text", "pii_text")


def test_yaml_config_errors(tmp_path):
    missing = tmp_path / "nope.yaml"
    with pytest.raises(FileNotFoundError, match="Config file not found"):
        load_registry_from_config(str(missing))

    bad_section = tmp_path / "bad.yaml"
    bad_section.write_text("not_strategies: {}\n")
    with pytest.raises(ValueError, match="Missing or invalid 'strategies' section"):
        load_registry_from_config(str(bad_section))

    # empty YAML → safe_load returns None; must still be the documented
    # ValueError, not a TypeError from `in None` (ADVICE r2)
    empty = tmp_path / "empty.yaml"
    empty.write_text("")
    with pytest.raises(ValueError, match="Missing or invalid 'strategies' section"):
        load_registry_from_config(str(empty))

    no_class = tmp_path / "noclass.yaml"
    no_class.write_text(
        textwrap.dedent(
            """
            strategies:
              text:
                kinds: [text]
            """
        )
    )
    with pytest.raises(ValueError, match="Missing 'class' attribute for strategy: text"):
        load_registry_from_config(str(no_class))


def test_autodiscovery_fills_registry():
    reg = autodiscover(StrategyRegistry())
    assert {"html", "pdf", "docx", "pptx", "text", "markdown"} <= set(reg.names())


def test_default_registry_drives_pipeline(spark):
    from text_extract_api_spark.pipeline import extract_spans_flat

    flat = spark.createDataFrame(
        [
            ("d1", "text", "  hello   world ", "", 0),
            ("d1", "markdown", "# Head \n\nbody", "", 1),
            ("d1", "nonsense_kind", "x", "", 2),
        ],
        "key string, kind string, text string, media_ref string, offset int",
    )
    rows = {r["offset"]: r for r in extract_spans_flat(flat, None).collect()}
    assert rows[0]["text"] == "hello world"
    assert rows[1]["text"] == "Head body"
    assert rows[2]["text"] == ""  # unclaimed kind → default '' leg, row kept


def test_override_strategy_changes_pipeline(spark):
    """U4: register/override redirects dispatch without touching pipeline
    code — the reference's register_strategy(override=True)."""
    from text_extract_api_spark.extractors.strategies import register_strategies
    from text_extract_api_spark.pipeline import extract_spans_flat

    reg = StrategyRegistry()
    register_strategies(reg)
    reg.register(
        ExtractorStrategy(
            name="text",
            kinds=("text", "pii_text"),
            column_fn=lambda c, cfg: F.upper(c),
        ),
        override=True,
    )
    flat = spark.createDataFrame(
        [("d1", "text", "shout this", "", 0)],
        "key string, kind string, text string, media_ref string, offset int",
    )
    out = extract_spans_flat(flat, None, registry=reg).collect()
    assert out[0]["text"] == "SHOUT THIS"


def test_default_registry_is_cached():
    assert default_registry() is default_registry()
    assert default_registry(refresh=True) is default_registry()


def test_env_placeholder_resolution(tmp_path, monkeypatch):
    """F5: ${VAR} in per-strategy config resolves from the environment at
    load time (reference storage_strategy.py:33-42); unset vars → ''."""
    import textwrap as tw

    from text_extract_api_spark.registry import resolve_env_placeholders

    monkeypatch.setenv("GRAFT_TEST_SEP", "||")
    assert resolve_env_placeholders("${GRAFT_TEST_SEP}") == "||"
    assert resolve_env_placeholders({"a": ["x${GRAFT_TEST_SEP}y", 3]}) == {
        "a": ["x||y", 3]
    }
    assert resolve_env_placeholders("${GRAFT_UNSET_VAR}") == ""

    conf = tmp_path / "s.yaml"
    conf.write_text(
        tw.dedent(
            """
            strategies:
              pdf:
                class: text_extract_api_spark.extractors.strategies.pdf_pages
                page_sep: "${GRAFT_TEST_SEP}"
            """
        )
    )
    reg = load_registry_from_config(str(conf))
    assert reg.get("pdf").config["page_sep"] == "||"
