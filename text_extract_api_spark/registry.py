"""Strategy registry + YAML config — the extensibility surface.

Mirrors the reference's registry semantics (``extract/strategies/
strategy.py``): YAML-declared strategies with dotted-path loading
(``strategy.py:73-102``, ``config/strategies.yaml:1-15``), package
autodiscovery (``:105-139``), ``register_strategy`` keep-unless-override
(``:66-70``), and ``get_strategy`` raising ``Unknown strategy '<name>'.
Available: ...`` (``:55-64``).

The Spark shape differs from the reference's class-per-strategy model: an
engine strategy contributes to the *plan*, not to per-row dispatch, so a
strategy is one of three kinds:

- a ``column_fn`` — a pure-JVM Column expression over the span text (all
  such strategies fuse into ONE codegen when-chain leg, zero extra passes);
- a ``py_fn`` — a plain per-span Python function ``(text, payload) -> str``
  (payload: the span's office blob bytes, or ``None``). All such
  strategies run in ONE leg: one blob join for their media kinds and one
  ``mapInPandas`` that dispatches on ``kind`` inside each Arrow batch;
- a ``leg_fn`` — a builder that takes the pre-filtered slice of flat
  spans for its kinds plus a context dict (media/blob side tables) and
  returns the slice with an ``extracted`` column (the pdf page join).
  Returning ``None`` declines (e.g. no page store supplied) and the kinds
  fall through to the default '' leg.

Per-strategy YAML config (the reference's ``set_strategy_config``,
``strategy.py:21-22``) is passed to the factory and captured in the closure
at plan-definition time — it ships to executors inside the serialized plan,
so no explicit broadcast is needed.
"""

from __future__ import annotations

import importlib
import os
import pkgutil
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame


@dataclass
class ExtractorStrategy:
    """One registered extraction strategy (the engine's U1 contract)."""

    name: str
    kinds: tuple[str, ...]
    column_fn: Callable[[Column, dict], Column] | None = None
    py_fn: Callable[[str | None, bytes | None], str] | None = None
    leg_fn: Callable[[DataFrame, dict, dict], DataFrame | None] | None = None
    config: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        impls = (self.column_fn, self.py_fn, self.leg_fn)
        if sum(fn is not None for fn in impls) != 1:
            raise ValueError(
                f"Strategy '{self.name}' must define exactly one of "
                "column_fn, py_fn or leg_fn"
            )


class StrategyRegistry:
    def __init__(self) -> None:
        self._strategies: dict[str, ExtractorStrategy] = {}

    def register(
        self,
        strategy: ExtractorStrategy,
        name: str | None = None,
        override: bool = False,
    ) -> None:
        """Reference semantics (strategy.py:66-70): keep the existing entry
        unless ``override`` is set."""
        name = name or strategy.name
        if override or name not in self._strategies:
            self._strategies[name] = strategy

    def get(self, name: str) -> ExtractorStrategy:
        """Reference semantics (strategy.py:55-64)."""
        if name not in self._strategies:
            available = ", ".join(self._strategies.keys())
            raise ValueError(f"Unknown strategy '{name}'. Available: {available}")
        return self._strategies[name]

    def strategies(self) -> list[ExtractorStrategy]:
        """Registration order — this is the when-chain / leg build order."""
        return list(self._strategies.values())

    def names(self) -> list[str]:
        return list(self._strategies.keys())


_ENV_RE = None


def resolve_env_placeholders(value):
    """Resolve ``${VAR}`` placeholders from the environment — the
    reference's storage-config resolution (storage_strategy.py:33-42),
    applied recursively over config dicts/lists. Unset variables resolve to
    '' (same as ``os.getenv`` default there)."""
    global _ENV_RE
    if _ENV_RE is None:
        import re

        _ENV_RE = re.compile(r"\$\{([A-Za-z_][A-Za-z0-9_]*)\}")
    if isinstance(value, str):
        return _ENV_RE.sub(lambda m: os.environ.get(m.group(1), ""), value)
    if isinstance(value, dict):
        return {k: resolve_env_placeholders(v) for k, v in value.items()}
    if isinstance(value, list):
        return [resolve_env_placeholders(v) for v in value]
    return value


def load_registry_from_config(
    path: str, registry: StrategyRegistry | None = None
) -> StrategyRegistry:
    """YAML → registry (reference strategy.py:73-102 semantics, including
    its error messages for a missing file / section / class attribute).
    ``${VAR}`` placeholders in per-strategy config resolve from the
    environment (F5) — driver-side, before the config enters plan closures."""
    import yaml

    registry = registry or StrategyRegistry()
    if not os.path.isfile(path):
        raise FileNotFoundError(f"Config file not found at path: {path}")
    with open(path) as f:
        config = yaml.safe_load(f)
    if (
        not isinstance(config, dict)  # empty YAML → safe_load returns None
        or "strategies" not in config
        or not isinstance(config["strategies"], dict)
    ):
        raise ValueError(
            f"Missing or invalid 'strategies' section in the {path} file"
        )
    for strategy_name, strategy_config in config["strategies"].items():
        if "class" not in strategy_config:
            raise ValueError(
                f"Missing 'class' attribute for strategy: {strategy_name}"
            )
        strategy_config = resolve_env_placeholders(strategy_config)
        module_path, attr_name = strategy_config["class"].rsplit(".", 1)
        factory = getattr(importlib.import_module(module_path), attr_name)
        registry.register(factory(strategy_config), strategy_name)
    return registry


def autodiscover(
    registry: StrategyRegistry,
    package: str = "text_extract_api_spark.extractors",
) -> StrategyRegistry:
    """Scan a package for modules exposing a ``register_strategies(registry)``
    hook (reference strategy.py:105-139 walk_packages discovery). Existing
    registrations win (same keep-unless-override rule)."""
    pkg = importlib.import_module(package)
    for submodule_info in pkgutil.walk_packages(pkg.__path__, package + "."):
        try:
            module = importlib.import_module(submodule_info.name)
        except ImportError:
            continue
        hook = getattr(module, "register_strategies", None)
        if callable(hook):
            hook(registry)
    return registry


_DEFAULT: StrategyRegistry | None = None

DEFAULT_CONFIG_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "conf",
    "strategies.yaml",
)


def default_registry(refresh: bool = False) -> StrategyRegistry:
    """The engine's registry: ``conf/strategies.yaml`` first (the reference's
    ``OCR_CONFIG_PATH`` analog via ``SPARK_GRAFT_STRATEGY_CONFIG``), then
    autodiscovery for anything the config missed."""
    global _DEFAULT
    if _DEFAULT is None or refresh:
        reg = StrategyRegistry()
        path = os.environ.get("SPARK_GRAFT_STRATEGY_CONFIG", DEFAULT_CONFIG_PATH)
        if os.path.isfile(path):
            load_registry_from_config(path, reg)
        autodiscover(reg)
        _DEFAULT = reg
    return _DEFAULT
