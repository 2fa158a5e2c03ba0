"""Operator registry + dispatch contract (SURVEY §2.A4-A6, B5).

The reference resolves operator ``mainClass`` strings from XML
(``OpContainer.java:181-195``) or a MySQL table
(``OpContainerTest.java:124-145``) and invokes them reflectively
(``OpContainer.java:109-130``). Here: an in-process dict of callables,
with dotted-path ``importlib`` resolution as the plugin escape hatch.
The table-backed variant lives in ``operators/db_registry.py``: it
reads the rows through Spark's JDBC source with parameterized reader
options instead of the reference's string-concatenated SQL.

Operator contract (the engine's ``StreamingOperator.java:5-8``, but
with the *reflective call site's* true signature,
``OpContainer.java:111-115``)::

    execute(spark, params: dict, inputs: dict[str, DataFrame])
        -> dict[str, DataFrame]

Returned ports are merged into the container's global port registry
keyed ``"<opName>.<port>"`` (``OpContainer.java:131-136``).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from typing import Protocol

from pyspark.sql import DataFrame, SparkSession

OperatorFn = Callable[[SparkSession, dict, dict[str, DataFrame]], dict[str, DataFrame]]


class Operator(Protocol):
    def __call__(
        self,
        spark: SparkSession,
        params: dict,
        inputs: dict[str, DataFrame],
    ) -> dict[str, DataFrame]: ...


class OperatorRegistry:
    # Dotted-path plugin imports are gated behind a module-prefix
    # allowlist: pipeline specs can be parsed from external JSON/YAML/XML
    # files (spec_io.py), and an ungated importlib fallback would let an
    # untrusted spec trigger arbitrary import-time code execution — the
    # Python equivalent of the reference's unrestricted Class.forName.
    DEFAULT_PLUGIN_PREFIXES = ("streamingdemo_spark.",)

    def __init__(
        self, plugin_prefixes: tuple[str, ...] = DEFAULT_PLUGIN_PREFIXES
    ) -> None:
        self._ops: dict[str, OperatorFn] = {}
        self._plugin_prefixes = tuple(plugin_prefixes)

    def allow_plugin_prefix(self, prefix: str) -> None:
        """Opt a module prefix into dotted-path resolution (deployment
        code only — never call this with data from a loaded spec)."""
        self._plugin_prefixes += (prefix,)

    def register(self, name: str) -> Callable[[OperatorFn], OperatorFn]:
        def deco(fn: OperatorFn) -> OperatorFn:
            if name in self._ops:
                raise ValueError(f"duplicate operator: {name}")
            self._ops[name] = fn
            return fn

        return deco

    def resolve(self, name: str) -> OperatorFn:
        """Look up a registered operator, or import a dotted-path plugin
        (``pkg.module:function``) — the engine's Class.forName."""
        if name in self._ops:
            return self._ops[name]
        if ":" in name:
            mod_name, fn_name = name.split(":", 1)
            # match on module boundaries: the prefix "json" admits
            # "json" and "json.tool", never "jsonevil" (a bare
            # startswith would let any module sharing the spelling
            # through the safety gate)
            if not any(
                mod_name == p.rstrip(".")
                or mod_name.startswith(p if p.endswith(".") else p + ".")
                for p in self._plugin_prefixes
            ):
                raise PermissionError(
                    f"plugin module {mod_name!r} is not in the allowlist "
                    f"{self._plugin_prefixes}; call allow_plugin_prefix() "
                    "from deployment code to opt it in"
                )
            fn = getattr(importlib.import_module(mod_name), fn_name)
            return fn
        raise KeyError(f"unknown operator {name!r}")

    def names(self) -> list[str]:
        return sorted(self._ops)


DEFAULT_REGISTRY = OperatorRegistry()
