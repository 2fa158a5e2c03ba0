"""Workload definitions: which ops each benchmark workload runs.

An op is either a registered query key (``streamingdemo_spark.registry
.QUERIES``) or a container pipeline spec under ``examples/`` run through
``operators.container.run_pipeline``. See README.md for why each
workload holds the ops it does.
"""

from __future__ import annotations

from dataclasses import dataclass

PKG = "streamingdemo_spark"


@dataclass(frozen=True)
class Op:
    kind: str  # "key" or "spec"
    target: str  # query key, or spec path relative to the repo root


def _keys(*names: str) -> list[Op]:
    return [Op("key", n) for n in names]


def _specs(*paths: str) -> list[Op]:
    return [Op("spec", p) for p in paths]


WORKLOADS: dict[str, list[Op]] = {
    # The JVM-only batch path and the micro-batch streams. TPC-H reads
    # (Catalyst, codegen, AQE shuffles), the operator container over the
    # same tables, the txn-log writes beside them, and replays through
    # streaming.runner.run_to_memory, whose time is the fixed cost of each
    # micro-batch (planning, state commit, WAL). The stateless quality
    # gate is the control for state-store changes. No io.spread_scan.
    "tpch_stream": _keys("flagship_q3")
    + _specs("examples/tpch_report.yaml")
    + _keys(
        "snk_merge_upsert",
        "snk_txn_log_commit",
        "stream_tumbling",
        "stream_quality_gopher_gate",
    ),
    # Arrow/pandas UDF workers, wide shuffles and the io.spread_scan
    # parallelism floor (the corpus is above its size floor). No streams
    # and no container specs.
    "curation": _keys(
        "ext_dedup_minhash",
        "ext_text_quality",
        "ext_dedup_url",
        "ext_sim_knn_join",
        "ext_text_bm25",
        "udf_pandas_scalar",
    ),
}

# Key modules whose builders get their own per-layer metrics, named by
# the module path under the package (``plans.flagship`` ...).
KEY_MODULES = (
    "plans.flagship",
    "plans.flagship_sweep",
    "plans.windows",
    "plans.scans",
    "plans.lakehouse",
    "plans.storage",
    "plans.udfs",
    "extensions.dedup",
    "extensions.text",
    "extensions.similarity",
    "extensions.corpus",
    "extensions.graph",
    "extensions.retrieval",
    "streaming.queries",
)


def layer_of(module: str) -> str:
    """Layer name of a module: its dotted path under the package."""
    prefix = PKG + "."
    return module[len(prefix):] if module.startswith(prefix) else module
