"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All keys live in ``streamingdemo_spark.registry``; importing the
plans/streaming/extensions packages populates it.
"""

from __future__ import annotations

import functools
import json
import pathlib
import re
import subprocess
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

import streamingdemo_spark.plans  # noqa: F401  (registers plan keys)
import streamingdemo_spark.streaming.queries  # noqa: F401  (stream keys)
import streamingdemo_spark.extensions  # noqa: F401  (extension keys)

from streamingdemo_spark.registry import QUERIES, resolve_oracles


@functools.lru_cache(maxsize=4)
def _resolved_oracles(sf_dir: str | None = None) -> dict[str, str]:
    """Static oracles plus the data-derived built ones (PCA component
    literals, compression pin), resolved at the driver's sf0.01
    contract tier by default — cached because builders read fixture
    parquet. sf10 tooling re-resolves at its own dir."""
    return (
        resolve_oracles(sf_dir) if sf_dir is not None else resolve_oracles()
    )

# Driver check order. The driver's verify budget (~50 keys/round) runs
# keys in the order queries() yields them, so the order decides which
# keys earn a hard CORRECTNESS row. Rounds 1-2 used a hand-maintained
# list that went stale the moment a round completed (its front 50 were
# then all proven). DRIVER_ORDER is now DERIVED at import time:
# _PRIORITY fixes the relative importance of every key, and the
# CORRECTNESS_r*.json artifacts next to this file partition it into
# [never-proven keys, in priority order] + [proven keys] — so each
# round's budget always covers new ground first, automatically.
#
# A key counts as proven only from a green row: hash_match true, or a
# clean rows-only run for keys whose SURVEY contract has no oracle
# (err == "no_oracle"). FAILed/errored rows leave the key unproven so
# the fixed version re-runs at the front of the next round.
_REPO = pathlib.Path(__file__).resolve().parent

# Relative priority, most-important first. Front block: the SURVEY §2
# keys without a driver row after round 2 (batch window/sort/set/fn/
# subq/cte, the udf quartet, the LLM-pipeline SURVEY keys, then the
# E-layer stream block — the reference's core identity), then the
# remaining never-checked extras, rows-only smokes last (weakest
# signal). Back block: everything proven in r1/r2, cheapest-first.
_PRIORITY = [
    # -- promoted r6: gained a real oracle (wire-serialization
    # loopback) after it was first slotted in the rows-only back
    # block; fronted so the driver can hash-certify it (it is
    # hash-green in tools/driver_sim.py).
    "stream_kafka_smoke",
    # -- SURVEY §2 batch keys, never driver-checked after r2
    "win_moving", "win_range_frame", "win_first_last", "win_topk_group",
    "sort_multi", "set_union_distinct", "set_intersect", "set_except",
    "fn_string", "fn_math", "subq_in", "subq_exists_corr", "cte_with",
    # -- udf surface (SURVEY §2 D-layer)
    "udf_scalar_py", "udf_pandas_scalar", "udaf_pandas_agg",
    "udtf_apply_in_pandas",
    # -- LLM-pipeline SURVEY keys
    "ext_dedup_exact", "ext_dedup_minhash", "ext_sim_cosine_topk",
    "ext_text_tokens", "ext_text_stats", "ext_text_tfidf",
    "ext_multimodal_struct",
    # -- E-layer stream block (OpContainer's identity)
    "win_time_tumbling", "win_time_sliding", "stream_tumbling",
    "stream_session", "stream_watermark_late", "stream_dedup",
    "stream_stream_static_join", "stream_stateful_custom",
    "stream_foreach_batch", "stream_anomaly", "snk_stream_parquet",
    # -- remaining never-checked extras
    "win_dist", "win_sessionize", "set_except_all", "fn_array_hof",
    "snk_merge_upsert", "snk_partitioned_write", "join_dpp",
    "join_bucketed", "ext_seq_pack", "ext_sample_stratified",
    "ext_dedup_ngram_jaccard", "ext_dedup_simhash",
    "ext_dedup_embedding", "ext_dedup_cluster", "ext_sim_ann_lsh",
    "ext_text_langid", "ext_multimodal_decode",
    "ext_multimodal_framesample",
    # -- round-3 additions
    "ext_doc_shuffle_sharded", "join_range_banded", "join_skew_salted",
    "ext_unigram_surprisal", "ext_dedup_url", "snk_scd2_history",
    "snk_cdc_apply", "agg_dq_audit", "ext_funnel_analysis",
    "agg_retention_cohort", "win_gap_islands",
    "ext_graph_pagerank", "ext_ts_resample", "ext_embedding_centroid",
    "src_jdbc_scan", "ext_sim_ivf_assign", "ext_event_pattern",
    "ext_bpe_pair_stats", "agg_heavy_hitters", "ext_ts_anomaly",
    "join_asof_tolerance", "ext_schema_profile", "ext_ccnet_bucket",
    "src_binary_scan", "win_time_range", "ext_skew_profile",
    "fn_explode_outer", "udtf_python_lateral", "ext_ts_motif",
    "ext_dedup_incremental_bloom", "join_asof_forward", "flagship_q5",
    "agg_continuous_rollup", "fn_zorder", "fn_try_arith",
    "agg_grouping_id", "src_schema_evolution", "subq_not_in_null",
    "subq_corr_agg", "agg_bitmap_distinct",
    # -- round-4 additions
    "stream_stream_outer_join", "flagship_q18", "agg_percentile_exact",
    "fn_variant_json", "fn_xml", "src_text_scan",
    "src_python_datasource", "fn_collation", "join_null_safe",
    "ext_dedup_eval", "stream_tws_custom", "ext_text_bm25", "ext_sim_rrf",
    "flagship_q7", "ext_split_assign", "ext_multimodal_phash_dedup",
    "ext_bpe_train", "ext_sim_ivf_probe_topk", "ext_tokenize_apply",
    "stream_incremental_agg", "ext_lang_mix_temperature", "snk_compaction", "ext_ts_twa", "ext_emb_gram", "join_asof_nearest", "subq_any_all", "ext_ts_interp", "ext_multimodal_phash_cluster", "win_ewma", "src_csv_corrupt_recovery", "ext_ab_ttest", "agg_regression", "agg_chi_square", "cte_recursive", "sql_pipe_syntax", "sql_named_params", "ext_k_anonymity", "win_cumulative_reach", "agg_market_basket", "ext_feature_standardize", "ext_dataset_diff", "win_session_native", "ext_corpus_drift", "ext_source_overlap", "stream_trending", "ext_semantic_decontam", "snk_analyze_stats", "flagship_q21", "flagship_q13", "ext_char_entropy", "agg_weighted_median", "flagship_q19",
    # -- round-4 TPC-H sweep (flagship_sweep.py)
    "flagship_q1", "flagship_q4", "flagship_q6", "flagship_q8",
    "flagship_q9", "flagship_q10", "flagship_q12", "flagship_q14",
    "flagship_q15", "flagship_q16", "flagship_q17", "flagship_q20",
    "flagship_q22", "ext_dedup_substring", "ext_bigram_surprisal",
    "win_yoy_growth", "ext_dedup_span_coverage",
    "flagship_q2", "flagship_q11", "win_share_of_total", "ext_winsorize",
    "ext_feature_pit_assembly", "ext_dedup_substring_mask",
    "win_moving_median", "ext_sim_range_search", "ext_text_readability",
    "ext_attribution_last_touch", "ext_code_detect",
    "snk_partition_overwrite_dynamic", "stream_windowed_distinct",
    "ext_rag_ingest", "ext_negative_sampling", "snk_observe_metrics",
    "join_runtime_bloom", "src_compressed_scan", "agg_moments_exact",
    "sql_exec_immediate", "stream_update_mode", "set_union_by_name",
    "win_skyline_frontier", "ext_dataset_card", "agg_gini_concentration",
    "win_ohlc_bars", "stream_timeout_sessions", "agg_ltv_cohort",
    "ext_churn_label", "ext_split_temporal", "agg_time_to_convert",
    "agg_seasonality_profile",
    # -- round-5 additions
    "ext_sim_rrf_ann", "ext_compression_bound", "ext_graph_triangles",
    "ext_label_noise_knn", "ext_l_diversity", "ext_sim_mmr",
    "ext_ts_cusum", "stream_chained_windows",
    "agg_markov_transitions", "ext_sample_weighted",
    "join_interval_overlap", "ext_dp_noise_count",
    "ext_graph_bfs_distance", "ext_ts_decompose",
    # -- round-6 additions
    "stream_dedup_substring", "ext_dsir_weights", "ext_sim_pq_adc",
    "sql_scalar_udf", "ext_graph_label_prop", "ext_ngram_pmi",
    "agg_sample_bottomk", "snk_zorder_write", "flt_sargable_rewrite",
    "ext_embedding_matryoshka", "ext_heaps_law", "src_txn_log_snapshot",
    "ext_graph_link_predict", "ext_sim_ivf_partitioned",
    "stream_sample_bottomk", "ext_sim_ivfpq_topk", "ext_chunk_cdc",
    "ext_dedup_setjoin", "sql_reuse_exchange",
    "ext_semdedup", "ext_hard_negatives", "ext_retrieval_metrics",
    "ext_ts_holt", "stream_ts_holt", "ext_coreset_kcenter",
    "ext_ts_holt_winters", "ext_cluster_kmeans", "ext_bootstrap_ci",
    "ext_attribution_shapley", "stream_bootstrap_ci",
    "snk_vacuum_retention",
    # -- oracle upgraded in r6 (previously rows-only): _derive_order
    #    treats oracle-backed keys without a hash row as fresh, so
    #    these run in the front block until their hash rows land
    "agg_percentile", "agg_approx_distinct",
    # -- oracle upgraded in r7 (exact value + deterministic tolerance
    #    flag, the r6 agg_percentile pattern) + the new PCA-invariants
    #    sibling that hash-certifies the pca_project pipeline
    "agg_hll_mergeable", "agg_kll_quantile_merge", "ext_sim_ivf_topk",
    "ext_embedding_pca_invariants",
    # -- round-7 additions
    "src_txn_log_time_travel", "ext_quality_gopher_rules",
    # -- round-8 additions
    "src_txn_log_incremental", "stream_quality_gopher_gate",
    "src_txn_log_stats_prune", "snk_txn_log_commit", "snk_txn_log_merge",
    # -- round-9 additions
    "src_txn_log_checkpointed", "snk_txn_log_conflict",
    "snk_txn_log_rebase", "snk_txn_log_stream_commit",
    "snk_txn_log_pipeline", "ext_compression_invariants",
    "src_txn_log_cdf", "src_txn_log_schema_evolution",
    "src_txn_log_stats_prune_checkpointed",
    # -- round-10 additions
    "src_txn_log_time_travel_ts", "snk_txn_log_compact",
    "snk_txn_log_multiwriter", "snk_txn_log_vacuum",
    "snk_txn_log_restore", "snk_txn_log_zorder", "snk_txn_log_incr_mv",
    "src_txn_log_partition_evolution", "src_txn_log_bloom_prune",
    # -- round-11 additions
    "ext_label_noise_ann", "ext_dedup_embedding_cluster",
    "stream_dedup_embedding",
    # -- r13: pca_project and compression_ratio graduated from
    #    rows-only to BUILT oracles (data-derived constants resolved
    #    per sf tier — registry.ORACLE_BUILDERS); only the wall-clock
    #    rate source remains rows-only (not SQL-replayable even in
    #    principle). Their invariant twins stay hash-certified too.
    "ext_embedding_pca_project",
    "ext_compression_ratio", "stream_rate_smoke",
    # -- proven in r1/r2 (green rows), cheapest-first
    "stream_stream_join", "agg_collect_sorted",
    "fn_split_array", "fn_map", "ext_text_fingerprint",
    "ext_ngram_stats", "ext_length_bucket", "ext_chunk_dedup",
    "ext_doc_shuffle", "agg_median_mode", "subq_lateral",
    "set_intersect_all", "ext_embedding_health", "ext_label_balance",
    "stream_sliding", "agg_corr", "ext_dedup_containment",
    "ext_quality_prune", "join_fuzzy",
    "ext_curation_pipeline", "ext_sim_knn_join",
    "ext_doc_chunking", "ext_vocab_coverage",
    "ext_quality_score", "ext_dedup_cross_source",
    "win_ntile", "ext_contamination_check",
    "ext_repetition_filter", "ext_embedding_quantize", "sort_limit_topk",
    "fn_hash", "ext_pii_redact", "ext_text_normalize",
    "set_union_all", "fn_explode", "fn_posexplode",
    "fn_struct", "fn_timestamp", "fn_url",
    "ext_token_count", "ext_train_mix", "fn_date",
    "fn_cast", "fn_bitwise", "subq_scalar",
    "fn_regex", "fn_cond", "fn_json",
    "ext_text_quality", "proj_select", "proj_rename_drop",
    "flt_in_between_like", "flt_compare", "flt_null",
    "dedup_distinct", "agg_histogram", "join_cross",
    "agg_having", "agg_conditional", "join_anti",
    "agg_minmax_by", "win_row_number", "flt_boolean",
    "agg_global", "join_semi", "src_json_scan",
    "agg_grouping_sets", "agg_unpivot", "win_running",
    "proj_withcolumn", "join_right", "win_lag_lead",
    "join_where_theta_equi", "agg_pivot", "join_inner",
    "join_broadcast", "agg_stats", "win_rank",
    "join_left", "agg_cube", "agg_rollup",
    "agg_count_distinct", "join_full", "agg_skew_salted",
    "agg_groupby", "src_csv_scan", "src_orc_scan",
    "src_parquet_scan", "join_multikey",
    "join_asof", "src_view_scan", "join_star3",
    "snk_ctas", "join_theta_range", "snk_parquet_write",
    "flagship_q3",
]


def _correctness_history() -> dict[str, dict]:
    """Per key: ``{"hash": bool, "green_round": int | None,
    "hash_round": int | None}``.

    ``hash`` = some round's row has hash_match true; ``green_round`` =
    the LAST round with a green row (hash_match true, or a clean run
    under the rows-only contract, err == "no_oracle"); ``hash_round``
    = the LAST round with a hash_match-true row specifically. A FAIL/
    error row does NOT prove a key — the (presumably fixed) key
    re-runs next round.
    """
    hist: dict[str, dict] = {}
    for path in sorted(_REPO.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", path.stem)
        rnd = int(m.group(1)) if m else 0
        try:
            rows = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        for key, row in rows.items():
            if not isinstance(row, dict):
                continue
            rec = hist.setdefault(
                key, {"hash": False, "green_round": None, "hash_round": None}
            )
            if row.get("hash_match") is True:
                rec["hash"] = True
                rec["green_round"] = rnd
                rec["hash_round"] = rnd
            elif row.get("err") == "no_oracle":
                rec["green_round"] = rnd
    return hist


# ---- Oracle fingerprints: certification is per ORACLE TEXT, not per
# key. A hash row proves key-vs-oracle agreement for the oracle the
# driver ran THAT round; strengthening the oracle later must re-open
# certification (the r8-advice 'sticky hash' hole — the r7 rows-only→
# oracle upgrade path was handled, oracle→stronger-oracle was not).
# ORACLE_FP.json (committed; regenerated by tools/oracle_fp.py, and
# kept current by tests/test_oracle.py) records per key the
# whitespace-normalized-SQL fingerprint and the round that text took
# effect; a key whose current fingerprint differs from the snapshot,
# or whose last hash row predates the fingerprint's round, is
# uncertified and re-fronts in DRIVER_ORDER.

_ORACLE_FP_PATH = _REPO / "ORACLE_FP.json"


def oracle_fp(sql: str) -> str:
    """Whitespace-insensitive fingerprint of one oracle's SQL text."""
    import hashlib

    return hashlib.sha256(" ".join(sql.split()).encode()).hexdigest()[:16]


def _oracle_fp_records() -> dict[str, dict]:
    try:
        recs = json.loads(_ORACLE_FP_PATH.read_text())
        return recs if isinstance(recs, dict) else {}
    except (OSError, ValueError):
        return {}


def driver_proven() -> frozenset[str]:
    """Keys with a green hard-signal row in any CORRECTNESS_r*.json."""
    hist = _correctness_history()
    return frozenset(k for k, rec in hist.items() if rec["green_round"] is not None)


def driver_uncertified() -> frozenset[str]:
    """Registered keys the driver still owes a row at their CURRENT
    contract strength: never any green row; OR oracle-backed but never
    hash-matched (an oracle upgraded after a rows-only row re-opens
    certification — the r7 verdict found agg_percentile & co. stranded
    at DRIVER_ORDER 243+ because a stale no_oracle row counted as proof
    forever); OR the oracle TEXT changed since the last hash row (the
    ORACLE_FP.json fingerprint check — a hash row only certifies the
    oracle the driver actually compared against)."""
    hist = _correctness_history()
    fps = _oracle_fp_records()
    oracles = _resolved_oracles()

    def uncert(k: str) -> bool:
        rec = hist.get(k)
        if rec is None or rec["green_round"] is None:
            return True
        if k not in oracles:
            return False
        if not rec["hash"]:
            return True
        fprec = fps.get(k)
        if fprec is None:
            return False  # pre-snapshot key: fall back to hash-row proof
        if fprec.get("fp") != oracle_fp(oracles[k]):
            return True  # oracle edited after the last snapshot
        hr = rec.get("hash_round")
        return hr is not None and hr < int(fprec.get("round", 0))

    return frozenset(k for k in QUERIES if uncert(k))


@functools.lru_cache(maxsize=None)
def _change_ts(relpath: str) -> float:
    """Last-change time of a repo file: its last git commit timestamp,
    falling back to the filesystem mtime for uncommitted/untracked
    files (the driver commits pending work before verify, so git is
    normally current)."""
    try:
        out = subprocess.run(
            ["git", "-C", str(_REPO), "log", "-1", "--format=%ct", "--", relpath],
            capture_output=True, text=True, timeout=15, check=False,
        ).stdout.strip()
        if out:
            return float(out)
    except Exception:
        pass
    try:
        return (_REPO / relpath).stat().st_mtime
    except OSError:
        return 0.0


def _module_relpath(key: str) -> str | None:
    """Repo-relative path of the module implementing ``key``."""
    fn = QUERIES.get(key)
    if fn is None:
        return None
    mod = sys.modules.get(getattr(fn, "__module__", ""), None)
    path = getattr(mod, "__file__", None)
    if not path:
        return None
    try:
        return str(pathlib.Path(path).resolve().relative_to(_REPO))
    except ValueError:
        return None


def _derive_order() -> list[str]:
    hist = _correctness_history()
    uncertified = driver_uncertified()
    # Capability-gated keys (e.g. stream_tws_custom without protobuf,
    # multimodal decode without PIL) may not register on this box;
    # DRIVER_ORDER tracks what actually registered, nothing more.
    priority = [k for k in _PRIORITY if k in QUERIES]
    fresh = [k for k in priority if k in uncertified]
    old = [k for k in priority if k not in uncertified]
    # Registry keys missing from _PRIORITY (just-added ops) are by
    # definition never-checked: they run right after the known fresh
    # block, before anything proven.
    extra = [k for k in QUERIES if k not in set(_PRIORITY)]

    # Proven block, ordered by regression risk: keys whose implementing
    # module — or any of the shared helper modules EVERY key flows
    # through (registry's sum/hash helpers, the table loader, the
    # session config, the streaming runner/sources, the txn-log format
    # every txn-log key reads and writes through) — changed since the
    # round that earned their last green row first, then
    # oldest-green-first, priority order as the tiebreak — so the
    # re-run budget lands where a regression could actually hide. The
    # shared modules matter: an edit to usum()/half_up_micro_avg()
    # touches dozens of proven keys whose own modules stay untouched.
    prio_idx = {k: i for i, k in enumerate(priority)}
    shared = [
        "streamingdemo_spark/registry.py",
        "streamingdemo_spark/io.py",
        "streamingdemo_spark/session.py",
        "streamingdemo_spark/streaming/runner.py",
        "streamingdemo_spark/streaming/sources.py",
        "streamingdemo_spark/plans/txn_log.py",
    ]
    shared_ts = max(
        (_change_ts(p) for p in shared if (_REPO / p).exists()),
        default=0.0,
    )

    def risk_key(k: str) -> tuple:
        rec = hist[k]
        rnd = rec["green_round"]
        artifact = f"CORRECTNESS_r{rnd:02d}.json"
        mod = _module_relpath(k)
        changed = bool(
            (_REPO / artifact).exists()
            and (
                (mod is not None and _change_ts(mod) > _change_ts(artifact))
                or shared_ts > _change_ts(artifact)
            )
        )
        return (0 if changed else 1, rnd, prio_idx.get(k, 10**6))

    old.sort(key=risk_key)
    return fresh + extra + old


DRIVER_ORDER = _derive_order()


def _ordered(mapping: dict) -> dict:
    """Reorder a registry dict by DRIVER_ORDER; unknown keys keep their
    registration order at the end (safety for keys added later)."""
    out = {k: mapping[k] for k in DRIVER_ORDER if k in mapping}
    out.update({k: v for k, v in mapping.items() if k not in out})
    return out


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H-Q3 shape) on /root/testdata/sf0.001."""
    return QUERIES["flagship_q3"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator key from SURVEY.md §2."""
    return _ordered(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL for every oracle=Y key (data-derived
    oracles resolved at the driver's sf0.01 contract tier)."""
    return _ordered(_resolved_oracles())
