"""100x differential: Spark-vs-DuckDB hash parity for the
WRAP-EXPOSED key subset at ~sf10 (60M lineitem rows) — one overflow
tier above tools/sf1_differential.py. Integer-unit sums, squared/
higher-moment sums, and big COUNT products are where int64 headroom
dies first, and the failure is one-sided (DuckDB silently widens to
HUGEINT where Spark wraps), so only a differential at the bigger
scale can see it — the exact mechanism of the r4 catch (a squared-
price sum wrapped at sf0.1 while green at sf0.01).

Derivation (into /tmp/sim_sf10, single parquet files): 10 replicas
of /tmp/sim_sf1's TPC-H tables with a second key-offset layer
(orders/lineitem 8e8 — chosen so max orderkey stays under
agg_minmax_by's loud 2^33 encoding bound; cust/supp/part 1e8) and
10 fresh-user replicas of its events. documents get a SECOND cipher
layer over a DISJOINT letter set ("dcumfpgwyb" vs scale_probe's
"etaoinsrhl"): rotations over disjoint alphabets compose to 100
distinct maps, so no (r1, r2) pair is byte-identical to another —
re-running the SAME alphabet would make rotation pairs with
r1+r2 ≡ const collide into exact twins and explode cross-replica
shingle matches (the failure mode cipher_documents fails loudly
about). Embeddings get a second jitter layer (sigma 0.02, seeded).

KEYS: the integer-arithmetic-heavy subset with linear oracles —
moments (Σx²..x⁴), regression/corr/chi² (Σxy products), exact
percentiles, money sums (Q1/Q6/Q12/Q14/Q17), bitmap distinct,
gini/weighted-median/ltv, runtime bloom, winsorize. The r10 sweep
runs the FULL registry (no --keys) against this corpus.

Usage:
    python tools/sf10_differential.py              # build only
    python tools/driver_sim.py /tmp/sim_sf10 --out SF10_SIM.json
    python tools/driver_sim.py /tmp/sim_sf10 --keys "$(python tools/sf10_differential.py --print-keys)"
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from tools import scale_probe  # noqa: E402

SRC = "/tmp/sim_sf1"
DST = "/tmp/sim_sf10"
REPLICAS = 10
OFFSETS = {
    "customer": {"c_custkey": 100_000_000},
    "supplier": {"s_suppkey": 100_000_000},
    "part": {"p_partkey": 100_000_000},
    "orders": {"o_orderkey": 800_000_000, "o_custkey": 100_000_000},
    "lineitem": {
        "l_orderkey": 800_000_000,
        "l_partkey": 100_000_000,
        "l_suppkey": 100_000_000,
    },
    "events": {"event_id": 100_000_000, "user_id": 100_000_000},
}

KEYS = [
    "agg_moments_exact",
    "agg_regression",
    "agg_corr",
    "agg_chi_square",
    "agg_stats",
    "agg_percentile_exact",
    "agg_weighted_median",
    "agg_gini_concentration",
    "agg_bitmap_distinct",
    "agg_ltv_cohort",
    "agg_groupby",
    "agg_global",
    "ext_winsorize",
    "flagship_q1",
    "flagship_q6",
    "flagship_q12",
    "flagship_q14",
    "flagship_q17",
    "join_runtime_bloom",
    "sql_scalar_udf",
    "agg_minmax_by",
]


# Disjoint from scale_probe.COMMON ("etaoinsrhl"): layer-2 rotations
# must not compose with layer-1 rotations into the identity map.
COMMON2 = "dcumfpgwyb"


def build() -> None:
    from tools.sf1_differential import build as build_sf1

    if not all(
        os.path.exists(os.path.join(SRC, f"{t}.parquet"))
        for t in ("lineitem", "events")
    ):
        build_sf1()
    scale_probe.build_tpch(SRC, DST, REPLICAS, OFFSETS, date_shift_us=0)
    scale_probe.cipher_documents(SRC, DST, REPLICAS, 100_000_000, COMMON2)
    scale_probe.replicate_embeddings(SRC, DST, REPLICAS)


if __name__ == "__main__":
    if "--print-keys" in sys.argv:
        print(",".join(KEYS))
        raise SystemExit(0)
    import time

    t0 = time.perf_counter()
    build()
    print(f"built {DST} in {time.perf_counter() - t0:.1f}s")
