"""Full-registry DIFFERENTIAL sweep at ~sf1 (10x the bench scale):
build a 10x dataset where every table grows with realistic join
cardinalities, then run tools/driver_sim.py against it — Spark vs
DuckDB hash parity for all 346 keys one scale tier above the r4
full-sf0.1 sweep (which caught two real scale-dependent divergences:
an int64 wrap and a window-tiebreak ambiguity). Wraps are one-sided
(DuckDB silently HUGEINT-widens where Spark wraps), so this is the
probe that catches the next headroom exhaustion early.

Derivation (into /tmp/sim_sf1; /root/testdata untouched; all tables
single parquet FILES so DuckDB's read_parquet('<t>.parquet') works):
- region/nation: shared (25 nations at any TPC-H sf) — copied.
- customer/supplier/part/orders/lineitem: 10 key-offset replicas
  (dates unchanged, so join fan-outs and date-filter selectivities
  scale realistically — unlike the perf probe's date-shifted build,
  this sweep WANTS the richer cross-replica predicate interactions).
- documents/embeddings/events: the tools/scale_probe.py derivations
  (cipher-rotated docs keep per-replica duplicate structure without
  cross-replica 40-gram collisions; jittered embeddings; fresh-user
  events).

Usage:
    python tools/sf1_differential.py            # build only
    python tools/driver_sim.py /tmp/sim_sf1 --out R7_SF1_SIM.json
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from tools import scale_probe  # noqa: E402

SRC = "/root/testdata/sf0.1"
DST = "/tmp/sim_sf1"
REPLICAS = 10
OFFSETS = {
    "customer": {"c_custkey": 1_000_000},
    "supplier": {"s_suppkey": 1_000_000},
    "part": {"p_partkey": 1_000_000},
    "orders": {"o_orderkey": 10_000_000, "o_custkey": 1_000_000},
    "lineitem": {
        "l_orderkey": 10_000_000,
        "l_partkey": 1_000_000,
        "l_suppkey": 1_000_000,
    },
}


def build() -> None:
    scale_probe.build_tpch(SRC, DST, REPLICAS, OFFSETS, date_shift_us=0)
    scale_probe.build_text_corpus(SRC, DST, REPLICAS)


if __name__ == "__main__":
    import time

    t0 = time.perf_counter()
    build()
    print(f"built {DST} in {time.perf_counter() - t0:.1f}s")
