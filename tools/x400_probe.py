"""x400 forward-probe for the embedding near-dup dial (round-close
gate): run ``ext_dedup_embedding`` one density step PAST the certified
sf10 point — 400 jittered replicas of the sf0.1 embeddings (800k
vectors, ~1M corpus with mutants, 400-deep replica families: 4x the
sf10 corpus and a strictly denser crowd distribution) — and ASSERT the
planted-mutant recall floor with an exit code, not prose.

The r12 verdict's discipline ("would it survive the next scale step?")
ran as a one-off that round; this tool makes it survive builder
turnover: every round close re-runs it, refreshes ``X400_PROBE.json``,
and fails loudly (exit 1) if the floor is breached.

Checks: tools/sf10_certify.cert_dedup_embedding, run on this fixture —
- soundness: every emitted pair exactly re-verified against base
  vectors by DuckDB (cosine recomputed, >= 0.99) — must be 0 unsound;
- every emitted pair references a corpus id and is ordered
  (vec_a < vec_b) — must be 0 dangling_or_misordered;
- planted recall: fraction of (v, v+offset) mutant pairs recovered —
  floor 0.75 (hard gate), target 0.90 (reported; the r13 multi-probe
  exists to hold it at this density).

Usage:
    python tools/x400_probe.py [--replicas 400] [--floor 0.75]
                               [--out X400_PROBE.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

import duckdb

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from streamingdemo_spark.session import get_spark  # noqa: E402
from tools import scale_probe, sf10_certify  # noqa: E402

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--replicas", type=int, default=400)
    ap.add_argument("--floor", type=float, default=0.75)
    ap.add_argument("--out", default="X400_PROBE.json")
    args = ap.parse_args()
    replicas, floor = args.replicas, args.floor

    fixture = scale_probe.embeddings_fixture(replicas, SRC)
    spark = get_spark(
        app_name="x400_probe", extra_conf={"spark.driver.memory": "48g"}
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{fixture}/embeddings.parquet')"
    )
    t0 = time.time()
    cert = sf10_certify.cert_dedup_embedding(spark, con, fixture)
    wall = time.time() - t0
    checks = cert["checks"]
    recall = checks["planted_recall"]

    result = {
        "fixture": (
            f"/tmp/emb_x{replicas} — {replicas} jittered replicas of "
            f"sf0.1 embeddings ({replicas * 2000} vectors, "
            f"{replicas}-deep replica families: a strictly denser crowd "
            f"distribution than the certified sf10 point)"
        ),
        "purpose": (
            "forward-probe the data-derived sign-LSH dial one scale "
            "step past the certified sf10 point, gated by exit code "
            "at every round close"
        ),
        "planted_recall": recall,
        "recall_floor": floor,
        "floor_pass": recall >= floor,
        "unsound_pairs": checks["unsound_pairs"],
        "spark_rows": cert["spark_rows"],
        "sec": round(wall, 1),
    }
    # Idempotent artifact: when every VALUE field matches the existing
    # artifact, keep its recorded wall and don't rewrite — a
    # round-close gate run with unchanged results must leave the tree
    # clean (only `sec` varies run-to-run, and a stale-by-seconds wall
    # is not a finding).
    try:
        prev = json.loads(Path(args.out).read_text())
    except (OSError, ValueError):
        prev = None
    value_fields = (
        "fixture", "planted_recall", "recall_floor", "floor_pass",
        "unsound_pairs", "spark_rows",
    )
    if prev is not None and all(
        prev.get(f) == result[f] for f in value_fields
    ):
        result["sec"] = prev.get("sec", result["sec"])
    else:
        with open(args.out, "w") as f:
            json.dump(result, f, indent=2)
            f.write("\n")
    print(json.dumps(result, indent=2))
    spark.stop()
    for check in ("unsound_pairs", "dangling_or_misordered"):
        if checks[check] != 0:
            print(f"FAIL: {checks[check]} {check}", file=sys.stderr)
            return 1
    if recall < floor:
        print(
            f"FAIL: planted recall {recall:.4f} < floor {floor}",
            file=sys.stderr,
        )
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
