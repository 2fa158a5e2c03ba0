"""ANN scale probe: recall + wall for LSH and IVF vs exact cosine at
10x and 100x the sf0.1 embeddings corpus (SCALE.md methodology).

Reads scale_probe's embeddings-only fixture (copy k of the sf0.1
embeddings gets deterministic noise ~N(0, 0.02) from a fixed seed and
vec_ids offset by k * base_n, so replicas are near- but not exact
duplicates and neighborhoods stay nontrivial), then runs the three
retrieval paths per scale and reports wall seconds + recall@5 vs the
exact result.

Usage: python tools/ann_scale_probe.py [--scales 1,10,100]
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools.scale_probe import embeddings_fixture  # noqa: E402


def main() -> None:
    scales = [1, 10, 100]
    if "--scales" in sys.argv:
        scales = [int(x) for x in sys.argv[sys.argv.index("--scales") + 1].split(",")]

    from streamingdemo_spark.extensions.similarity import (
        ext_sim_ann_lsh,
        ext_sim_cosine_topk,
        ext_sim_ivf_topk,
    )
    from streamingdemo_spark.session import get_spark

    spark = get_spark()
    results = {}
    for factor in scales:
        sf_dir = embeddings_fixture(factor)
        row = {}
        exact_pairs = None
        for name, fn in [
            ("exact", ext_sim_cosine_topk),
            ("lsh", ext_sim_ann_lsh),
            ("ivf", ext_sim_ivf_topk),
        ]:
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            rows = fn(spark, sf_dir).collect()
            wall = time.perf_counter() - t0
            if name == "ivf":
                # r7: the key emits its own accuracy summary
                # (q_id, n_results, recall_ok) instead of a hit list —
                # it already computes recall vs exact internally
                recall = 1.0 if all(r["recall_ok"] for r in rows) else 0.0
                row[name] = {"sec": round(wall, 2), "recall_ok": bool(recall)}
                print(f"x{factor:<4} {name:5s} {wall:7.2f}s recall_ok={bool(recall)}", flush=True)
                continue
            pairs = {(r["q_id"], r["vec_id"]) for r in rows}
            if name == "exact":
                exact_pairs = pairs
                recall = 1.0
            else:
                recall = len(pairs & exact_pairs) / max(len(exact_pairs), 1)
            row[name] = {"sec": round(wall, 2), "recall_at_5": round(recall, 3)}
            print(f"x{factor:<4} {name:5s} {wall:7.2f}s recall={recall:.3f}", flush=True)
        results[f"x{factor}"] = row
    print(json.dumps(results, indent=2))


if __name__ == "__main__":
    main()
