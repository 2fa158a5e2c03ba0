"""Tile-grid kNN scale probe (SCALE.md methodology): at 50k vectors
(x25 jittered replicas of the sf0.1 embeddings corpus, built by
scale_probe.embeddings_fixture), run the exact kNN self-join with a
single build-side tile vs a 10k-row tile grid and report wall seconds,
per-tile broadcast size, and result equality.

The point being probed: the tile grid bounds executor-side build
memory at tile_rows x dims x 8 B per tile (plus one tile resident at a
time per task) while producing the identical top-k graph — the margin
cut emits a per-tile superset of the global rounded-tie set, and the
final window re-ranks the union.

The --rss mode probes the round-4 de-drivered build staging: the
build side is written as distributed parquet tiles (never
materialized in the driver), so driver max-RSS must stay ~flat as the
corpus grows. Each scale runs in its own subprocess because
ru_maxrss is a process-lifetime high-water mark.

Usage: python tools/knn_tile_probe.py [--factor 25] [--tile-rows 10000]
       python tools/knn_tile_probe.py --rss [--tile-rows 10000]
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools.scale_probe import embeddings_fixture  # noqa: E402


def _child(factor: int, tile_rows: int) -> None:
    """Run one kNN join and print driver-side peak RSS (MiB)."""
    import resource

    from streamingdemo_spark.extensions.similarity import ext_sim_knn_join
    from streamingdemo_spark.session import get_spark

    spark = get_spark()
    sf_dir = embeddings_fixture(factor)
    t0 = time.perf_counter()
    rows = ext_sim_knn_join(spark, sf_dir, tile_rows=tile_rows).count()
    wall = time.perf_counter() - t0
    rss_mib = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    print(json.dumps({
        "factor": factor, "sec": round(wall, 2), "rows": rows,
        "driver_rss_mib": round(rss_mib, 1),
    }))


def _rss_main(tile_rows: int) -> None:
    runs = []
    for factor in (5, 25):
        embeddings_fixture(factor)  # pre-build so the child only runs the join
        proc = subprocess.run(
            [sys.executable, __file__, "--child", str(factor),
             "--tile-rows", str(tile_rows)],
            capture_output=True, text=True, check=True,
        )
        runs.append(json.loads(proc.stdout.strip().splitlines()[-1]))
        print(runs[-1], flush=True)
    ratio = runs[-1]["driver_rss_mib"] / runs[0]["driver_rss_mib"]
    print(json.dumps({
        "corpus_growth": runs[-1]["factor"] / runs[0]["factor"],
        "driver_rss_ratio": round(ratio, 3),
        "flat": ratio < 1.3,
    }))
    if ratio >= 1.3:
        raise SystemExit("driver RSS grew with corpus size")


def main() -> None:
    if "--child" in sys.argv:
        f = int(sys.argv[sys.argv.index("--child") + 1])
        tr = 10_000
        if "--tile-rows" in sys.argv:
            tr = int(sys.argv[sys.argv.index("--tile-rows") + 1])
        _child(f, tr)
        return
    if "--rss" in sys.argv:
        tr = 10_000
        if "--tile-rows" in sys.argv:
            tr = int(sys.argv[sys.argv.index("--tile-rows") + 1])
        _rss_main(tr)
        return
    factor = 25
    tile_rows = 10_000
    if "--factor" in sys.argv:
        factor = int(sys.argv[sys.argv.index("--factor") + 1])
    if "--tile-rows" in sys.argv:
        tile_rows = int(sys.argv[sys.argv.index("--tile-rows") + 1])

    from streamingdemo_spark.extensions.similarity import ext_sim_knn_join
    from streamingdemo_spark.session import get_spark

    spark = get_spark()
    sf_dir = embeddings_fixture(factor)
    n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    dims = 64
    out = {}
    results = {}
    for name, tr in [("single_tile", None), (f"tiles_{tile_rows}", tile_rows)]:
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        rows = ext_sim_knn_join(spark, sf_dir, tile_rows=tr).collect()
        wall = time.perf_counter() - t0
        results[name] = {(r["vec_id"], r["rank"]): (r["nbr_id"], r["cosine"]) for r in rows}
        build_rows = n if tr is None else min(tr, n)
        out[name] = {
            "sec": round(wall, 2),
            "rows": len(rows),
            "tile_mib": round(build_rows * dims * 8 / 2**20, 1),
        }
        print(f"{name}: {wall:.2f}s, {len(rows)} rows, "
              f"build tile {out[name]['tile_mib']} MiB", flush=True)
    match = results["single_tile"] == results[f"tiles_{tile_rows}"]
    out["identical_results"] = match
    out["n_vectors"] = n
    print(json.dumps(out))
    if not match:
        raise SystemExit("tile-grid result differs from single tile")


if __name__ == "__main__":
    main()
