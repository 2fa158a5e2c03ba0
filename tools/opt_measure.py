"""Optimization-round measurement harness (guide §1).

A thin CLI over ``bench.py``'s measurement path: the session is warmed
with ``bench.warm_up``, and each requested key is timed with
``bench.timed_reps`` (cache cleared per rep, timed from the builder
call to the fully drained output), so its walls are comparable with
the bench's. Each key runs under its own job group, and its record
carries ``bench.stage_stats`` for that group, summed over the reps.

Unless ``--no-plan``, the key's ``.explain("formatted")`` is written to
``<plans-dir>/<key>_<label>.txt``. For a streaming key (whose builder
executes the replay and returns a memory table) the captured runtime
plan (``runner.LAST_STREAM_PLAN``) is written first; a key that runs
two replays (``stream_incremental_agg``, ``stream_sample_bottomk``)
records the plan of its last one.

Usage:
    python tools/opt_measure.py --keys k1,k2 [--label before]
                                [--sf /root/testdata/sf0.1] [--reps 2]
                                [--conf k=v ...] [--no-plan]
                                [--plans-dir plans/r14]

Timings go to stdout as one JSON line per key.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def _capture_plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--keys", required=True)
    ap.add_argument("--label", default="before")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--no-plan", action="store_true")
    ap.add_argument(
        "--conf",
        action="append",
        default=[],
        help="extra spark conf k=v (repeatable) for config A/B runs",
    )
    ap.add_argument(
        "--plans-dir",
        type=Path,
        default=ROOT / "plans" / "r14",
        help="where the plan captures go",
    )
    args = ap.parse_args()

    import __spark_entry__ as entry_mod
    import bench
    from streamingdemo_spark.session import get_spark
    from streamingdemo_spark.streaming import runner

    extra = dict(kv.split("=", 1) for kv in args.conf)
    spark = get_spark(app_name="opt-measure", extra_conf=extra or None)
    queries = entry_mod.queries()
    bench.warm_up(spark, queries, args.sf)

    args.plans_dir.mkdir(parents=True, exist_ok=True)
    seen: set = set()
    for key in filter(None, (k.strip() for k in args.keys.split(","))):
        spark.sparkContext.setJobGroup(key, f"{key} [{args.label}]")
        runner.LAST_STREAM_PLAN = ""
        walls, _, df = bench.timed_reps(spark, queries[key], args.sf, args.reps)
        rec = {
            "key": key,
            "label": args.label,
            "wall_min": round(walls[0], 3),
            "walls": [round(w, 3) for w in walls],
            "stage_stats": bench.stage_stats(spark, key, seen),
        }
        if not args.no_plan:
            plan_txt = _capture_plan(df)
            if runner.LAST_STREAM_PLAN:
                plan_txt = (
                    "== Streaming runtime plan via "
                    "StreamingQuery.explain() ==\n"
                    + runner.LAST_STREAM_PLAN
                    + "\n\n== Post-replay batch plan ==\n"
                    + plan_txt
                )
            out = args.plans_dir / f"{key}_{args.label}.txt"
            out.write_text(plan_txt)
            rec["plan"] = os.path.relpath(out, ROOT)
        print(json.dumps(rec), flush=True)


if __name__ == "__main__":
    main()
