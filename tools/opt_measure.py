"""Optimization-round measurement harness (guide §1).

For each requested key: build the DataFrame, capture
``.explain("formatted")`` to ``plans/$OPT_PLANS_DIR/<key>_<label>.txt``
(``OPT_PLANS_DIR`` defaults to the current round's dir), and time
N reps of a noop-sink drain (guide §1.4 — computes every column of
every row without sink cost). Streaming keys (whose builder executes
the replay and returns a memory table) are timed end-to-end around the
builder instead, and their captured runtime plan
(``runner.LAST_STREAM_PLAN``) is written as the artifact. A key that
runs two replays (``stream_incremental_agg``, ``stream_sample_bottomk``)
records the plan of its last one.

Usage:
    python tools/opt_measure.py --keys k1,k2 [--label before]
                                [--sf /root/testdata/sf0.1] [--reps 2]
                                [--no-plan]

Timings go to stdout as one JSON line per key.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

PLANS_DIR = (
    Path(__file__).resolve().parent.parent
    / "plans"
    / os.environ.get("OPT_PLANS_DIR", "r14")
)


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
    args = ap.parse_args()

    import __spark_entry__ as entry_mod
    from streamingdemo_spark.session import get_spark
    from streamingdemo_spark.streaming import runner

    extra = dict(kv.split("=", 1) for kv in args.conf)
    spark = get_spark(app_name="opt-measure", extra_conf=extra or None)
    queries = entry_mod.queries()
    # warm the session like bench.py does
    queries["src_parquet_scan"](spark, args.sf).collect()
    queries["join_broadcast"](spark, args.sf).collect()

    PLANS_DIR.mkdir(parents=True, exist_ok=True)
    for key in args.keys.split(","):
        key = key.strip()
        if not key:
            continue
        walls = []
        plan_txt = ""
        for rep in range(args.reps):
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"{key} [{args.label}]")
            runner.LAST_STREAM_PLAN = ""
            t0 = time.perf_counter()
            df = queries[key](spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
            walls.append(time.perf_counter() - t0)
            if rep == 0 and not args.no_plan:
                if runner.LAST_STREAM_PLAN:
                    # streaming key: runtime plan captured by the runner
                    plan_txt = (
                        "== Streaming runtime plan via "
                        "StreamingQuery.explain() ==\n"
                        + runner.LAST_STREAM_PLAN
                        + "\n\n== Post-replay batch plan ==\n"
                        + _capture_plan(df)
                    )
                else:
                    plan_txt = _capture_plan(df)
        spark.sparkContext.setJobDescription(None)
        walls.sort()
        rec = {
            "key": key,
            "label": args.label,
            "wall_min": round(walls[0], 3),
            "walls": [round(w, 3) for w in walls],
        }
        if plan_txt:
            out = PLANS_DIR / f"{key}_{args.label}.txt"
            out.write_text(plan_txt)
            rec["plan"] = str(out.relative_to(PLANS_DIR.parent.parent))
            rec["n_exchange"] = plan_txt.count("Exchange")
            rec["n_python"] = (
                plan_txt.count("BatchEvalPython")
                + plan_txt.count("ArrowEvalPython")
                + plan_txt.count("MapInArrow")
                + plan_txt.count("FlatMapGroupsInPandas")
                + plan_txt.count("MapInPandas")
            )
        print(json.dumps(rec), flush=True)


if __name__ == "__main__":
    main()
