#!/usr/bin/env python3
"""Closed-loop benchmark of the streamingdemo_spark engine.

One client in one process runs a workload's ops one after another on a
local Spark session with one task slot per core. Each op is timed from
the builder call until its output is fully drained, and its output
fingerprint is checked against ``expected.json``. See README.md.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 18 --trace 0
    python3 perfbench/run.py --workload all --seed 1   # every workload, one table

The last line on stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if HERE not in sys.path:
    sys.path.insert(0, HERE)

import probes  # noqa: E402
import tracing  # noqa: E402
from workloads import KEY_MODULES, PKG, WORKLOADS, Op, layer_of  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_work")  # wiped at every start
RUNS = os.path.join(ROOT, ".perfbench_runs")  # run records and traces
EXPECTED = os.path.join(HERE, "expected.json")
# The seed-42 sf0.1 fixtures, copied verbatim; the ops only read them.
SF_DIR = os.path.join(HERE, "data", "sf0.1")
MIN_FREE_DISK = 2 << 30
# Untimed passes between the cold pass and the timed ones. The first warm
# pass still runs about a quarter slower than the ones after it (JIT), and
# counting it made pass_s hang on how many passes a run fitted.
WARMUP_PASSES = 1

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "peak_rss_mb": "MB",
}

_STREAM_MS = (
    "query_planning_ms",
    "add_batch_ms",
    "wal_commit_ms",
    "commit_offsets_ms",
    "state_commit_ms",
    "state_update_ms",
    "batch_ms_p50",
    "batch_ms_p90",
)
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "session.tables_live": "count",
    "session.conf_drift": "count",
    "io.load_s": "s",
    "io.spread_scan_s": "s",
    "io.spread_scan_calls": "count",
    "io.spread_scan_fired": "count",
    "io.spread_scan_jobs": "count",
    "operators.load_spec_s": "s",
    "operators.compose_s": "s",
    "operators.sink_exec_s": "s",
    **{
        f"{m}.{k}": u
        for m in KEY_MODULES
        for k, u in (
            ("build_s", "s"),
            ("exec_s", "s"),
            ("jobs", "count"),
            ("eager_jobs", "count"),
            ("tasks", "count"),
            ("tasks_failed", "count"),
        )
    },
    "streaming.runner.replays": "count",
    "streaming.runner.replay_s": "s",
    "streaming.runner.batches": "count",
    **{f"streaming.runner.{k}": "ms" for k in _STREAM_MS},
    "streaming.runner.state_rows": "count",
    "streaming.runner.state_store_instances": "count",
    "streaming.sources_s": "s",
    "scratch.bytes_written": "B",
    "scratch.files_written": "count",
    "jvm_rss_mb": "MB",
    "driver_rss_mb": "MB",
    "workers_rss_mb": "MB",
    "trace.overhead_ratio": "ratio",
}

# Stream-source variants the stream keys replay; staged during set-up.
_EVENT_VARIANTS = (("ordered", 8), ("late", 5), ("dups", 4), ("flush", 4))


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def configure_env() -> dict[str, str]:
    """Fresh scratch roots inside the checkout and a pinned process
    environment, identical on every run. Must run before the engine is
    imported: its modules read these variables at import time."""
    shutil.rmtree(WORK, ignore_errors=True)
    dirs = {
        k: os.path.join(WORK, k)
        for k in ("tmp", "ckpt", "streams", "spark-local", "warehouse")
    }
    for d in dirs.values():
        os.makedirs(d)
    if shutil.disk_usage(WORK).free < MIN_FREE_DISK:
        raise SystemExit(f"less than {MIN_FREE_DISK >> 30} GiB free under {WORK}")
    pinned = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "TMPDIR": dirs["tmp"],
        "STREAMINGDEMO_STREAM_CACHE": dirs["streams"],
        "STREAMINGDEMO_CKPT_ROOT": dirs["ckpt"],
        "SPARK_GRAFT_SF_DIR": SF_DIR,
        "SPARK_DRIVER_MEMORY": "2g",
        # the launcher JVM that spark-submit starts first takes no conf
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    }
    for k in list(os.environ):
        if k.startswith(("STREAMINGDEMO_", "SPARK_GRAFT_")) and k not in pinned:
            del os.environ[k]
    os.environ.update(pinned)
    for p in (ROOT, os.path.join(ROOT, "examples")):
        if p not in sys.path:
            sys.path.insert(0, p)
    return dirs


def drain(df) -> tuple[int, int]:
    """Execute every output column; return (rows, xor of row hashes).

    Hashing all columns keeps Catalyst from pruning projection-shaped
    outputs, and count + bit_xor is an order-insensitive fingerprint
    that brings one row back to the driver."""
    from pyspark.sql import functions as F

    row = (
        df.select(F.xxhash64(*df.columns).alias("h"))
        .agg(F.count("*").alias("n"), F.expr("bit_xor(h)").alias("s"))
        .collect()[0]
    )
    return int(row["n"]), int(row["s"] or 0)


def op_medians(passes: list[dict]) -> list[float]:
    """Each op's median wall over its samples in ``passes``. Medians per op
    use every sample, including those of a pass cut short by the deadline,
    and summaries built on them do not jump between the walls of two
    different ops as the sample counts shift."""
    walls = defaultdict(list)
    for p in passes:
        for name, wall in zip(p["ops"], p["op_walls"]):
            walls[name].append(wall)
    return [statistics.median(w) for w in walls.values()]


def _quantile(xs: list[float], q: int) -> float:
    """The q-th percentile (inclusive method); a lone sample is itself,
    and no samples read as 0."""
    if len(xs) <= 1:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


class Bench:
    """A set-up engine session plus the closed loop that drives it."""

    def __init__(self, dirs: dict[str, str], trace: bool):
        self.dirs = dirs
        self.sf_dir = SF_DIR
        self.trace = trace
        self.rss = probes.RssSampler()
        self.tracer = tracing.Tracer()
        self.jobs = None
        self.listener = None
        self.setup_parts: dict[str, float] = {}
        self.task_counts: dict[int, tuple[int, int]] = {}
        self.batch_ms: list[float] = []

    # -- set-up ---------------------------------------------------------
    def setup(self) -> None:
        self.rss.start()
        import __spark_entry__  # noqa: F401  (populates the query registry)
        from streamingdemo_spark.registry import QUERIES

        self.queries = QUERIES
        from streamingdemo_spark import session

        t = time.perf_counter()
        jopts = (
            f"-Djava.io.tmpdir={self.dirs['tmp']} "
            f"-Dderby.system.home={self.dirs['warehouse']} -XX:-UsePerfData"
        )
        self.spark = session.get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": self.dirs["warehouse"],
                "spark.driver.extraJavaOptions": jopts,
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.setup_parts["get_spark_s"] = time.perf_counter() - t

        t = time.perf_counter()
        self._warmup()
        self.setup_parts["warmup_s"] = time.perf_counter() - t

        t = time.perf_counter()
        from streamingdemo_spark.streaming import sources

        for variant, n in _EVENT_VARIANTS:
            sources.events_stream(self.spark, self.sf_dir, variant, n_chunks=n)
        sources.documents_stream(self.spark, self.sf_dir)
        self.setup_parts["stage_streams_s"] = time.perf_counter() - t

        if self.trace:
            self._install_tracing()
        self.conf0 = self._conf()

    def _warmup(self) -> None:
        """JVM codegen and Python-worker warm-up on queries outside every
        workload: one scan, and one pandas UDF that starts a worker per
        core and faults its allocator arena."""
        from pyspark.sql.functions import pandas_udf

        drain(self.queries["src_parquet_scan"](self.spark, self.sf_dir))

        @pandas_udf("long")
        def _touch(s):
            import numpy as np

            return s * int(np.arange(2_000_000, dtype=np.int64)[0] + 1)

        n = self.spark.sparkContext.defaultParallelism
        self.spark.range(n * 4, numPartitions=n).select(_touch("id")).collect()

    def _install_tracing(self) -> None:
        from streamingdemo_spark import io
        from streamingdemo_spark.operators import container, spec_io
        from streamingdemo_spark.streaming import runner, sources

        self.jobs = probes.JobScanner(self.spark.sparkContext)
        self.tracer = tracing.Tracer(self.jobs.mark)
        self.listener = probes.progress_listener()
        self.spark.streams.addListener(self.listener)
        tr = self.tracer

        def fired(span, args, result):
            span.attrs["fired"] = int(result is not args[0])

        def progress(span, args, result):
            mine = list(runner.LAST_STREAM_PROGRESS)
            name = mine[-1].get("name") if mine else None
            got = self.listener.take(name, len(mine)) if name else []
            span.attrs["progress"] = got if len(got) >= len(mine) else mine

        targets = [
            (io.load_tables, "io.load", None),
            (io.register_views, "io.load", None),
            (io.spread_scan, "io.spread_scan", fired),
            (spec_io.load_spec, "operators.load_spec", None),
            (container.run_pipeline, "operators.compose", None),
            (runner.run_to_memory, "streaming.runner.replay", progress),
            (sources.events_stream, "streaming.sources", None),
            (sources.documents_stream, "streaming.sources", None),
            (sources.embeddings_stream, "streaming.sources", None),
        ]
        repl = {fn: tr.wrap(fn, name, after) for fn, name, after in targets}
        for key, fn in self.queries.items():
            repl[fn] = tr.wrap(fn, f"{layer_of(fn.__module__)}.build")
            self.queries[key] = repl[fn]
        tracing.install(repl, PKG)

    def _tables(self) -> int:
        return len(self.spark.catalog.listTables())

    def _conf(self) -> dict[str, str]:
        return dict(self.spark.conf.getAll)

    # -- the closed loop ------------------------------------------------
    def _run_spec(self, path: str) -> dict:
        from run_pipeline import _substitute  # examples/run_pipeline.py
        from streamingdemo_spark.operators import container, spec_io

        spec = _substitute(spec_io.load_spec(os.path.join(ROOT, path)), self.sf_dir)
        ports = container.run_pipeline(self.spark, spec)
        consumed = {
            src for op in spec["operators"] for src in (op.get("inputs") or {}).values()
        }
        return {p: df for p, df in ports.items() if p not in consumed}

    def run_op(self, op: Op, op_id: int) -> tuple[float, list]:
        """Run one op to a drained output; returns (wall s, fingerprint)."""
        self.spark.catalog.clearCache()
        tr = self.tracer
        tr.op = op_id
        t0 = time.perf_counter()
        with tr.span("op") as op_span:
            if op.kind == "key":
                fn = self.queries[op.target]
                outs = {"out": fn(self.spark, self.sf_dir)}
                exec_name = f"{layer_of(fn.__module__)}.exec"
            else:
                outs = self._run_spec(op.target)
                exec_name = "operators.sink_exec"
            with tr.span(exec_name):
                fp = [[port, *drain(df)] for port, df in sorted(outs.items())]
        wall = time.perf_counter() - t0
        if op_span is not None:
            op_span.jobs = (op_span.jobs[0], self.jobs.settle())
            for j in range(*op_span.jobs):
                self.task_counts[j] = self.jobs.tasks(j)
        return wall, fp

    def run_pass(
        self,
        ops: list[Op],
        seed: int,
        index: int,
        expected: dict,
        deadline: float | None = None,
    ):
        """Run the ops once in the seeded order of pass ``index``. With a
        ``deadline`` (a ``perf_counter`` value) no op starts after it, so
        the pass may end early."""
        order = list(ops)
        random.Random(f"{seed}:{index}").shuffle(order)
        walls, names, failed = [], [], 0
        self.rss.lap()
        scratch = [0, 0]
        first_span = len(self.tracer.spans)
        tables = self._tables()
        attempted = 0
        for i, op in enumerate(order):
            if deadline is not None and time.perf_counter() >= deadline:
                break
            attempted += 1
            if self.tracer.active:
                before = probes.disk_usage([self.dirs["tmp"], self.dirs["ckpt"]])
            try:
                wall, fp = self.run_op(op, index * 1000 + i)
            except Exception:
                log(f"op {op.target} raised:\n{traceback.format_exc()}")
                failed += 1
                continue
            if self.tracer.active:
                after = probes.disk_usage([self.dirs["tmp"], self.dirs["ckpt"]])
                scratch = [s + a - b for s, a, b in zip(scratch, after, before)]
            walls.append(wall)
            names.append(op.target)
            if fp != expected.get(op.target):
                log(f"op {op.target} fingerprint {fp} != {expected.get(op.target)}")
                failed += 1
        return {
            "index": index,
            "traced": self.tracer.active,
            "wall_s": sum(walls),
            "op_walls": walls,
            "ops": names,
            "attempted": attempted,
            "failed": failed,
            "spans": (first_span, len(self.tracer.spans)),
            "scratch": scratch,
            "tables_added": self._tables() - tables,
            "peak_rss_mb": self.rss.lap(),
        }

    # -- per-layer reduction --------------------------------------------
    def layer_metrics(self, passes: list[dict]) -> list[dict[str, float]]:
        """Per-layer totals for each traced pass, from its spans."""
        spans = self.tracer.spans
        selfs = tracing.self_times(spans)
        any_owner = tracing.job_owners(spans, lambda s: True)
        mod_owner = tracing.job_owners(
            spans, lambda s: s.name.rsplit(".", 1)[0] in KEY_MODULES
        )
        out = []
        for p in passes:
            lo, hi = p["spans"]
            m: dict[str, float] = defaultdict(float)
            m["scratch.bytes_written"] = p["scratch"][0]
            m["scratch.files_written"] = p["scratch"][1]
            for s, st in zip(spans[lo:hi], selfs[lo:hi]):
                name = s.name
                if name == "streaming.runner.replay":
                    m["streaming.runner.replay_s"] += st
                    m["streaming.runner.replays"] += 1
                    self._stream_metrics(m, s.attrs.get("progress", []))
                elif name != "op":
                    m[f"{name}_s"] += st
                if name == "io.spread_scan":
                    m["io.spread_scan_calls"] += 1
                    m["io.spread_scan_fired"] += s.attrs.get("fired", 0)
            for j, i in any_owner.items():
                if lo <= i < hi and spans[i].name == "io.spread_scan":
                    m["io.spread_scan_jobs"] += 1
            for j, i in mod_owner.items():
                if lo <= i < hi:
                    mod, kind = spans[i].name.rsplit(".", 1)
                    done, bad = self.task_counts.get(j, (0, 0))
                    m[f"{mod}.jobs"] += 1
                    m[f"{mod}.eager_jobs"] += kind == "build"
                    m[f"{mod}.tasks"] += done
                    m[f"{mod}.tasks_failed"] += bad
            out.append(m)
        return out

    def _stream_metrics(self, m: dict, progress: list[dict]) -> None:
        phases = {
            "queryPlanning": "query_planning_ms",
            "addBatch": "add_batch_ms",
            "walCommit": "wal_commit_ms",
            "commitOffsets": "commit_offsets_ms",
        }
        inst = 0
        for p in progress:
            d = p.get("durationMs") or {}
            for src, dst in phases.items():
                m[f"streaming.runner.{dst}"] += d.get(src, 0)
            self.batch_ms.append(float(d.get("triggerExecution", 0)))
            ops = p.get("stateOperators") or []
            m["streaming.runner.state_commit_ms"] += sum(
                o.get("commitTimeMs", 0) for o in ops
            )
            m["streaming.runner.state_update_ms"] += sum(
                o.get("allUpdatesTimeMs", 0) for o in ops
            )
            inst = max(inst, sum(o.get("numStateStoreInstances", 0) for o in ops))
        m["streaming.runner.batches"] += len(progress)
        m["streaming.runner.state_store_instances"] += inst
        if progress:
            m["streaming.runner.state_rows"] += sum(
                o.get("numRowsTotal", 0)
                for o in progress[-1].get("stateOperators") or []
            )

    def close(self) -> None:
        """Stop Spark, the JVM and its Python workers, and wait for them."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.rss.stop()
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=60)
        deadline = time.time() + 30
        while time.time() < deadline and any(
            os.path.exists(f"/proc/{p}") for p in self.rss.pids
        ):
            time.sleep(0.1)


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    dirs = configure_env()
    bench = Bench(dirs, trace)
    bench.setup()
    setup_s = time.perf_counter() - T_START
    calib_before = probes.calibrate_ms()
    with open(EXPECTED) as fh:
        expected = json.load(fh)
    ops = WORKLOADS[workload]
    try:
        # the cold pass, then the warm-up passes; all untraced
        passes = [
            bench.run_pass(ops, seed, i, expected) for i in range(1 + WARMUP_PASSES)
        ]
        deadline = time.perf_counter() + seconds
        # Untraced, ops run until the deadline and the last pass may stop
        # part way. Traced, passes alternate traced/untraced and each one
        # is whole, since the per-layer figures are per-pass totals; a
        # pass starts only if a typical one ends by the deadline.
        min_warm = 2 if trace else 1
        while True:
            warm = passes[1 + WARMUP_PASSES :]
            if len(warm) >= min_warm:
                left = deadline - time.perf_counter()
                typical = statistics.median(p["wall_s"] for p in warm)
                if left <= 0 or (trace and typical > left):
                    break
            cut = None if trace or len(warm) < min_warm else deadline
            bench.tracer.active = trace and len(warm) % 2 == 0
            passes.append(bench.run_pass(ops, seed, len(passes), expected, cut))
            bench.tracer.active = False
        tables_live = statistics.median(p["tables_added"] for p in passes)
        conf_now = bench._conf()
        drift = sum(
            conf_now.get(k) != bench.conf0.get(k)
            for k in set(conf_now) | set(bench.conf0)
        )
    finally:
        bench.close()
    calib_after = probes.calibrate_ms()

    warm = passes[1 + WARMUP_PASSES :]
    attempted = sum(p["attempted"] for p in passes)
    failed = sum(p["failed"] for p in passes)
    op_walls = [w for p in warm if not p["traced"] for w in p["op_walls"]]
    if trace:
        traced = [p for p in warm if p["traced"]]
        per_pass = bench.layer_metrics(traced)
        metrics = {
            name: statistics.median(pp.get(name, 0.0) for pp in per_pass)
            for name in PER_LAYER
        }
        untraced = [p for p in warm if not p["traced"]]
        metrics.update(
            {
                "session.get_spark_s": bench.setup_parts["get_spark_s"],
                "session.warmup_s": bench.setup_parts["warmup_s"],
                "session.tables_live": tables_live,
                "session.conf_drift": drift,
                "streaming.runner.batch_ms_p50": _quantile(bench.batch_ms, 50),
                "streaming.runner.batch_ms_p90": _quantile(bench.batch_ms, 90),
                "jvm_rss_mb": bench.rss.peak["jvm"],
                "driver_rss_mb": bench.rss.peak["driver"],
                "workers_rss_mb": bench.rss.peak["workers"],
                "trace.overhead_ratio": sum(op_medians(traced))
                / sum(op_medians(untraced)),
            }
        )
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": setup_s,
            "pass_s": sum(op_medians(warm)),
            "peak_rss_mb": statistics.median(p["peak_rss_mb"] for p in warm),
        }
        units = END_TO_END

    record = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        "box": probes.box_info(ROOT),
        "calibration_ms": {"before": calib_before, "after": calib_after},
        "setup_parts_s": bench.setup_parts,
        "setup_s": setup_s,
        "passes": [
            {k: v for k, v in p.items() if k not in ("spans", "scratch")}
            for p in passes
        ],
        # not end-to-end metrics, as they spread too far between runs of
        # the same code (see README.md, "Left out")
        "cold_pass_s": passes[0]["wall_s"],
        "warmup_passes": WARMUP_PASSES,
        "warm_op_samples": len(op_walls),
        "op_s_p50": _quantile(op_walls, 50),
        "op_s_p90": _quantile(op_walls, 90),
        "op_s_gmean": statistics.geometric_mean(op_medians(warm)),
        "rss_peak_mb": bench.rss.peak,
        "failed_ratio": failed / attempted,
        "metrics": metrics,
    }
    os.makedirs(RUNS, exist_ok=True)
    stem = os.path.join(RUNS, f"{workload}-s{seed}-t{int(trace)}")
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1)
    if trace:
        with open(stem + ".trace.json", "w") as fh:
            json.dump(bench.tracer.dump(), fh)
    log(
        f"{workload} seed={seed} trace={int(trace)} passes={len(passes)} "
        f"warm_op_samples={len(op_walls)} failed_ratio={failed / attempted:.3f} "
        f"calibration_ms={calib_before:.1f}/{calib_after:.1f} record={stem}.json"
    )
    return result_line(metrics, units, attempted, failed)


def result_line(
    metrics: dict[str, float], units: dict[str, str], attempted: int, failed: int
) -> dict:
    """The result object: every metric must be a declared one."""
    unknown = set(metrics) - set(units)
    if unknown:
        raise ValueError(f"undeclared metrics: {sorted(unknown)}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()
        },
    }


def run_all(seed: int, seconds: float, trace: bool) -> int:
    """Every workload in its own process; prints one table."""
    rows, rc = [], 0
    for w in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w,
             "--seed", str(seed), "--seconds", str(seconds),
             "--trace", str(int(trace))],
            stdout=subprocess.PIPE,
            text=True,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines:
            rows.append(f"{w}: FAILED (exit {proc.returncode})")
            rc = 1
            continue
        res = json.loads(lines[-1])
        rows.append(
            f"{w}: correct={res['correct']} attempted={res['attempted']} "
            f"failed={res['failed']} failed_ratio="
            f"{res['failed'] / res['attempted']:.3f}"
        )
        for k, v in res["metrics"].items():
            rows.append(f"  {k:<44} {v['value']:>14.4f} {v['unit']}")
        rc |= not res["correct"]
    print("\n".join(rows))
    return rc


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=18)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args.seed, args.seconds, bool(args.trace))
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
