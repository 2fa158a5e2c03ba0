"""Tests of the benchmark itself; none of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import run  # noqa: E402
import tracing  # noqa: E402
from tracing import Span  # noqa: E402
from workloads import WORKLOADS, Op  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_every_op_resolves():
    sys.path.insert(0, ROOT)
    import __spark_entry__  # noqa: F401  (populates the registry; no session)
    from streamingdemo_spark.registry import QUERIES

    for ops in WORKLOADS.values():
        for op in ops:
            if op.kind == "key":
                assert op.target in QUERIES, op.target
            else:
                assert op.kind == "spec", op
                assert os.path.isfile(os.path.join(ROOT, op.target)), op.target


def test_every_op_has_an_expected_fingerprint():
    with open(run.EXPECTED) as fh:
        expected = json.load(fh)
    ops = {op.target for ops in WORKLOADS.values() for op in ops}
    assert ops == set(expected)


def test_declared_metrics_match_benchmark_json():
    doc = _benchmark_json()
    assert [w["name"] for w in doc["workloads"]] == list(WORKLOADS)
    for section, units in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        declared = {m["name"]: m["unit"] for m in doc[section]}
        assert declared == units, section


def test_result_holds_only_declared_metrics_with_units():
    res = run.result_line({"pass_s": 1.5}, run.END_TO_END, attempted=3, failed=0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["metrics"] == {"pass_s": {"value": 1.5, "unit": "s"}}
    with pytest.raises(ValueError):
        run.result_line({"made_up": 1.0}, run.END_TO_END, attempted=1, failed=0)


class _StubBench(run.Bench):
    """The closed loop without Spark: ops return canned fingerprints."""

    def __init__(self, outputs: dict):
        super().__init__({"tmp": "", "ckpt": ""}, trace=False)
        self.outputs = outputs

    def run_op(self, op, op_id):
        out = self.outputs[op.target]
        if isinstance(out, Exception):
            raise out
        return 0.25, out

    def _tables(self):
        return 0


def test_corrupted_expected_fingerprint_is_a_failure():
    good = [["out", 10, 1234]]
    bench = _StubBench({"a": good, "b": good})
    ops = [Op("key", "a"), Op("key", "b")]
    ok = bench.run_pass(ops, seed=1, index=0, expected={"a": good, "b": good})
    assert (ok["attempted"], ok["failed"]) == (2, 0)
    corrupted = {"a": good, "b": [["out", 10, 1235]]}
    bad = bench.run_pass(ops, seed=1, index=0, expected=corrupted)
    assert (bad["attempted"], bad["failed"]) == (2, 1)


def test_raising_op_is_a_failure():
    bench = _StubBench({"a": RuntimeError("boom")})
    res = bench.run_pass([Op("key", "a")], seed=1, index=0, expected={})
    assert (res["attempted"], res["failed"], res["op_walls"]) == (1, 1, [])


def test_deadline_stops_a_pass_before_its_next_op():
    import time

    good = [["out", 1, 1]]
    bench = _StubBench({"a": good, "b": good})
    ops = [Op("key", "a"), Op("key", "b")]
    res = bench.run_pass(ops, 1, 2, {"a": good, "b": good}, time.perf_counter() - 1)
    assert (res["attempted"], res["failed"], res["ops"]) == (0, 0, [])


def test_op_medians_pool_samples_across_passes():
    passes = [
        {"ops": ["a", "b"], "op_walls": [1.0, 4.0]},
        {"ops": ["b", "a"], "op_walls": [2.0, 3.0]},
        {"ops": ["a"], "op_walls": [2.5]},  # cut short by the deadline
    ]
    assert sorted(run.op_medians(passes)) == [2.5, 3.0]


def test_pass_order_is_fixed_by_seed():
    good = [["out", 1, 1]]
    names = [f"k{i}" for i in range(8)]
    bench = _StubBench({n: good for n in names})
    ops = [Op("key", n) for n in names]
    exp = {n: good for n in names}
    first = bench.run_pass(ops, 7, 1, exp)["ops"]
    assert first == bench.run_pass(ops, 7, 1, exp)["ops"]
    assert sorted(first) == names
    assert first != bench.run_pass(ops, 8, 1, exp)["ops"]


def test_self_time_subtracts_covered_child_intervals():
    spans = [
        Span("op", 0.0, 10.0),
        Span("build", 1.0, 6.0, parent=0),
        Span("io.load", 2.0, 3.0, parent=1),
        Span("io.spread_scan", 2.5, 4.0, parent=1),  # overlaps its sibling
        Span("exec", 6.0, 9.0, parent=0),
        Span("late", 9.5, 12.0, parent=0),  # runs past its parent's end
    ]
    assert tracing.self_times(spans) == pytest.approx([1.5, 3.0, 1.0, 1.5, 3.0, 2.5])


def test_jobs_go_to_the_innermost_kept_span():
    spans = [
        Span("op", 0, 1, jobs=(0, 6)),
        Span("m.build", 0, 1, parent=0, jobs=(0, 3)),
        Span("io.spread_scan", 0, 1, parent=1, jobs=(1, 2)),
        Span("m.exec", 0, 1, parent=0, jobs=(3, 5)),
    ]
    every = tracing.job_owners(spans, lambda s: True)
    assert every == {0: 1, 1: 2, 2: 1, 3: 3, 4: 3, 5: 0}
    modules = tracing.job_owners(spans, lambda s: s.name.startswith("m."))
    assert modules == {0: 1, 1: 1, 2: 1, 3: 3, 4: 3}


def test_install_rebinds_every_importer():
    import types

    def original():
        return "original"

    a = types.ModuleType("pbtest_pkg.a")
    b = types.ModuleType("pbtest_pkg.b")
    other = types.ModuleType("elsewhere")
    a.fn = b.alias = other.fn = original
    sys.modules.update({"pbtest_pkg.a": a, "pbtest_pkg.b": b, "elsewhere": other})
    try:
        tr = tracing.Tracer()
        wrapped = tr.wrap(original, "x")
        assert tracing.install({original: wrapped}, "pbtest_pkg") == 2
        assert a.fn is wrapped and b.alias is wrapped and other.fn is original
        tr.active = True
        assert a.fn() == "original"
        assert [s.name for s in tr.spans] == ["x"]
    finally:
        for name in ("pbtest_pkg.a", "pbtest_pkg.b", "elsewhere"):
            sys.modules.pop(name)
