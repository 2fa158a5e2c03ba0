"""bench.py driver-contract pins (no Spark needed).

The driver parses ONE JSON line from the bench run's stdout tail and
keeps only the LAST 2000 characters of output (every recorded
BENCH_r*.json "tail" is exactly 2000 chars). Two things follow:

* the line MUST carry the per-query dict — without it the driver's
  per-query comparison and low-core scaling measurement come back
  empty (PERF_r13.json: ``n_common: 0``, ``per_query: {}``,
  ``prev/now_bench_ok: false``);
* the line MUST fit inside the 2000-char window or its head is cut
  and the driver records ``parsed: null`` (round 9).
"""

import json

import bench


def _fake_timings(n: int, sec: float) -> dict:
    # realistic worst case: long key names, 2-digit-second walls
    return {f"ext_multimodal_phash_dedup_{i:02d}": sec for i in range(n)}


def _base_out(timings: dict) -> dict:
    return {
        "metric": "headline_query_wall_seconds",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": 0.1,
        "n_queries": len(timings),
        "anchor_median": 1.001,
        "headline_normalized": 80.123,
        "full_artifact": "BENCH_FULL_r14.json",
    }


def test_final_line_carries_contract_fields():
    timings = {k: 1.234 for k in bench.HEADLINE}
    line = bench._final_line(_base_out(timings), timings)
    doc = json.loads(line)
    for field in ("metric", "value", "unit", "sf", "queries"):
        assert field in doc, f"driver contract field missing: {field}"
    assert set(doc["queries"]) == set(bench.HEADLINE)
    # 2-decimal quantization, never a rename/drop
    assert doc["queries"]["flagship_q3"] == 1.23


def test_final_line_fits_tail_capture_window():
    # current headline set at double-digit walls
    timings = {k: 12.345 for k in bench.HEADLINE}
    line = bench._final_line(_base_out(timings), timings)
    assert len(line) < bench._LINE_BUDGET - 1  # newline slack
    assert json.loads(line)["queries"]

    # growth headroom: a few added keys (the contract allows adding,
    # never removing) degrade gracefully — coarser rounding, then
    # derived-field drop — and still parse with every key present
    timings.update(_fake_timings(8, 123.456))
    line = bench._final_line(_base_out(timings), timings)
    assert len(line) < bench._LINE_BUDGET - 1
    doc = json.loads(line)
    assert len(doc["queries"]) == len(bench.HEADLINE) + 8
    for field in ("metric", "value", "unit", "sf", "queries"):
        assert field in doc

    # cannot fit even at integer walls (60 long keys at 5-digit walls):
    # the line keeps the largest walls that fit and flags the cut
    timings = {k: 10_000.0 + 100 * i for i, k in enumerate(_fake_timings(60, 0))}
    line = bench._final_line(_base_out(timings), timings)
    assert len(line) < bench._LINE_BUDGET - 1
    doc = json.loads(line)
    assert doc["queries_truncated"] is True
    kept = doc["queries"]
    assert 0 < len(kept) < len(timings)
    assert min(timings[k] for k in kept) > max(
        v for k, v in timings.items() if k not in kept
    )
    for field in ("metric", "value", "unit", "sf"):
        assert field in doc
