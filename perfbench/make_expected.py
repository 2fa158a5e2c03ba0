#!/usr/bin/env python3
"""Regenerate ``expected.json``: the output fingerprint of every
workload op on the benchmark's fixtures.

Each op runs twice and must give the same fingerprint both times. Each
registered key is also checked once, row for row, against its DuckDB
oracle (``registry.resolve_oracles``) with the comparison in
``tests/oracle_compare.py``. Exits non-zero, without writing, when an op
does not repeat or a key disagrees with its oracle.

    python3 perfbench/make_expected.py
"""

from __future__ import annotations

import json
import os
import sys

import run
from workloads import WORKLOADS


def main() -> int:
    dirs = run.configure_env()
    bench = run.Bench(dirs, trace=False)
    bench.setup()
    problems, fps = [], {}
    try:
        for ops in WORKLOADS.values():
            for op in ops:
                _, first = bench.run_op(op, 0)
                _, second = bench.run_op(op, 0)
                fps[op.target] = first
                status = "repeats" if first == second else "DOES NOT REPEAT"
                if first != second:
                    problems.append(op.target)
                run.log(f"{op.target}: {first} {status}")
        problems += _oracle_check(bench)
    finally:
        bench.close()
    if problems:
        run.log(f"not written; problems: {problems}")
        return 1
    with open(run.EXPECTED, "w") as fh:
        json.dump(dict(sorted(fps.items())), fh, indent=1)
        fh.write("\n")
    run.log(f"wrote {len(fps)} fingerprints to {run.EXPECTED}")
    return 0


def _oracle_check(bench) -> list[str]:
    import duckdb

    from streamingdemo_spark.io import TABLES
    from streamingdemo_spark.registry import resolve_oracles

    sys.path.insert(0, os.path.join(run.ROOT, "tests"))
    from oracle_compare import duck_rows, spark_rows

    oracles = resolve_oracles(bench.sf_dir)
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(bench.sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    bad = []
    for ops in WORKLOADS.values():
        for op in ops:
            if op.kind != "key":
                continue
            if op.target not in oracles:
                bad.append(f"{op.target} (no oracle)")
                continue
            s = spark_rows(bench.queries[op.target](bench.spark, bench.sf_dir))
            d = duck_rows(con, oracles[op.target])
            ok = s == d
            run.log(f"{op.target}: oracle {'match' if ok else 'MISMATCH'}")
            if not ok:
                bad.append(f"{op.target} (oracle)")
    con.close()
    return bad


if __name__ == "__main__":
    sys.exit(main())
