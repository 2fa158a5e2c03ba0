"""THE scale probe: warm-wall ratios for any registry keys at N× the
bench corpus (default 10×), with the bench anchor convention so box
drift stays separable from engine behavior.

Consolidates the per-round probes (r4/r4b/r6/r7/sweep/sweep-sf1/sf10
variants — all in git history; SCALE.md maps their artifacts). This
module owns every corpus derivation: its own build below, the
differential sweeps' (tools/sf1_differential.py and
tools/sf10_differential.py call ``build_tpch``, ``replicate`` and
``cipher_documents``) and the embeddings-only fixture of the ANN,
kNN-tile and x400 probes (``embeddings_fixture``). The build composes:

- documents N×: replica r offsets doc_ids and remaps the 10 most
  common letters through a rotation-by-r substitution cipher — each
  replica's INTERNAL duplicate structure (and n_chars) stays
  byte-for-byte intact while cross-replica 40-gram/shingle matches
  vanish: "N× more corpus, same duplicate rate".
- embeddings N×: replica k offsets vec_id by k·base_n and jitters the
  vectors N(0, 0.02) (seed 42) — near- but not exact duplicates, so
  ANN neighborhoods stay nontrivial.
- events N×: fresh user populations (user_id/event_id offsets) — N×
  series, same lengths, the growth shape for per-series state keys.
- TPC-H facts+dims N×: key-offset replicas of customer/supplier/part/
  orders/lineitem (offsets divisible by 32 and 16 so `% 32` / `% 16`
  sampling filters keep the same per-replica subset; o_custkey /
  l_partkey / l_suppkey offset IN STEP with their dimension, so
  cross-table joins stay closed per replica — the unscaled-customer
  trap of the retired r7 probe is gone) and a 20k-day date shift per
  replica on orders/lineitem, keeping each replica's internal
  interval structure identical while pushing replicas into disjoint
  date ranges (interval-join output grows N×, not N²×).
- region/nation: copied (25 nations at any TPC-H sf).

Walls follow bench.py's protocol: the session is warmed with
``bench.warm_up`` and every key is timed with ``bench.key_wall``.

A key is scale-clean when its wall grows no faster than its dominant
input (ratio ≤ N for an N× probe, modulo anchor drift); sublinear
ratios mean the plan's candidate generation, pruning, or partial
aggregation is doing its job.

Usage:
    python tools/scale_probe.py --keys k1,k2[,...]
        [--replicas 10] [--skip-build] [--out R8_SCALE.json]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import streamingdemo_spark.extensions  # noqa: E402,F401
import streamingdemo_spark.plans  # noqa: E402,F401
import streamingdemo_spark.streaming.queries  # noqa: E402,F401
from streamingdemo_spark.registry import QUERIES  # noqa: E402
from streamingdemo_spark.session import get_spark  # noqa: E402

from bench import ANCHOR_KEYS, _anchor_ratios, key_wall, warm_up  # noqa: E402

SRC = "/root/testdata/sf0.1"
KEY_OFFSET = 10_000_000  # % 32 == % 16 == 0: preserves sampling filters
DAY_SHIFT_US = 20_000 * 86_400_000_000  # 20k days in microseconds
COMMON = "etaoinsrhl"  # cipher-remapped letters; rotation r per replica

TPCH_OFFSETS = {
    "customer": {"c_custkey": KEY_OFFSET},
    "supplier": {"s_suppkey": KEY_OFFSET},
    "part": {"p_partkey": KEY_OFFSET},
    "orders": {"o_orderkey": KEY_OFFSET, "o_custkey": KEY_OFFSET},
    "lineitem": {
        "l_orderkey": KEY_OFFSET,
        "l_partkey": KEY_OFFSET,
        "l_suppkey": KEY_OFFSET,
    },
}
DATE_COLS = {"orders": ["o_orderdate"], "lineitem": ["l_shipdate"]}


def dst_dir(replicas: int) -> str:
    return f"/tmp/scale_x{replicas}"


def replicate(
    src: str,
    dst: str,
    table: str,
    replicas: int,
    offsets: dict[str, int],
    date_shift_us: int = 0,
) -> None:
    """``replicas`` key-offset copies of ``<table>.parquet``, written as
    one file: copy r adds r·step to each ``offsets`` column and
    r·date_shift_us to the table's DATE_COLS. Every column keeps its
    parquet type."""
    base = pq.read_table(os.path.join(src, f"{table}.parquet"))
    dates = dict.fromkeys(DATE_COLS.get(table, ()), date_shift_us)
    steps = {**offsets, **dates}
    raw = {c: base[c].cast(pa.int64()).to_numpy() for c in steps}
    parts = []
    for r in range(replicas):
        cols = {n: base[n] for n in base.column_names}
        for col, step in steps.items():
            cols[col] = pa.array(raw[col] + r * step).cast(
                base.schema.field(col).type
            )
        parts.append(pa.table(cols))
    pq.write_table(
        pa.concat_tables(parts), os.path.join(dst, f"{table}.parquet")
    )


def replicate_embeddings(src: str, dst: str, replicas: int) -> None:
    """embeddings N×: jittered near-duplicate replicas (see module
    docstring)."""
    e = pq.read_table(os.path.join(src, "embeddings.parquet"))
    base_n = e.num_rows
    emb = np.array(
        [np.asarray(v, dtype=np.float32) for v in e["embedding"].to_pylist()]
    )
    rng = np.random.default_rng(42)
    eparts = []
    for k in range(replicas):
        vecs = (
            emb
            if k == 0
            else emb + rng.normal(0, 0.02, emb.shape).astype(np.float32)
        )
        eparts.append(
            pa.table(
                {
                    "vec_id": pa.array(
                        e["vec_id"].to_numpy() + k * base_n, pa.int64()
                    ),
                    "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                    "label": e["label"],
                }
            )
        )
    pq.write_table(
        pa.concat_tables(eparts), os.path.join(dst, "embeddings.parquet")
    )


def embeddings_fixture(replicas: int, src: str = SRC) -> str:
    """The embeddings-only corpus ``/tmp/emb_x{replicas}`` that the ANN,
    kNN-tile and x400 probes read: ``replicate_embeddings`` of ``src``,
    built once and reused while its ``.complete`` marker exists."""
    dst = f"/tmp/emb_x{replicas}"
    marker = os.path.join(dst, ".complete")
    if not os.path.isfile(marker):
        os.makedirs(dst, exist_ok=True)
        replicate_embeddings(src, dst, replicas)
        open(marker, "w").close()
    return dst


def cipher_documents(
    src: str, dst: str, replicas: int, offset: int, alphabet: str = COMMON
) -> None:
    """documents N×: rotation-cipher replicas over ``alphabet`` (see
    module docstring). Offsets clear MUTANT_OFFSET (1e6) so minhash
    mutant-planting stays per-replica."""
    if replicas > len(alphabet):
        # rotation r == len(alphabet) is the identity map: later
        # replicas would be byte-identical twins of the first ones,
        # cross-replica shingle matches would explode, and the probe
        # would report a spurious superlinear "regression". Fail
        # loudly instead.
        raise ValueError(
            f"cipher derivation supports at most {len(alphabet)} replicas "
            f"(rotation wraps to identity at r={len(alphabet)}); "
            f"asked for {replicas}"
        )
    t = pq.read_table(os.path.join(src, "documents.parquet"))
    texts = t["text"].to_pylist()
    parts = []
    for r in range(replicas):
        rot = alphabet[r:] + alphabet[:r]
        table = str.maketrans(alphabet, rot)
        parts.append(
            pa.table(
                {
                    "doc_id": pa.array(
                        t["doc_id"].to_numpy() + r * offset, pa.int64()
                    ),
                    "text": pa.array(
                        texts if r == 0 else [s.translate(table) for s in texts],
                        pa.string(),
                    ),
                    "lang": t["lang"],
                    "source": t["source"],
                    "n_chars": t["n_chars"],  # translate is 1:1
                }
            )
        )
    pq.write_table(
        pa.concat_tables(parts), os.path.join(dst, "documents.parquet")
    )


def build_text_corpus(src: str, dst: str, replicas: int) -> None:
    """The text/vector/series third of the corpus: documents (cipher),
    embeddings (jitter), events (fresh users)."""
    os.makedirs(dst, exist_ok=True)
    cipher_documents(src, dst, replicas, KEY_OFFSET)
    replicate_embeddings(src, dst, replicas)
    replicate(
        src, dst, "events", replicas,
        {"user_id": KEY_OFFSET, "event_id": KEY_OFFSET},
    )


def build_tpch(
    src: str,
    dst: str,
    replicas: int,
    offsets: dict[str, dict[str, int]] = TPCH_OFFSETS,
    date_shift_us: int = DAY_SHIFT_US,
) -> None:
    """region/nation copied, plus key-offset replicas of every table in
    ``offsets``. By default the TPC-H third: dims offset in step, so
    each replica's key universe is closed, and a per-replica date
    shift."""
    os.makedirs(dst, exist_ok=True)
    for t in ("region", "nation"):
        shutil.copyfile(
            os.path.join(src, f"{t}.parquet"), os.path.join(dst, f"{t}.parquet")
        )
    for t, offs in offsets.items():
        replicate(src, dst, t, replicas, offs, date_shift_us)


def build(src: str = SRC, dst: str | None = None, replicas: int = 10) -> str:
    dst = dst or dst_dir(replicas)
    build_tpch(src, dst, replicas)
    build_text_corpus(src, dst, replicas)
    return dst


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--keys", required=True, help="comma-separated registry keys")
    ap.add_argument("--replicas", type=int, default=10)
    ap.add_argument("--skip-build", action="store_true")
    ap.add_argument("--out", help="JSON artifact name (written next to bench.py)")
    args = ap.parse_args()
    keys = [k.strip() for k in args.keys.split(",") if k.strip()]
    unknown = [k for k in keys if k not in QUERIES]
    if unknown:
        sys.exit(f"unknown keys: {unknown}")

    dst = dst_dir(args.replicas)
    if not args.skip_build or not os.path.isdir(dst):
        t0 = time.perf_counter()
        build(SRC, dst, args.replicas)
        print(f"built {dst} in {time.perf_counter() - t0:.1f}s")

    spark = get_spark(app_name="scale-probe")
    warm_up(spark, QUERIES, SRC)
    # anchors are timed exactly as bench.py times them, so dividing by
    # the recorded BENCH_r*.json walls separates box speed from engine
    anchor_walls = {
        key: round(key_wall(spark, QUERIES[key], SRC, True)[0], 3)
        for key in ANCHOR_KEYS
    }
    anchors = _anchor_ratios(anchor_walls, 0.1)

    out: dict = {
        "sf": f"0.1 -> {args.replicas}x",
        "anchors": anchors,
        "keys": {},
    }
    if anchors:
        ratios = sorted(anchors.values())
        out["anchor_median"] = ratios[len(ratios) // 2]
    n = args.replicas
    print(f"| key | sf0.1 | {n}x corpus | ratio | rows sf0.1 -> {n}x |")
    print("|---|---|---|---|---|")
    for key in keys:
        anchor = key in ANCHOR_KEYS
        w01, r01 = key_wall(spark, QUERIES[key], SRC, anchor)
        w10, r10 = key_wall(spark, QUERIES[key], dst, anchor)
        out["keys"][key] = {
            "sf0.1_s": round(w01, 2),
            f"x{n}_s": round(w10, 2),
            "ratio": round(w10 / w01, 2),
            "rows_sf0.1": r01,
            f"rows_x{n}": r10,
        }
        print(
            f"| {key} | {w01:.1f} s | {w10:.1f} s "
            f"| {w10 / w01:.1f}x | {r01} -> {r10} |"
        )
    print(f"anchors: {anchors} (median {out.get('anchor_median')})")
    if args.out:
        (REPO / args.out).write_text(json.dumps(out, indent=1))
        print(f"wrote {args.out}")
    spark.stop()


if __name__ == "__main__":
    main()
