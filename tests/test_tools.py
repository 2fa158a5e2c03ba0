"""The scale tools' shared pieces: one key-offset replicator, one
rotation cipher, and one owner each for the Spark session and the
seeded corpus derivations. No Spark needed."""

from __future__ import annotations

import pathlib

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tools import scale_probe
from tools.sf10_differential import COMMON2

REPO = pathlib.Path(__file__).resolve().parent.parent


def test_replicate_offsets_keys_and_dates_keeping_types(tmp_path):
    src, dst = tmp_path / "src", tmp_path / "dst"
    src.mkdir()
    dst.mkdir()
    base = pa.table(
        {
            "o_orderkey": pa.array([1, 2, 3], pa.int64()),
            "o_custkey": pa.array([7, 8, 9], pa.int32()),
            "o_orderdate": pa.array(
                [0, 86_400_000_000, 5], pa.timestamp("us")
            ),
            "o_orderstatus": pa.array(["F", "O", "P"]),
        }
    )
    pq.write_table(base, src / "orders.parquet")
    steps = {"o_orderkey": 100, "o_custkey": 10}
    shift = 1_000
    scale_probe.replicate(str(src), str(dst), "orders", 3, steps, shift)

    out = pq.read_table(dst / "orders.parquet")
    assert out.schema == pq.read_table(src / "orders.parquet").schema
    assert out.num_rows == 9
    for r in range(3):
        rep = out.slice(3 * r, 3)
        for col, step in steps.items():
            assert rep[col].to_pylist() == [
                v + r * step for v in base[col].to_pylist()
            ]
        days = base["o_orderdate"].cast(pa.int64()).to_pylist()
        assert rep["o_orderdate"].cast(pa.int64()).to_pylist() == [
            v + r * shift for v in days
        ]
        assert rep["o_orderstatus"].equals(base["o_orderstatus"])


def test_cipher_guards_every_alphabet_and_keeps_n_chars(tmp_path):
    texts = ["dcu mfp gwyb", "the quick brown fox", "bbb ddd"]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([1, 2, 3], pa.int64()),
                "text": texts,
                "lang": ["en"] * 3,
                "source": ["web"] * 3,
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        tmp_path / "documents.parquet",
    )
    with pytest.raises(ValueError, match="at most 10 replicas"):
        scale_probe.cipher_documents(
            str(tmp_path), str(tmp_path), len(COMMON2) + 1, 100,
            alphabet=COMMON2,
        )

    dst = tmp_path / "out"
    dst.mkdir()
    scale_probe.cipher_documents(
        str(tmp_path), str(dst), 3, 100, alphabet=COMMON2
    )
    out = pq.read_table(dst / "documents.parquet")
    assert out["doc_id"].to_pylist() == [1, 2, 3, 101, 102, 103, 201, 202, 203]
    got = out["text"].to_pylist()
    assert got[:3] == texts
    assert got[3:6] != texts  # rotation 1 remaps COMMON2's letters
    assert [len(t) for t in got] == out["n_chars"].to_pylist()


def test_one_owner_for_sessions_and_seeded_derivations():
    """Only ``session.py`` builds a SparkSession, and only
    ``tools/scale_probe.py`` draws the seed-42 jitter or builds a
    rotation cipher, so every tool measures and replicates one way."""
    def files_with(root, needle):
        return {
            p.relative_to(REPO).as_posix()
            for p in root.rglob("*.py")
            if needle in p.read_text()
        }

    builder = "SparkSession.builder"
    assert files_with(REPO / "tools", builder) == set()
    assert builder not in (REPO / "bench.py").read_text()
    assert files_with(REPO / "streamingdemo_spark", builder) == {
        "streamingdemo_spark/session.py"
    }
    for needle in ("default_rng(42)", "str.maketrans"):
        assert files_with(REPO / "tools", needle) == {"tools/scale_probe.py"}
