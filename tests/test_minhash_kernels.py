"""The two Arrow kernels of ext_dedup_minhash, without Spark: the
signature kernel against a per-doc pure-Python replay of the JVM
convention, and the in-bucket verify kernel against set arithmetic,
on hand-built pyarrow batches (empty batches, bucket runs split across
batches, bucket sizes at the skew cap)."""

from __future__ import annotations

import random

import pyarrow as pa

from streamingdemo_spark.extensions.dedup import (
    _MH_A,
    _MH_B,
    _MH_BANDS,
    _MH_BUCKET_CAP,
    _MH_N,
    _signature_batch,
    _signature_batches,
    _verify_runs,
)
from streamingdemo_spark.registry import POLY_MOD


def _ref_signature(text):
    """Per-doc replay of the JVM pipeline the kernel replaces: split
    on ' ', Horner-fold each token, 131-combine 3 adjacent tokens,
    array_distinct, affine minima, 3-row band folds."""
    toks = (text or "").split(" ")
    th = []
    for t in toks:
        acc = 0
        for ch in t:
            acc = (acc * 31 + ord(ch)) % POLY_MOD
        th.append(acc)
    sh = []
    for i in range(len(th) - 2):
        h = ((th[i] * 131 + th[i + 1]) % POLY_MOD * 131 + th[i + 2]) % POLY_MOD
        if h not in sh:
            sh.append(h)
    if not sh:
        return [], []
    sig = [min((a * x + b) % POLY_MOD for x in sh) for a, b in zip(_MH_A, _MH_B)]
    rows = _MH_N // _MH_BANDS
    bk = []
    for b in range(_MH_BANDS):
        acc = sig[b * rows]
        for r in range(1, rows):
            acc = (acc * 131 + sig[b * rows + r]) % POLY_MOD
        bk.append(acc)
    return sh, bk


def _docs(texts):
    return pa.record_batch(
        [pa.array(range(len(texts)), pa.int64()), pa.array(texts, pa.string())],
        names=["doc_id", "text"],
    )


def test_signature_kernel_matches_per_doc_replay():
    rng = random.Random(7)
    words = ["a", "bb", "ccc", "héllo", "日本", "x\U0001F600y", ""]
    texts = [
        " ".join(rng.choice(words) for _ in range(rng.randint(0, 40)))
        for _ in range(60)
    ]
    # short docs have no 3-token shingle; NULL text behaves like them
    texts += ["a b", "a", "", " ", "  ", None, "a  b", "a b ", "w w w w w"]
    out = _signature_batch(_docs(texts))
    assert out.schema.names == ["doc_id", "sh", "bk"]
    assert out.column("doc_id").to_pylist() == list(range(len(texts)))
    for i, t in enumerate(texts):
        sh, bk = _ref_signature(t)
        assert out.column("sh")[i].as_py() == sh, t
        assert out.column("bk")[i].as_py() == bk, t
    for t in ("a b", "a", "", " ", None):
        assert _ref_signature(t) == ([], [])


def test_signature_kernel_slices_long_batches(monkeypatch):
    """A batch holding more than ``_SIG_CHUNK_BYTES`` of text goes
    through the kernel in slices (one document at least) with the
    same rows as one call."""
    import streamingdemo_spark.extensions.dedup as dedup

    texts = ["a b c d e f", "x" * 40, None, "", "p q r s", "a b c d e f g h"] * 3
    whole = _signature_batch(_docs(texts))
    monkeypatch.setattr(dedup, "_SIG_CHUNK_BYTES", 12)
    parts = list(_signature_batches([_docs(texts)]))
    assert len(parts) > 3
    assert pa.Table.from_batches(parts).equals(pa.Table.from_batches([whole]))
    assert list(_signature_batches([_docs([])])) == []


def test_signature_kernel_empty_batch():
    out = _signature_batch(_docs([]))
    assert len(out) == 0
    assert out.schema.field("sh").type == pa.list_(pa.int64())


def _band_rows(docs, band=0):
    """(doc_id, sh, band, bucket) batch; ``docs`` is a list of
    (bucket, doc_id, shingle set) already in (bucket, doc_id) order."""
    return pa.record_batch(
        [
            pa.array([d for _, d, _ in docs], pa.int64()),
            pa.array([sorted(s) for _, _, s in docs], pa.list_(pa.int64())),
            pa.array([band] * len(docs), pa.int32()),
            pa.array([b for b, _, _ in docs], pa.int64()),
        ],
        names=["doc_id", "sh", "band", "bucket"],
    )


def _pairs(batches):
    got = {}
    for out in _verify_runs(iter(batches)):
        for a, b, i, u in zip(*(out.column(c).to_pylist() for c in out.schema.names)):
            assert (a, b) not in got
            got[(a, b)] = (i, u)
    return got


def _want(docs):
    want = {}
    for k, (ba, a, sa) in enumerate(docs):
        for bb, b, sb in docs[k + 1 :]:
            run = sum(1 for x, _, _ in docs if x == ba)
            if ba == bb and a < b and run <= _MH_BUCKET_CAP:
                want[(a, b)] = (len(sa & sb), len(sa | sb))
    return want


def test_verify_kernel_splits_runs_across_batches():
    rng = random.Random(11)
    docs = []
    for bucket, size in enumerate([1, 3, 2, 5, 1, 4]):
        for d in range(size):
            docs.append((bucket, bucket * 100 + d, set(rng.sample(range(40), 12))))
    whole = _band_rows(docs)
    want = _want(docs)
    assert _pairs([whole]) == want
    for cut in range(1, len(docs)):  # every split point, runs included
        assert _pairs([whole.slice(0, cut), whole.slice(cut)]) == want, cut
    # empty batches anywhere are skipped, one-row batches carry the run
    singles = [whole.slice(i, 1) for i in range(len(docs))]
    assert _pairs([whole.slice(0, 0), *singles, whole.slice(0, 0)]) == want
    assert _pairs([]) == {}


def test_verify_kernel_caps_bucket_size():
    cap = _MH_BUCKET_CAP
    for size, n_pairs in ((cap, cap * (cap - 1) // 2), (cap + 1, 0)):
        docs = [(7, d, {d, 1000}) for d in range(size)]
        docs += [(8, 500, {1}), (8, 501, {1, 2})]
        whole = _band_rows(docs)
        split = [whole.slice(0, 30), whole.slice(30, 60), whole.slice(90)]
        for parts in ([whole], split):
            got = _pairs(parts)
            in_run = {k: v for k, v in got.items() if k[0] < 500}
            assert len(in_run) == n_pairs, (size, len(parts))
            assert all(v == (1, 3) for v in in_run.values())
            assert got[(500, 501)] == (1, 2)
