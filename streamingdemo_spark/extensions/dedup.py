"""Deduplication operators (SURVEY §2.F): exact, MinHash-LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup.

The fixture corpus has no duplicates, so the near-dup keys plant
deterministic "mutant" copies derived from the fixture (a suffix of
tokens dropped / a component nudged) — detection quality is then
measurable (tests assert the planted pairs are recovered).

Scale design (the actual point of these operators at 100 TB):
- everything is hash → band → shuffle-on-bucket → verify-within-bucket;
  no all-pairs comparison ever materializes.
- hashes are either Spark-native ``xxhash64`` (JVM codegen, no
  Python) or the engine-portable polynomial convention
  (``registry.poly_hash``, and ``registry.poly_fold``, its numpy twin
  in the Arrow kernels) where a DuckDB oracle must replay them.
- candidate verification joins only within buckets, so the shuffle
  volume is O(n · bands), not O(n²).
"""

from __future__ import annotations

import time

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from streamingdemo_spark.io import (
    load_tables,
    plan_bytes,
    reuse,
    spread_scan,
    tasks_for,
)
from streamingdemo_spark.registry import (
    POLY_MOD,
    opoly,
    poly_fold,
    poly_hash,
    pow_mod_table,
    query,
)

# Planted-mutant id offset for the DOC-space keys. Fixed: every
# certified doc corpus keeps base doc_ids below 1e6 (sf10 replicas are
# 1e8-spaced), so doc-space planting never aliases. The EMBEDDING
# family outgrew the constant — see _emb_mutant_offset.
MUTANT_OFFSET = 1_000_000


def _emb_mutant_offset(max_vid: int) -> int:
    """Planted-mutant id offset for the embedding corpus: the smallest
    power of 10 STRICTLY above the corpus's max vec_id, floored at the
    legacy 1e6 — every certified tier's vec_ids sit below 1e6, so all
    certified outputs are bit-identical to the constant-offset era.
    Data-derived because the r13 x1600 forward-probe (3.2M contiguous
    vec_ids) showed the constant ALIASING mutant ids onto real
    vectors — duplicate vec_ids corrupt every downstream join — the
    same failure class as the old compile-time band width, fixed the
    same way: an integer ladder both engines replay exactly
    (:data:`_EMB_OFF_SQL` is the oracle's CASE form)."""
    off = 1_000_000
    while off <= max_vid:
        off *= 10
    return off


# DuckDB replay of _emb_mutant_offset over the corpus's own MAX —
# integer CASE ladder, no float log10. The 1e15 ceiling keeps mutant
# ids (< 2·off) far inside int64; past it the ladder yields NULL and
# the oracle fails LOUDLY instead of wrapping.
_EMB_OFF_SQL = (
    "(SELECT CASE "
    + " ".join(
        f"WHEN mx < {10 ** p} THEN CAST({10 ** p} AS BIGINT)"
        for p in range(6, 16)
    )
    + " END FROM (SELECT MAX(vec_id) AS mx FROM embeddings))"
)


def _docs_with_mutants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ near-dup mutants: every 5th doc re-appears with
    doc_id+1e6 and every 25th token dropped (shingle jaccard ≈ 0.85 —
    inside the sensitivity band of the LSH parameters below)."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = F.split("text", " ")
    mutated = F.array_join(
        F.filter(toks, lambda tok, i: ((i + 1) % 25) != 0), " "
    )
    mutants = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .withColumn("doc_id", F.col("doc_id") + MUTANT_OFFSET)
        .withColumn("text", mutated)
    )
    # the single-file fixture union plans as TWO tasks total, so every
    # consumer's token-hash/shingle stage serializes on ≤2 cores;
    # no-op for multi-row-group inputs (guide §2.5)
    return spread_scan(docs.unionByName(mutants))


@query(
    "ext_dedup_exact",
    oracle="""
    SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies,
           MIN(lang) AS lang
    FROM (SELECT doc_id, lang, lower(trim(text)) AS norm FROM documents
          UNION ALL
          SELECT doc_id, lang, lower(trim(text)) AS norm FROM documents
          WHERE doc_id % 5 = 0)
    GROUP BY norm
    """,
)
def ext_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on normalized text, keep min doc_id.

    The duplicated-subset union makes real duplicate groups (n_copies=2)
    flow through. The shuffle key is ``xxhash64(norm)`` — 8 bytes per
    row instead of the full normalized text (kilobytes): at 100 TB the
    dedup shuffle is hash-sized, not corpus-sized. A 64-bit collision
    merging two distinct groups is ~1e-13 at a billion docs; where that
    matters, add a within-group equality check on a sample.
    """
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    dup_round = docs.filter(F.col("doc_id") % 5 == 0)
    both = docs.unionByName(dup_round)
    return (
        both.withColumn("norm_h", F.xxhash64(F.lower(F.trim(F.col("text")))))
        .groupBy("norm_h")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.min("lang").alias("lang"),
        )
        .drop("norm_h")
    )


def _shingles(toks: Column, k: int = 3) -> Column:
    """k-token shingles as strings (word n-grams).

    ``toks`` must be a MATERIALIZED array column (a plain column
    reference), never an inlined ``F.split(...)`` expression: the
    shingle lambda slices it once per shingle, and an inlined split
    would be re-evaluated per slice — O(tokens·chars) extra per doc
    (6× wall on the 8-gram shape at sf0.1, see SCALE.md)."""
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))


# MinHash permutation constants: h_k(x) = (A[k]·x + B[k]) mod POLY_MOD.
# Fixed literals (powers of the Lehmer multiplier 48271) so the DuckDB
# oracle embeds the identical values — any fixed full-rank constants do.
_MH_N, _MH_BANDS = 12, 4
_MH_A = [pow(48271, k + 1, POLY_MOD) for k in range(_MH_N)]
_MH_B = [(16807 * (k + 1)) % POLY_MOD for k in range(_MH_N)]
# LSH skew guard: band buckets above this size are dropped before
# pairing. A low-vocabulary corpus (like this fixture) makes some
# minhash values extremely common, and such buckets are
# non-discriminative noise that would otherwise create a quadratic
# pair blowup. The oracles spell the same cap.
_MH_BUCKET_CAP = 100


def _signature_batch(batch):
    """Signature kernel over one Arrow batch of (doc_id, text):
    (doc_id, sh, bk) with ``sh`` the doc's distinct 3-token shingle
    hashes in first-occurrence order and ``bk`` its ``_MH_BANDS`` band
    buckets, every value bit-for-bit the JVM convention the oracle
    replays:

    - tokens are the ``' '``-separated segments (empty ones included),
      each hashed by ``registry.poly_fold``;
    - a shingle is the 131-combine of 3 adjacent token hashes, deduped
      per doc like ``array_distinct``;
    - the signature is the ``_MH_N`` affine minima over the shingles,
      folded 3 rows per band by 131-combines.

    A doc with fewer than 3 tokens (or a NULL text) has no shingle, so
    it gets empty ``sh`` and ``bk`` and no band rows, as in the oracle,
    whose out-of-range list index is NULL and dropped by
    ``list_distinct``.
    """
    import numpy as np
    import pyarrow as pa

    texts = [t or "" for t in batch.column("text").to_pylist()]
    n = len(texts)
    lens = np.fromiter(map(len, texts), dtype=np.int64, count=n)
    codes = np.frombuffer("".join(texts).encode("utf-32-le"), dtype="<u4")
    space = codes == 32
    spaces_before = np.zeros(len(codes) + 1, dtype=np.int64)
    np.cumsum(space, out=spaces_before[1:])
    ends = np.cumsum(lens)
    n_tok = spaces_before[ends] - spaces_before[ends - lens] + 1
    # a char's token: the tokens of earlier docs (their spaces + 1
    # each) plus the spaces before it in its own doc
    tok = np.repeat(np.arange(n), lens)
    tok += spaces_before[:-1]
    del spaces_before
    word = ~space
    tok_len = np.bincount(tok[word], minlength=int(n_tok.sum()))
    del tok
    th = poly_fold(codes[word], tok_len)
    tok_doc = np.repeat(np.arange(n), n_tok)
    whole = tok_doc[:-2] == tok_doc[2:]
    sh = ((th[:-2] * 131 + th[1:-1]) % POLY_MOD * 131 + th[2:]) % POLY_MOD
    sh, sh_doc = sh[whole], tok_doc[:-2][whole]
    # array_distinct: keep each (doc, shingle)'s first position (a
    # stable sort on doc << 30 | shingle; shingles are < 2^30)
    key = (sh_doc << 30) | sh
    order = np.argsort(key, kind="stable")
    first = np.ones(len(order), dtype=bool)
    first[1:] = np.diff(key[order]) != 0
    keep = np.sort(order[first])
    sh, sh_doc = sh[keep], sh_doc[keep]
    n_sh = np.bincount(sh_doc, minlength=n)
    has = n_sh > 0
    rows = _MH_N // _MH_BANDS
    if has.any():
        starts = (np.cumsum(n_sh) - n_sh)[has]
        sig = np.empty((_MH_N, int(has.sum())), dtype=np.int64)
        for k in range(_MH_N):  # one permutation at a time: one S-long temporary
            h = sh * _MH_A[k]
            h += _MH_B[k]
            h %= POLY_MOD
            sig[k] = np.minimum.reduceat(h, starts)
        bk = sig[0::rows]
        for r in range(1, rows):
            bk = (bk * 131 + sig[r::rows]) % POLY_MOD
        bk = bk.T.ravel()
    else:
        bk = np.empty(0, dtype=np.int64)

    def lists(sizes, values):
        offsets = np.concatenate(([0], np.cumsum(sizes))).astype(np.int32)
        return pa.ListArray.from_arrays(offsets, pa.array(values, pa.int64()))

    return pa.RecordBatch.from_arrays(
        [
            batch.column("doc_id").cast(pa.int64()),
            lists(n_sh, sh),
            lists(has * _MH_BANDS, bk),
        ],
        names=["doc_id", "sh", "bk"],
    )


# Text bytes per signature-kernel call: the kernel holds a few int64
# arrays per character, so a batch of long documents is cut into
# slices of about this much text (one document at least).
_SIG_CHUNK_BYTES = 1 << 22


def _signature_batches(batches):
    """:func:`_signature_batch` over each slice of ``_SIG_CHUNK_BYTES``
    of text of each batch."""
    import numpy as np
    import pyarrow.compute as pc

    for batch in batches:
        nbytes = pc.binary_length(batch.column("text")).fill_null(0)
        off = np.concatenate(([0], np.cumsum(nbytes.to_numpy())))
        start = 0
        while start < len(batch):
            stop = np.searchsorted(off, off[start] + _SIG_CHUNK_BYTES, "right") - 1
            stop = max(int(stop), start + 1)
            yield _signature_batch(batch.slice(start, stop - start))
            start = stop


def _signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, sh, bk) for each doc of (doc_id, text): one Arrow pass
    (:func:`_signature_batch`), no explode, no aggregate."""
    return docs.select("doc_id", "text").mapInArrow(
        _signature_batches, "doc_id long, sh array<long>, bk array<long>"
    )


# Candidate pairs per verify chunk: bounds the kernel's working set
# (each pair expands to one lookup per shingle of its first doc).
_PAIR_CHUNK = 8192


def _run_pairs(rows, starts, sizes):
    """One Arrow batch of (doc_a, doc_b, inter, uni) for the in-bucket
    pairs of the runs ``rows[starts[i] : starts[i] + sizes[i]]``, with
    ``rows`` sorted by (band, bucket, doc_id) and every run one
    bucket of 2..``_MH_BUCKET_CAP`` docs."""
    import numpy as np
    import pyarrow as pa

    ids = rows.column("doc_id").to_numpy()
    sh = rows.column("sh")
    off = sh.offsets.to_numpy().astype(np.int64)  # into the unsliced values
    vals = sh.values.to_numpy()[off[0] : off[-1]]
    off -= off[0]
    n_sh = np.diff(off)
    # each row's set as sorted keys (row << 30 | hash): hashes < 2^30
    keys = np.sort((np.repeat(np.arange(len(n_sh)), n_sh) << 30) | vals)
    a_parts, b_parts = [], []
    for r in np.unique(sizes):
        iu, ju = np.triu_indices(int(r), 1)
        s = starts[sizes == r][:, None]
        a_parts.append((s + iu).ravel())
        b_parts.append((s + ju).ravel())
    a, b = np.concatenate(a_parts), np.concatenate(b_parts)
    lo = ids[a] < ids[b]
    a, b = a[lo], b[lo]
    inter = np.empty(len(a), dtype=np.int64)
    for c in range(0, len(a), _PAIR_CHUNK):
        ca, cb = a[c : c + _PAIR_CHUNK], b[c : c + _PAIR_CHUNK]
        la = n_sh[ca]
        pair = np.repeat(np.arange(len(ca)), la)
        pos = np.repeat(off[ca] - (np.cumsum(la) - la), la) + np.arange(
            int(la.sum())
        )
        probe = (cb[pair] << 30) | vals[pos]
        at = np.minimum(np.searchsorted(keys, probe), len(keys) - 1)
        inter[c : c + _PAIR_CHUNK] = np.bincount(
            pair[keys[at] == probe], minlength=len(ca)
        )
    return pa.RecordBatch.from_arrays(
        [
            pa.array(ids[a], pa.int64()),
            pa.array(ids[b], pa.int64()),
            pa.array(inter, pa.int32()),
            pa.array(n_sh[a] + n_sh[b] - inter, pa.int32()),
        ],
        names=["doc_a", "doc_b", "inter", "uni"],
    )


def _verify_runs(batches):
    """In-bucket verify kernel over one partition of (doc_id, sh, band,
    bucket) rows sorted by (band, bucket, doc_id): every pair of docs
    sharing a bucket of at most ``_MH_BUCKET_CAP`` docs (the LSH skew
    guard), with its exact shingle intersection and union sizes.

    Batches stream through: the last bucket run of a batch stays open
    and is joined by the next batch's leading rows, and a run is
    dropped as soon as it passes the cap, so the kernel holds the
    current batch and at most ``_MH_BUCKET_CAP`` rows of an open run."""
    import numpy as np
    import pyarrow as pa

    open_key, open_rows = None, []  # open_rows None: run over the cap

    def close():
        if open_rows and 1 < sum(len(t) for t in open_rows):
            run = pa.Table.from_batches(open_rows).combine_chunks()
            run = run.to_batches()[0]
            yield _run_pairs(run, np.array([0]), np.array([len(run)]))

    for batch in batches:
        if len(batch) == 0:
            continue
        band = batch.column("band").to_numpy()
        bucket = batch.column("bucket").to_numpy()
        cuts = np.flatnonzero((np.diff(band) != 0) | (np.diff(bucket) != 0)) + 1
        starts = np.concatenate(([0], cuts))
        sizes = np.diff(np.append(starts, len(batch)))
        head = (int(band[0]), int(bucket[0]))
        first = 0
        if head == open_key:
            if open_rows is not None:
                open_rows.append(batch.slice(0, int(sizes[0])))
                if sum(len(t) for t in open_rows) > _MH_BUCKET_CAP:
                    open_rows = None
            if len(starts) == 1:
                continue
            first = 1
        yield from close()
        last = len(starts) - 1
        mid = slice(first, last)
        ok = (sizes[mid] > 1) & (sizes[mid] <= _MH_BUCKET_CAP)
        if ok.any():
            yield _run_pairs(batch, starts[mid][ok], sizes[mid][ok])
        open_key = (int(band[-1]), int(bucket[-1]))
        open_rows = (
            [batch.slice(int(starts[last]))]
            if sizes[last] <= _MH_BUCKET_CAP
            else None
        )
    yield from close()


def _bucket_pairs(sigs: DataFrame) -> DataFrame:
    """(doc_a, doc_b, inter, uni) for every pair of docs of ``sigs``
    (:func:`_signatures`) sharing a capped LSH band bucket, once per
    shared band: the band rows take ONE shuffle on (band, bucket),
    sized by the one task rule, and the verify kernel
    (:func:`_verify_runs`) walks each partition's sorted bucket
    runs. Each doc's row, shingle set included, is repeated once per
    band, which the size passed to the rule counts."""
    rows = sigs.select(
        "doc_id", "sh", F.posexplode("bk").alias("band", "bucket")
    )
    n = tasks_for(sigs.sparkSession, _MH_BANDS * plan_bytes(sigs))
    return (
        rows.repartition(n, "band", "bucket")
        .sortWithinPartitions("band", "bucket", "doc_id")
        .mapInArrow(_verify_runs, "doc_a long, doc_b long, inter int, uni int")
    )


def _minhash_oracle() -> str:
    """DuckDB replay of the full MinHash pipeline: mutants, token/
    shingle poly-hashes, 12 affine min-hashes, 4x3 banding, the
    bucket-cap skew guard, in-bucket exact-Jaccard verify."""
    m = 1_000_000_007
    rows = _MH_N // _MH_BANDS
    mins = ",\n             ".join(
        f"MIN(({_MH_A[k]} * hs + {_MH_B[k]}) % {m}) AS h{k}"
        for k in range(_MH_N)
    )
    def fold(cols: list[str]) -> str:
        acc = cols[0]
        for c in cols[1:]:
            acc = f"(({acc}) * 131 + {c}) % {m}"
        return acc
    bands_sql = "\n      UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"{fold([f'h{b * rows + r}' for r in range(rows)])} AS bucket FROM sigs"
        for b in range(_MH_BANDS)
    )
    return f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000,
             array_to_string(list_filter(string_split(text, ' '),
                                         (t, i) -> i % 25 <> 0), ' ')
      FROM documents WHERE doc_id % 5 = 0
    ),
    tokh AS (
      SELECT doc_id,
             list_transform(string_split(text, ' '),
               t -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                      list_transform(string_split(t, ''),
                                     c -> CAST(ascii(c) AS BIGINT))),
                    (a, b) -> (a * 31 + b) % {m})) AS th
      FROM corpus
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(th) - 2, 1) + 1),
               i -> ((th[i] * 131 + th[i+1]) % {m} * 131 + th[i+2]) % {m}))
               AS sh
      FROM tokh
    ),
    ex AS (SELECT doc_id, unnest(sh) AS hs FROM sh),
    sigs AS (
      SELECT doc_id,
             {mins}
      FROM ex GROUP BY doc_id
    ),
    banded AS (
      {bands_sql}
    ),
    capped AS (
      SELECT doc_id, band, bucket FROM
        (SELECT *, COUNT(*) OVER (PARTITION BY band, bucket) AS bn
         FROM banded)
      WHERE bn <= 100
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM capped a JOIN capped b
        ON a.band = b.band AND a.bucket = b.bucket
       AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, jaccard FROM (
      SELECT doc_a, doc_b,
             ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                   / (len(sa.sh) + len(sb.sh)
                      - len(list_intersect(sa.sh, sb.sh))), 4) AS jaccard
      FROM cand JOIN sh sa ON sa.doc_id = cand.doc_a
                JOIN sh sb ON sb.doc_id = cand.doc_b)
    WHERE jaccard >= 0.5
    """


@query("ext_dedup_minhash", oracle=_minhash_oracle())
def ext_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection via MinHash + LSH banding.

    Pipeline: 3-token shingles → 12 affine min-hashes = MinHash
    signature → 4 bands × 3 rows → in-bucket candidate pairs → exact
    Jaccard verify. Output: (doc_a, doc_b, jaccard ≥ 0.5).

    Every hash is the engine-portable convention (``poly_hash`` token
    fold, 131-combines, affine permutations mod 1e9+7), so the DuckDB
    oracle replays the ENTIRE pipeline — banding, skew guard and all —
    and the driver hash-checks it.

    Stage shape: two Arrow kernels and one bucket shuffle.
    :func:`_signatures` turns each doc into its shingle set and band
    buckets in one numpy pass per batch; :func:`_bucket_pairs` shuffles
    the band rows once on (band, bucket) and verifies each bucket's
    pairs in place, skipping buckets above ``_MH_BUCKET_CAP`` (the LSH
    skew guard). Spark then drops the pairs found in several bands and
    rounds and thresholds the Jaccard.

    100 TB shape: the bucket shuffle is O(n · bands) rows, each
    carrying its doc's shingle set; verification touches only
    in-bucket pairs, at most ``_MH_BUCKET_CAP``² per bucket. No
    all-pairs stage exists, nothing is cached, and each hash is
    evaluated once per doc.
    """
    # 4 bands x 3 rows: P(candidate) at jaccard .85 = 1-(1-.85^3)^4 ≈ .98,
    # at jaccard .3 ≈ .10 — a sharper sensitivity curve than 4x4 with 25%
    # fewer hash evaluations (``_MH_N``, ``_MH_BANDS``).
    pairs = _bucket_pairs(_signatures(_docs_with_mutants(spark, sf_dir)))
    return (
        pairs.dropDuplicates(["doc_a", "doc_b"])
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("inter") / F.col("uni"), 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )


# SimHash geometry: poly_hash is uniform below 2^30, so the signature
# is 30 bits, bucketed as 3 chunks x 10 bits (hamming <= 3 means at
# least one chunk is untouched only for <= 2 flips; 3 flips can hit all
# 3 chunks — same recall geometry as the classic 64/4x16 at 6 flips,
# scaled to the narrower signature).
_SH_BITS, _SH_CHUNKS = 30, 3
_SH_CHUNK_BITS = _SH_BITS // _SH_CHUNKS


def _simhash_oracle() -> str:
    """DuckDB replay of the SimHash pipeline: mutants, poly token
    hashes, 30 bit-votes, signature assembly, 10-bit chunk buckets
    composed with the (first_tok, len_bucket) blocking key, and the
    hamming-by-popcount filter. Token hashes are computed once per
    DISTINCT token and joined back to occurrences — the per-char
    lambda fold over every occurrence dominated the oracle's wall at
    the 60M-row corpus (~200x more folds than the vocabulary
    warrants)."""
    votes = ",\n             ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(_SH_BITS)
    )
    sig = " + ".join(
        f"CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(_SH_BITS)
    )
    chunk_mask = (1 << _SH_CHUNK_BITS) - 1
    chunks_sql = "\n      UNION ALL ".join(
        f"SELECT doc_id, sig, {c} AS chunk_no, "
        f"(sig >> {_SH_CHUNK_BITS * c}) & {chunk_mask} AS chunk_val "
        f"FROM sigs"
        for c in range(_SH_CHUNKS)
    )
    return f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000,
             array_to_string(list_filter(string_split(text, ' '),
                                         (t, i) -> i % 25 <> 0), ' ')
      FROM documents WHERE doc_id % 5 = 0
    ),
    toklist AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM corpus
    ),
    meta AS (
      SELECT doc_id, toks[1] AS first_tok,
             CAST(FLOOR(len(toks) / 64.0) AS INT) AS len_bucket
      FROM toklist
    ),
    tokocc AS (
      SELECT doc_id, t.tok FROM toklist, UNNEST(toks) AS t(tok)
    ),
    th AS (
      SELECT tok,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(tok, ''),
                              c -> CAST(ascii(c) AS BIGINT))),
               (a, b) -> (a * 31 + b) % 1000000007) AS h
      FROM (SELECT DISTINCT tok FROM tokocc)
    ),
    tok AS (
      SELECT o.doc_id, th.h FROM tokocc o JOIN th ON o.tok = th.tok
    ),
    votes AS (
      SELECT doc_id,
             {votes}
      FROM tok GROUP BY doc_id
    ),
    sigs AS (SELECT doc_id, {sig} AS sig FROM votes),
    chunks AS (
      {chunks_sql}
    ),
    mband AS (
      -- two-sided length band: every doc joins under BOTH its bucket
      -- and the next one, so pairs one bucket apart (|len diff| <= 64
      -- straddling a boundary) still co-block — 2 band rows per doc
      SELECT doc_id, first_tok, len_bucket + d.d AS len_band
      FROM meta, (SELECT unnest([0, 1]) AS d) d
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.sig AS sig_a, b.sig AS sig_b
      FROM (SELECT c.*, m.first_tok, m.len_band
            FROM chunks c JOIN mband m USING (doc_id)) a
      JOIN (SELECT c.*, m.first_tok, m.len_band
            FROM chunks c JOIN mband m USING (doc_id)) b
        ON a.chunk_no = b.chunk_no AND a.chunk_val = b.chunk_val
       AND a.first_tok = b.first_tok AND a.len_band = b.len_band
       AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 3
    """


@query("ext_dedup_simhash", oracle=_simhash_oracle())
def ext_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 30-bit signature from per-token hash bit votes
    (``poly_hash`` values are uniform below 2^30); candidates pair up
    when any of the 3 10-bit chunks match WITHIN a
    (first_tok, len_bucket) block (hamming ≤ 3 then verified exactly
    via popcount of XOR).

    The blocking key is load-bearing at scale, not an optimization: a
    10-bit chunk space saturates at ~10^5 docs (the 60M-row probe
    corpus put ~600 docs in every bucket and the bare chunk join
    quoted ~5*10^8 candidate pairs — a GC spiral, and the exact
    failure mode wide-signature simhash papers block for). Same
    blocking discipline as ``ext_dedup_ngram_jaccard`` on the first
    token; the LENGTH band is TWO-SIDED here (each doc joins under
    floor(len/64) and floor(len/64)+1, 2× band rows): floor alone is
    one-sided, so an original just past a 64-token boundary landed one
    bucket above its ~4%-shrunk mutant and that planted pair was
    silently dropped — a recall gap only, never a differential one,
    because the oracle replays the same blocking; closed in r12 and
    pinned by the boundary-straddling completeness test. A pair split
    by its FIRST TOKEN is still missed by design (mutants keep
    token 0).

    All bit arithmetic is JVM-side integer ops — one explode + one
    groupBy for signatures, chunk-bucket join for candidates. Portable
    hashing makes the whole pipeline — votes, signature assembly,
    chunk buckets, hamming filter — replayable by the DuckDB oracle;
    for a 64-bit signature without the cross-engine contract, swap the
    token fold for ``F.xxhash64`` and widen the chunk loop.
    """
    docs = _docs_with_mutants(spark, sf_dir)
    toks = F.split("text", " ")
    meta = docs.select(
        "doc_id",
        F.element_at(toks, 1).alias("first_tok"),
        (F.size(toks) / 64).cast("int").alias("len_bucket"),
    )
    tok = docs.select(
        "doc_id", F.explode(toks).alias("tok")
    ).select("doc_id", poly_hash(F.col("tok")).alias("h"))
    # Bit votes: sum(+1/-1) per bit position, then reassemble the sign
    # bits into the signature.
    votes = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            ).alias(f"b{b}")
            for b in range(_SH_BITS)
        ]
    )
    sig = F.lit(0).cast("long")
    for b in range(_SH_BITS):
        sig = sig + F.when(
            F.col(f"b{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(0)
    sigs = votes.select("doc_id", sig.alias("sig")).join(
        meta, "doc_id"
    ).cache()
    chunks = sigs.select(
        "doc_id",
        "sig",
        "first_tok",
        "len_bucket",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("sig"), _SH_CHUNK_BITS * c).bitwiseAND(
                        F.lit((1 << _SH_CHUNK_BITS) - 1)
                    )
                    for c in range(_SH_CHUNKS)
                ]
            )
        ).alias("chunk_no", "chunk_val"),
    ).withColumn(
        # two-sided length band (oracle-replayed): each doc joins
        # under BOTH its bucket and the next, so a pair straddling a
        # 64-token boundary still co-blocks
        "len_band",
        F.explode(F.array(F.col("len_bucket"), F.col("len_bucket") + 1)),
    ).cache()
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_no") == F.col("b.chunk_no"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.first_tok") == F.col("b.first_tok"))
            & (F.col("a.len_band") == F.col("b.len_band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
    )


@query(
    "ext_dedup_ngram_jaccard",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, lang, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, lang,
             array_to_string(list_filter(string_split(text, ' '),
                                         (t, i) -> i % 25 <> 0), ' ')
      FROM documents WHERE doc_id % 5 = 0
    ),
    feat AS (
      SELECT doc_id, lang, sh, toks[1] AS first_tok,
             CAST(FLOOR(len(toks) / 64.0) AS INT) AS len_bucket
      FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks,
                   list_distinct(list_transform(
                     range(1, greatest(len(string_split(text, ' ')) - 1, 1) + 1),
                     i -> array_to_string(string_split(text, ' ')[i:i+1], ' ')))
                     AS sh
            FROM corpus)
    ),
    banded AS (
      SELECT f.*, f.len_bucket + d.d AS len_band
      FROM feat f, (SELECT unnest([-1, 0, 1]) AS d) d
    )
    SELECT doc_a, doc_b, jaccard FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                   / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
                   4) AS jaccard
      FROM feat a JOIN banded b
        ON a.lang = b.lang AND a.first_tok = b.first_tok
       AND a.len_bucket = b.len_band AND a.doc_id < b.doc_id)
    WHERE jaccard >= 0.4
    """,
)
def ext_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard within cheap blocking buckets: docs are
    blocked on (lang, first token, coarse length bucket) and only
    in-block pairs are compared — the blocked-verify pattern that keeps
    exact similarity affordable when LSH recall isn't enough.

    Oracle-checked (unlike the MinHash/SimHash keys): string shingles +
    equi-join blocking involve no engine-specific hash, so DuckDB can
    replay the pipeline exactly — mutants, 2-gram shingling (1-based
    slice semantics match Spark's), blocking, and the Jaccard ratio.

    The block key is a pure equi-join key (never a range predicate:
    Catalyst would demote that to a post-filtered near-cross-join).
    Block-key choice is corpus-dependent; here (lang, first token)
    splits ~30× while near-dup mutants keep both. The length band is
    TWO-SIDED like ``ext_dedup_simhash``'s (r12): the b side explodes
    into {lb−1, lb, lb+1}, so a pair one bucket apart (straddling a
    64-token boundary — the ~4%-shrunk mutants do) still co-blocks,
    each qualifying pair matches on EXACTLY one band value (no
    dedup), and the predicate stays a hash-joinable equality.
    """
    docs = _docs_with_mutants(spark, sf_dir).select(
        "doc_id", "lang", F.split("text", " ").alias("toks")
    )
    toks = F.col("toks")
    with_sh = docs.select(
        "doc_id",
        "lang",
        F.array_distinct(_shingles(toks, k=2)).alias("sh"),
        F.element_at(toks, 1).alias("first_tok"),
        (F.size(toks) / 64).cast("int").alias("len_bucket"),
    ).cache()
    a = with_sh.alias("a")
    b = with_sh.withColumn(
        "len_band",
        F.explode(
            F.array(
                F.col("len_bucket") - 1,
                F.col("len_bucket"),
                F.col("len_bucket") + 1,
            )
        ),
    ).alias("b")
    pairs = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.first_tok") == F.col("b.first_tok"))
        & (F.col("a.len_bucket") == F.col("b.len_band"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.array_union(F.col("a.sh"), F.col("b.sh")))
    return (
        pairs.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(inter / union, 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.4)
    )


# Sign-LSH geometry: band width must scale ~log2(n) or the bucket
# space saturates (the 60M-row probe corpus put ~1000 vectors in each
# of the old single-band 8-bit sketch's 256 buckets — a ~10^8-pair
# quadratic verify; the r10 hand-widening to 12 bits saturated again
# at the next scale step because the dial was a constant). The dial is
# now DATA-DERIVED: each of the 2 bands occupies a fixed 28-bit SLOT
# of the sketch, and the number of low slot bits actually used is the
# smallest b in [12, 28] with n <= TARGET_LOAD * 2^b (so expected
# bucket load stays <= TARGET_LOAD up to n = 4 * 2^28 ~= 1e9 vectors;
# beyond that, widen the slots / add a band — a compile-time ceiling,
# stated here on purpose). Candidate if EITHER band matches; planted
# mutants (cosine .999, plane-flip p = theta/pi = .0143) survive a
# b-plane band w.p. .9857^b — .842 at b=12, .668 at the b=28 ceiling —
# either of two bands w.p. .975 down to .890.
_EMB_BANDS = 2
_EMB_SLOT_BITS = 28  # fixed slot width; used bits <= this, derived from n
_EMB_MIN_BITS, _EMB_MAX_BITS = 12, _EMB_SLOT_BITS
_EMB_TARGET_LOAD = 4  # target expected vectors per bucket
_EMB_ALL_PLANES = _EMB_BANDS * _EMB_SLOT_BITS  # oracle computes all 56

# The band COUNT is data-derived alongside the width (r12's x400
# forward-probe showed planted recall decaying 0.9497 -> 0.8435 one
# density step past sf10, because the dial adapted cost — width — but
# not recall — bands): per-band planted-pair collision is .9857^bits,
# so as the width ladder climbs, two bands stop covering the pair
# (2 bands at bits=18: .947 collision; at the 28-bit ceiling: .890).
# A THIRD band engages when bits exceeds 16 — exactly one step past
# the certified sf10 point (bits=16 at 250k vectors), keeping every
# certified-scale output bit-identical while holding expected
# collision >= .95 up to the 28-bit ceiling (3 bands at bits=28:
# .963). Candidate volume scales linearly in bands (<= n·nb·cap under
# the graduated cap for ANY distribution) — the classical LSH recall
# lever, unlike query-side multi-probing whose probe rows land inside
# straddling crowd families and regenerate the quadratic candidate
# mass the cap exists to prevent (measured: the probe-leg prototype
# spilled >70 GB at the x400 density; three bands add ~50% candidates).
_EMB_MAX_BANDS = 3
# Extra bands live at plane indices AFTER the legacy 2-band layout
# (slots 0..55, refine 56..87), so engaging them never renumbers the
# planes certified at nb=2: band k >= 2 occupies a 44-plane block at
# 88 + (k-2)*44 — 28 slot planes, then 2 levels x 8 refine planes.
_EMB_EXTRA_BASE = 88
_EMB_EXTRA_STRIDE = _EMB_SLOT_BITS + 2 * 8


def _emb_band_count(bits: int) -> int:
    """Band count for a ``bits``-wide dial: 2 through the certified
    sf10 point, 3 beyond. Integer threshold (no float), replayed by
    the oracle's CASE on its own params.bits."""
    return _EMB_BANDS + (1 if bits > 16 else 0)


def _emb_nbands_sql(bits_expr: str) -> str:
    """Oracle fragment replaying :func:`_emb_band_count`."""
    return (
        f"({_EMB_BANDS} + CASE WHEN {bits_expr} > 16 THEN 1 ELSE 0 END)"
    )


def _emb_slot_plane(b: int, j: int) -> int:
    """Flat plane index of band ``b``'s slot plane ``j``."""
    if b < _EMB_BANDS:
        return b * _EMB_SLOT_BITS + j
    return _EMB_EXTRA_BASE + (b - _EMB_BANDS) * _EMB_EXTRA_STRIDE + j


def _emb_refine_plane(b: int, lvl: int, j: int) -> int:
    """Flat plane index of band ``b``'s level-``lvl`` refine plane
    ``j`` (legacy bands keep the certified 56..87 block; extra bands
    carry their first two refine levels inside their own 44-plane
    block; DEEP levels >= 2 live in appended per-level blocks after
    the extra-band region — see _EMB_DEEP_BASE — so engaging them
    never renumbers a certified plane)."""
    if lvl >= 2:
        return (
            _EMB_DEEP_BASE
            + (lvl - 2) * (_EMB_MAX_BANDS * _EMB_REFINE_BITS)
            + b * _EMB_REFINE_BITS
            + j
        )
    if b < _EMB_BANDS:
        return (
            _EMB_REFINE_BASE
            + (lvl * _EMB_BANDS + b) * _EMB_REFINE_BITS
            + j
        )
    return (
        _EMB_EXTRA_BASE
        + (b - _EMB_BANDS) * _EMB_EXTRA_STRIDE
        + _EMB_SLOT_BITS
        + lvl * _EMB_REFINE_BITS
        + j
    )

# Refinement planes: an over-cap bucket is no longer dropped whole —
# its members are SPLIT by 8 extra sign planes (per band, disjoint
# plane ranges after the two slots) and the cap is re-applied to the
# refined buckets; a bucket STILL over the cap splits once more by a
# second, independent 8-plane refine value before drop-whole. The r11
# sf10 certificate showed the drop-whole cap was the dominant recall
# loss (planted recall 0.5855 against a theoretical 0.9575 at
# bits=16): the 100-replica jittered families crowd BOTH bands'
# buckets past the cap simultaneously, so the "other band rescues the
# pair" argument fails exactly on the inputs that need it. Refinement
# recovers those pairs GRADUATEDLY: a planted mutant pair agrees on
# an 8-plane refine value w.p. .9857^8 = .891 (.794 when both levels
# are needed), while a sub-threshold crowd (pairwise flip prob
# ~.05-.07/plane) spreads by ~2-3x per level — so light crowds cost
# pairs one small factor and only ultra-dense crowds (which a
# bounded-candidate dedup cannot enumerate anyway) are dropped. The
# r12 x400 forward-probe (1M corpus, 400-deep replica families)
# measured the one-level form at 0.7746 planted recall with band
# collisions at 0.9365 — the second level exists to close exactly
# that crowd-residue gap. Worst-case candidate volume is UNCHANGED:
# each row lands in exactly one final bucket per band, every final
# bucket is <= cap, so candidates <= n·bands·(cap-1)/2 for ANY
# distribution.
_EMB_REFINE_BITS = 8
_EMB_REFINE_LEVELS = 2
_EMB_REFINE_BASE = _EMB_ALL_PLANES  # refine planes start after the slots

# The BATCH pipeline refines DEEPER than the legacy two levels: the
# r13 x1600 forward-probe (4M corpus, 1600-deep replica families)
# decomposed the 0.7245 planted recall into 21.3 pts DROP-WHOLE vs
# 3.9 pts refine-disagreement + 2.3 pts slot-miss — the crowd CORE
# (members with no flipped refine planes, ~(.9857^8)^levels of a
# family) survives BOTH splits above the cap and drops whole, and
# that core grows linearly with crowd depth while the split depth was
# a constant. Two more graduated levels split the surviving core
# twice more (engaged per bucket only when the shallower split is
# still over cap, so every corpus whose crowds fit at two levels —
# all certified tiers below sf10 — is bit-identical). Levels 3-4
# occupy APPENDED plane blocks after the extra-band region
# ((lvl-2)·(max_bands·8) + band·8 + j from _EMB_DEEP_BASE), so no
# certified plane ever renumbers. The streaming index leg carries
# the SAME deep levels (state one row per finest non-empty cell, the
# graduated rollup generalized alongside), so an insert-time prober
# can split a crowd-dense bucket as deep as the batch candidate
# generator does.
_EMB_DEEP_LEVELS = 4
_EMB_DEEP_BASE = (
    _EMB_EXTRA_BASE + (_EMB_MAX_BANDS - _EMB_BANDS) * _EMB_EXTRA_STRIDE
)


# Worst-case bound, not a tuning knob: no data distribution can push
# candidate volume past cap·n·bands/2 (the 100-TB discipline — the
# sf10 replica corpus put 4000+ structured-but-sub-threshold vectors
# in single buckets, 164M candidate pairs, despite a healthy expected
# load of 4). A bucket over the cap is first SPLIT by the refine
# planes above; a refined bucket still over the cap is dropped whole
# (the minhash guard's semantics, oracle-replayed).
_EMB_BUCKET_CAP = 256


def _emb_band_bits(n: int) -> int:
    """Band width for an n-vector corpus: smallest b in
    [_EMB_MIN_BITS, _EMB_MAX_BITS] with n <= _EMB_TARGET_LOAD * 2^b.
    Pure integer threshold chain (no float log2) so the DuckDB oracle
    replays it bit-for-bit via the same CASE ladder."""
    bits = _EMB_MIN_BITS
    for k in range(_EMB_MIN_BITS, _EMB_MAX_BITS):
        if n > _EMB_TARGET_LOAD * (1 << k):
            bits += 1
    return bits


def _emb_bits_sql(n_expr: str) -> str:
    """Oracle fragment replaying :func:`_emb_band_bits` on ``n_expr``."""
    ladder = " + ".join(
        f"(CASE WHEN {n_expr} > {_EMB_TARGET_LOAD * (1 << k)} "
        f"THEN 1 ELSE 0 END)"
        for k in range(_EMB_MIN_BITS, _EMB_MAX_BITS)
    )
    return f"({_EMB_MIN_BITS} + {ladder})"


def emb_bands_udf(
    bits: int,
    refine: bool = True,
    n_bands: int = _EMB_BANDS,
    levels: int = _EMB_REFINE_LEVELS,
):
    """Banded integer-exact sign sketch as ONE Arrow-batched matrix
    multiply — the shared primitive of the batch near-dup keys and the
    streaming LSH index maintenance key (a scalar pandas UDF is
    stateless, so it runs unchanged on an unbounded relation).

    Returns ``array<long>`` of length ``(1 + levels) * n_bands`` when
    ``refine`` (band values, then one refine value per level per
    band: ``[bv_0..bv_nb-1, r1_0.., r2_0.., ...]``) or ``n_bands``
    without. ``levels`` defaults to the certified two-level layout
    (the streaming leg pins it); the batch pipeline passes
    ``_EMB_DEEP_LEVELS``. Band b's slot plane j and refine plane
    (lvl, j) are the flat indices of :func:`_emb_slot_plane` /
    :func:`_emb_refine_plane` — the legacy 2-band layout (slots
    b*28 + j, refine 56 + (l*bands + b)*8 + j) is preserved exactly,
    extra bands append their own 44-plane blocks, so a 2-band sketch
    is bit-identical whatever ``_EMB_MAX_BANDS`` grows to. Plane p
    weight for dim i (0-based)
    is ``((p*64 + i + 1) * 2654435761) % 2^32 % 2001 - 1000`` — the
    Knuth-hash integer PRNG shared with ``similarity._bucket_udf`` —
    and vectors are quantized to int64 milli-units
    (``floor(x*1000 + 0.5)`` on the DOUBLE value, identical in both
    engines). The projection is then an int64 dot product: integer
    addition is associative, so the sign cannot flip with summation
    order the way a float matmul's last ulp can, and one numpy matmul
    per Arrow batch computes every plane at once — the per-plane
    higher-order-function expression this replaces was interpreted
    per row (HOFs don't enter whole-stage codegen) and dominated the
    corpus scan at scale (sf10: 133 s for the certified key)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    plane_ids = [
        _emb_slot_plane(b, j) for b in range(n_bands) for j in range(bits)
    ]
    if refine:
        plane_ids += [
            _emb_refine_plane(b, lvl, j)
            for lvl in range(levels)
            for b in range(n_bands)
            for j in range(_EMB_REFINE_BITS)
        ]
    planes = np.asarray(plane_ids, dtype=np.int64)
    n_out = (1 + levels) * n_bands if refine else n_bands

    @pandas_udf("array<long>")
    def bands(emb):
        if len(emb) == 0:  # np.vstack raises on an empty Arrow batch
            return pd.Series([], dtype=object)
        e = np.vstack(emb.to_numpy()).astype(np.float64)  # (batch, dims)
        dims = e.shape[1]
        q = np.floor(e * 1000.0 + 0.5).astype(np.int64)  # milli-quantized
        # flat plane·dim index: stride 64 (the fixture dim), matching
        # the oracle's (p*64 + i) regardless of actual dims <= 64
        k = planes[:, None] * 64 + np.arange(dims, dtype=np.int64)[None, :]
        w = ((k + 1) * 2654435761) % 4294967296 % 2001 - 1000
        signs = q @ w.T >= 0  # (batch, n_planes_total)
        vals = np.zeros((len(q), n_out), dtype=np.int64)
        pos = 0
        for b in range(n_bands):
            seg = signs[:, pos : pos + bits]
            vals[:, b] = seg @ (np.int64(1) << np.arange(bits, dtype=np.int64))
            pos += bits
        if refine:
            rw = np.int64(1) << np.arange(_EMB_REFINE_BITS, dtype=np.int64)
            for slot in range(levels * n_bands):
                seg = signs[:, pos : pos + _EMB_REFINE_BITS]
                vals[:, n_bands + slot] = seg @ rw
                pos += _EMB_REFINE_BITS
        return pd.Series([row.tolist() for row in vals])

    return bands


def _emb_dot_sql(p) -> str:
    """Oracle fragment: int64 dot of the quantized vector ``qv``
    against plane ``p`` (a SQL expression or literal) — the exact
    integer arithmetic of :func:`emb_bands_udf`."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1, len(qv) + 1), i -> "
        f"qv[i] * (((({p}) * 64 + i) * 2654435761) "
        f"% 4294967296 % 2001 - 1000))), (a, b) -> a + b)"
    )


def emb_quant_sql(emb_expr: str = "emb") -> str:
    """Oracle fragment: milli-unit int64 quantization of a DOUBLE[]
    embedding — `floor(x*1000 + 0.5)`, the shared convention."""
    return (
        f"list_transform({emb_expr}, "
        f"x -> CAST(floor(x * 1000 + 0.5) AS BIGINT))"
    )


def _emb_used_planes_sql(levels: int = _EMB_REFINE_LEVELS) -> str:
    """Oracle fragment: the USED-planes relation ``(p, band_no, j,
    kind, lvl)`` — one row per (band, plane) actually computed at the
    data-derived (bits, nb) point, enumerated per band as literal
    plane bases (:func:`_emb_slot_plane` / :func:`_emb_refine_plane`)
    and guarded by the params scalars, so the SQL text is static while
    the plane set tracks the data exactly like Spark's UDF."""
    parts = []
    for b in range(_EMB_MAX_BANDS):
        parts.append(
            f"SELECT {_emb_slot_plane(b, 0)} + j AS p, {b} AS band_no, "
            f"j, 'slot' AS kind, -1 AS lvl "
            f"FROM (SELECT unnest(range(0, {_EMB_SLOT_BITS})) AS j) "
            f"WHERE j < (SELECT bits FROM params) "
            f"AND {b} < (SELECT nb FROM params)"
        )
        for lvl in range(levels):
            parts.append(
                f"SELECT {_emb_refine_plane(b, lvl, 0)} + j, {b}, "
                f"j, 'refine', {lvl} "
                f"FROM (SELECT unnest(range(0, {_EMB_REFINE_BITS})) AS j) "
                f"WHERE {b} < (SELECT nb FROM params)"
            )
    return "\n      UNION ALL ".join(parts)


def emb_banded_cte(levels: int = _EMB_REFINE_LEVELS) -> str:
    """Oracle fragment: the shared params→planes→bands CTE chain over
    an already-defined ``corpus(vec_id, emb)`` relation — data-derived
    (bits, nb) from the corpus count, per-plane int64 dots for exactly
    the used planes, and the per-(vec, band) band/refine values. Ends
    in ``bands(vec_id, band_no, band_val, refine_val..
    refine{levels}_val)``. Shared by the batch near-dup oracle
    (``levels=_EMB_DEEP_LEVELS``) and the streaming index oracle
    (certified two-level default) so the two replays can never
    drift."""
    rjoins = "\n".join(
        f"      JOIN rvals r{k + 1} ON r{k + 1}.vec_id = b.vec_id\n"
        f"                   AND r{k + 1}.band_no = b.band_no "
        f"AND r{k + 1}.lvl = {k}"
        for k in range(levels)
    )
    rcols = ", ".join(
        f"r{k + 1}.rv AS {_refine_col(k)}" for k in range(levels)
    )
    return f"""params AS (
      SELECT bits, {_emb_nbands_sql('bits')} AS nb FROM (
        SELECT {_emb_bits_sql('n')} AS bits
        FROM (SELECT COUNT(*) AS n FROM corpus))
    ),
    qcorp AS (
      SELECT vec_id, emb, {emb_quant_sql()} AS qv FROM corpus
    ),
    used AS (
      {_emb_used_planes_sql(levels)}
    ),
    planes AS MATERIALIZED (
      SELECT vec_id, u.band_no, u.j, u.kind, u.lvl,
             {_emb_dot_sql('u.p')} AS d
      FROM qcorp, used u
    ),
    bvals AS (
      SELECT vec_id, band_no,
             CAST(SUM(CASE WHEN d >= 0 THEN 1::BIGINT << j
                           ELSE 0::BIGINT END) AS BIGINT) AS band_val
      FROM planes WHERE kind = 'slot'
      GROUP BY vec_id, band_no
    ),
    rvals AS (
      SELECT vec_id, band_no, lvl,
             CAST(SUM(CASE WHEN d >= 0 THEN 1::BIGINT << j
                           ELSE 0::BIGINT END) AS BIGINT) AS rv
      FROM planes WHERE kind = 'refine'
      GROUP BY vec_id, band_no, lvl
    ),
    bands AS (
      SELECT b.vec_id, b.band_no, b.band_val,
             {rcols}
      FROM bvals b
{rjoins}
    )"""


def _embedding_oracle() -> str:
    """DuckDB replay of the banded sign-LSH embedding dedup: mutants,
    integer-exact hyperplane sign bits in fixed 28-bit slots, a
    data-derived band WIDTH (the :func:`_emb_band_bits` CASE ladder on
    COUNT(*) of the corpus — same integer thresholds as Spark) and a
    data-derived band COUNT (:func:`_emb_band_count` on the same
    scalar), band equi-join on each band's used planes with over-cap
    buckets SPLIT by the refine planes (then re-capped), exact cosine
    verify. Bitwise-replayable because the sketch is int64 arithmetic
    end-to-end — milli-quantized vectors against integer PRNG weights,
    so no float summation-order or libm last-ulp hazard can flip a
    sign. The per-plane dots are materialized as a (vec_id, band,
    plane, d) relation filtered to the USED planes (a WHERE on the
    params scalars — cheaper than the old compute-all-56-and-mask
    form), so band and refine values come from one pass."""
    lv = _EMB_DEEP_LEVELS
    cap = _EMB_BUCKET_CAP
    chain = []
    prev = "bands"
    for k in range(lv):
        part = ", ".join(
            ["band_no", "band_val"] + [_sub_col(i) for i in range(k)]
        )
        carry = ", ".join(
            [_refine_col(i) for i in range(k + 1, lv)]
            + [_sub_col(i) for i in range(k)]
        )
        carry = (carry + ", ") if carry else ""
        chain.append(
            f"""counted{k + 1} AS (
      SELECT vec_id, band_no, band_val, {carry}
             CASE WHEN COUNT(*) OVER (PARTITION BY {part})
                       <= {cap}
                  THEN -1 ELSE {_refine_col(k)} END AS {_sub_col(k)}
      FROM {prev}
    )"""
        )
        prev = f"counted{k + 1}"
    all_subs = ", ".join(_sub_col(i) for i in range(lv))
    final_part = f"band_no, band_val, {all_subs}"
    cand_keys = " AND ".join(
        f"a.{c} = b.{c}"
        for c in ["band_no", "band_val"] + [_sub_col(i) for i in range(lv)]
    )
    chain_sql = ",\n    ".join(chain)
    return f"""
    WITH corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
      UNION ALL
      SELECT vec_id + {_EMB_OFF_SQL},
             list_transform(CAST(embedding AS DOUBLE[]),
                            (v, i) -> CASE WHEN i = 1 THEN v + 0.05
                                           ELSE v END)
      FROM embeddings WHERE vec_id % 4 = 0
    ),
    {emb_banded_cte(levels=lv)},
    {chain_sql},
    bands_capped AS (
      SELECT vec_id, band_no, band_val, {all_subs} FROM (
        SELECT *,
               COUNT(*) OVER (PARTITION BY {final_part})
                 AS bn_final
        FROM {prev}
      ) WHERE bn_final <= {cap}
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM bands_capped a JOIN bands_capped b
        ON {cand_keys} AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, cosine FROM (
      SELECT vec_a, vec_b,
             ROUND(list_cosine_similarity(sa.emb, sb.emb), 4) AS cosine
      FROM cand JOIN qcorp sa ON cand.vec_a = sa.vec_id
                JOIN qcorp sb ON cand.vec_b = sb.vec_id)
    WHERE cosine >= 0.99
    """


def _sub_col(lvl: int) -> str:
    """Column name of the level-``lvl`` (0-based) split value."""
    return "sub" if lvl == 0 else f"sub{lvl + 1}"


def _refine_col(lvl: int) -> str:
    """Column name of the level-``lvl`` (0-based) refine value."""
    return "refine_val" if lvl == 0 else f"refine{lvl + 1}_val"


def refine_capped_bands(
    bands: DataFrame,
    cap: int = _EMB_BUCKET_CAP,
    levels: int = _EMB_REFINE_LEVELS,
) -> DataFrame:
    """Graduated bucket-cap skew guard (see _EMB_BUCKET_CAP /
    _EMB_REFINE_BITS / _EMB_REFINE_LEVELS / _EMB_DEEP_LEVELS) over a
    ``(vec_id, band_no, band_val, refine_val.. refine{levels}_val)``
    relation: an over-cap (band_no, band_val) bucket is SPLIT by the
    next level's independent refine value and the cap re-applied,
    level by level — drop-whole only after ALL ``levels`` splits.
    Returns ``(vec_id, band_no, band_val, sub.. sub{levels})`` where
    each sub is −1 at the levels a bucket never needed (so under-cap
    members join on the plain band key); rows whose deepest-refined
    bucket still exceeds the cap are dropped. Every count window
    shuffles by (band, bucket[, subs...]) — the same key the
    candidate stage hashes on, so AQE coalesces rather than adding an
    extra exchange. At ``levels=2`` this is plan-identical to the
    certified two-level form. Factored out so the cap semantics are
    unit-testable on crafted buckets (no fixture bucket exceeds the
    cap below sf10)."""
    from pyspark.sql.window import Window

    cur = bands
    part = ["band_no", "band_val"]
    subs = []
    for lvl in range(levels):
        cnt = F.count(F.lit(1)).over(Window.partitionBy(*part))
        sub = _sub_col(lvl)
        cur = cur.withColumn(
            sub,
            F.when(cnt <= cap, F.lit(-1).cast("long")).otherwise(
                F.col(_refine_col(lvl))
            ),
        )
        part.append(sub)
        subs.append(sub)
    final_cnt = F.count(F.lit(1)).over(Window.partitionBy(*part))
    return (
        cur.withColumn("_bn_final", final_cnt)
        .filter(F.col("_bn_final") <= cap)
        .select("vec_id", "band_no", "band_val", *subs)
    )


def graduated_occupancy(
    fin: DataFrame,
    cap: int = _EMB_BUCKET_CAP,
    levels: int = _EMB_REFINE_LEVELS,
) -> DataFrame:
    """Weighted form of :func:`refine_capped_bands` over an OCCUPANCY
    relation ``(band_no, band_val, refine_val.. refine{levels}_val,
    n_vecs, lo_vec, hi_vec)`` (one row per non-empty finest bucket,
    e.g. the streaming index's state table): an over-cap (band_no,
    band_val) bucket is SPLIT by the next level's independent refine
    value and the cap re-applied, level by level; a bucket over the
    cap at EVERY level is dropped whole — identical graduated-cap
    semantics to the batch candidate generator, but computed from
    sub-bucket COUNTS instead of member rows, so it runs on a
    state-sized relation without ever touching vectors. Returns
    ``(band_no, band_val, sub.. sub{levels}, n_vecs, lo_vec,
    hi_vec)`` candidate buckets with ``n_vecs >= 2`` — each sub is −1
    at the levels the bucket never needed, so an insert-time prober
    joins on exactly the key the batch pipeline hashes on. At
    ``levels=2`` this is the certified two-level form. Factored out
    (like refine_capped_bands) so the cap semantics are unit-testable
    on crafted occupancies with a small cap."""
    import functools

    from pyspark.sql.window import Window

    neg1 = F.lit(-1).cast("long")
    part = ["band_no", "band_val"]
    cur = fin
    counts = []
    for k in range(levels + 1):
        cur = cur.withColumn(
            f"_n{k}", F.sum("n_vecs").over(Window.partitionBy(*part))
        )
        counts.append(f"_n{k}")
        if k < levels:
            part.append(_refine_col(k))
    over_all = functools.reduce(
        lambda a, b: a & b, (F.col(c) > cap for c in counts)
    )
    sub_exprs = []
    stopped = F.col("_n0") <= cap
    for k in range(levels):
        sub_exprs.append(
            F.when(stopped, neg1)
            .otherwise(F.col(_refine_col(k)))
            .alias(_sub_col(k))
        )
        stopped = stopped | (F.col(f"_n{k + 1}") <= cap)
    graded = cur.filter(~over_all).select(
        "band_no", "band_val", *sub_exprs, "n_vecs", "lo_vec", "hi_vec"
    )
    return (
        graded.groupBy(
            "band_no", "band_val", *[_sub_col(k) for k in range(levels)]
        )
        .agg(
            F.sum("n_vecs").alias("n_vecs"),
            F.min("lo_vec").alias("lo_vec"),
            F.max("hi_vec").alias("hi_vec"),
        )
        .filter(F.col("n_vecs") >= 2)
    )


def _emb_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verified embedding near-dup pairs (vec_a, vec_b, cosine >=
    0.99) for ``sf_dir``; see :func:`ext_dedup_embedding` for the
    algorithm contract. ext_semantic_decontam is a projection of the
    same output, so the sketch→band→verify stage runs once per session
    and fixture (``io.reuse``), and a miss unpersists both the pair
    relation and the corpus-sized sketch cache."""
    pairs, _ = reuse(
        spark,
        "emb_pairs",
        sf_dir,
        "embeddings",
        lambda: _build_emb_pairs(spark, sf_dir),
        release=lambda frames: [df.unpersist() for df in frames],
    )
    return pairs


def _build_emb_pairs(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(persisted pairs, cached sketch relation) for _emb_verified_pairs."""
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    # ONE bounded driver-edge aggregate fixes every data-derived
    # constant before the plan is built: max vec_id -> the mutant-id
    # offset (_emb_mutant_offset — the constant 1e6 aliased real ids
    # past 1e6-id corpora, found by the r13 x1600 probe), and corpus
    # count (base + every-4th mutant) -> band width bits and band
    # count nb. The oracle replays the same three integer ladders on
    # its own MAX/COUNT scalars — exact agreement, no float log.
    # Band count is the RECALL dial (per-band collision .9857^bits
    # decays as the width ladder climbs; a third band engages past the
    # bits=16 point to hold expected collision >= .95 through the
    # 28-bit ceiling); width is the COST dial (expected load <= 4).
    scalars = emb.agg(
        F.max("vec_id").alias("mx"),
        F.count(F.lit(1)).alias("n_base"),
        F.sum((F.col("vec_id") % 4 == 0).cast("long")).alias("n_mut"),
    ).collect()[0]
    offset = _emb_mutant_offset(int(scalars["mx"]))
    n_corpus = int(scalars["n_base"]) + int(scalars["n_mut"])
    bits = _emb_band_bits(n_corpus)
    nb = _emb_band_count(bits)

    mutants = (
        emb.filter(F.col("vec_id") % 4 == 0)
        .withColumn("vec_id", F.col("vec_id") + F.lit(offset))
        .withColumn(
            "embedding",
            F.transform(
                "embedding",
                lambda v, i: F.when(i == 0, v + F.lit(0.05)).otherwise(v),
            ),
        )
    )
    allv = emb.unionByName(mutants).select("vec_id", "embedding")

    # Only the USED planes are computed: band b occupies its slot
    # planes plus its refine planes (legacy layout preserved at
    # nb = 2, extra bands in appended blocks). The oracle materializes
    # per-plane dots for the same used planes (a WHERE on its params
    # scalars) — identical band and refine values. The whole sketch is
    # one Arrow-batched int64 matmul per batch.
    lv = _EMB_DEEP_LEVELS
    vals = emb_bands_udf(bits, n_bands=nb, levels=lv)("embedding")
    sk = allv.withColumn("bvals", vals).cache()
    bands = sk.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    F.struct(
                        F.col("bvals")[b].alias("band_val"),
                        *[
                            F.col("bvals")[(1 + k) * nb + b].alias(
                                _refine_col(k)
                            )
                            for k in range(lv)
                        ],
                    )
                    for b in range(nb)
                ]
            )
        ).alias("band_no", "bv"),
    ).select(
        "vec_id",
        "band_no",
        F.col("bv.band_val"),
        *[F.col(f"bv.{_refine_col(k)}") for k in range(lv)],
    )
    bands = refine_capped_bands(bands, levels=lv)
    # Verify INSIDE each capped bucket instead of self-joining into a
    # pair list that then drags a 64-float embedding per pair through
    # two more joins: the r13 measurement put that array-carrying pair
    # exchange at 4.7 GB shuffled / 2.8 GB sort-spilled at sf10 — the
    # pipeline's only spilling stage — while the arrays themselves are
    # only ~0.3 GB. Per-bucket verification (the same restructure the
    # ANN key got this round) ships each embedding to its <=nb bucket
    # rows ONCE and emits only near-threshold pairs, so the shuffle
    # carries O(n·nb) array rows and O(output) pair rows, never
    # O(candidates) arrays, at ANY corpus size. A pair co-bucketed in
    # both bands is verified twice (the old plan deduped candidates
    # first) — at load <= 4 per bucket that is a few extra vector ops
    # per row, far cheaper than the dedup-then-rejoin exchanges, and
    # the duplicate emissions collapse in the final dropDuplicates
    # (bit-identical cosine: same sequential fold on the same arrays).
    #
    # Bucket groups are salted into ~n/500 applyInPandas groups (one
    # pandas group per BUCKET would pay ~0.15 ms group overhead x
    # n·nb/load groups — group count must scale with n, not be a
    # constant); inside a group, numpy segments the buckets and
    # enumerates in-bucket pairs vectorized.
    n_salt = max(64, n_corpus // 500)
    sub_cols = [_sub_col(k) for k in range(lv)]
    grouped = bands.join(
        sk.select("vec_id", "embedding").hint("shuffle_hash"), "vec_id"
    ).withColumn(
        "salt",
        F.pmod(
            F.xxhash64("band_no", "band_val", *sub_cols),
            F.lit(n_salt),
        ),
    )

    def bucket_verify(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "vec_a": pd.Series([], dtype="int64"),
                "vec_b": pd.Series([], dtype="int64"),
                "cosine_raw": pd.Series([], dtype="float64"),
            }
        )
        if len(pdf) < 2:
            return empty
        # order rows by (bucket key, vec_id): buckets become segments
        # and in-segment pair enumeration yields vec_a < vec_b
        key_cols = ["band_no", "band_val", *sub_cols]
        order = np.lexsort(
            tuple(
                pdf[c].to_numpy()
                for c in ["vec_id", *reversed(key_cols)]
            )
        )
        ids = pdf["vec_id"].to_numpy()[order]
        mat = np.vstack(pdf["embedding"].to_numpy()[order]).astype(
            np.float64
        )
        bkey = pdf[key_cols].to_numpy()[order]
        new_seg = np.ones(len(ids), dtype=bool)
        new_seg[1:] = (bkey[1:] != bkey[:-1]).any(axis=1)
        seg_starts = np.flatnonzero(new_seg)
        seg_ends = np.append(seg_starts[1:], len(ids))
        # all in-segment (i < j) index pairs, vectorized per segment
        ii_parts, jj_parts = [], []
        for s, e in zip(seg_starts, seg_ends):
            k = e - s
            if k < 2:
                continue
            iu, ju = np.triu_indices(k, 1)
            ii_parts.append(iu + s)
            jj_parts.append(ju + s)
        if not ii_parts:
            return empty
        ii = np.concatenate(ii_parts)
        jj = np.concatenate(jj_parts)
        A, B = mat[ii], mat[jj]
        # Same expression SHAPE as the fold this replaces —
        # dot / (sqrt(norm2_a) * sqrt(norm2_b)) with left-to-right
        # element accumulation — computed in float64 like the oracle's
        # CAST(embedding AS DOUBLE[]) replay. numpy's own reductions
        # use 8-way unrolled partial sums (different last-ulp), so the
        # fold is vectorized across the PAIR axis and kept sequential
        # in the element axis; F.round below applies Spark's own
        # rounding. (The 4-dp contract is what both engines must
        # agree on; verified hash-identical at sf0.001/0.01/0.1/sf10.)
        d = np.zeros(len(ii))
        na = np.zeros(len(ii))
        nb_ = np.zeros(len(ii))
        for j in range(mat.shape[1]):
            d += A[:, j] * B[:, j]
            na += A[:, j] * A[:, j]
            nb_ += B[:, j] * B[:, j]
        cos = d / (np.sqrt(na) * np.sqrt(nb_))
        # loose pre-filter: everything that could still round up to
        # the 0.99 contract survives; the exact cut is Spark's round
        keep = cos >= 0.9899
        if not keep.any():
            return empty
        return pd.DataFrame(
            {
                "vec_a": ids[ii[keep]],
                "vec_b": ids[jj[keep]],
                "cosine_raw": cos[keep],
            }
        )

    near = grouped.groupBy("salt").applyInPandas(
        bucket_verify, "vec_a long, vec_b long, cosine_raw double"
    )
    pairs = (
        near.select(
            "vec_a",
            "vec_b",
            F.round(F.col("cosine_raw"), 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.99)
        .dropDuplicates(["vec_a", "vec_b"])
        .persist()  # small verified-pair relation; reused by decontam
    )
    return pairs, sk


@query("ext_dedup_embedding", oracle=_embedding_oracle())
def ext_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup via BANDED random-hyperplane (sign)
    LSH with a DATA-DERIVED band width AND band count: per vector, a
    sign sketch in fixed 28-bit slots of which the low ``bits`` planes
    are used, where bits = smallest b in [12, 28] with n <= 4·2^b
    (n = corpus count, one driver-edge aggregate) and the band count
    nb = 2 + (bits > 16) → per-band bucket equi-join
    (candidate if ANY band matches — the MinHash-LSH band
    discipline applied to sign sketches) → exact cosine verify →
    pairs with cosine ≥ 0.99. Band width is the COST dial: expected
    bucket load stays <= 4 as n grows, so candidate volume stays
    O(n·nb·load) instead of saturating — the old compile-time
    constant saturated once at 60M rows (8-bit) and would have again
    at the next 100× (12-bit: ~61 vectors/bucket → ~30M pairs at
    250k vectors). Band COUNT is the RECALL dial: per-band planted
    collision is .9857^bits, which decays as the width ladder climbs
    (2 bands cover .975 at bits=12 but only .947 at 18 and .890 at
    the ceiling — r12's x400 forward-probe measured recall 0.8435 one
    density step past sf10); the third band engages exactly one step
    past the certified sf10 point (so every certified-scale output is
    bit-identical) and holds expected collision >= .95 through the
    28-bit ceiling. The [12, 28] clamp covers n up to ~1e9 at load 4;
    beyond that widen _EMB_SLOT_BITS / raise _EMB_MAX_BANDS (extra
    bands occupy appended plane blocks, so the certified layout never
    renumbers). A deterministic
    TWO-LEVEL bucket cap (``_EMB_BUCKET_CAP`` + ``_EMB_REFINE_BITS``,
    oracle-replayed like the minhash guard) bounds worst-case
    candidate volume against DISTRIBUTION skew the load formula can't
    see: an over-cap bucket is SPLIT by 8 extra sign planes and
    re-capped, so structured sub-threshold crowds sharing sign
    patterns spread out instead of taking their true near-dups down
    with them (the r11 drop-whole cap cost 37 points of planted
    recall at sf10 because the 100-replica crowds saturated BOTH
    bands' buckets at once).

    Planted near-dups: every 4th vector re-appears (vec_id+1e6) with one
    component nudged, cosine ≈ 0.999. Mutant recall: a plane flips
    w.p. theta/pi = .0143; a band recovers the pair when its bucket
    is under cap (p = .9857^b — .842 at b=12, .668 at the b=28
    ceiling) or, over cap, when the 8 refine planes also agree
    (×.9857^8 = .891) and the refined bucket fits; ANY of the nb
    bands suffices.

    The sketch is integer-exact end-to-end (:func:`emb_bands_udf`):
    milli-quantized int64 vectors against Knuth-hash integer PRNG
    weights, one Arrow-batched numpy matmul per batch — bitwise
    replayable by DuckDB because integer addition is associative (no
    float summation-order or libm last-ulp hazard), and ~10× cheaper
    than the per-plane higher-order-function expression it replaces
    (HOFs are interpreted per row, outside whole-stage codegen).

    The verified pair output is persisted and memoized per
    (session, sf_dir) so ``ext_semantic_decontam`` — a projection of
    these pairs — reuses it instead of recomputing the pipeline.
    """
    return _emb_verified_pairs(spark, sf_dir)


def _cluster_oracle() -> str:
    """DuckDB replay of the near-dup clustering: the MinHash oracle
    (now fully portable) feeds a recursive-CTE transitive closure whose
    per-node minimum reachable id IS the converged min-label — Spark's
    pointer-doubling loop now runs to a probed fixpoint, so the two
    always agree regardless of component diameter."""
    return f"""
    WITH RECURSIVE
    pairs AS (SELECT doc_a, doc_b FROM ({_minhash_oracle()}) mh),
    edges AS (SELECT doc_a, doc_b FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    walk AS (
      SELECT doc_a AS doc_id, doc_b AS reach FROM edges
      UNION
      SELECT w.doc_id, e.doc_b FROM walk w JOIN edges e ON w.reach = e.doc_a
    ),
    comp AS (
      SELECT doc_id, least(doc_id, MIN(reach)) AS canonical_id
      FROM walk GROUP BY doc_id
    ),
    sizes AS (SELECT canonical_id, COUNT(*) AS cluster_size
              FROM comp GROUP BY 1)
    SELECT c.doc_id, c.canonical_id, s.cluster_size
    FROM comp c JOIN sizes s USING (canonical_id)
    WHERE s.cluster_size >= 2
    """


def _drop_checkpoint(df: DataFrame) -> None:
    """Free the executor blocks behind ``df``, an eager
    ``localCheckpoint``; ``df`` must not be read afterwards."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)


# Bound on the wait for min_label_components' per-round Observation
# (normally milliseconds) before it falls back to an explicit sum.
_OBSERVATION_WAIT_S = 10.0


def min_label_components(edges: DataFrame, max_rounds: int = 16) -> DataFrame:
    """Connected components of an undirected edge list
    ``(doc_a, doc_b)`` via min-label propagation with pointer doubling:
    each round (a) labels flow one hop across edges and every node
    keeps the minimum label seen, then (b) a pointer jump replaces each
    label with its label's label, doubling the effective hop distance —
    reach grows ~2× per round, so ``max_rounds`` rounds cover
    components of diameter ~2^max_rounds.

    The loop runs UNTIL A FIXPOINT: after each round a changed-label
    probe decides whether another round is needed. Fixed round
    counts silently under-merge chain-shaped components (A≈B≈C≈…
    trains, common in crawl near-dup graphs) the moment the diameter
    exceeds their reach; probing converts that silent mislabeling
    into either a correct result or a loud error. If the
    probe still sees changes after ``max_rounds`` (diameter beyond
    ~2^max_rounds), raises RuntimeError rather than returning
    under-merged components. The default covers diameter ~65k; since
    the fixpoint probe exits the loop the round after convergence,
    headroom rounds cost NOTHING on graphs that converge early — the
    r7 sf1 probe raised the default from 8 after a derived corpus
    produced a legitimate >2^8-diameter phash component (chained
    near-identical signatures), which the old cap rejected loudly.

    Probe shape (r13-opt, guide §2.1): every per-row update is
    ``least(old, …)``, so labels are MONOTONICALLY NON-INCREASING —
    for numeric ids the exact ``sum(label)`` over the checkpointed
    table is therefore unchanged iff NO label changed, and the probe
    becomes one shuffle-free scan-and-reduce instead of the previous
    doc_id equi-join against the prior round's labels (a full
    label-table shuffle join per round at scale). r14-opt: the sum
    rides the checkpoint materialization itself as an ``Observation``
    metric, so the probe costs ZERO extra jobs — one driver-blocking
    job per round total. The sum runs in decimal(38,0): exact up to
    ~1e38, so no wraparound can fake a fixpoint (ANSI mode would
    raise loudly first). Non-numeric ids keep the join probe.

    Each round ends in an eager ``localCheckpoint``, and the round
    before it is dropped once probed, so a call leaves one checkpoint
    (the returned labels) in the session: iterative
    self-referencing plans double in size per round without lineage
    truncation (the no-checkpoint variant planned 2^rounds copies of
    the upstream subtree and ran ~60× slower), and a checkpoint per
    round keeps every round a constant number of shuffles on the edge
    list — the standard large-scale connected-components shape, no
    driver-side graph. On a cluster use ``checkpoint()`` to HDFS for
    fault tolerance instead.

    Returns (doc_id, label) with label = component minimum.
    """
    from pyspark.sql import Observation
    from pyspark.sql import types as T

    nodes = edges.select(F.col("doc_a").alias("doc_id")).distinct()
    numeric_label = isinstance(
        nodes.schema["doc_id"].dataType, T.NumericType
    )

    def _checkpoint_with_sum(df):
        """Eager localCheckpoint that also returns sum(label).

        r14-opt: the probe rides the checkpoint job as an Observation
        (CollectMetrics is a passthrough node; the eager checkpoint's
        materialization action fires the listener), so each round is
        ONE driver-blocking job where checkpoint-then-aggregate paid
        two. A persist()-based fusion was measured and REJECTED:
        unpersisting the previous round cascades into the dependent
        cache entries, un-truncating the lineage (plan exploded to
        32k-120k Exchange nodes, walls 3.3 s -> 19-38 s at sf0.01).
        """
        if not numeric_label:
            return df.localCheckpoint(eager=True), None
        obs = Observation()
        label_sum = F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ck = df.observe(obs, label_sum).localCheckpoint(eager=True)
        # The metric arrives through the listener bus after the job
        # ends; obs.get would wait for it forever. Wait a bounded time
        # (getRowOrEmpty waits up to 100 ms per call), then pay one
        # explicit scan-and-reduce for the same sum instead.
        deadline = time.monotonic() + _OBSERVATION_WAIT_S
        while not obs._jo.getRowOrEmpty().isDefined():
            if time.monotonic() >= deadline:
                return ck, ck.agg(label_sum).first()["s"]
        return ck, obs.get["s"]

    labels, prev_sum = _checkpoint_with_sum(
        nodes.withColumn("label", F.col("doc_id"))
    )
    for _ in range(max_rounds):
        prev = labels
        # (a) one-hop neighbor minimum
        neighbor_min = (
            edges.join(labels, edges.doc_b == labels.doc_id)
            .groupBy("doc_a")
            .agg(F.min("label").alias("nbr_label"))
        )
        labels = (
            labels.join(neighbor_min, labels.doc_id == neighbor_min.doc_a, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
        )
        # (b) pointer jump: label <- label(label). Every label is a
        # node id in the same component, so the self-join is total.
        jump = labels.select(
            F.col("doc_id").alias("j_id"), F.col("label").alias("j_label")
        )
        labels, cur_sum = _checkpoint_with_sum(
            labels.join(jump, labels.label == jump.j_id).select(
                "doc_id", F.least("label", "j_label").alias("label")
            )
        )
        if numeric_label:
            converged = cur_sum == prev_sum
            prev_sum = cur_sum
        else:
            converged = (
                labels.alias("cur")
                .join(prev.alias("prv"), "doc_id")
                .filter(F.col("cur.label") != F.col("prv.label"))
                .limit(1)
                .count()
            ) == 0
        # the new round's checkpoint truncated its lineage: nothing
        # reads the previous round's blocks after the probe
        _drop_checkpoint(prev)
        if converged:
            return labels
    raise RuntimeError(
        f"min_label_components did not converge in {max_rounds} rounds "
        f"(component diameter beyond ~2^{max_rounds}); raise max_rounds"
    )


def pair_clusters(
    spark: SparkSession, name: str, sf_dir: str, table: str, pairs
) -> DataFrame:
    """(doc_id, canonical_id, cluster_size) for the docs in components
    of size >= 2 of the undirected graph over the (doc_a, doc_b) rows
    of ``pairs()``, a pair list of fixture ``table``; canonical_id is
    the component minimum (:func:`min_label_components`).

    The labels are a pure function of the fixture, so they are built
    once per session and fixture (``io.reuse`` under ``name``): the
    pair and edge caches the rounds scan are released before the build
    returns, the session holds one call's worth (the final labels
    checkpoint), and a miss drops it."""

    def build() -> DataFrame:
        found = pairs().select("doc_a", "doc_b").cache()
        edges = found.unionByName(
            found.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        ).cache()
        labels = min_label_components(edges)
        edges.unpersist()
        found.unpersist()
        return labels

    labels = reuse(spark, name, sf_dir, table, build, release=_drop_checkpoint)
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        labels.join(sizes, "label")
        .filter(F.col("cluster_size") >= 2)
        .select("doc_id", F.col("label").alias("canonical_id"), "cluster_size")
    )


@query("ext_dedup_cluster", oracle=_cluster_oracle())
def ext_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: connected components over the MinHash
    candidate-pair graph, so each duplicate *group* (not just pair)
    elects one canonical doc (the min doc_id in its component).

    Components come from :func:`min_label_components` — min-label
    propagation with pointer doubling, looped to a probed fixpoint
    (dedup graphs are usually star-shaped and converge in 2 rounds;
    chain-shaped trains now converge too instead of silently
    splitting), held once per session through :func:`pair_clusters`.

    Output: (doc_id, canonical_id, cluster_size) for docs in
    components of size >= 2.
    """
    return pair_clusters(
        spark,
        "dedup_cluster_labels",
        sf_dir,
        "documents",
        lambda: ext_dedup_minhash(spark, sf_dir),
    )


@query(
    "ext_dedup_cross_source",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, source, lower(trim(text)) AS norm FROM documents
      UNION ALL
      SELECT doc_id + 1000000, 'mirror', lower(trim(text))
      FROM documents WHERE doc_id % 6 = 0
    ),
    ranked AS (
      SELECT doc_id, source, norm,
             CASE WHEN source = 'mirror' THEN 1 ELSE 0 END AS prio
      FROM corpus
    )
    SELECT arg_min(doc_id, prio * 10000000 + doc_id) AS keep_id,
           arg_min(source, prio * 10000000 + doc_id) AS keep_source,
           COUNT(*) AS n_copies,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
    FROM ranked GROUP BY norm
    """,
)
def ext_dedup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source dedup with source-priority survivor election: when
    the same content arrives from multiple feeds (here: a planted
    'mirror' copy of every 6th doc), keep the copy from the most
    trusted source, breaking ties by doc_id — the curated-over-crawl
    rule every multi-source corpus applies.

    Survivor election is one groupBy(norm) with min(struct(priority,
    doc_id, source)): struct ordering compares priority first, so the
    aggregate IS the election — no window, no second join, map-side
    partial agg does the heavy lifting. At 100 TB, group by
    xxhash64(norm) exactly as ext_dedup_exact does."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    mirror = docs.filter(F.col("doc_id") % 6 == 0).select(
        (F.col("doc_id") + MUTANT_OFFSET).alias("doc_id"),
        F.lit("mirror").alias("source"),
        "text",
    )
    corpus = docs.select("doc_id", "source", "text").unionByName(mirror)
    prio = F.when(F.col("source") == "mirror", 1).otherwise(0)
    return (
        corpus.select(
            F.lower(F.trim(F.col("text"))).alias("norm"),
            prio.alias("prio"),
            "doc_id",
            "source",
        )
        .groupBy("norm")
        .agg(
            F.min(F.struct("prio", "doc_id", "source")).alias("w"),
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("source").alias("n_sources"),
        )
        .select(
            F.col("w.doc_id").alias("keep_id"),
            F.col("w.source").alias("keep_source"),
            "n_copies",
            "n_sources",
        )
    )


# Portable Bloom filter geometry: 8192 bits as 256 x 32-bit words (a
# 32-bit word keeps every mask below the int64 sign bit, so shift
# semantics can't diverge between engines), k=4 salted polynomial
# hashes. The div/% word-bit split below is sign-safe because
# poly_hash is non-negative by construction (the fold stays in
# [0, POLY_MOD) — see registry.poly_hash), so Spark's truncating div
# and DuckDB's flooring // agree; ids that CAN be negative must use
# the pmod split (see agg_bitmap_distinct).
_BLOOM_BITS = 8192
_BLOOM_SALTS = ("s1", "s2", "s3", "s4")


@query(
    "ext_dedup_incremental_bloom",
    oracle=f"""
    WITH hist AS (
      SELECT lower(trim(text)) AS norm FROM documents WHERE doc_id % 2 = 0
    ),
    hist_bits AS (
      SELECT ({opoly("s.salt || norm")}) % {_BLOOM_BITS} AS p
      FROM hist, (SELECT unnest(['s1','s2','s3','s4']) AS salt) s
    ),
    bloom AS (
      SELECT CAST(p // 32 AS BIGINT) AS w,
             bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bf
      FROM hist_bits GROUP BY 1
    ),
    incoming AS (
      SELECT doc_id, lower(trim(text)) AS norm
      FROM documents WHERE doc_id % 2 = 1
      UNION ALL
      SELECT doc_id + 2000000, lower(trim(text))
      FROM documents WHERE doc_id % 6 = 0
    ),
    probe AS (
      SELECT i.doc_id,
             ({opoly("s.salt || i.norm")}) % {_BLOOM_BITS} AS p
      FROM incoming i, (SELECT unnest(['s1','s2','s3','s4']) AS salt) s
    )
    SELECT pr.doc_id,
           bool_and(COALESCE(
             (b.bf & (CAST(1 AS BIGINT) << CAST(pr.p % 32 AS INT)))
               = (CAST(1 AS BIGINT) << CAST(pr.p % 32 AS INT)),
             FALSE)) AS maybe_dup
    FROM probe pr LEFT JOIN bloom b ON CAST(pr.p // 32 AS BIGINT) = b.w
    GROUP BY pr.doc_id
    """,
)
def ext_dedup_incremental_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup via a Bloom filter: screen a new batch
    of documents against the historical corpus WITHOUT joining the
    corpus — the pattern that keeps daily crawl ingestion from
    re-shuffling 100 TB of history (build/maintain the filter once,
    broadcast kilobytes-to-gigabytes instead).

    The filter is hand-rolled portable integer math (k=4 salted
    polynomial hashes onto 8192 bits stored as 256 32-bit words,
    bit_or-aggregated), so the DuckDB oracle replays build AND probe
    bit-for-bit — false positives included: the flag set matches
    exactly, which is the honest contract of a Bloom screen (no false
    negatives by construction; planted mirror copies of historical
    docs must all flag). At production bit-widths use Spark's
    DataFrameStatFunctions bloom or a sketch library — this operator
    pins the semantics and the broadcast-not-join plan shape.

    Plan shape: the filter build aggregates to ≤256 rows (bounded by
    geometry, not corpus), the probe side explodes k rows per doc and
    joins the tiny filter broadcast — the corpus never shuffles.
    """
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    norm = F.lower(F.trim(F.col("text")))
    salts = F.array(*[F.lit(s) for s in _BLOOM_SALTS])
    hist_bits = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(norm.alias("norm"))
        .select(F.explode(salts).alias("salt"), "norm")
        .select(
            (poly_hash(F.concat("salt", "norm")) % _BLOOM_BITS).alias("p")
        )
    )
    bloom = hist_bits.select(
        F.expr("p div 32").alias("w"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))").alias("m"),
    ).groupBy("w").agg(F.expr("bit_or(m)").alias("bf"))
    incoming = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", norm.alias("norm"))
        .unionByName(
            docs.filter(F.col("doc_id") % 6 == 0).select(
                (F.col("doc_id") + 2_000_000).alias("doc_id"),
                norm.alias("norm"),
            )
        )
    )
    probe = incoming.select(
        "doc_id", F.explode(salts).alias("salt"), "norm"
    ).select(
        "doc_id",
        (poly_hash(F.concat("salt", "norm")) % _BLOOM_BITS).alias("p"),
    )
    mask = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))")
    checked = (
        probe.withColumn("w", F.expr("p div 32"))
        .withColumn("m", mask)
        .join(F.broadcast(bloom), "w", "left")
        .select(
            "doc_id",
            F.coalesce(
                F.col("bf").bitwiseAND(F.col("m")) == F.col("m"), F.lit(False)
            ).alias("hit"),
        )
    )
    return checked.groupBy("doc_id").agg(F.expr("bool_and(hit)").alias("maybe_dup"))


def _dedup_eval_oracle() -> str:
    """DuckDB replay of the banding-evaluation slice: exact
    shingle-Jaccard ground truth vs raw LSH candidate pairs."""
    m = POLY_MOD
    rows = _MH_N // _MH_BANDS
    mins = ",\n             ".join(
        f"MIN(({_MH_A[k]} * hs + {_MH_B[k]}) % {m}) AS h{k}"
        for k in range(_MH_N)
    )

    def fold(cols: list[str]) -> str:
        acc = cols[0]
        for c in cols[1:]:
            acc = f"(({acc}) * 131 + {c}) % {m}"
        return acc

    bands_sql = "\n      UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"{fold([f'h{b * rows + r}' for r in range(rows)])} AS bucket FROM sigs"
        for b in range(_MH_BANDS)
    )
    return f"""
    WITH corpus AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000,
               array_to_string(list_filter(string_split(text, ' '),
                                           (t, i) -> i % 25 <> 0), ' ')
        FROM documents WHERE doc_id % 5 = 0
      ) WHERE doc_id % 1000000 < 400
    ),
    tokh AS (
      SELECT doc_id,
             list_transform(string_split(text, ' '),
               t -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                      list_transform(string_split(t, ''),
                                     c -> CAST(ascii(c) AS BIGINT))),
                    (a, b) -> (a * 31 + b) % {m})) AS th
      FROM corpus
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(th) - 2, 1) + 1),
               i -> ((th[i] * 131 + th[i+1]) % {m} * 131 + th[i+2]) % {m}))
               AS sh
      FROM tokh
    ),
    ex AS (SELECT doc_id, unnest(sh) AS hs FROM sh),
    truth_pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ex a JOIN ex b ON a.hs = b.hs AND a.doc_id < b.doc_id
    ),
    truth AS (
      SELECT doc_a, doc_b FROM (
        SELECT doc_a, doc_b,
               CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
               / (len(sa.sh) + len(sb.sh)
                  - len(list_intersect(sa.sh, sb.sh))) AS j
        FROM truth_pairs JOIN sh sa ON sa.doc_id = doc_a
                         JOIN sh sb ON sb.doc_id = doc_b)
      WHERE j >= 0.5
    ),
    sigs AS (SELECT doc_id, {mins} FROM ex GROUP BY doc_id),
    banded AS (
      {bands_sql}
    ),
    capped AS (
      SELECT doc_id, band, bucket FROM
        (SELECT *, COUNT(*) OVER (PARTITION BY band, bucket) AS bn
         FROM banded)
      WHERE bn <= 100
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM capped a JOIN capped b
        ON a.band = b.band AND a.bucket = b.bucket
       AND a.doc_id < b.doc_id
    ),
    hit AS (SELECT doc_a, doc_b FROM cand INTERSECT SELECT * FROM truth)
    SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
           (SELECT COUNT(*) FROM cand) AS n_candidates,
           (SELECT COUNT(*) FROM hit) AS n_hit,
           ROUND(CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
                 / greatest((SELECT COUNT(*) FROM cand), 1), 4)
             AS precision,
           ROUND(CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
                 / greatest((SELECT COUNT(*) FROM truth), 1), 4)
             AS recall
    """


@query("ext_dedup_eval", oracle=_dedup_eval_oracle())
def ext_dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding-quality evaluation: precision/recall of the MinHash-LSH
    candidate generator against EXACT shingle-Jaccard ground truth on
    a deterministic corpus slice — the measurement a pipeline team
    runs before trusting (or re-tuning) a banding configuration at
    100 TB, where re-running exact Jaccard over the full corpus is
    impossible but a sliced audit is cheap.

    Ground truth on the slice: pairs sharing >= 1 shingle (all others
    have Jaccard 0), their shared-shingle count from the shingle
    self-join, kept at the 0.5 Jaccard threshold the production key
    uses. Candidates: the production key's signature and bucket-pair
    kernels (:func:`_signatures`, :func:`_bucket_pairs`) — WITHOUT its
    threshold, because the evaluator measures the raw banding
    selectivity; a candidate is a hit when its own exact Jaccard
    clears 0.5, which is the oracle's candidate ∩ truth. One output
    row: counts + rounded precision/recall. Every hash is the portable
    convention, so the DuckDB oracle replays both sides bit-for-bit.

    Scale shape: the slice bound (~400 base docs + mutants) caps the
    truth join; at production scale the slice is a sampled partition,
    everything else is unchanged.
    """
    sliced = _docs_with_mutants(spark, sf_dir).filter(
        F.pmod(F.col("doc_id"), F.lit(1_000_000)) < 400
    )
    sigs = _signatures(sliced)
    ex = sigs.select(
        "doc_id", F.size("sh").alias("n"), F.explode("sh").alias("hs")
    )
    shared = (
        ex.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a.hs") == F.col("b.hs"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy("a.doc_id", "b.doc_id", "a.n", "b.n")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    n_a, n_b, inter = F.col("a.n"), F.col("b.n"), F.col("inter")
    j = inter.cast("double") / (n_a + n_b - inter)
    n_truth = shared.filter(j >= 0.5).agg(F.count(F.lit(1)).alias("n_truth"))
    cand = _bucket_pairs(sigs).dropDuplicates(["doc_a", "doc_b"])
    n_cand = cand.agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.count(F.when(F.col("inter") / F.col("uni") >= 0.5, 1)).alias("n_hit"),
    )
    hit = F.col("n_hit").cast("double")
    return n_truth.crossJoin(n_cand).select(
        "n_truth",
        "n_candidates",
        "n_hit",
        F.round(hit / F.greatest("n_candidates", F.lit(1)), 4).alias("precision"),
        F.round(hit / F.greatest("n_truth", F.lit(1)), 4).alias("recall"),
    )


def _split_of(expr: str) -> str:
    """Oracle fragment: the ext_split_assign convention applied to a
    vector id — portable hash of 'split:'||id mod 100, <80 = train."""
    return (
        f"CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split('split:' || CAST({expr} AS VARCHAR), ''), "
        f"ch -> CAST(ascii(ch) AS BIGINT))), "
        f"(x, y) -> (x * 31 + y) % 1000000007) % 100 < 80 "
        f"THEN 'train' ELSE 'eval' END"
    )


@query(
    "ext_semantic_decontam",
    oracle=f"""
    WITH pairs AS ({{inner}}),
    tagged AS (
      SELECT vec_a, vec_b, cosine,
             {_split_of('vec_a')} AS split_a,
             {_split_of('vec_b')} AS split_b
      FROM pairs
    )
    SELECT CASE WHEN split_a = 'eval' THEN vec_a ELSE vec_b END AS eval_id,
           CASE WHEN split_a = 'eval' THEN vec_b ELSE vec_a END AS train_id,
           cosine
    FROM tagged WHERE split_a <> split_b
    """.format(inner=_embedding_oracle()),
)
def ext_semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic train/eval decontamination: embedding near-dup pairs
    (the sign-LSH pipeline of ``ext_dedup_embedding``) that CROSS the
    hash split (``ext_split_assign``'s 80/20 convention on vector
    ids) — an eval item with a ≥0.99-cosine twin in train is leaked
    even when no text matches, the case n-gram decontamination
    (``ext_contamination_check``) can't see. Output: (eval_id,
    train_id, cosine) — the rows an eval-set builder must drop.

    Pure composition of two verified operators: the pair finder's
    PERSISTED output is reused via the per-(session, sf_dir) memo
    (bucketed, never all-pairs, computed once even when both keys run)
    and the split tag is a per-row hash — so this whole check costs
    one extra projection and filter on top of the near-dup join, and
    the oracle composes the same two verified SQL fragments."""
    pairs = _emb_verified_pairs(spark, sf_dir)
    split = lambda c: F.when(  # noqa: E731
        poly_hash(F.concat(F.lit("split:"), F.col(c).cast("string"))) % 100
        < 80,
        "train",
    ).otherwise("eval")
    tagged = pairs.select(
        "vec_a", "vec_b", "cosine",
        split("vec_a").alias("split_a"), split("vec_b").alias("split_b"),
    ).filter(F.col("split_a") != F.col("split_b"))
    is_a_eval = F.col("split_a") == "eval"
    return tagged.select(
        F.when(is_a_eval, F.col("vec_a")).otherwise(F.col("vec_b")).alias("eval_id"),
        F.when(is_a_eval, F.col("vec_b")).otherwise(F.col("vec_a")).alias("train_id"),
        "cosine",
    )


@query(
    "ext_dedup_embedding_cluster",
    oracle=f"""
    WITH RECURSIVE
    pairs AS MATERIALIZED (SELECT vec_a, vec_b FROM ({{inner}}) emb),
    edges AS MATERIALIZED (SELECT vec_a, vec_b FROM pairs
              UNION ALL SELECT vec_b, vec_a FROM pairs),
    walk AS (
      SELECT vec_a AS vec_id, vec_b AS reach FROM edges
      UNION
      SELECT w.vec_id, e.vec_b FROM walk w JOIN edges e ON w.reach = e.vec_a
    ),
    comp AS (
      SELECT vec_id, least(vec_id, MIN(reach)) AS canonical_id
      FROM walk GROUP BY vec_id
    ),
    sizes AS (SELECT canonical_id, COUNT(*) AS cluster_size
              FROM comp GROUP BY 1)
    SELECT c.vec_id, c.canonical_id, s.cluster_size
    FROM comp c JOIN sizes s USING (canonical_id)
    WHERE s.cluster_size >= 2
    """.format(inner=_embedding_oracle()),
)
def ext_dedup_embedding_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup CLUSTERS: the embedding pair list closed into
    connected components with one canonical keep-id per group — what
    an embedding dedup actually ships (keep one representative per
    semantic cluster), completing the family: minhash pairs →
    ``ext_dedup_cluster``, phash pairs →
    ``ext_multimodal_phash_cluster``, embedding pairs → this key. All
    three share ONE verified clustering path
    (:func:`pair_clusters` over :func:`min_label_components`: min-label
    propagation with pointer doubling to a probed fixpoint, loud
    failure over silent under-merge, labels held once per session) and
    one oracle shape (recursive-CTE transitive closure over the shared
    pair SQL).

    Pure composition: the pair stage is the persisted
    ``_emb_verified_pairs`` memo (computed once per session/sf_dir
    across this key, ``ext_dedup_embedding`` and
    ``ext_semantic_decontam``), so the marginal cost here is the
    component loop over a pair list that the bucket cap already
    bounds. Cluster sizes stay bounded by the cap on candidate
    generation, so the closure frontier never explodes at scale.

    Output: (vec_id, canonical_id, cluster_size) for vectors in
    components of size >= 2; canonical_id is the component minimum.
    """
    return pair_clusters(
        spark,
        "dedup_embedding_cluster_labels",
        sf_dir,
        "embeddings",
        lambda: _emb_verified_pairs(spark, sf_dir).select(
            F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
        ),
    ).withColumnRenamed("doc_id", "vec_id")


WINNOW_W = 10  # winnowing window (grams per window)
WINNOW_K = 40  # gram length (chars)
WINNOW_SEL = 12  # selection-hash prefix length (chars)

_INV31 = pow(31, POLY_MOD - 2, POLY_MOD)  # 31⁻¹ mod P (P prime)


def winnow_positions(text: str) -> list[int]:
    """1-based start positions of the winnow-SELECTED WINNOW_K-grams
    of ``text`` — the per-document half of :func:`_winnowed_grams`,
    exposed as a pure numpy function so tests can pin it against the
    oracle's explode+window CTE without a Spark session.

    Selection hash h(p) = poly_hash of the first WINNOW_SEL chars of
    the gram at p, computed for ALL positions in O(len) via modular
    prefix hashes: with t_j = code_j·31⁻ʲ and S(i) = Σ_{j≤i} t_j, the
    prefix fold P(i) = S(i)·31ⁱ and h(p) = P(p+SEL-1) − P(p-1)·31^SEL
    (all mod 1e9+7; operands < (2^30)², so int64-exact). Codepoints
    come from the UTF-32 encoding — the same per-codepoint model as
    Spark's ``split('')``+``ascii`` and DuckDB's ``string_split``
    (tests/test_portable_hash.py pins the three-way agreement).

    Then the two winnowing passes as vectorized sliding windows:
      mn(p) = MIN(h) over [p, p+W-1]   (doc-end windows clip short →
                                        pad with POLY_MOD sentinel)
      mx(p) = MAX(mn) over [p-W+1, p]  (doc-start clips → pad −1)
      selected(p) ⟺ mx(p) == h(p)
    identical row arithmetic to the oracle's two ROWS-frame windows,
    including the tie rule (all tied positions select) and the
    clipped frames at document edges.
    """
    import numpy as np
    from numpy.lib.stride_tricks import sliding_window_view

    length = len(text)
    n = length - (WINNOW_K - 1)
    if n < 1:
        return []
    codes = np.frombuffer(
        text.encode("utf-32-le"), dtype="<u4"
    ).astype(np.int64)
    inv = pow_mod_table(_INV31, length + 1)
    pw = pow_mod_table(31, length + 1)
    terms = codes * inv[1:] % POLY_MOD
    acc = np.empty(length + 1, dtype=np.int64)
    acc[0] = 0
    np.cumsum(terms, out=acc[1:])  # terms < 1e9+7 → exact below ~9e9 chars
    acc %= POLY_MOD
    pref = acc * pw % POLY_MOD
    h = (pref[WINNOW_SEL : WINNOW_SEL + n] - pref[:n] * pw[WINNOW_SEL]) \
        % POLY_MOD
    fwd = np.concatenate(
        [h, np.full(WINNOW_W - 1, POLY_MOD, dtype=np.int64)]
    )
    mn = sliding_window_view(fwd, WINNOW_W).min(axis=1)
    bwd = np.concatenate(
        [np.full(WINNOW_W - 1, -1, dtype=np.int64), mn]
    )
    mx = sliding_window_view(bwd, WINNOW_W).max(axis=1)
    return (np.nonzero(mx == h)[0] + 1).tolist()


# Above ~9e9 total chars the batched gram-hash cumsum would lose
# int64 exactness (same bound the per-doc form documents); one Arrow
# batch never gets near it, but guard and fall back per-doc anyway.
_BATCH_CHAR_LIMIT = 2**33


def _gram_hash_batch(texts, hash_width: int, gram_width: int):
    """Rolling poly hashes for a whole BATCH of documents in one set
    of numpy passes: for every document d and every 1-based gram start
    p ≤ len(d) − gram_width + 1, the poly_hash of the ``hash_width``
    chars at p — exactly the values the per-doc prefix-hash loop in
    :func:`winnow_positions` / :func:`cdc_cut_positions` produces,
    identical modular arithmetic throughout.

    Returns ``(h, m)``: ``h`` int64 array of all documents' gram
    hashes concatenated in document order, ``m`` int64 array with
    ``m[d] = max(len(d) − gram_width + 1, 0)`` (``h`` has ``m.sum()``
    entries). Batching exists purely for speed: the per-doc form pays
    ~20 small-array allocations per document, which dominates wall on
    short-document corpora (measured 1.15 s → 0.04 s over the sf0.1
    fixture); the per-char modular ops are unchanged.
    """
    import numpy as np

    lens = np.fromiter((len(t) for t in texts), dtype=np.int64,
                       count=len(texts))
    m = np.maximum(lens - (gram_width - 1), 0)
    total = int(m.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64), m
    codes = np.frombuffer(
        "".join(texts).encode("utf-32-le"), dtype="<u4"
    ).astype(np.int64)
    L = int(lens.sum())
    maxlen = int(lens.max())
    inv = pow_mod_table(_INV31, maxlen + 1)
    pw = pow_mod_table(31, maxlen + 1)
    char_start = np.concatenate(([0], np.cumsum(lens)[:-1]))
    j = np.arange(L, dtype=np.int64) - np.repeat(char_start, lens)
    terms = codes * inv[j + 1] % POLY_MOD
    c = np.cumsum(terms)  # exact: guarded by _BATCH_CHAR_LIMIT
    cum = np.concatenate(([0], c))
    # per-doc prefix sums: subtract the running total just before each
    # doc's first char (exact in int64 BEFORE the mod, then reduce)
    acc = (c - cum[np.repeat(char_start, lens)]) % POLY_MOD
    pref = acc * pw[j + 1] % POLY_MOD  # pref_{j+1} of the owning doc
    prev = np.empty(L, dtype=np.int64)
    prev[0] = 0
    prev[1:] = pref[:-1]
    prev[j == 0] = 0  # pref_0 = 0 at each doc start
    valid = j < np.repeat(m, lens)
    g = np.nonzero(valid)[0]
    h = (pref[g + hash_width - 1] - prev[g] * pw[hash_width]) % POLY_MOD
    return h, m


def _block_sliding_min(a, W):
    """``min`` over every length-``W`` window of ``a`` in O(n) — the
    two-pass block decomposition (prefix minima left-to-right within
    W-aligned blocks, suffix minima right-to-left): window [i, i+W-1]
    spans at most two blocks, so its min is
    ``min(suffix_min[i], prefix_min[i+W-1])``. Replaces the
    ``sliding_window_view(...).min(axis=1)`` strided reduction, which
    is O(n·W) — measured 2× faster at W=10 over 1-5 M positions and
    exactness-free (pure min, no arithmetic). Tail padding uses the
    dtype's max (neutral for min); callers' inter-document sentinels
    are unaffected."""
    import numpy as np

    n = a.size
    nw = n - W + 1
    nb = -(-n // W)
    pad = nb * W - n
    if pad:
        a = np.concatenate(
            [a, np.full(pad, np.iinfo(a.dtype).max, dtype=a.dtype)]
        )
    blocks = a.reshape(nb, W)
    pre = np.minimum.accumulate(blocks, axis=1).ravel()
    suf = np.minimum.accumulate(blocks[:, ::-1], axis=1)[:, ::-1].ravel()
    return np.minimum(suf[:nw], pre[W - 1 : W - 1 + nw])


def _block_sliding_max(a, W):
    """Mirror of :func:`_block_sliding_min` for ``max`` (tail padding
    = dtype min)."""
    import numpy as np

    n = a.size
    nw = n - W + 1
    nb = -(-n // W)
    pad = nb * W - n
    if pad:
        a = np.concatenate(
            [a, np.full(pad, np.iinfo(a.dtype).min, dtype=a.dtype)]
        )
    blocks = a.reshape(nb, W)
    pre = np.maximum.accumulate(blocks, axis=1).ravel()
    suf = np.maximum.accumulate(blocks[:, ::-1], axis=1)[:, ::-1].ravel()
    return np.maximum(suf[:nw], pre[W - 1 : W - 1 + nw])


def winnow_positions_batch(texts) -> list:
    """Batched :func:`winnow_positions`: one list of selected 1-based
    positions per input text, bit-identical to mapping the per-doc
    form (pinned by ``test_winnow_batch_matches_per_doc``). The two
    winnowing passes run as O(n) block-decomposition sliding windows
    (:func:`_block_sliding_min`/``_max``) over ONE padded array for
    the whole batch, with ``WINNOW_W − 1`` sentinel slots between
    documents reproducing the per-doc edge clipping exactly:
    POLY_MOD sentinels in the forward-min pass (doc-end windows clip
    short), −1 overwrites at the same slots before the backward-max
    pass (doc-start windows clip)."""
    import numpy as np

    texts = ["" if t is None else t for t in texts]
    if sum(len(t) for t in texts) > _BATCH_CHAR_LIMIT:
        return [winnow_positions(t) for t in texts]
    h, m = _gram_hash_batch(texts, WINNOW_SEL, WINNOW_K)
    n_docs = len(m)
    if h.size == 0:
        return [[] for _ in range(n_docs)]
    W = WINNOW_W
    hs_end = np.cumsum(m)
    hstart = hs_end - m
    # padded layout: doc d's hashes at offset hstart[d] + (W-1)*d,
    # with W-1 sentinel slots after each doc (incl. the last)
    pad_idx = np.arange(h.size) + (W - 1) * np.repeat(
        np.arange(n_docs, dtype=np.int64), m
    )
    P = int(h.size + (W - 1) * n_docs)
    fwd = np.full(P, POLY_MOD, dtype=np.int64)
    fwd[pad_idx] = h
    mn = _block_sliding_min(fwd, W)  # length P - W + 1
    mn2 = np.full(P - W + 1, -1, dtype=np.int64)
    mn2[pad_idx] = mn[pad_idx]
    bwd = np.concatenate((np.full(W - 1, -1, dtype=np.int64), mn2))
    mx = _block_sliding_max(bwd, W)
    sel = np.nonzero(mx[pad_idx] == h)[0]
    pos1 = sel - np.repeat(hstart, m)[sel] + 1
    return [
        a.tolist() for a in np.split(pos1, np.searchsorted(sel, hs_end))
    ][:n_docs]


def cdc_cut_positions_batch(texts) -> list:
    """Batched :func:`cdc_cut_positions` (same batching rationale and
    exactness contract as :func:`winnow_positions_batch`; no window
    passes here — the mask test is per-position)."""
    import numpy as np

    texts = ["" if t is None else t for t in texts]
    if sum(len(t) for t in texts) > _BATCH_CHAR_LIMIT:
        return [cdc_cut_positions(t) for t in texts]
    h, m = _gram_hash_batch(texts, CDC_W, CDC_W)
    n_docs = len(m)
    if h.size == 0:
        return [[] for _ in range(n_docs)]
    hs_end = np.cumsum(m)
    cut = np.nonzero(h % CDC_MASK == 0)[0]
    pos = cut - (hs_end - m).repeat(m)[cut] + CDC_W
    return [
        a.tolist() for a in np.split(pos, np.searchsorted(cut, hs_end))
    ][:n_docs]


def _winnowed_grams(d: DataFrame) -> DataFrame:
    """Winnowed WINNOW_K-gram fingerprints of each document: (doc_id,
    s, e, gram) — the content-defined sampling shared by the three
    exact substring-dedup keys (Schleimer/Wilkerson/Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD'03).

    Every gram position is a candidate (stride 1); a position is
    SELECTED iff its hash achieves the minimum of at least one window
    of WINNOW_W consecutive positions containing it. Because selection
    depends only on gram CONTENT (never on absolute position), two
    documents sharing any run of >= W + K - 1 = 49 chars share a full
    window of identical grams and therefore select the same gram in
    both — the deterministic, alignment-free guarantee fixed-stride
    sampling cannot give. Ties select every tied position (a superset
    of rightmost-rule winnowing — still >= 1 per window, pure
    h-arithmetic, so both engines agree exactly).

    Plan shape (round-6 rewrite): selection runs ENTIRELY MAP-SIDE
    inside the document row — one Arrow-batched pandas UDF
    (:func:`winnow_positions`, vectorized numpy over modular prefix
    hashes, O(len) per doc) returns the selected positions as an
    array, and only those ~2/(W+1) ≈ 0.18/char positions explode.
    Zero shuffles, zero per-position HOF folds: the previous plan
    exploded one (doc_id, p, h) row PER CHARACTER through two
    Window.partitionBy(doc_id) passes — a corpus-sized shuffle and a
    12-char poly fold at every position — even though each document
    already sat whole in one row; that cost 4.1× box-normalized at
    sf0.1 and would have shuffled ~100 TB of position rows at scale.
    The oracle (:func:`_winnow_sql`) still replays selection as
    explode + two window CTEs — same SEMANTICS, engine-appropriate
    plan on each side.
    """
    from pyspark.sql.functions import pandas_udf

    if not d.isStreaming:
        # single-file bench fixture → the winnow UDF otherwise runs as
        # ONE ArrowEvalPython task however many cores exist; no-op on
        # multi-row-group inputs, skipped for micro-batch sources
        # (their parallelism is the replay chunking)
        d = spread_scan(d)

    # no type hints: `from __future__ import annotations` stringifies
    # them and pyspark's hint parser rejects the strings; the decorator
    # argument alone fixes the eval type (scalar pandas UDF)
    @pandas_udf("array<long>")
    def winnow_pos(texts):
        # whole-batch vectorization (guide §4.2): the per-doc form
        # pays ~20 small numpy allocations per document, which
        # dominates on short docs — 1.15 s → 0.04 s over the sf0.1
        # corpus, and the scan is a single task at bench scale so the
        # saving is pure wall
        import pandas as pd

        return pd.Series(
            winnow_positions_batch(texts.tolist()), index=texts.index
        )

    return d.select(
        "doc_id", "text", F.explode(winnow_pos("text")).alias("p")
    ).select(
        "doc_id",
        F.col("p").alias("s"),
        (F.col("p") + (WINNOW_K - 1)).alias("e"),
        F.expr(f"substring(text, CAST(p AS INT), {WINNOW_K})").alias("gram"),
    )


def _winnow_sql() -> str:
    """Oracle CTE chain replaying :func:`_winnowed_grams` exactly —
    ends with ``grams(doc_id, s, e, gram)``; callers append their
    downstream CTEs/SELECT."""
    h = opoly(f"substr(text, CAST(p AS INT), {WINNOW_SEL})")
    km1 = WINNOW_K - 1
    return f"""
    pos AS (
      SELECT doc_id, CAST(p AS BIGINT) AS p, {h} AS h
      FROM (SELECT doc_id, text,
                   unnest(generate_series(1, GREATEST(len(text) - {km1}, 1), 1)) AS p
            FROM documents)
      WHERE len(text) >= p + {km1}
    ),
    fwd AS (
      SELECT doc_id, p, h,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY p
                          ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING)
               AS mn
      FROM pos
    ),
    sel AS (
      SELECT doc_id, p FROM (
        SELECT doc_id, p, h,
               MAX(mn) OVER (PARTITION BY doc_id ORDER BY p
                             ROWS BETWEEN {WINNOW_W - 1} PRECEDING
                             AND CURRENT ROW) AS mx
        FROM fwd)
      WHERE mx = h
    ),
    grams AS (
      SELECT s.doc_id, s.p AS s, s.p + {km1} AS e,
             substr(d.text, CAST(s.p AS INT), {WINNOW_K}) AS gram
      FROM sel s JOIN documents d ON d.doc_id = s.doc_id
    )"""


@query(
    "ext_dedup_substring",
    oracle=f"""
    WITH {_winnow_sql()}
    SELECT {opoly("gram")} AS span_hash,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_occ
    FROM grams
    GROUP BY gram
    HAVING COUNT(DISTINCT doc_id) >= 2
    """,
)
def ext_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring detection — the character-level dedup
    modality of the "Deduplicating Training Data" line of work: find
    every 40-character span that appears verbatim in ≥2 documents, so a
    downstream pass can mask or drop the repeated spans (licenses,
    boilerplate headers, templated pages) that document-level and
    shingle-Jaccard dedup both miss.

    Mechanism: WINNOWED character 40-grams (see :func:`_winnowed_grams`
    — content-defined sampling, so any duplicated run of ≥49 chars is
    GUARANTEED to contribute an identical selected gram in every
    document containing it, regardless of the run's alignment; shorter
    overlaps are caught probabilistically — ~0.18 fingerprints/char
    traded against a true suffix array, which does not distribute).
    Grouping is on the GRAM ITSELF, so matches are exact string
    equality, not hash-bucket guesses; the reported span_hash is the
    portable poly_hash fingerprint of the span (collisions can only
    merge *reported ids*, never create a false span match).

    Scale shape: winnow selection is map-side within the document row
    (one Arrow pandas UDF, O(len) numpy per doc — see
    :func:`_winnowed_grams`), so the ONLY shuffle in the whole key is
    the final gram groupBy over the ~0.18 selected grams/char (at
    100 TB pre-aggregate on xxhash64(gram) to shrink shuffle rows to
    8-byte keys, then verify the surviving buckets by string equality
    — same two-phase discipline as ext_dedup_minhash's banding);
    output is bounded by the duplicated-span count. No all-pairs
    stage exists.
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    grams = _winnowed_grams(d).select("doc_id", "gram")
    return (
        grams.groupBy("gram")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .filter(F.col("n_docs") >= 2)
        .select(poly_hash(F.col("gram")).alias("span_hash"), "n_docs", "n_occ")
    )


@query(
    "ext_dedup_span_coverage",
    oracle=f"""
    WITH {_winnow_sql()},
    dup AS (
      SELECT gram FROM grams GROUP BY gram
      HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    hits AS (
      SELECT g.doc_id, g.s, g.e FROM grams g
      WHERE g.gram IN (SELECT gram FROM dup)
    ),
    flagged AS (
      SELECT doc_id, s, e,
             CASE WHEN s > COALESCE(MAX(e) OVER (
                    PARTITION BY doc_id ORDER BY s
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS new_island
      FROM hits
    ),
    islands AS (
      SELECT doc_id, s, e,
             SUM(new_island) OVER (PARTITION BY doc_id ORDER BY s
                                   ROWS UNBOUNDED PRECEDING) AS island
      FROM flagged
    ),
    merged AS (
      SELECT doc_id, island, MAX(e) - MIN(s) + 1 AS covered
      FROM islands GROUP BY doc_id, island
    ),
    per_doc AS (
      SELECT doc_id, SUM(covered) AS dup_chars
      FROM merged GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(p.dup_chars, 0) AS BIGINT) AS dup_chars,
           CAST(COALESCE(p.dup_chars, 0) AS DOUBLE)
             / CAST(d.n_chars AS DOUBLE) AS dup_fraction
    FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
    """,
)
def ext_dedup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actionable half of exact substring dedup: per-document
    duplicated-character coverage. Every 40-gram span that
    ``ext_dedup_substring`` flags as shared maps back onto its source
    documents; overlapping spans merge into islands (the gap-islands
    window pattern), and each document reports how many of its
    characters sit inside a shared span — the number a curation
    pipeline thresholds to drop boilerplate-heavy pages or to mask
    the spans before training.

    Scale shape: winnowed gram volume is ~0.18/char per doc (linear;
    see :func:`_winnowed_grams` for the shuffle discipline); the
    dup-span membership check is a semi join against the grouped gram
    relation (one shuffle, same two-phase xxhash64 escalation as
    ext_dedup_substring at 100 TB); the interval merge is a window
    PARTITIONED BY doc (per-doc work is bounded by the doc's own gram
    count — never global); the final left join returns every document
    (zero coverage included) so downstream filters see the full
    corpus. No all-pairs stage.

    Exactness: coverage arithmetic is pure integers; the fraction is
    one exact-int / exact-int double division, identical both engines.
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    grams = _winnowed_grams(d)
    dup = (
        grams.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("gram")
    )
    hits = grams.join(dup, "gram", "left_semi").select("doc_id", "s", "e")
    from pyspark.sql.window import Window

    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = hits.withColumn(
        "new_island",
        F.when(
            F.col("s") > F.coalesce(F.max("e").over(w_prev), F.lit(-1)), 1
        ).otherwise(0),
    )
    islands = flagged.withColumn("island", F.sum("new_island").over(w_run))
    per_doc = (
        islands.groupBy("doc_id", "island")
        .agg((F.max("e") - F.min("s") + 1).alias("covered"))
        .groupBy("doc_id")
        .agg(F.sum("covered").alias("dup_chars"))
    )
    return (
        d.select("doc_id", "n_chars")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("dup_chars"), F.lit(0)).alias("dup_chars"),
            (
                F.coalesce(F.col("dup_chars"), F.lit(0)).cast("double")
                / F.col("n_chars").cast("double")
            ).alias("dup_fraction"),
        )
    )


@query(
    "ext_dedup_substring_mask",
    oracle=f"""
    WITH {_winnow_sql()},
    dup AS (
      SELECT gram FROM grams GROUP BY gram
      HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    hits AS (
      SELECT g.doc_id, g.s, g.e FROM grams g
      WHERE g.gram IN (SELECT gram FROM dup)
    ),
    flagged AS (
      SELECT doc_id, s, e,
             CASE WHEN s > COALESCE(MAX(e) OVER (
                    PARTITION BY doc_id ORDER BY s
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS new_island
      FROM hits
    ),
    islands AS (
      SELECT doc_id, MIN(s) AS s, MAX(e) AS e FROM (
        SELECT doc_id, s, e,
               SUM(new_island) OVER (PARTITION BY doc_id ORDER BY s
                                     ROWS UNBOUNDED PRECEDING) AS island
        FROM flagged) GROUP BY doc_id, island
    ),
    segs AS (
      SELECT i.doc_id, i.s,
             substr(d.text,
                    CAST(COALESCE(LAG(i.e) OVER (PARTITION BY i.doc_id
                                                 ORDER BY i.s), 0) + 1 AS INT),
                    CAST(i.s - COALESCE(LAG(i.e) OVER (PARTITION BY i.doc_id
                                                       ORDER BY i.s), 0) - 1
                         AS INT)) AS seg,
             MAX(i.e) OVER (PARTITION BY i.doc_id) AS max_e
      FROM islands i JOIN documents d ON d.doc_id = i.doc_id
    )
    SELECT sg.doc_id,
           string_agg(sg.seg, '[DUP]' ORDER BY sg.s)
             || '[DUP]' || substr(d.text, CAST(MAX(sg.max_e) + 1 AS INT))
             AS masked,
           COUNT(*) AS n_spans
    FROM segs sg JOIN documents d ON d.doc_id = sg.doc_id
    GROUP BY sg.doc_id, d.text
    """,
)
def ext_dedup_substring_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACT step of exact substring dedup: rewrite each affected
    document with its shared spans replaced by a ``[DUP]`` marker —
    what a curation pipeline actually ships when a page is worth
    keeping but its boilerplate is not (the span-masking treatment of
    the "Deduplicating Training Data" line of work, as opposed to
    dropping whole documents).

    Construction is windows-and-joins only — no per-row lambdas: the
    merged islands of ``ext_dedup_span_coverage``, a LAG window that
    turns each island into the KEPT segment preceding it
    (substr(text, prev_e+1, s-prev_e-1) — substring with column
    arguments), and an ordered string aggregation gluing kept
    segments around the markers, closed by the post-last-island tail.
    Only documents containing at least one shared span appear (the
    rest are unchanged by definition).

    Scale shape: identical to ext_dedup_span_coverage (winnowed gram
    pipeline, one gram-group shuffle, per-doc windows) plus one
    join of the island relation back to its documents' text and a
    per-doc ordered aggregation — everything partitions by doc_id;
    no stage is quadratic.

    Exactness: pure string surgery on integer offsets; empty kept
    segments (island at position 1, back-to-back islands) concatenate
    identically on both engines; island offsets are unique per doc so
    the ordered aggregation is deterministic.
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    grams = _winnowed_grams(d)
    dup = (
        grams.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("gram")
    )
    hits = grams.join(dup, "gram", "left_semi").select("doc_id", "s", "e")
    from pyspark.sql.window import Window as W

    w_prev = (
        W.partitionBy("doc_id").orderBy("s").rowsBetween(W.unboundedPreceding, -1)
    )
    w_run = (
        W.partitionBy("doc_id").orderBy("s").rowsBetween(W.unboundedPreceding, 0)
    )
    islands = (
        hits.withColumn(
            "new_island",
            F.when(
                F.col("s") > F.coalesce(F.max("e").over(w_prev), F.lit(-1)), 1
            ).otherwise(0),
        )
        .withColumn("island", F.sum("new_island").over(w_run))
        .groupBy("doc_id", "island")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
    )
    w_lag = W.partitionBy("doc_id").orderBy("s")
    segs = (
        islands.join(d.select("doc_id", "text"), "doc_id")
        .withColumn("prev_e", F.coalesce(F.lag("e").over(w_lag), F.lit(0)))
        .select(
            "doc_id",
            "s",
            "e",
            F.expr(
                "substring(text, CAST(prev_e + 1 AS INT),"
                " CAST(s - prev_e - 1 AS INT))"
            ).alias("seg"),
        )
    )
    per_doc = segs.groupBy("doc_id").agg(
        F.concat_ws(
            "[DUP]",
            F.transform(
                F.array_sort(F.collect_list(F.struct("s", "seg"))),
                lambda x: x["seg"],
            ),
        ).alias("head"),
        F.max("e").alias("max_e"),
        F.count(F.lit(1)).alias("n_spans"),
    )
    return (
        per_doc.join(d.select("doc_id", "text"), "doc_id")
        .select(
            "doc_id",
            F.concat(
                F.col("head"),
                F.lit("[DUP]"),
                F.expr("substring(text, CAST(max_e + 1 AS INT))"),
            ).alias("masked"),
            "n_spans",
        )
    )


# Content-defined chunking: boundary = rolling CDC_W-gram hash hitting
# the mask (avg chunk ~CDC_MASK chars on random text). Production CDC
# (FastCDC) adds min/max clamps via a sequential pass; the unclamped
# predicate keeps every boundary a pure per-position function, which
# is what lets the DuckDB oracle replay it.
CDC_W = 8
CDC_MASK = 32


def cdc_cut_positions(text: str) -> list[int]:
    """1-based end positions p (CDC_W ≤ p ≤ len) whose trailing
    CDC_W-gram hash satisfies the boundary mask — the content-defined
    cut set of ``ext_chunk_cdc``, O(len) via the same modular
    prefix-hash machinery as :func:`winnow_positions`."""
    import numpy as np

    length = len(text)
    n = length - (CDC_W - 1)
    if n < 1:
        return []
    codes = np.frombuffer(
        text.encode("utf-32-le"), dtype="<u4"
    ).astype(np.int64)
    inv = pow_mod_table(_INV31, length + 1)
    pw = pow_mod_table(31, length + 1)
    terms = codes * inv[1:] % POLY_MOD
    acc = np.empty(length + 1, dtype=np.int64)
    acc[0] = 0
    np.cumsum(terms, out=acc[1:])
    acc %= POLY_MOD
    pref = acc * pw % POLY_MOD
    h = (pref[CDC_W : CDC_W + n] - pref[:n] * pw[CDC_W]) % POLY_MOD
    return (np.nonzero(h % CDC_MASK == 0)[0] + CDC_W).tolist()


@query(
    "ext_chunk_cdc",
    oracle=f"""
    WITH pos AS (
      SELECT doc_id, CAST(p AS BIGINT) AS p,
             {opoly(f"substr(text, CAST(p - {CDC_W - 1} AS INT), {CDC_W})")}
               AS h
      FROM (SELECT doc_id, text,
                   unnest(generate_series({CDC_W}, len(text), 1)) AS p
            FROM documents)
    ),
    cuts AS (SELECT doc_id, p FROM pos WHERE h % {CDC_MASK} = 0),
    spans AS (
      SELECT doc_id,
             COALESCE(LAG(p) OVER (PARTITION BY doc_id ORDER BY p), 0) + 1
               AS s,
             p AS e
      FROM cuts
      UNION ALL
      SELECT d.doc_id, COALESCE(mx.mp, 0) + 1 AS s, len(d.text) AS e
      FROM documents d
      LEFT JOIN (SELECT doc_id, MAX(p) AS mp FROM cuts GROUP BY doc_id) mx
        USING (doc_id)
      WHERE COALESCE(mx.mp, 0) < len(d.text)
    ),
    chunks AS (
      SELECT spans.doc_id, s, e,
             {opoly("substr(text, CAST(s AS INT), CAST(e - s + 1 AS INT))")}
               AS dig
      FROM spans JOIN documents USING (doc_id)
    ),
    freq AS (SELECT dig, COUNT(DISTINCT doc_id) AS nd
             FROM chunks GROUP BY dig)
    SELECT doc_id, COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_chunks,
           CAST(SUM(CASE WHEN nd >= 2 THEN e - s + 1 ELSE 0 END) AS BIGINT)
             AS dup_chars
    FROM chunks JOIN freq USING (dig)
    GROUP BY doc_id
    """,
)
def ext_chunk_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup (the FastCDC/LBFS family):
    chunk boundaries are set by the CONTENT (a rolling-hash mask hit),
    not by byte offsets — so inserting one character early in a
    document shifts only the chunk it lands in, while fixed-width
    chunking (``ext_chunk_dedup``) re-cuts everything after the edit
    and loses all dedup downstream of it. The boundary-shift
    resistance is pinned by a property test; this key reports, per
    document, its chunk count and how many of its chunks (and chars)
    also appear in other documents — the storage-dedup ratio.

    Shape: cut positions come from one Arrow pandas UDF computing the
    rolling hash map-side within the document row (the
    ``_winnowed_grams`` lesson: never explode per character on the
    Spark side), chunk spans are in-row array arithmetic, and the only
    corpus-sized shuffles are the digest-frequency aggregate and the
    per-doc rollup — both map-side-combining. The oracle replays the
    same boundary predicate as an explode + window CTE.

    Honest simplification: no min/max chunk clamps (production CDC
    adds them with a sequential scan, which is cheap in the UDF but
    not SQL-replayable); on this corpus the unclamped mask gives
    ~CDC_MASK-char average chunks either way.

    Reference parity: north-star extension beyond the reference's SQL
    surface (src/sparkSQL/SparkSQLOperator.java:17-23), SURVEY §2.F.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def cdc_cuts(texts):
        # whole-batch vectorization, see winnow_pos in _winnowed_grams
        import pandas as pd

        return pd.Series(
            cdc_cut_positions_batch(texts.tolist()), index=texts.index
        )
    d = spread_scan(
        load_tables(spark, sf_dir, ("documents",))["documents"]
    )
    with_cuts = d.select(
        "doc_id", "text", cdc_cuts("text").alias("cuts"),
        F.length("text").cast("long").alias("len"),
    )
    starts = F.concat(
        F.array(F.lit(1).cast("long")),
        F.transform(F.col("cuts"), lambda x: x + 1),
    )
    ends = F.concat(F.col("cuts"), F.array(F.col("len")))
    spans = F.filter(
        F.arrays_zip(starts.alias("s"), ends.alias("e")),
        lambda z: z["s"] <= z["e"],
    )
    chunks = (
        with_cuts.select(
            "doc_id", "text", F.explode(spans).alias("z")
        )
        .select(
            "doc_id",
            F.col("z.s").alias("s"),
            F.col("z.e").alias("e"),
            poly_hash(
                F.expr("substring(text, CAST(z.s AS INT), "
                       "CAST(z.e - z.s + 1 AS INT))")
            ).alias("dig"),
        )
    )
    freq = chunks.groupBy("dig").agg(
        F.countDistinct("doc_id").alias("nd")
    )
    return (
        chunks.join(freq, "dig")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0)).alias(
                "n_dup_chunks"
            ),
            F.sum(
                F.when(F.col("nd") >= 2, F.col("e") - F.col("s") + 1)
                .otherwise(0)
            ).cast("long").alias("dup_chars"),
        )
    )


# Exact set-similarity join threshold (Jaccard over distinct 3-token
# shingle sets), in integer micro-units. tau = 1/2 keeps every bound
# below pure integer arithmetic: ceil(tau*l) = (l+1) DIV 2.
SETJOIN_TAU_MICRO = 500_000


@query(
    "ext_dedup_setjoin",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(generate_series(1, len(t) - 2),
                    i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS s
      FROM tok
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, inter,
           x.n AS l_a, y.n AS l_b,
           inter * 1000000 // (x.n + y.n - inter) AS jac_micro
    FROM pairs
    JOIN sz x ON doc_a = x.doc_id
    JOIN sz y ON doc_b = y.doc_id
    WHERE inter * 1000000 // (x.n + y.n - inter) >= {SETJOIN_TAU_MICRO}
    """,
)
def ext_dedup_setjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity join with prefix filtering (AllPairs /
    PPJoin family, Bayardo et al. WWW'07): every document pair whose
    distinct shingle sets have Jaccard ≥ 0.5 — the exact join that
    ``ext_dedup_minhash`` approximates, for when a dedup pipeline
    needs guaranteed-complete pairs (legal holds, eval sets) rather
    than probabilistic recall.

    The scale structure is the FULL PPJoin filter stack, each stage
    provably lossless at τ = 1/2:

    - **prefix filter**: order every set by GLOBAL shingle rarity
      (ascending document frequency, shingle tiebreak) and index only
      each set's first l − ceil(τ·l) + 1 shingles. If two sets are
      τ-similar their common shingles cannot all hide in both
      suffixes, so every qualifying pair collides on some shared
      PREFIX shingle — the join is prefix-against-prefix (rarest
      shingles → smallest postings, and BOTH posting lists are
      prefix-sized, not corpus-sized: the r11 form joined prefixes
      against full sets and carried ~4× the candidate volume).
    - **length filter**: Jaccard ≥ 1/2 forces
      2·min(la,lb) ≥ max(la,lb); applied inside the candidate join
      before the pair ever materializes.
    - **positional filter**: if shingle s sits at 1-based rarity
      position i in A and j in B, the overlap can't exceed
      1 + min(la−i, lb−j); a τ-similar pair needs overlap
      ≥ ceil((la+lb)/3), and its FIRST common shingle always
      satisfies the bound (the remaining I−1 common shingles all sit
      in both suffixes), so EXISTS-semantics over colliding prefix
      shingles is exact.

    Survivors are verified with one exact intersection count. The
    ORACLE computes the same result exhaustively: the filters are
    plan structure, provably lossless, and the hash check proves it.

    Integer discipline: τ = 1/2 makes every bound integer-exact
    (ceil(τ·l) = (l+1) DIV 2, required overlap ceil((la+lb)/3) =
    (la+lb+2) DIV 3); the Jaccard compare is integer division on
    both engines.

    Reference parity: north-star extension beyond the reference's SQL
    surface (src/sparkSQL/SparkSQLOperator.java:17-23), SURVEY §2.F.
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    # The single-file bench fixture otherwise runs the shingle explode,
    # document-frequency build and per-doc sort as ONE task each
    # (profiled: three ~1 s single-task stages ahead of the first
    # exchange); spread_scan is a no-op on multi-row-group inputs.
    with_t = spread_scan(
        d.select("doc_id", F.split("text", " ").alias("t")).filter(
            F.size("t") >= 3
        )
    )
    t = F.col("t")
    sh = with_t.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size(t) - 2),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(t, i),
                        F.element_at(t, i + 1),
                        F.element_at(t, i + 2),
                    ),
                )
            )
        ).alias("s"),
    )
    # sh is reused by 4 branches but NOT checkpointed: it is the
    # exploded corpus-sized relation, and pinning those in executor
    # memory is the r4 langid OOM pattern — recomputing a codegen'd
    # explode per branch is cheap and O(1) in memory (only the tiny
    # dfreq/sz aggregates would be worth materializing at scale).
    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    ranked = sh.join(dfreq, "s").select(
        "doc_id", F.struct("df", "s").alias("o")
    )
    per_doc = ranked.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("o")).alias("arr")
    )
    per_doc = per_doc.select(
        "doc_id",
        F.transform("arr", lambda o: o["s"]).alias("toks"),
        F.size("arr").alias("l"),
    )
    # per_doc feeds THREE consumers (the prefix explode and both
    # verify joins); without materialization each consumer re-runs the
    # whole explode→dfreq-join→collect→sort chain (~2 s each at
    # sf0.1, 3× the key's total wall). r13-opt: lazy persist() beats
    # the r12 eager localCheckpoint() here — the checkpoint ran a
    # DEDICATED job (plan + schedule + serialize) before the real one,
    # where persist materializes the same doc-granular blocks inside
    # the first consuming stage (interleaved A/B at sf0.1:
    # ckpt 3.3 s / persist 2.6 s / no-materialization 3.1 s, outputs
    # identical). Same memory class as the checkpoint blocks
    # (memory+disk, spillable); the bench/driver clear the cache
    # between reps so nothing survives a run.
    from pyspark import StorageLevel

    per_doc = per_doc.persist(StorageLevel.MEMORY_AND_DISK)
    # prefix length for tau = 1/2: l - ceil(l/2) + 1; posexplode keeps
    # the 0-based rarity position for the positional filter
    pre = per_doc.select(
        "doc_id",
        "l",
        F.posexplode(
            F.expr("slice(toks, 1, l - ((l + 1) DIV 2) + 1)")
        ).alias("pos", "s"),
    )
    pre_b = pre.select(
        F.col("doc_id").alias("doc_f"),
        F.col("l").alias("l_f"),
        F.col("pos").alias("pos_f"),
        "s",
    )
    # Accumulated positional filter: both prefixes are ranked by the
    # SAME global (df, s) total order, so a pair's common shingles
    # appear in the same relative order in both docs — every common
    # shingle not colliding in the prefixes sits strictly after the
    # LAST prefix collision in BOTH docs. Hence for c prefix
    # collisions with final positions (i, j):
    #   overlap <= c + min(la - i, lb - j)   (1-based positions)
    # and a tau = 1/2 pair needs overlap >= ceil((la+lb)/3). The
    # groupBy replaces the pair-distinct (same shuffle key), so the
    # filter costs nothing extra and is strictly tighter than the
    # per-collision EXISTS bound.
    cand = (
        pre.join(pre_b, "s")
        .filter(F.col("doc_id") < F.col("doc_f"))
        # length filter: 2*min >= max
        .filter(
            F.lit(2) * F.least("l", "l_f") >= F.greatest("l", "l_f")
        )
        .groupBy(
            F.col("doc_id").alias("doc_a"),
            F.col("doc_f").alias("doc_b"),
            F.col("l").alias("l_a"),
            F.col("l_f").alias("l_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.max("pos").alias("i_max"),
            F.max("pos_f").alias("j_max"),
        )
        .filter(
            F.col("c")
            + F.least(
                F.col("l_a") - (F.col("i_max") + 1),
                F.col("l_b") - (F.col("j_max") + 1),
            )
            >= F.expr("(l_a + l_b + 2) DIV 3")
        )
        .select("doc_a", "doc_b", "l_a", "l_b")
    )
    # Verify with ONE in-row array_intersect per candidate pair against
    # the per-doc token arrays that already exist for the prefix step —
    # NOT by re-joining candidates against the exploded corpus relation
    # (the original plan produced one row per (pair, shingle) on each
    # side, i.e. a pair-length-quadratic shuffle, and paid a 4th corpus
    # explode for set sizes that per_doc.l already holds). Candidates
    # are the small side; AQE broadcasts them when they fit.
    pd_a = per_doc.select(
        F.col("doc_id").alias("doc_a"),
        F.col("toks").alias("toks_a"),
    )
    pd_b = per_doc.select(
        F.col("doc_id").alias("doc_b"),
        F.col("toks").alias("toks_b"),
    )
    jac = F.expr("inter * 1000000 DIV (l_a + l_b - inter)")
    return (
        cand.join(pd_a, "doc_a")
        .join(pd_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("toks_a", "toks_b"))
            .cast("long").alias("inter"),
            "l_a",
            "l_b",
        )
        .select("doc_a", "doc_b", "inter", "l_a", "l_b", jac.alias("jac_micro"))
        .filter(F.col("jac_micro") >= SETJOIN_TAU_MICRO)
    )


# ---------------------------------------------------------------------------
# SemDeDup: cluster-scoped semantic deduplication over embeddings.

SEMDEDUP_TAU = (7, 20)  # cosine threshold 7/20 = 0.35 as an exact rational


def _semdedup_oracle() -> str:
    from streamingdemo_spark.extensions.similarity import _CENTROID_CTE

    num, den = SEMDEDUP_TAU
    return f"""
    WITH {_CENTROID_CTE},
    cent AS (SELECT label AS cl, list(c ORDER BY pos) AS cvec
             FROM cmeans GROUP BY label),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev,
                 list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))
                   AS qv
          FROM embeddings),
    vd AS (SELECT v.vec_id, v.qv, cent.cl,
             list_reduce(
               list_prepend(0.0,
                 list_transform(generate_series(1, len(ev)),
                                i -> (ev[i] - cvec[i]) * (ev[i] - cvec[i]))),
               (a, b) -> a + b) AS d
           FROM v CROSS JOIN cent),
    asg AS (SELECT vec_id, qv, cl AS cell, d,
              list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(generate_series(1, len(qv)),
                               i -> qv[i] * qv[i])),
                (a, b) -> a + b) AS nrm
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY d, cl) AS rn FROM vd)
            WHERE rn = 1),
    pairs AS (
      SELECT a.vec_id, b.vec_id AS dom_id, b.d AS bd,
             a.nrm AS an, b.nrm AS bn,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(generate_series(1, len(a.qv)),
                              i -> a.qv[i] * b.qv[i])),
               (x, y) -> x + y) AS g
      FROM asg a JOIN asg b
        ON a.cell = b.cell
       AND (b.d > a.d OR (b.d = a.d AND b.vec_id < a.vec_id))
    ),
    dom AS (
      SELECT vec_id, dom_id,
             ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY bd DESC, dom_id ASC) AS rn
      FROM pairs
      WHERE g > 0 AND {den * den} * g * g > {num * num} * an * bn
    )
    SELECT asg.vec_id, asg.cell, ROUND(asg.d, 6) + 0.0 AS dist2,
           (dom.dom_id IS NOT NULL) AS is_dup,
           COALESCE(dom.dom_id, CAST(-1 AS BIGINT)) AS dup_of
    FROM asg LEFT JOIN (SELECT vec_id, dom_id FROM dom WHERE rn = 1) dom
      USING (vec_id)
    """


@query("ext_semdedup", oracle=_semdedup_oracle())
def ext_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space, then mark semantic duplicates WITHIN each cluster
    — a vector is a duplicate if some cluster-mate that ranks earlier
    in keep-priority sits above the cosine threshold. Keep-priority is
    the paper's policy: keep the example FARTHEST from its centroid
    (priority = dist2 DESC, vec_id ASC tiebreak), so prototypical
    near-copies collapse onto the cluster's most marginal exemplar.

    Clustering reuses the deterministic label-mean codebook of
    ``ext_sim_ivf_assign`` (the engine-specific KMeans fit stays in
    ``ext_sim_ivf_topk`` by design); assignment distances follow the
    proven double-fold convention, so cells and priorities are
    bit-identical across engines.

    The within-cell similarity test is INTEGER-exact: vectors quantize
    to int64 milli-units (the ``ANN_LSH_CTE`` convention) and
    ``cos > 7/20`` evaluates as ``g > 0 AND 400*g^2 > 49*nrm_a*nrm_b``
    — no float dot product anywhere, so the numpy matmul on the Spark
    side and DuckDB's list folds agree exactly. Overflow bound:
    ``400*g^2`` stays inside int64 while max|x| <= 2.7 (observed 0.58;
    unit-norm embeddings bound it at 1).

    Scale shape: the codebook is a broadcast k-row table; assignment
    is one map-side pass; the quadratic term is per-cell and the paper
    scales k WITH the corpus (they use k=50000 at LAION scale) so
    cells stay O(corpus/k) — the same bucket-bounding discipline as
    the LSH keys. Per cell, the pairwise test runs as ONE Arrow-batch
    int64 matmul (``applyInPandas`` on the cell key — vectorized,
    never a per-pair Python loop).

    Distinct from ``ext_dedup_embedding`` (LSH-bucketed near-dup PAIR
    mining): SemDeDup is cluster-scoped with a keep-policy, emitting a
    per-vector keep/drop verdict and the dominating exemplar.

    Reference parity: north-star extension beyond the reference's SQL
    entry (src/sparkSQL/SparkSQLOperator.java:17-23), per SURVEY §2.F.
    """
    from streamingdemo_spark.extensions.similarity import (
        _cells_1row,
        _centroid_means,
        _ranked_cells,
    )

    num, den = SEMDEDUP_TAU
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    cmeans = _centroid_means(e).select(F.col("label").alias("cl"), "pos", "c")
    cent = cmeans.groupBy("cl").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
        ).alias("cvec")
    )
    v = e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("ev")
    )
    qv = F.transform(
        "ev", lambda x: F.floor(x * 1000 + F.lit(0.5)).cast("long")
    )
    # map-side argmin over the one-row broadcast codebook: the former
    # crossJoin-explode + vec_id window shipped the FULL 64-double
    # embedding k times per vector through an Exchange just to rank k
    # distances already computable on the row (guide §2.1/§2.3)
    assigned = (
        v.crossJoin(F.broadcast(_cells_1row(cent)))
        .select(
            "vec_id",
            F.element_at(_ranked_cells("ev"), 1).alias("home"),
            qv.alias("qv"),
        )
        .select(
            "vec_id",
            F.col("home.cl").alias("cell"),
            F.col("home.d").alias("d"),
            "qv",
        )
    )

    def _cell_dedup(pdf):
        import numpy as np

        pdf = pdf.sort_values(
            ["d", "vec_id"], ascending=[False, True]
        ).reset_index(drop=True)
        q = np.stack(pdf["qv"].to_numpy()).astype(np.int64)
        g = q @ q.T
        nrm = np.diag(g).copy()
        sim = (g > 0) & (den * den * (g * g) > num * num * np.outer(nrm, nrm))
        low = np.tril(sim, k=-1)  # dominators = strictly earlier rows
        isdup = low.any(axis=1)
        ids = pdf["vec_id"].to_numpy()
        first = np.where(isdup, low.argmax(axis=1), 0)
        pdf["is_dup"] = isdup
        pdf["dup_of"] = np.where(isdup, ids[first], -1)
        return pdf[["vec_id", "cell", "d", "is_dup", "dup_of"]]

    out = assigned.groupBy("cell").applyInPandas(
        _cell_dedup,
        schema="vec_id long, cell int, d double, is_dup boolean, dup_of long",
    )
    return out.select(
        "vec_id",
        "cell",
        (F.round("d", 6) + F.lit(0.0)).alias("dist2"),
        "is_dup",
        "dup_of",
    )
