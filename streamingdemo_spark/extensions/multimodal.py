"""Multimodal-column operators (SURVEY §2.F, BASELINE.json).

Media is modeled the way a 100 TB lakehouse stores it: an opaque
``binary`` payload column plus typed metadata columns, processed by
Arrow-batched ``mapInPandas`` stages. The container image has no
image/audio codecs, so the decode step is a clearly-marked
deterministic stub (``_fake_decode``) — the Spark-side plumbing
(schemas, binary handling, batch iteration, partitioning) is real and
is what these keys test.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streamingdemo_spark.io import load_tables, plan_bytes, tasks_for
from streamingdemo_spark.registry import query

_MAGIC = b"FAKEIMG1"


@query(
    "ext_multimodal_struct",
    oracle="""
    SELECT d.doc_id, d.lang AS meta_lang, d.n_chars AS meta_chars,
           e.label AS media_label,
           ROUND(CAST(e.embedding[1] AS DOUBLE), 3) + 0.0 AS feat_0,
           ROUND(CAST(e.embedding[2] AS DOUBLE), 3) + 0.0 AS feat_1
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    """,
)
def ext_multimodal_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested multimodal record: struct(text meta) + embedding feature
    ref, built then flattened — the schema shape of a joined
    text+media training record."""
    t = load_tables(spark, sf_dir, ("documents", "embeddings"))
    rec = (
        t["documents"]
        .join(t["embeddings"], F.col("doc_id") == F.col("vec_id"))
        .select(
            "doc_id",
            F.struct(
                F.col("lang").alias("lang"), F.col("n_chars").alias("chars")
            ).alias("meta"),
            F.struct(
                F.col("label").alias("label"), F.col("embedding").alias("emb")
            ).alias("media"),
        )
    )
    return rec.select(
        "doc_id",
        F.col("meta.lang").alias("meta_lang"),
        F.col("meta.chars").alias("meta_chars"),
        F.col("media.label").alias("media_label"),
        # + 0.0 normalizes IEEE negative zero: ROUND(-0.0004, 3) gives
        # -0.0 in one engine and 0.0 in the other — equal as values but
        # not as canonicalized strings
        (F.round(F.element_at("media.emb", 1).cast("double"), 3) + 0.0).alias("feat_0"),
        (F.round(F.element_at("media.emb", 2).cast("double"), 3) + 0.0).alias("feat_1"),
    )


def _encode_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic binary payloads derived from the fixture: a fake
    image header (magic, width, height) followed by the utf-8 text
    bytes. Stands in for real media blobs with the same schema:
    (doc_id, payload binary, media_type string)."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    width = (F.col("n_chars") % 64 + 1).cast("int")
    height = (F.col("n_chars") % 48 + 1).cast("int")
    header = F.concat(
        F.lit(_MAGIC),
        F.encode(F.lpad(width.cast("string"), 6, "0"), "utf-8"),
        F.encode(F.lpad(height.cast("string"), 6, "0"), "utf-8"),
    )
    return d.select(
        "doc_id",
        F.concat(header, F.encode("text", "utf-8")).alias("payload"),
        F.lit("image/fake").alias("media_type"),
    )


def _pil_available() -> bool:
    """Capability check: PIL is not in this container image, but the
    decode path must use it when a deployment installs it."""
    try:
        import PIL.Image  # noqa: F401

        return True
    except ImportError:
        return False


def _decode_one(raw: bytes) -> dict:
    """Decode one payload to (width, height, n_bytes, mean_byte).

    Dispatch order: the deterministic fake header decodes everywhere
    (it's the fixture format); real image bytes decode via PIL when the
    library is installed; otherwise the honest stub raises — no silent
    wrong answers for real media in a codec-less environment.
    """
    if raw.startswith(_MAGIC):
        width = int(raw[8:14])
        height = int(raw[14:20])
        body = raw[20:]
        return {
            "width": width,
            "height": height,
            "n_bytes": len(body),
            # raw mean — rounding happens Spark-side (F.round), which is
            # the engine-portable convention; Python's round() is
            # half-even and diverges from SQL ROUND on dyadic ties
            "mean_byte": sum(body) / max(len(body), 1),
        }
    if _pil_available():
        import io as _io

        import numpy as np
        from PIL import Image

        img = Image.open(_io.BytesIO(raw))
        arr = np.asarray(img.convert("L"))
        return {
            "width": img.width,
            "height": img.height,
            "n_bytes": len(raw),
            "mean_byte": float(arr.mean()),
        }
    raise NotImplementedError(
        "real media decode needs PIL, which is not installed"
    )


def _fake_decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched decode stage: fake-header payloads always decode;
    real images decode when PIL is installed (capability-gated). The
    signature, schema, and batch flow are exactly what production uses.
    """
    for pdf in batches:
        out = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            rec = _decode_one(bytes(payload))
            rec["doc_id"] = int(doc_id)
            out.append(rec)
        yield pd.DataFrame(out)[
            ["doc_id", "width", "height", "n_bytes", "mean_byte"]
        ]


@query(
    "ext_multimodal_decode",
    # the corpus is ASCII (asserted by the oracle diff itself: byte
    # length == char length), so byte sums are ascii() sums
    oracle="""
    SELECT doc_id,
           CAST(n_chars % 64 + 1 AS INT) AS width,
           CAST(n_chars % 48 + 1 AS INT) AS height,
           CAST(length(text) AS BIGINT) AS n_bytes,
           ROUND(CAST(list_aggregate(list_transform(string_split(text, ''),
                        c -> ascii(c)), 'sum') AS DOUBLE)
                 / greatest(length(text), 1), 4) AS mean_byte
    FROM documents
    """,
)
def ext_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media pipeline: encode (JVM) → decode/feature-extract via
    ``mapInPandas`` (Arrow-batched binary columns) → typed metadata.

    The decode itself is the capability-gated stub (no codecs in this
    image), but its output is a pure function of the payload bytes, so
    the DuckDB oracle replays it from the source text — the Arrow
    plumbing gets a hash-match signal, not just a row count.

    100 TB notes: payloads stream through Python in Arrow batches (no
    per-row pickling); repartition before the decode stage to spread
    large blobs evenly; never collect payloads.
    """
    payloads = _encode_payload(spark, sf_dir)
    payloads = payloads.repartition(
        tasks_for(spark, plan_bytes(payloads)), "doc_id"
    )
    decoded = payloads.mapInPandas(
        _fake_decode,
        schema="doc_id long, width int, height int, n_bytes long, mean_byte double",
    )
    return decoded.withColumn("mean_byte", F.round("mean_byte", 4))


@query(
    "ext_multimodal_framesample",
    oracle="""
    SELECT doc_id,
           CAST(f.frame_no AS INT) AS frame_no,
           CAST(least(256, length(text) - f.frame_no * 256) AS INT)
             AS frame_bytes,
           CAST(list_aggregate(list_transform(
                  string_split(substr(text, f.frame_no * 256 + 1, 256), ''),
                  c -> ascii(c)), 'sum') % 65536 AS INT) AS checksum
    FROM documents,
         UNNEST(range(0, CAST(ceil(length(text) / 256.0) AS BIGINT), 4))
           AS f(frame_no)
    """,
)
def ext_multimodal_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing for video-like payloads: each payload
    expands to ceil(n_bytes/256)-frame metadata rows, sampled every 4th
    frame — the 1-to-many mapInPandas shape of real frame extraction
    (decode itself stubbed as byte-slicing)."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(payload)[20:]
                n_frames = (len(raw) + 255) // 256
                for frame_no in range(0, n_frames, 4):
                    chunk = raw[frame_no * 256 : (frame_no + 1) * 256]
                    rows.append(
                        {
                            "doc_id": int(doc_id),
                            "frame_no": frame_no,
                            "frame_bytes": len(chunk),
                            "checksum": sum(chunk) % 65536,
                        }
                    )
            yield pd.DataFrame(rows)

    payloads = _encode_payload(spark, sf_dir)
    return payloads.mapInPandas(
        sample, schema="doc_id long, frame_no int, frame_bytes int, checksum int"
    )


# media near-dup fixture: every 7th payload re-appears "re-encoded"
# (uniform +1 brightness on every body byte) under doc_id + 2e6
PHASH_MUTANT_OFFSET = 2_000_000
_N_BUCKETS = 64  # 63 adjacent-pair bits -> fits a positive int64
_HAMMING_MAX = 8
_N_BANDS = 8  # 8 bands x 8 bits: >=1 clean band unless flips hit all 8
# The sf0.1 probe (r4b scale probe, git history; now
# tools/scale_probe.py) showed band-collision
# pairs growing ~80x at 10x docs on this low-entropy fixture — the
# classic LSH hot-bucket blowup. Same guard as ext_dedup_minhash:
# drop buckets above the cap (a bucket that big is boilerplate, not a
# near-dup signal; its members still pair through their 7 other bands)
_BAND_CAP = 100


def _phash_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payload fixture for perceptual dedup: originals plus
    brightness-shifted copies. The shift adds +1 to every body byte
    (built by re-encoding the text with each codepoint +1 — same
    bytes, since the corpus is single-byte ASCII), which changes every
    byte hash but barely moves adjacent-bucket DIFFERENCES — the exact
    failure mode content-hash dedup has on re-encoded media."""
    base = _encode_payload(spark, sf_dir)
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    shifted_text = F.array_join(
        F.transform(F.split("text", ""), lambda c: F.char(F.ascii(c) + 1)), ""
    )
    width = (F.col("n_chars") % 64 + 1).cast("int")
    height = (F.col("n_chars") % 48 + 1).cast("int")
    header = F.concat(
        F.lit(_MAGIC),
        F.encode(F.lpad(width.cast("string"), 6, "0"), "utf-8"),
        F.encode(F.lpad(height.cast("string"), 6, "0"), "utf-8"),
    )
    mutants = (
        d.filter(F.col("doc_id") % 7 == 0)
        .select(
            (F.col("doc_id") + PHASH_MUTANT_OFFSET).alias("doc_id"),
            F.concat(header, F.encode(shifted_text, "utf-8")).alias("payload"),
            F.lit("image/fake").alias("media_type"),
        )
    )
    return base.unionByName(mutants)


def _phash_stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched perceptual hash: 64 equal byte-range bucket sums
    over the body, dHash bit i = (bucket[i] > bucket[i+1]), 63-bit
    signature. Pure integer arithmetic end-to-end so the DuckDB oracle
    replays it bit-for-bit; a production deployment swaps the byte
    buckets for decoded-pixel grid means, same signature algebra."""
    import numpy as np

    for pdf in batches:
        out = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            body = np.frombuffer(bytes(payload)[20:], dtype=np.uint8)
            L = len(body)
            edges = [(i * L) // _N_BUCKETS for i in range(_N_BUCKETS + 1)]
            sums = np.array(
                [int(body[edges[i] : edges[i + 1]].sum()) for i in range(_N_BUCKETS)],
                dtype=np.int64,
            )
            bits = sums[:-1] > sums[1:]
            phash = int((bits * (1 << np.arange(_N_BUCKETS - 1, dtype=np.uint64))).sum())
            out.append({"doc_id": int(doc_id), "phash": phash})
        yield pd.DataFrame(out)[["doc_id", "phash"]]


def _phash_oracle_codes(delta: str) -> str:
    return (
        f"list_transform(string_split(text, ''), "
        f"c -> CAST(ascii(c) + {delta} AS BIGINT))"
    )


def _phash_oracle_sig(codes: str) -> str:
    """DuckDB replay of :func:`_phash_stage` from the code list."""
    return f"""(
      WITH co AS (SELECT {codes} AS codes),
      b AS (SELECT list_transform(range(0, 64),
              i -> COALESCE(list_aggregate(list_slice(
                     co.codes, (i * len(co.codes)) // 64 + 1,
                     ((i + 1) * len(co.codes)) // 64), 'sum'), 0)) AS s
            FROM co)
      SELECT list_aggregate(list_transform(range(0, 63),
               i -> CASE WHEN b.s[i + 1] > b.s[i + 2]
                         THEN CAST(1 AS BIGINT) << i
                         ELSE CAST(0 AS BIGINT) END), 'sum')
      FROM b)"""


# shared by the pair key and the cluster key (which wraps it in a
# recursive closure) — one text, one semantics
_PHASH_PAIRS_ORACLE = f"""
    WITH sigs AS (
      SELECT doc_id, {_phash_oracle_sig(_phash_oracle_codes('0'))} AS phash
      FROM documents
      UNION ALL
      SELECT doc_id + {PHASH_MUTANT_OFFSET},
             {_phash_oracle_sig(_phash_oracle_codes('1'))}
      FROM documents WHERE doc_id % 7 = 0
    ),
    bands AS (
      SELECT doc_id, phash, j AS band_no,
             (phash >> (8 * j)) & 255 AS band_val
      FROM sigs, UNNEST(range(0, 8)) AS t(j)
    ),
    capped AS (
      SELECT doc_id, phash, band_no, band_val FROM
        (SELECT *, COUNT(*) OVER (PARTITION BY band_no, band_val) AS bn
         FROM bands)
      WHERE bn <= {_BAND_CAP}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.phash AS ph_a, b.phash AS ph_b
      FROM capped a JOIN capped b
        ON a.band_no = b.band_no AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(ph_a, ph_b)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(ph_a, ph_b)) <= {_HAMMING_MAX}
    """


@query("ext_multimodal_phash_dedup", oracle=_PHASH_PAIRS_ORACLE)
def ext_multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup detection for media payloads: binary encode
    (JVM) → Arrow ``mapInPandas`` dHash signature → 8×8-bit LSH band
    explode → equi-join candidate generation → exact hamming verify
    with ``bit_count(xor)``. Finds the planted brightness-shifted
    re-encodes (hamming ≈ 0-3) that byte-exact dedup cannot, without
    ever comparing all pairs.

    100 TB shape: signatures are 8 bytes/item, the band join is an
    equi-join on (band_no, band_val) — candidates are collision-
    bounded, never quadratic (same discipline as ``ext_dedup_simhash``,
    but over the BINARY media column: the decode/feature stage is the
    Arrow batch path real pixel phashing uses). Hot buckets (e.g.
    all-dark images collapsing onto one band value) are dropped above
    ``_BAND_CAP`` members — same skew guard as ``ext_dedup_minhash``;
    an over-cap bucket's members still pair through their other 7
    bands. Measured: the cap cuts sf0.1 candidate pairs ~3x while
    planted recall stays 100% at sf0.01 (tested) and 97% at sf0.1
    (the lost 3% sit in regions dense enough to saturate all 8
    bands — the standard LSH cap tradeoff, tunable via _BAND_CAP).
    """
    payloads = _phash_payloads(spark, sf_dir)
    sigs = payloads.repartition(
        tasks_for(spark, plan_bytes(payloads)), "doc_id"
    ).mapInPandas(_phash_stage, schema="doc_id long, phash long")
    bands = sigs.select(
        "doc_id",
        "phash",
        F.explode(F.sequence(F.lit(0), F.lit(_N_BANDS - 1))).alias("band_no"),
    ).withColumn(
        # expr form: the shiftrightunsigned() Python wrapper only takes
        # a literal bit count, not a per-row column
        "band_val",
        F.expr("shiftrightunsigned(phash, band_no * 8) & 255"),
    )
    from pyspark.sql.window import Window

    bucket_n = F.count(F.lit(1)).over(
        Window.partitionBy("band_no", "band_val")
    )
    bands = (
        bands.withColumn("bn", bucket_n)
        .filter(F.col("bn") <= _BAND_CAP)
        .drop("bn")
    )
    a = bands.select(
        F.col("doc_id").alias("doc_a"),
        F.col("phash").alias("ph_a"),
        "band_no",
        "band_val",
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("phash").alias("ph_b"),
        "band_no",
        "band_val",
    )
    cand = (
        a.join(b, ["band_no", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "ph_a", "ph_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= _HAMMING_MAX)
        .select("doc_a", "doc_b", "hamming")
    )


@query(
    "ext_multimodal_phash_cluster",
    oracle=f"""
    WITH RECURSIVE
    pairs AS (SELECT doc_a, doc_b FROM ({_PHASH_PAIRS_ORACLE}) ph),
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
    """,
)
def ext_multimodal_phash_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media near-dup CLUSTERS: the phash pair list closed into
    connected components, one canonical keep-id per group — what a
    media dedup actually ships (keep one representative per visual
    cluster, not a pair list). Reuses the text-dedup clustering path
    (``dedup.pair_clusters`` over ``min_label_components``: probed
    fixpoint, localCheckpoint per round, loud failure over silent
    under-merge, labels held once per session), so both dedup
    modalities share one verified clustering engine; the oracle wraps the shared pair SQL in a
    recursive transitive closure. Component sizes stay bounded by the
    band-cap on candidate generation, so the closure's frontier never
    explodes at scale."""
    from streamingdemo_spark.extensions.dedup import pair_clusters

    return pair_clusters(
        spark,
        "multimodal_phash_cluster_labels",
        sf_dir,
        "documents",
        lambda: ext_multimodal_phash_dedup(spark, sf_dir),
    )
