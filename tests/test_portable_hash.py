"""The engine-portability contract of registry.poly_hash/opoly: Spark
and DuckDB (and poly_fold, the numpy twin in the Arrow kernels) must
produce bitwise-identical hashes for arbitrary content — every
oracle-checked dedup/fingerprint key rests on this.

One batched differential (seeded corpus, single Spark job + single
DuckDB query), not per-example round trips."""

from __future__ import annotations

import random
import string

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from streamingdemo_spark.registry import opoly, poly_fold, poly_hash


def _corpus() -> list[str]:
    rng = random.Random(20260813)
    alphabet = string.ascii_letters + string.digits + " .,!?-_'"
    docs = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 300)))
        for _ in range(200)
    ]
    # adversarial edges: empty, single char, spaces only, repeats,
    # double and trailing spaces (empty tokens when split on ' ')
    docs += ["", "a", "   ", "z" * 500, "ab " * 100]
    docs += ["a  b", "trailing ", " leading", "x  y  z  ", "  "]
    # BMP unicode: both engines fold per codepoint
    docs += ["héllo wörld", "日本語のテキスト", "aéb ü ß", "кириллица"]
    # astral plane: Spark's split('')/ascii are codepoint-aware (not
    # UTF-16-surrogate) on Spark 4, so emoji / U+10000+ fold the same
    # as DuckDB — the full-Unicode contract poly_hash documents
    docs += [
        "a\U0001F600b",                  # emoji
        "\U0001F1FA\U0001F1F8",          # regional-indicator pair
        "x\U00010000y\U0010FFFFz",       # astral boundaries
        "é vs é",             # combining vs precomposed
        "\U0001F3F3️‍\U0001F308",  # ZWJ sequence
    ]
    return docs


def test_micro_nat_floor_boundary_margin():
    """The micro-nat quantization floor(-ln(c/t)*1e6 + 0.5) used by
    ext_unigram_surprisal / ext_ccnet_bucket assumes JVM Math.log and
    DuckDB's libm ln agree to within ~1 ulp (~2e-9 at this magnitude).
    A 1-ulp difference only flips a bucket if the value sits within
    that distance of a floor boundary — verify every (c, t) ratio the
    fixture can produce keeps a margin ≥1e-6 (1000× the ulp bound), so
    the hash parity of those keys is platform-safe, not lucky."""
    import math
    import os

    import duckdb

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")
    con = duckdb.connect()
    rows = con.execute(
        f"""
        WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok
                      FROM '{sf_dir}/documents.parquet'),
        cnt AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok)
        SELECT DISTINCT c, (SELECT COUNT(*) FROM toks) AS t FROM cnt
        """
    ).fetchall()
    assert rows
    for c, t in rows:
        frac = (-math.log(c / t) * 1e6 + 0.5) % 1.0
        margin = min(frac, 1.0 - frac)
        assert margin >= 1e-6, (c, t, margin)


def test_poly_hash_matches_duckdb_bitwise(spark):
    docs = _corpus()
    sdf = spark.createDataFrame([(i, d) for i, d in enumerate(docs)], "i long, s string")
    got = {
        r["i"]: r["h"]
        for r in sdf.select("i", poly_hash(F.col("s")).alias("h")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(docs)))
    want = dict(con.execute(f"SELECT i, {opoly('s')} FROM t").fetchall())
    assert got == want


def test_poly_fold_matches_poly_hash_and_opoly(spark):
    """registry.poly_fold, the numpy twin the Arrow kernels use, is
    bit-for-bit poly_hash (Spark) and opoly (DuckDB) on the same
    adversarial corpus: whole strings, and the ' '-separated tokens
    the MinHash signature kernel hashes."""
    import numpy as np

    docs = _corpus()
    tokens = [t for d in docs for t in d.split(" ")]
    for strings in (docs, tokens):
        codes = np.frombuffer("".join(strings).encode("utf-32-le"), dtype="<u4")
        got = poly_fold(codes, [len(s) for s in strings]).tolist()
        sdf = spark.createDataFrame(list(enumerate(strings)), "i long, s string")
        spark_h = [
            r["h"]
            for r in sdf.select("i", poly_hash(F.col("s")).alias("h"))
            .orderBy("i")
            .collect()
        ]
        con = duckdb.connect()
        con.execute("CREATE TABLE t (i BIGINT, s VARCHAR)")
        con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(strings)))
        duck_h = [
            h
            for (h,) in con.execute(f"SELECT {opoly('s')} FROM t ORDER BY i").fetchall()
        ]
        assert got == spark_h == duck_h


def test_bm25_floor_boundary_margin():
    """ext_text_bm25 quantizes idf·tfn to integer micro-units with
    floor(x*1e6 + 0.5); like the micro-nat keys, parity assumes the
    engines' ln() agree to ~1 ulp, which only matters within ~2e-9 of
    a floor boundary. Enumerate every (tf, df, dl, N, dl_sum) combo
    the fixture produces and verify a ≥1e-6 margin."""
    import math
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")
    con = duckdb.connect()
    from streamingdemo_spark.extensions.retrieval import _TERMS_SQL, B, K1

    rows = con.execute(
        f"""
        WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS dl
                   FROM '{sf_dir}/documents.parquet'),
        tot AS (SELECT COUNT(*) AS n, SUM(dl) AS dls FROM d),
        tf AS (
          SELECT doc_id, term, COUNT(*) AS tf
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                FROM '{sf_dir}/documents.parquet')
          WHERE term IN {_TERMS_SQL}
          GROUP BY doc_id, term
        ),
        dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term)
        SELECT DISTINCT tf.tf, dfq.df, d.dl, tot.n, tot.dls
        FROM tf JOIN d USING (doc_id) JOIN dfq USING (term) CROSS JOIN tot
        """
    ).fetchall()
    assert rows
    for tf, df, dl, n, dls in rows:
        idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
        tfn = (tf * (K1 + 1.0)) / (
            tf + K1 * ((1.0 - B) + B * (float(dl * n) / dls))
        )
        frac = (idf * tfn * 1e6 + 0.5) % 1.0
        margin = min(frac, 1.0 - frac)
        assert margin >= 1e-6, (tf, df, dl, margin)


def test_chi_square_floor_boundary_margin():
    """agg_chi_square quantizes each (o-e)²/e term with
    floor(x*1e6 + 0.5); verify every term the fixture produces sits
    ≥1e-6 from a floor boundary so cross-engine double noise in the
    division chain can't flip a unit."""
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")
    con = duckdb.connect()
    rows = con.execute(
        f"""
        WITH obs AS (
          SELECT event_type,
                 date_diff('day', DATE '2024-01-01', ts) % 7 AS weekday,
                 CAST(COUNT(*) AS BIGINT) AS o
          FROM '{sf_dir}/events.parquet' GROUP BY 1, 2
        )
        SELECT o,
               CAST(SUM(o) OVER (PARTITION BY event_type) AS DOUBLE) AS rt,
               CAST(SUM(o) OVER (PARTITION BY weekday) AS DOUBLE) AS ct,
               CAST(SUM(o) OVER () AS DOUBLE) AS n
        FROM obs
        """
    ).fetchall()
    assert rows
    for o, rt, ct, n in rows:
        e = rt * ct / n
        term = (o - e) * (o - e) / e
        frac = (term * 1e6 + 0.5) % 1.0
        margin = min(frac, 1.0 - frac)
        assert margin >= 1e-6, (o, rt, ct, margin)


def test_corpus_drift_floor_boundary_margin():
    """ext_corpus_drift quantizes p·ln(p/q) to nano-nats; verify every
    term the fixture produces keeps a ≥1e-6 margin from a floor
    boundary (same ulp argument as the micro-nat keys, finer grid)."""
    import math
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")
    con = duckdb.connect()
    rows = con.execute(
        f"""
        WITH toks AS (
          SELECT CASE WHEN CAST(substr(source, 4) AS INT) < 10
                      THEN 'a' ELSE 'b' END AS half,
                 unnest(string_split(text, ' ')) AS tok
          FROM '{sf_dir}/documents.parquet'
        ),
        c AS (SELECT tok,
                     SUM(CASE WHEN half='a' THEN 1 ELSE 0 END) AS c1,
                     SUM(CASE WHEN half='b' THEN 1 ELSE 0 END) AS c2
              FROM toks GROUP BY tok)
        SELECT c1, c2, (SELECT SUM(c1) FROM c) AS n1,
               (SELECT SUM(c2) FROM c) AS n2,
               (SELECT COUNT(*) FROM c) AS v
        FROM c
        """
    ).fetchall()
    assert rows
    for c1, c2, n1, n2, v in rows:
        p = (c1 + 1) / (n1 + v)
        q = (c2 + 1) / (n2 + v)
        frac = (p * math.log(p / q) * 1e9 + 0.5) % 1.0
        margin = min(frac, 1.0 - frac)
        assert margin >= 1e-6, (c1, c2, margin)


def test_char_entropy_floor_boundary_margin():
    """ext_char_entropy's micro-NAT terms: every (k, n) ratio the
    fixture produces must keep a ≥1e-6 margin from a floor boundary
    (the bits formulation failed here: dyadic p makes log2(p) exactly
    integer and parks terms dead on a boundary)."""
    import math
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")
    con = duckdb.connect()
    rows = con.execute(
        f"""
        WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c
                    FROM '{sf_dir}/documents.parquet'),
        cnt AS (SELECT doc_id, c, COUNT(*) AS k FROM ch GROUP BY 1, 2),
        n AS (SELECT doc_id, SUM(k) AS n FROM cnt GROUP BY 1)
        SELECT DISTINCT cnt.k, n.n FROM cnt JOIN n USING (doc_id)
        """
    ).fetchall()
    assert rows
    for k, n in rows:
        p = k / n
        frac = (-p * math.log(p) * 1e6 + 0.5) % 1.0
        margin = min(frac, 1.0 - frac)
        assert margin >= 1e-6, (k, n, margin)


def test_bigram_micro_nat_floor_boundary_margin():
    """Same ulp-safety proof as test_micro_nat_floor_boundary_margin,
    for ext_bigram_surprisal's conditional ratios: every
    (bigram count, prefix count) pair the fixture produces must keep
    its micro-nat value ≥1e-6 away from a floor boundary (~1000× the
    1-ulp ln() disagreement bound), so the key's hash parity is
    platform-safe, not lucky."""
    import math
    import os

    import duckdb

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")
    con = duckdb.connect()
    rows = con.execute(
        f"""
        WITH docs AS (SELECT string_split(text, ' ') AS l
                      FROM '{sf_dir}/documents.parquet'),
        bi AS (SELECT unnest(list_transform(generate_series(2, len(l)),
                             i -> l[i-1] || chr(1) || l[i])) AS bg
               FROM docs),
        c2 AS (SELECT bg, COUNT(*) AS c FROM bi GROUP BY bg),
        c1 AS (SELECT split_part(bg, chr(1), 1) AS prev, SUM(c) AS cp
               FROM c2 GROUP BY split_part(bg, chr(1), 1))
        SELECT DISTINCT c2.c, c1.cp
        FROM c2 JOIN c1 ON c1.prev = split_part(c2.bg, chr(1), 1)
        """
    ).fetchall()
    assert rows
    for c, cp in rows:
        frac = (-math.log(c / cp) * 1e6 + 0.5) % 1.0
        margin = min(frac, 1.0 - frac)
        assert margin >= 1e-6, (c, cp, margin)


@given(
    st.text(
        # exclude the surrogate block: lone surrogates are not valid
        # Unicode scalar values (no real corpus contains them) and
        # cannot round-trip through the UDF's utf-32 view
        alphabet=st.characters(
            min_codepoint=32, max_codepoint=0x2FFFF,
            blacklist_categories=("Cs",),
        ),
        max_size=300,
    )
)
@settings(max_examples=150, deadline=None)
def test_cdc_cuts_match_naive_per_gram_fold(text):
    """cdc_cut_positions' O(len) modular prefix-hash trick must equal
    the naive per-gram polynomial fold at every position, for all of
    Unicode including astral codepoints."""
    from streamingdemo_spark.extensions.dedup import (
        CDC_MASK,
        CDC_W,
        cdc_cut_positions,
    )

    def naive(t):
        out = []
        for p in range(CDC_W, len(t) + 1):
            acc = 0
            for ch in t[p - CDC_W : p]:
                acc = (acc * 31 + ord(ch)) % 1000000007
            if acc % CDC_MASK == 0:
                out.append(p)
        return out

    assert cdc_cut_positions(text) == naive(text)
