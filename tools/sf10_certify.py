"""Oracle-side sf10 certificates for keys whose MONOLITHIC DuckDB
replay exceeds the sweep watchdog or DuckDB's resource ceiling.

The sweep's oracle-timeout / oracle-resource classes mean "the
independent verifier was the bottleneck, not the engine". This tool
closes that gap with per-key certificates DuckDB CAN run at sf10,
in decreasing order of strength:

- FULL STAGED REPLAY (ext_attribution_shapley, ext_graph_pagerank):
  the original oracle semantics recomputed value-for-value, but with
  intermediates materialized as temp tables. Both monolithic oracles
  die on CTE re-evaluation (shapley: 64 correlated subqueries each
  re-running the 10M-event sessionization; pagerank: the MATERIALIZED
  s-chains). Staged, they run in seconds — the certificate is as
  strong as a hash PASS.
- CONDITIONAL CLOSURE (ext_multimodal_phash_cluster,
  ext_semantic_decontam): the key is a deterministic function of
  another key's output that IS sf10-certified (phash pair list:
  sweep PASS; embedding pairs: certified here). DuckDB recomputes the
  function from that certified input and compares exactly. As strong
  as the input's certificate.
- SOUNDNESS + PLANTED-SLICE COMPLETENESS (ext_dedup_ngram_jaccard,
  ext_dedup_embedding): every EMITTED row is re-verified from base
  tables (exact similarity recompute + blocking replay — full, not
  sampled), and completeness is proven exactly on the planted-mutant
  slice (the pairs the fixture guarantees must exist). What remains
  unproven is only completeness over unplanned pairs — inherent,
  since proving it IS the quadratic work the oracle can't do.
- INVARIANT + SAMPLED COMPLETENESS (ext_semdedup): cell assignment is
  replayed in full (O(n*k)); every dup verdict's dominator is
  re-verified; the quadratic no-dominator claim of non-dup rows and
  the first-dominator minimality of dup rows are verified on a
  deterministic hash-ordered sample.

Usage:
    SPARK_DRIVER_MEMORY=28g python tools/sf10_certify.py [sf_dir]
        [--keys k1,k2] [--out FILE]

(28g: ext_graph_pagerank's Spark side — a 117M-edge eager
localCheckpoint feeding three rank iterations — OOMs a 16g local-mode
heap under the parquet-write path this tool uses; every other cert
runs in 16g.)

Output: one JSON dict per key: {cert_pass, method, checks, sec,
spark_rows}; tools/sf10_summarize.py --certs merges these into
SF10_SWEEP.json as PASS-cert rows.
"""

from __future__ import annotations

import json
import shutil
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import duckdb

from streamingdemo_spark.io import TABLES  # noqa: E402

WORK = "/tmp/sf10_cert"


def _register(con: duckdb.DuckDBPyConnection, sf_dir: str) -> None:
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )


def _spark_parquet(spark, key: str, sf_dir: str) -> tuple[str, int]:
    """Run a registry key and land its output as parquet (the bridge
    from the engine under test to the DuckDB verifier)."""
    import __spark_entry__ as entry

    path = f"{WORK}/{key}"
    df = entry.queries()[key](spark, sf_dir)
    df.write.mode("overwrite").parquet(path)
    n = spark.read.parquet(path).count()
    return f"{path}/*.parquet", n


def _one(con, sql: str):
    return con.execute(sql).fetchone()[0]


# ---------------------------------------------------------------------------
# ext_attribution_shapley — full staged replay


def cert_attribution_shapley(spark, con, sf_dir: str) -> dict:
    from streamingdemo_spark.plans.behavior import (
        _SHAP_SCALE,
        _shapley_terms,
        SHAPLEY_CHANNELS,
    )
    from math import factorial

    out_glob, n_rows = _spark_parquet(spark, "ext_attribution_shapley", sf_dir)
    con.execute(
        f"CREATE OR REPLACE VIEW shap_out AS "
        f"SELECT * FROM read_parquet('{out_glob}')"
    )
    # ONE sessionization pass instead of 64 correlated re-evaluations —
    # the whole reason the monolithic oracle OOMs at 10M events.
    con.execute(f"""
    CREATE OR REPLACE TEMP TABLE v_mat AS
    WITH gaps AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_start
      FROM events
    ),
    sess AS (
      SELECT user_id, event_type,
             SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM gaps
    ),
    j AS (
      SELECT user_id, sid,
             array_to_string(list_sort(list_distinct(
               list(event_type) FILTER (WHERE event_type != 'purchase'))),
               ',') AS setkey,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM sess GROUP BY user_id, sid
    )
    SELECT setkey, (SUM(conv) * {_SHAP_SCALE}) // COUNT(*) AS v_micro
    FROM j WHERE setkey IS NOT NULL AND setkey != ''
    GROUP BY setkey
    """)
    v = dict(con.execute("SELECT setkey, v_micro FROM v_mat").fetchall())
    kfact = factorial(len(SHAPLEY_CHANNELS))
    phi_scaled = {ch: 0 for ch in SHAPLEY_CHANNELS}
    for ch, coef, k1, k0 in _shapley_terms():
        phi_scaled[ch] += coef * (v.get(k1, 0) - v.get(k0, 0))

    def round6(x: float) -> float:
        # Spark's ROUND(double, 6) = BigDecimal.valueOf(x) (shortest
        # decimal repr, which Python's repr matches) then HALF_UP —
        # NOT Python's round() (half-to-even), which disagrees on
        # exact .xxxxxx5 midpoints
        from decimal import ROUND_HALF_UP, Decimal

        return float(
            Decimal(repr(x)).quantize(
                Decimal("1e-6"), rounding=ROUND_HALF_UP
            )
        )

    expected = {
        ch: (ps, round6(ps / (kfact * _SHAP_SCALE)))
        for ch, ps in phi_scaled.items()
    }
    got = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            "SELECT channel, phi_scaled, phi FROM shap_out"
        ).fetchall()
    }
    replay_equal = got == expected
    full_key = ",".join(sorted(SHAPLEY_CHANNELS))
    conservation = sum(phi_scaled.values()) == kfact * v.get(full_key, 0)
    return {
        "cert_pass": bool(replay_equal and conservation),
        "method": "full staged replay (materialized v) + credit conservation",
        "checks": {
            "replay_equal": replay_equal,
            "credit_conservation": conservation,
            "n_coalitions_observed": len(v),
        },
        "spark_rows": n_rows,
    }


# ---------------------------------------------------------------------------
# ext_graph_pagerank — full staged replay from base tables


def cert_graph_pagerank(spark, con, sf_dir: str) -> dict:
    from streamingdemo_spark.extensions.graph import _ITERATIONS, _UNIT

    out_glob, n_rows = _spark_parquet(spark, "ext_graph_pagerank", sf_dir)
    con.execute(
        f"CREATE OR REPLACE VIEW pr_out AS "
        f"SELECT * FROM read_parquet('{out_glob}')"
    )
    con.execute("""
    CREATE OR REPLACE TEMP TABLE pr_edges AS
    WITH pairs AS (
      SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
    SELECT c AS src, s AS dst FROM pairs UNION ALL SELECT s, c FROM pairs
    """)
    con.execute(f"""
    CREATE OR REPLACE TEMP TABLE pr_base AS
    SELECT src AS node, COUNT(*) AS outdeg,
           CAST(15000000000 AS BIGINT)
             // (100 * (SELECT COUNT(DISTINCT src) FROM pr_edges)) AS b,
           CAST({_UNIT} AS BIGINT)
             // (SELECT COUNT(DISTINCT src) FROM pr_edges) AS r
    FROM pr_edges GROUP BY src
    """)
    for it in range(_ITERATIONS):
        con.execute(f"""
        CREATE OR REPLACE TEMP TABLE pr_next AS
        SELECT b.node, b.outdeg, b.b,
               b.b + (85 * COALESCE(s.s, 0)) // 100 AS r
        FROM pr_base b LEFT JOIN (
          SELECT e.dst AS node, CAST(SUM(r.r // r.outdeg) AS BIGINT) AS s
          FROM pr_edges e JOIN pr_base r ON e.src = r.node GROUP BY e.dst
        ) s ON b.node = s.node
        """)
        con.execute("DROP TABLE pr_base")
        con.execute("ALTER TABLE pr_next RENAME TO pr_base")
    mismatches = _one(con, """
    SELECT COUNT(*) FROM pr_base f
    FULL OUTER JOIN pr_out o ON f.node = o.node_id
    WHERE f.node IS NULL OR o.node_id IS NULL OR f.r <> o.rank_nano
       OR o.node_type <> CASE WHEN f.node % 2 = 0
                              THEN 'customer' ELSE 'supplier' END
    """)
    n_nodes = _one(con, "SELECT COUNT(*) FROM pr_base")
    return {
        "cert_pass": mismatches == 0 and n_rows == n_nodes,
        "method": "full staged replay from base tables "
                  "(materialized edges + per-iteration temp tables)",
        "checks": {
            "rank_mismatches": mismatches,
            "n_nodes": n_nodes,
            "n_edges": _one(con, "SELECT COUNT(*) FROM pr_edges"),
        },
        "spark_rows": n_rows,
    }


# ---------------------------------------------------------------------------
# ext_multimodal_phash_cluster — closure over the sf10-certified pairs


def cert_phash_cluster(spark, con, sf_dir: str) -> dict:
    pairs_glob, n_pairs = _spark_parquet(
        spark, "ext_multimodal_phash_dedup", sf_dir
    )
    out_glob, n_rows = _spark_parquet(
        spark, "ext_multimodal_phash_cluster", sf_dir
    )
    con.execute(
        f"CREATE OR REPLACE VIEW ph_pairs AS "
        f"SELECT * FROM read_parquet('{pairs_glob}')"
    )
    con.execute(
        f"CREATE OR REPLACE VIEW ph_out AS "
        f"SELECT * FROM read_parquet('{out_glob}')"
    )
    mismatches = _one(con, """
    WITH RECURSIVE
    edges AS (SELECT doc_a, doc_b FROM ph_pairs
              UNION ALL SELECT doc_b, doc_a FROM ph_pairs),
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
              FROM comp GROUP BY 1),
    expect AS (
      SELECT c.doc_id, c.canonical_id, s.cluster_size
      FROM comp c JOIN sizes s USING (canonical_id)
      WHERE s.cluster_size >= 2)
    SELECT COUNT(*) FROM expect e FULL OUTER JOIN ph_out o
      ON e.doc_id = o.doc_id
    WHERE e.doc_id IS NULL OR o.doc_id IS NULL
       OR e.canonical_id <> o.canonical_id
       OR e.cluster_size <> o.cluster_size
    """)
    return {
        "cert_pass": mismatches == 0,
        "method": "exact transitive closure over the pair list "
                  "(conditioned on ext_multimodal_phash_dedup's own "
                  "sf10 hash PASS)",
        "checks": {"closure_mismatches": mismatches, "n_pairs": n_pairs},
        "spark_rows": n_rows,
    }


# ---------------------------------------------------------------------------
# ext_dedup_embedding — full emitted-pair soundness + planted recall


def _emb_offset(con) -> int:
    """The key's data-derived mutant-id offset, replayed on the cert
    connection's own corpus (same integer ladder as the engine)."""
    from streamingdemo_spark.extensions.dedup import _emb_mutant_offset

    mx = con.execute("SELECT MAX(vec_id) FROM embeddings").fetchone()[0]
    return _emb_mutant_offset(int(mx))


def _emb_vecs_cte(ids_from: str, off: int) -> str:
    """Corpus-with-mutants reconstruction restricted to the ids
    referenced by ``ids_from`` — the mutant rule of the key's fixture
    (every 4th vector re-appears at +offset with dim 1 nudged; the
    offset is data-derived since r13, see _emb_mutant_offset)."""
    return f"""
    ids AS (SELECT DISTINCT id FROM {ids_from}),
    vecs AS (
      SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS emb
      FROM embeddings WHERE vec_id IN (SELECT id FROM ids)
      UNION ALL
      SELECT vec_id + {off},
             list_transform(CAST(embedding AS DOUBLE[]),
                            (v, i) -> CASE WHEN i = 1 THEN v + 0.05
                                           ELSE v END)
      FROM embeddings
      WHERE vec_id % 4 = 0
        AND vec_id + {off} IN (SELECT id FROM ids)
    )"""


def cert_dedup_embedding(spark, con, sf_dir: str) -> dict:
    out_glob, n_rows = _spark_parquet(spark, "ext_dedup_embedding", sf_dir)
    con.execute(
        f"CREATE OR REPLACE VIEW emb_out AS "
        f"SELECT * FROM read_parquet('{out_glob}')"
    )
    off = _emb_offset(con)
    unsound = _one(con, f"""
    WITH {_emb_vecs_cte(
        "(SELECT vec_a AS id FROM emb_out "
        "UNION ALL SELECT vec_b FROM emb_out)", off)}
    SELECT COUNT(*) FROM emb_out o
    JOIN vecs a ON a.id = o.vec_a JOIN vecs b ON b.id = o.vec_b
    WHERE ROUND(list_cosine_similarity(a.emb, b.emb), 4) <> o.cosine
       OR o.cosine < 0.99
    """)
    dangling = _one(con, f"""
    WITH {_emb_vecs_cte(
        "(SELECT vec_a AS id FROM emb_out "
        "UNION ALL SELECT vec_b FROM emb_out)", off)}
    SELECT COUNT(*) FROM emb_out o
    LEFT JOIN vecs a ON a.id = o.vec_a LEFT JOIN vecs b ON b.id = o.vec_b
    WHERE a.id IS NULL OR b.id IS NULL OR o.vec_a >= o.vec_b
    """)
    n_planted = _one(
        con, "SELECT COUNT(*) FROM embeddings WHERE vec_id % 4 = 0"
    )
    n_found = _one(con, f"""
    SELECT COUNT(*) FROM emb_out
    WHERE vec_a % 4 = 0 AND vec_b = vec_a + {off}
    """)
    recall = n_found / max(n_planted, 1)
    return {
        "cert_pass": unsound == 0 and dangling == 0 and recall >= 0.75,
        "method": "exact cosine re-verification of EVERY emitted pair "
                  "+ planted-mutant recall floor (0.75)",
        "checks": {
            "unsound_pairs": unsound,
            "dangling_or_misordered": dangling,
            "planted_recall": round(recall, 4),
        },
        "spark_rows": n_rows,
    }


# ---------------------------------------------------------------------------
# ext_semantic_decontam — exact projection of the certified pair list


def cert_semantic_decontam(spark, con, sf_dir: str) -> dict:
    from streamingdemo_spark.extensions.dedup import _split_of

    emb_glob, _ = _spark_parquet(spark, "ext_dedup_embedding", sf_dir)
    out_glob, n_rows = _spark_parquet(spark, "ext_semantic_decontam", sf_dir)
    con.execute(
        f"CREATE OR REPLACE VIEW sd_pairs AS "
        f"SELECT * FROM read_parquet('{emb_glob}')"
    )
    con.execute(
        f"CREATE OR REPLACE VIEW sd_out AS "
        f"SELECT * FROM read_parquet('{out_glob}')"
    )
    mismatches = _one(con, f"""
    WITH tagged AS (
      SELECT vec_a, vec_b, cosine,
             {_split_of('vec_a')} AS split_a,
             {_split_of('vec_b')} AS split_b
      FROM sd_pairs
    ),
    expect AS (
      SELECT CASE WHEN split_a = 'eval' THEN vec_a ELSE vec_b END AS eval_id,
             CASE WHEN split_a = 'eval' THEN vec_b ELSE vec_a END AS train_id,
             cosine
      FROM tagged WHERE split_a <> split_b
    )
    SELECT (SELECT COUNT(*) FROM (SELECT * FROM expect
                                  EXCEPT SELECT * FROM sd_out))
         + (SELECT COUNT(*) FROM (SELECT * FROM sd_out
                                  EXCEPT SELECT * FROM expect))
    """)
    return {
        "cert_pass": mismatches == 0,
        "method": "exact cross-split projection replay over the pair "
                  "list (conditioned on ext_dedup_embedding's "
                  "certificate above)",
        "checks": {"projection_mismatches": mismatches},
        "spark_rows": n_rows,
    }


# ---------------------------------------------------------------------------
# ext_dedup_ngram_jaccard — emitted-pair soundness + planted completeness


_NGRAM_FEAT = """
    feat AS (
      SELECT doc_id, lang, sh, toks[1] AS first_tok,
             CAST(FLOOR(len(toks) / 64.0) AS INT) AS len_bucket
      FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks,
                   list_distinct(list_transform(
                     range(1, greatest(len(string_split(text, ' ')) - 1, 1)
                              + 1),
                     i -> array_to_string(string_split(text, ' ')[i:i+1],
                                          ' '))) AS sh
            FROM corpus)
    )"""


def cert_dedup_ngram_jaccard(spark, con, sf_dir: str) -> dict:
    out_glob, n_rows = _spark_parquet(
        spark, "ext_dedup_ngram_jaccard", sf_dir
    )
    con.execute(
        f"CREATE OR REPLACE VIEW ng_out AS "
        f"SELECT * FROM read_parquet('{out_glob}')"
    )
    # soundness: every emitted pair re-verified (blocking + jaccard),
    # shingling only the docs that actually appear in the output
    unsound = _one(con, f"""
    WITH needed AS (
      SELECT DISTINCT id FROM (SELECT doc_a AS id FROM ng_out
                               UNION ALL SELECT doc_b FROM ng_out)),
    corpus AS (
      SELECT doc_id, lang, text FROM documents
      WHERE doc_id IN (SELECT id FROM needed)
      UNION ALL
      SELECT doc_id + 1000000, lang,
             array_to_string(list_filter(string_split(text, ' '),
                                         (t, i) -> i % 25 <> 0), ' ')
      FROM documents
      WHERE doc_id % 5 = 0 AND doc_id + 1000000 IN (SELECT id FROM needed)
    ),
    {_NGRAM_FEAT}
    SELECT COUNT(*) FROM ng_out o
    JOIN feat a ON a.doc_id = o.doc_a JOIN feat b ON b.doc_id = o.doc_b
    WHERE a.lang <> b.lang OR a.first_tok <> b.first_tok
       OR abs(a.len_bucket - b.len_bucket) > 1 OR o.doc_a >= o.doc_b
       OR ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
                4) <> o.jaccard
       OR o.jaccard < 0.4
    """)
    # planted completeness: every (doc, mutant) pair that satisfies the
    # block + threshold MUST be in the output — exact on this slice
    missing = _one(con, f"""
    WITH corpus AS (
      SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 1000000, lang,
             array_to_string(list_filter(string_split(text, ' '),
                                         (t, i) -> i % 25 <> 0), ' ')
      FROM documents WHERE doc_id % 5 = 0
    ),
    {_NGRAM_FEAT},
    planted AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM feat a JOIN feat b ON b.doc_id = a.doc_id + 1000000
      WHERE a.doc_id < 1000000
        AND a.lang = b.lang AND a.first_tok = b.first_tok
        AND abs(a.len_bucket - b.len_bucket) <= 1
        AND ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                  / (len(a.sh) + len(b.sh)
                     - len(list_intersect(a.sh, b.sh))), 4) >= 0.4
    )
    SELECT COUNT(*) FROM planted p
    LEFT JOIN ng_out o ON o.doc_a = p.doc_a AND o.doc_b = p.doc_b
    WHERE o.doc_a IS NULL
    """)
    return {
        "cert_pass": unsound == 0 and missing == 0,
        "method": "exact re-verification of EVERY emitted pair "
                  "(blocking + jaccard) + exact completeness on the "
                  "planted-mutant slice",
        "checks": {
            "unsound_pairs": unsound,
            "planted_missing": missing,
        },
        "spark_rows": n_rows,
    }


# ---------------------------------------------------------------------------
# ext_semdedup — assignment replay + dup soundness + sampled completeness


_SEM_SAMPLE = 48  # hash-ordered sample size for the quadratic checks


def cert_semdedup(spark, con, sf_dir: str) -> dict:
    from streamingdemo_spark.extensions.dedup import SEMDEDUP_TAU
    from streamingdemo_spark.extensions.similarity import _CENTROID_CTE

    num, den = SEMDEDUP_TAU
    out_glob, n_rows = _spark_parquet(spark, "ext_semdedup", sf_dir)
    con.execute(
        f"CREATE OR REPLACE VIEW sem_out AS "
        f"SELECT * FROM read_parquet('{out_glob}')"
    )
    # assignment replay for ALL vectors: O(n * k) distance folds
    con.execute(f"""
    CREATE OR REPLACE TEMP TABLE sem_asg AS
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
           FROM v CROSS JOIN cent)
    SELECT vec_id, qv, cl AS cell, d,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(generate_series(1, len(qv)),
                            i -> qv[i] * qv[i])),
             (a, b) -> a + b) AS nrm
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                    ORDER BY d, cl) AS rn FROM vd)
    WHERE rn = 1
    """)
    asg_mismatch = _one(con, """
    SELECT COUNT(*) FROM sem_out o FULL OUTER JOIN sem_asg a
      ON o.vec_id = a.vec_id
    WHERE o.vec_id IS NULL OR a.vec_id IS NULL OR o.cell <> a.cell
       OR o.dist2 <> ROUND(a.d, 6) + 0.0
    """)
    # dup soundness: the named dominator really dominates (same cell,
    # strictly higher keep-priority, integer-exact cosine over tau)
    g_expr = """list_reduce(list_prepend(CAST(0 AS BIGINT),
        list_transform(generate_series(1, len(a.qv)),
                       i -> a.qv[i] * b.qv[i])), (x, y) -> x + y)"""
    dup_unsound = _one(con, f"""
    SELECT COUNT(*) FROM sem_out o
    JOIN sem_asg a ON a.vec_id = o.vec_id
    JOIN sem_asg b ON b.vec_id = o.dup_of
    WHERE o.is_dup AND (
      a.cell <> b.cell
      OR NOT (b.d > a.d OR (b.d = a.d AND b.vec_id < a.vec_id))
      OR NOT ({g_expr} > 0
              AND {den * den} * {g_expr} * {g_expr}
                  > {num * num} * a.nrm * b.nrm)
    )
    """)
    flag_bad = _one(con, """
    SELECT COUNT(*) FROM sem_out
    WHERE is_dup <> (dup_of <> -1)
    """)
    # sampled quadratic checks (deterministic hash order)
    sample_where = (
        f"ORDER BY (vec_id * 2654435761) % 4294967296, vec_id "
        f"LIMIT {_SEM_SAMPLE}"
    )
    nondup_violations = _one(con, f"""
    WITH sample AS (
      SELECT vec_id FROM sem_out WHERE NOT is_dup {sample_where})
    SELECT COUNT(*) FROM sample s
    JOIN sem_asg a ON a.vec_id = s.vec_id
    JOIN sem_asg b ON b.cell = a.cell
     AND (b.d > a.d OR (b.d = a.d AND b.vec_id < a.vec_id))
    WHERE {g_expr} > 0
      AND {den * den} * {g_expr} * {g_expr} > {num * num} * a.nrm * b.nrm
    """)
    dup_not_first = _one(con, f"""
    WITH sample AS (
      SELECT vec_id, dup_of FROM sem_out WHERE is_dup {sample_where}),
    first_dom AS (
      SELECT s.vec_id, b.vec_id AS dom_id,
             ROW_NUMBER() OVER (PARTITION BY s.vec_id
                                ORDER BY b.d DESC, b.vec_id ASC) AS rn
      FROM sample s
      JOIN sem_asg a ON a.vec_id = s.vec_id
      JOIN sem_asg b ON b.cell = a.cell
       AND (b.d > a.d OR (b.d = a.d AND b.vec_id < a.vec_id))
      WHERE {g_expr} > 0
        AND {den * den} * {g_expr} * {g_expr} > {num * num} * a.nrm * b.nrm
    )
    SELECT COUNT(*) FROM sample s
    JOIN first_dom f ON f.vec_id = s.vec_id AND f.rn = 1
    WHERE f.dom_id <> s.dup_of
    """)
    ok = (
        asg_mismatch == 0 and dup_unsound == 0 and flag_bad == 0
        and nondup_violations == 0 and dup_not_first == 0
    )
    return {
        "cert_pass": ok,
        "method": "full assignment replay + full dup-dominator "
                  f"re-verification + {_SEM_SAMPLE}-vector hash-ordered "
                  "sample of the quadratic no-dominator / "
                  "first-dominator claims",
        "checks": {
            "assignment_mismatches": asg_mismatch,
            "dup_dominator_unsound": dup_unsound,
            "flag_inconsistent": flag_bad,
            "sampled_nondup_violations": nondup_violations,
            "sampled_dup_not_first_dominator": dup_not_first,
        },
        "spark_rows": n_rows,
    }


# pagerank first: its Spark side (117M-edge localCheckpoint) needs the
# JVM heap headroom a warmed-up DuckDB buffer pool would steal
# ---------------------------------------------------------------------------
# Slice certificates for the BOUNDED-by-design keys: full sf10
# execution is out of scope (output volume / deliberate all-pairs),
# but the kernel's correctness AT sf10 DATA SCALE is still checkable
# on a deterministic slice — the build side, plan shape, and
# arithmetic are the registered key's own machinery; only the probe
# or interval slice narrows.

_SLICE_MOD = 4096  # deterministic slice: key % 4096 == _SLICE_REM

# Rotated per round via --seed (recorded in each certificate): a FIXED
# probe slice would certify the same rows every round, so a defect
# outside the residue class could hide forever. The seed folds to a
# remainder; seed 0 reproduces the r11 certificates.
_SLICE_REM = 0


def cert_join_range_banded_slice(spark, con, sf_dir: str) -> dict:
    from streamingdemo_spark.plans.joins import _range_banded
    from streamingdemo_spark.registry import osum

    out = _range_banded(spark, sf_dir, mod=_SLICE_MOD, rem=_SLICE_REM)
    path = f"{WORK}/join_range_banded_slice"
    out.write.mode("overwrite").parquet(path)
    con.execute(
        f"CREATE OR REPLACE VIEW rb_out AS "
        f"SELECT * FROM read_parquet('{path}/*.parquet')"
    )
    mismatches = _one(con, f"""
    WITH expect AS (
      SELECT o.o_orderkey, COUNT(*) AS n_items,
             {osum("l.l_extendedprice")} AS week_price
      FROM orders o JOIN lineitem l
        ON l.l_shipdate >= o.o_orderdate
       AND l.l_shipdate < o.o_orderdate + INTERVAL 7 DAY
      WHERE o.o_orderkey % {_SLICE_MOD} = {_SLICE_REM}
      GROUP BY o.o_orderkey
    )
    SELECT COUNT(*) FROM expect e FULL OUTER JOIN rb_out r
      ON e.o_orderkey = r.o_orderkey
    WHERE e.o_orderkey IS NULL OR r.o_orderkey IS NULL
       OR e.n_items <> r.n_items OR e.week_price <> r.week_price
    """)
    n_rows = _one(con, "SELECT COUNT(*) FROM rb_out")
    return {
        "cert_pass": mismatches == 0 and n_rows > 0,
        "method": f"BOUNDED slice certificate: the banded+salted plan "
                  f"run at o_orderkey % {_SLICE_MOD} == "
                  f"{_SLICE_REM} over the FULL "
                  f"60M-row lineitem, exact count+cents compare vs "
                  f"DuckDB's interval join on the same slice",
        "checks": {"slice_mismatches": mismatches, "slice_rows": n_rows,
                   "slice_rem": _SLICE_REM},
        "spark_rows": n_rows,
    }


def _knn_slice_sql() -> str:
    return f"""
    WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings),
    p AS (SELECT * FROM c WHERE vec_id % {_SLICE_MOD} = {_SLICE_REM}),
    scored AS (
      SELECT p.vec_id, b.vec_id AS nbr_id,
             ROUND(list_cosine_similarity(p.emb, b.emb), 4) AS cosine
      FROM p JOIN c b ON p.vec_id <> b.vec_id
    ),
    knn AS (
      SELECT vec_id, nbr_id, cosine,
             CAST(ROW_NUMBER() OVER (PARTITION BY vec_id
                  ORDER BY cosine DESC, nbr_id ASC) AS INT) AS rank
      FROM scored
    )"""


def cert_sim_knn_join_slice(spark, con, sf_dir: str) -> dict:
    from streamingdemo_spark.extensions.similarity import ext_sim_knn_join

    out = ext_sim_knn_join(
        spark, sf_dir, probe_mod=_SLICE_MOD, probe_rem=_SLICE_REM
    )
    path = f"{WORK}/knn_slice"
    out.write.mode("overwrite").parquet(path)
    con.execute(
        f"CREATE OR REPLACE VIEW knn_out AS "
        f"SELECT * FROM read_parquet('{path}/*.parquet')"
    )
    mismatches = _one(con, f"""
    {_knn_slice_sql()}
    SELECT COUNT(*) FROM (SELECT * FROM knn WHERE rank <= 3) e
    FULL OUTER JOIN knn_out o
      ON e.vec_id = o.vec_id AND e.rank = o.rank
    WHERE e.vec_id IS NULL OR o.vec_id IS NULL
       OR e.nbr_id <> o.nbr_id OR e.cosine <> o.cosine
    """)
    n_rows = _one(con, "SELECT COUNT(*) FROM knn_out")
    return {
        "cert_pass": mismatches == 0 and n_rows > 0,
        "method": f"BOUNDED slice certificate: the registered "
                  f"blocked-GEMM kernel probing vec_id % "
                  f"{_SLICE_MOD} == {_SLICE_REM} "
                  f"against the FULL 200k-vector build side, exact "
                  f"top-3 compare vs DuckDB brute force",
        "checks": {"slice_mismatches": mismatches, "slice_rows": n_rows,
                   "slice_rem": _SLICE_REM},
        "spark_rows": n_rows,
    }


def cert_label_noise_knn_slice(spark, con, sf_dir: str) -> dict:
    from streamingdemo_spark.extensions.similarity import (
        ext_label_noise_knn,
    )

    out = ext_label_noise_knn(
        spark, sf_dir, probe_mod=_SLICE_MOD, probe_rem=_SLICE_REM
    )
    path = f"{WORK}/label_noise_slice"
    out.write.mode("overwrite").parquet(path)
    con.execute(
        f"CREATE OR REPLACE VIEW ln_out AS "
        f"SELECT * FROM read_parquet('{path}/*.parquet')"
    )
    mismatches = _one(con, f"""
    {_knn_slice_sql()},
    votes AS (
      SELECT k.vec_id,
             CAST(SUM(CASE WHEN nl.label = el.label THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_agree
      FROM (SELECT vec_id, nbr_id FROM knn WHERE rank <= 3) k
      JOIN embeddings el ON el.vec_id = k.vec_id
      JOIN embeddings nl ON nl.vec_id = k.nbr_id
      GROUP BY k.vec_id
    ),
    expect AS (
      SELECT e.vec_id, CAST(e.label AS INT) AS label, v.n_agree,
             (v.n_agree = 0) AS is_suspect
      FROM embeddings e JOIN votes v ON v.vec_id = e.vec_id
    )
    SELECT COUNT(*) FROM expect e FULL OUTER JOIN ln_out o
      ON e.vec_id = o.vec_id
    WHERE e.vec_id IS NULL OR o.vec_id IS NULL
       OR e.label <> o.label OR e.n_agree <> o.n_agree
       OR e.is_suspect <> o.is_suspect
    """)
    n_rows = _one(con, "SELECT COUNT(*) FROM ln_out")
    return {
        "cert_pass": mismatches == 0 and n_rows > 0,
        "method": f"BOUNDED slice certificate: the registered vote "
                  f"composition over the GEMM kernel's "
                  f"vec_id % {_SLICE_MOD} == {_SLICE_REM} "
                  f"probe slice, exact "
                  f"agreement-count compare vs DuckDB",
        "checks": {"slice_mismatches": mismatches, "slice_rows": n_rows,
                   "slice_rem": _SLICE_REM},
        "spark_rows": n_rows,
    }


def cert_label_noise_ann_slice(spark, con, sf_dir: str) -> dict:
    """Slice certificate for the PRODUCTION ANN label-noise key: the
    REGISTERED key runs in full (its per-bucket GEMM + margin-cut
    machinery untouched), and DuckDB recomputes the exact contract
    for the probe slice ``vec_id % 4096 == _SLICE_REM`` — all-corpus
    sketches and bucket cap (the index must be full), candidate
    scoring and vote only for slice queries. The r12 full replay
    completed at 1494 s with 65 GB of DuckDB spill and was one probe
    doubling away from starving the sweep; slicing the QUERY side
    commutes with the per-vector contract, so this bounds the
    verification cost at unchanged kernel coverage."""
    from streamingdemo_spark.extensions.similarity import (
        _label_noise_ann_oracle,
    )

    out_glob, n_rows = _spark_parquet(spark, "ext_label_noise_ann", sf_dir)
    con.execute(
        f"CREATE OR REPLACE VIEW ln_ann_out AS "
        f"SELECT * FROM read_parquet('{out_glob}')"
    )
    expected = _label_noise_ann_oracle(
        slice_mod=_SLICE_MOD, slice_rem=_SLICE_REM
    )
    mismatches = _one(con, f"""
    WITH expect AS ({expected})
    SELECT COUNT(*) FROM expect e
    FULL OUTER JOIN (SELECT * FROM ln_ann_out
                     WHERE vec_id % {_SLICE_MOD} = {_SLICE_REM}) o
      ON e.vec_id = o.vec_id
    WHERE e.vec_id IS NULL OR o.vec_id IS NULL
       OR e.label <> o.label OR e.n_agree <> o.n_agree
       OR e.n_nbrs <> o.n_nbrs OR e.is_suspect <> o.is_suspect
    """)
    slice_rows = _one(
        con,
        f"SELECT COUNT(*) FROM ln_ann_out "
        f"WHERE vec_id % {_SLICE_MOD} = {_SLICE_REM}",
    )
    return {
        "cert_pass": mismatches == 0 and slice_rows > 0 and n_rows > 0,
        "method": f"slice certificate: the REGISTERED per-bucket GEMM "
                  f"pipeline's full output, exact vote compare vs a "
                  f"DuckDB replay sliced to queries vec_id % "
                  f"{_SLICE_MOD} == {_SLICE_REM} (index side full)",
        "checks": {"slice_mismatches": mismatches,
                   "slice_rows": slice_rows,
                   "slice_rem": _SLICE_REM},
        "spark_rows": n_rows,
    }


CERTS = {
    "ext_graph_pagerank": cert_graph_pagerank,
    "ext_attribution_shapley": cert_attribution_shapley,
    "ext_multimodal_phash_cluster": cert_phash_cluster,
    "ext_dedup_embedding": cert_dedup_embedding,
    "ext_semantic_decontam": cert_semantic_decontam,
    "ext_dedup_ngram_jaccard": cert_dedup_ngram_jaccard,
    "ext_semdedup": cert_semdedup,
    "join_range_banded": cert_join_range_banded_slice,
    "ext_sim_knn_join": cert_sim_knn_join_slice,
    "ext_label_noise_knn": cert_label_noise_knn_slice,
    "ext_label_noise_ann": cert_label_noise_ann_slice,
}


def main() -> int:
    sf_dir = "/tmp/sim_sf10"
    only = None
    out_path = None
    args = sys.argv[1:]
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--keys":
            only = set(args[i + 1].split(","))
            i += 2
        elif a == "--out":
            out_path = args[i + 1]
            i += 2
        elif a == "--seed":
            # rotates the bounded-key probe slice (recorded in each
            # certificate); pass the round number so every round
            # certifies a fresh residue class
            global _SLICE_REM
            _SLICE_REM = int(args[i + 1]) % _SLICE_MOD
            i += 2
        else:
            sf_dir = a
            i += 1

    from streamingdemo_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    Path(WORK).mkdir(exist_ok=True)

    results: dict[str, dict] = {}
    n_ok = 0
    for key, fn in CERTS.items():
        if only and key not in only:
            continue
        t0 = time.time()
        # fresh connection per key (the sweep's shard isolation): a
        # warmed buffer pool from an earlier cert otherwise competes
        # with the Spark JVM heap inside this one process
        con = duckdb.connect()
        con.execute(
            "SET threads TO 16; SET memory_limit='24GB'; "
            "SET temp_directory='/tmp/duck_cert_tmp'"
        )
        _register(con, sf_dir)
        try:
            rec = fn(spark, con, sf_dir)
        except Exception as ex:  # cert itself failing is a loud FAIL
            rec = {
                "cert_pass": False,
                "method": "cert raised",
                "checks": {"error": f"{type(ex).__name__}: {ex}"[:400]},
            }
        finally:
            con.close()
        rec["sec"] = round(time.time() - t0, 3)
        results[key] = rec
        n_ok += bool(rec["cert_pass"])
        print(
            f"{rec['sec']:8.2f}s  "
            f"{'CERT-PASS' if rec['cert_pass'] else 'CERT-FAIL'}  {key}",
            flush=True,
        )
        if out_path:
            tmp = Path(out_path).with_suffix(".tmp")
            tmp.write_text(json.dumps(results, indent=1))
            tmp.replace(out_path)

    print(f"\n{len(results)} certs: {n_ok} pass, {len(results) - n_ok} fail")
    shutil.rmtree(WORK, ignore_errors=True)
    if only:
        unknown = only - set(CERTS)
        if unknown:
            # a typo'd --keys must not read as a green cert stage
            print(f"ERROR: no certificate registered for: {sorted(unknown)}")
            return 1
    return 0 if results and n_ok == len(results) else 1


if __name__ == "__main__":
    raise SystemExit(main())
