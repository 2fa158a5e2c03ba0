"""Extension-layer quality assertions (SURVEY §2.F): the planted
near-duplicates must actually be recovered, ANN recall must be
reasonable against the exact top-k, text metrics must satisfy their
invariants."""

from __future__ import annotations

import pyspark.sql.functions as F

from streamingdemo_spark.extensions.dedup import MUTANT_OFFSET
from streamingdemo_spark.registry import QUERIES


def _planted_recall(df, id_a: str, id_b: str) -> tuple[int, int]:
    rows = df.collect()
    planted = [r for r in rows if r[id_b] - r[id_a] == MUTANT_OFFSET]
    return len(planted), len(rows)


def _union_find_labels(edges) -> dict:
    """Driver-side reference for min_label_components: node -> the
    minimum node of its component (path-halving union-find)."""
    parent = {v: v for e in edges for v in e}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    low: dict = {}
    for v in parent:
        root = find(v)
        low[root] = min(low.get(root, v), v)
    return {v: low[find(v)] for v in parent}


class TestDedup:
    def test_exact_dedup_finds_duplicated_round(self, spark, sf_dir):
        out = QUERIES["ext_dedup_exact"](spark, sf_dir)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        n_docs = docs.count()
        n_dup_round = docs.filter(F.col("doc_id") % 5 == 0).count()
        n_distinct = docs.select(
            F.lower(F.trim("text"))
        ).distinct().count()
        # one group per distinct NORMALIZED text (== n_docs only while
        # the corpus has no natural exact dups; sf0.1 has 8)
        assert out.count() == n_distinct
        assert n_distinct <= n_docs
        # every planted round-dup doc contributes a multi-copy group
        assert out.filter(F.col("n_copies") >= 2).count() >= n_dup_round

    def test_minhash_recovers_planted_mutants(self, spark, sf_dir):
        planted, total = _planted_recall(
            QUERIES["ext_dedup_minhash"](spark, sf_dir), "doc_a", "doc_b"
        )
        n_mutants = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .filter(F.col("doc_id") % 5 == 0)
            .count()
        )
        assert planted / n_mutants > 0.6  # LSH recall × jaccard cutoff

    def test_dedup_eval_reports_tight_banding(self, spark, sf_dir):
        """The banding evaluator must show the 4x3 LSH configuration is
        actually good on the fixture slice: high recall (the params
        target jaccard 0.85 at ~0.98 candidate probability) and
        non-degenerate precision (bucket join is not spraying
        candidates)."""
        row = QUERIES["ext_dedup_eval"](spark, sf_dir).collect()[0]
        assert row["n_truth"] > 0
        assert row["recall"] >= 0.9
        assert row["precision"] >= 0.5

    def test_minhash_family_takes_docs_too_short_to_shingle(self, spark, tmp_path):
        """A doc with fewer than 3 tokens, or a NULL text, has no
        shingle: the oracle's out-of-range list index is NULL and
        ``list_distinct`` drops it, so the doc gets no band rows. Both
        MinHash keys must give their oracle's rows on such a corpus
        (an ANSI out-of-range ``element_at`` used to fail the job)."""
        import random

        import duckdb
        import pyarrow as pa
        import pyarrow.parquet as pq
        from tests.oracle_compare import duck_rows, spark_rows

        from streamingdemo_spark.registry import ORACLES

        rng = random.Random(3)
        words = [f"w{i}" for i in range(12)]
        texts = [" ".join(rng.choice(words) for _ in range(60)) for _ in range(20)]
        texts += ["a b", "a", "", " ", None, "a  b", "x y "]
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(range(len(texts)), pa.int64()),
                    "text": pa.array(texts, pa.string()),
                    "lang": ["en"] * len(texts),
                    "source": ["src0"] * len(texts),
                    "n_chars": [len(t or "") for t in texts],
                }
            ),
            tmp_path / "documents.parquet",
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{tmp_path / 'documents.parquet'}')"
        )
        for key in ("ext_dedup_minhash", "ext_dedup_eval"):
            got = spark_rows(QUERIES[key](spark, str(tmp_path)))
            assert got == duck_rows(con, ORACLES[key]), key
            assert got[1], key

    def test_simhash_recovers_planted_mutants(self, spark, sf_dir):
        planted, _ = _planted_recall(
            QUERIES["ext_dedup_simhash"](spark, sf_dir), "doc_a", "doc_b"
        )
        assert planted > 0

    def test_simhash_two_sided_band_recovers_boundary_straddlers(
        self, spark, sf_dir
    ):
        """A planted pair whose original and ~4%-shrunk mutant land in
        ADJACENT floor(len/64) buckets must still be recovered whenever
        its signatures qualify (hamming <= 3 and >= 1 equal 10-bit
        chunk) — exactly the class the r11 one-sided band silently
        dropped. Signatures are recomputed in DuckDB (independent
        engine) from the same portable hash convention."""
        import duckdb

        from streamingdemo_spark.extensions.dedup import (
            _SH_BITS,
            _SH_CHUNK_BITS,
            _SH_CHUNKS,
        )

        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf_dir}/documents.parquet')"
        )
        votes = ", ".join(
            f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
            for b in range(_SH_BITS)
        )
        sig = " + ".join(
            f"CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END"
            for b in range(_SH_BITS)
        )
        mask = (1 << _SH_CHUNK_BITS) - 1
        chunk_eq = " OR ".join(
            f"((sig_o >> {_SH_CHUNK_BITS * c}) & {mask}) = "
            f"((sig_m >> {_SH_CHUNK_BITS * c}) & {mask})"
            for c in range(_SH_CHUNKS)
        )
        must = con.execute(f"""
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
        sigs AS (
          SELECT doc_id, {sig} AS sig FROM (
            SELECT doc_id, {votes}
            FROM tokocc o JOIN th USING (tok) GROUP BY doc_id)
        ),
        lens AS (
          SELECT doc_id, len(toks) // 64 AS lb FROM toklist
        )
        SELECT o.doc_id
        FROM sigs o JOIN sigs m ON m.doc_id = o.doc_id + 1000000
        JOIN lens lo ON lo.doc_id = o.doc_id
        JOIN lens lm ON lm.doc_id = m.doc_id
        WHERE abs(lo.lb - lm.lb) = 1
          AND bit_count(xor(o.sig, m.sig)) <= 3
          AND ({chunk_eq.replace('sig_o', 'o.sig').replace('sig_m', 'm.sig')})
        """).fetchall()
        out = {
            (r["doc_a"], r["doc_b"])
            for r in QUERIES["ext_dedup_simhash"](spark, sf_dir).collect()
        }
        missing = [
            d for (d,) in must if (d, d + 1000000) not in out
        ]
        assert not missing, f"boundary straddlers dropped: {missing}"

        # The fixture sf may plant no QUALIFYING straddler (sf0.001
        # has none) — a crafted corpus makes the check non-vacuous:
        # 65 copies of one token per doc → the mutant (63 copies,
        # 65//64=1 vs 63//64=0) straddles the boundary with an
        # IDENTICAL signature, so the two-sided band is the only
        # thing standing between it and a silent drop.
        import os
        import tempfile

        tmp = tempfile.mkdtemp(prefix="simhash_straddle_")
        spark.createDataFrame(
            [(d, "en", " ".join([f"tok{d}"] * 65)) for d in range(10)],
            "doc_id long, lang string, text string",
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(tmp, "documents.parquet")
        )
        out2 = {
            (r["doc_a"], r["doc_b"])
            for r in QUERIES["ext_dedup_simhash"](spark, tmp).collect()
        }
        for d in (0, 5):  # the planted straddler pairs
            assert (d, d + 1000000) in out2, (d, sorted(out2))
        # the ngram-jaccard key shares the blocking discipline and got
        # the same two-sided band in r12 — identical straddler corpus,
        # jaccard 1.0 (one distinct 2-gram per doc), must be emitted
        out3 = {
            (r["doc_a"], r["doc_b"])
            for r in QUERIES["ext_dedup_ngram_jaccard"](
                spark, tmp
            ).collect()
        }
        for d in (0, 5):
            assert (d, d + 1000000) in out3, (d, sorted(out3))

    def test_containment_recovers_planted_mutants(self, spark, sf_dir):
        """A mutant keeps ~24/25 of its source's shingles, so the
        planted (doc, doc+offset) pairs must clear the 0.5 containment
        cut for most eligible docs (the df-cap can drop a few whose
        shingles are all common)."""
        planted, _ = _planted_recall(
            QUERIES["ext_dedup_containment"](spark, sf_dir), "doc_a", "doc_b"
        )
        n_mutants = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .filter(F.col("doc_id") % 5 == 0)
            .count()
        )
        assert planted / n_mutants > 0.6

    def test_ngram_jaccard_recovers_planted_mutants(self, spark, sf_dir):
        planted, _ = _planted_recall(
            QUERIES["ext_dedup_ngram_jaccard"](spark, sf_dir), "doc_a", "doc_b"
        )
        n_mutants = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .filter(F.col("doc_id") % 5 == 0)
            .count()
        )
        assert planted / n_mutants > 0.6

    def test_embedding_dedup_finds_nudged_vectors(self, spark, sf_dir):
        out = QUERIES["ext_dedup_embedding"](spark, sf_dir)
        planted, total = _planted_recall(out, "vec_a", "vec_b")
        n_mutants = (
            spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .filter(F.col("vec_id") % 4 == 0)
            .count()
        )
        # either-of-two-bands sign-LSH recall with over-cap refinement:
        # .975 theoretical at bits=12, 0.9497 measured at the sf10
        # crowded-replica fixture — floor raised from 0.5 in r12 when
        # refinement replaced the drop-whole cap
        assert planted / n_mutants > 0.75
        # near-dup cosine of the nudge is ~0.999: verify scores are high
        assert out.agg(F.min("cosine")).collect()[0][0] >= 0.99


class TestSimilarity:
    def test_ann_recall_against_exact(self, spark, sf_dir):
        exact = QUERIES["ext_sim_cosine_topk"](spark, sf_dir).collect()
        approx = QUERIES["ext_sim_ann_lsh"](spark, sf_dir).collect()
        exact_pairs = {(r["q_id"], r["vec_id"]) for r in exact}
        approx_pairs = {(r["q_id"], r["vec_id"]) for r in approx}
        recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
        # random embeddings have no strong neighbors, so sign-LSH recall
        # is modest by construction; it must still beat random chance
        # (top-5 of N corpus vectors ~ 5/N < 1%)
        assert recall > 0.05
        # every approx result must carry a correct exact cosine score
        exact_scores = {(r["q_id"], r["vec_id"]): r["cosine"] for r in exact}
        for r in approx:
            k = (r["q_id"], r["vec_id"])
            if k in exact_scores:
                assert abs(exact_scores[k] - r["cosine"]) < 1e-6

    def test_knn_join_agrees_with_exact_topk(self, spark, sf_dir):
        """The kNN self-join restricted to the 8 query vectors must equal
        the brute-force top-k's first 3 ranks — same math, different
        physical plan (blocked GEMM vs broadcast crossJoin)."""
        knn = {
            (r["vec_id"], r["rank"]): (r["nbr_id"], r["cosine"])
            for r in QUERIES["ext_sim_knn_join"](spark, sf_dir)
            .filter(F.col("vec_id") < 8)
            .collect()
        }
        topk = {
            (r["q_id"], r["rank"]): (r["vec_id"], r["cosine"])
            for r in QUERIES["ext_sim_cosine_topk"](spark, sf_dir)
            .filter(F.col("rank") <= 3)
            .collect()
        }
        assert knn == topk

    def test_knn_join_covers_every_vector(self, spark, sf_dir):
        out = QUERIES["ext_sim_knn_join"](spark, sf_dir)
        n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
        assert out.count() == 3 * n
        assert out.filter(F.col("vec_id") == F.col("nbr_id")).count() == 0

    def test_knn_join_tiled_equals_single_tile(self, spark, sf_dir):
        """Splitting the build side into many broadcast tiles
        (tile_rows=64 → ~8 tiles on the fixture) must reproduce the
        single-tile result exactly — the per-tile margin cut keeps a
        superset of the global top-k-with-ties, and the final window
        re-ranks the union identically."""
        from streamingdemo_spark.extensions.similarity import ext_sim_knn_join

        single = {
            (r["vec_id"], r["rank"]): (r["nbr_id"], r["cosine"])
            for r in ext_sim_knn_join(spark, sf_dir).collect()
        }
        tiled = {
            (r["vec_id"], r["rank"]): (r["nbr_id"], r["cosine"])
            for r in ext_sim_knn_join(spark, sf_dir, tile_rows=64).collect()
        }
        assert tiled == single

    def test_knn_join_probe_chunked_equals_whole_batch(
        self, spark, sf_dir, monkeypatch
    ):
        """Shrinking the per-worker score-matrix bound until every Arrow
        batch splits into many probe chunks must reproduce the
        whole-batch result exactly — the chunk loop slices rows of the
        same GEMM, it never changes any per-row dot product. (This is
        the sf10 OOM fix: a full 10k-row batch against a 200k-vector
        tile was a 16 GB resident score matrix per worker.)"""
        from streamingdemo_spark.extensions import similarity

        whole = {
            (r["vec_id"], r["rank"]): (r["nbr_id"], r["cosine"])
            for r in similarity.ext_sim_knn_join(spark, sf_dir).collect()
        }
        # ~500 fixture vectors → chunk = max(16, 800//500) = 16 rows
        monkeypatch.setattr(similarity, "_KNN_SCORE_ELEMS", 800)
        chunked = {
            (r["vec_id"], r["rank"]): (r["nbr_id"], r["cosine"])
            for r in similarity.ext_sim_knn_join(spark, sf_dir).collect()
        }
        assert chunked == whole

    def test_knn_join_restages_a_rewritten_fixture(
        self, spark, sf_dir, tmp_path
    ):
        """Rewriting ``embeddings.parquet`` in place must re-stage the
        build tiles: the next call equals a run on a fresh copy of the
        new table, never the new probe side against the old tiles."""
        import pyarrow.parquet as pq

        from streamingdemo_spark.extensions.similarity import ext_sim_knn_join

        def knn(d):
            return sorted(tuple(r) for r in ext_sim_knn_join(spark, str(d)).collect())

        table = pq.read_table(f"{sf_dir}/embeddings.parquet")
        live, fresh = tmp_path / "live", tmp_path / "fresh"
        live.mkdir()
        fresh.mkdir()
        pq.write_table(table, live / "embeddings.parquet")
        before = knn(live)
        half = table.slice(0, table.num_rows // 2)
        for d in (live, fresh):
            pq.write_table(half, d / "embeddings.parquet")
        after = knn(live)
        assert after != before
        assert after == knn(fresh)

    def test_exact_topk_shape(self, spark, sf_dir):
        out = QUERIES["ext_sim_cosine_topk"](spark, sf_dir)
        per_q = out.groupBy("q_id").count().collect()
        assert all(r["count"] == 5 for r in per_q)
        assert out.filter(F.abs(F.col("cosine")) > 1.0001).count() == 0


class TestText:
    def test_langid_predicts_every_heldout_doc(self, spark, sf_dir):
        out = QUERIES["ext_text_langid"](spark, sf_dir)
        assert out.filter(F.col("pred_lang").isNull()).count() == 0

    def test_tfidf_top_terms_positive(self, spark, sf_dir):
        out = QUERIES["ext_text_tfidf"](spark, sf_dir)
        assert out.filter(F.col("tfidf") <= 0).count() == 0
        per_doc = out.groupBy("doc_id").count().collect()
        assert all(r["count"] <= 3 for r in per_doc)

    def test_fingerprint_is_stable(self, spark, sf_dir):
        a = {
            (r["doc_id"], r["fingerprint"])
            for r in QUERIES["ext_text_fingerprint"](spark, sf_dir).collect()
        }
        b = {
            (r["doc_id"], r["fingerprint"])
            for r in QUERIES["ext_text_fingerprint"](spark, sf_dir).collect()
        }
        assert a == b


class TestMultimodal:
    def test_decode_roundtrips_payload_metadata(self, spark, sf_dir):
        out = QUERIES["ext_multimodal_decode"](spark, sf_dir)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        joined = out.join(docs, "doc_id")
        # payload body is the utf-8 text: decoded byte length must match
        mismatch = joined.filter(
            F.col("n_bytes") != F.length(F.col("text"))
        ).count()
        assert mismatch == 0
        assert out.filter((F.col("width") < 1) | (F.col("height") < 1)).count() == 0

    def test_decode_capability_dispatch(self):
        """Decode must take the real-codec path when PIL is installed
        and fail honestly (not silently) when it isn't — the fake
        fixture header decodes in both environments."""
        from streamingdemo_spark.extensions.multimodal import (
            _MAGIC,
            _decode_one,
            _pil_available,
        )

        fake = _MAGIC + b"000004" + b"000002" + b"bytes!"
        rec = _decode_one(fake)
        assert (rec["width"], rec["height"], rec["n_bytes"]) == (4, 2, 6)

        if _pil_available():
            import io

            from PIL import Image

            buf = io.BytesIO()
            Image.new("RGB", (7, 5), color=(10, 20, 30)).save(buf, "PNG")
            rec = _decode_one(buf.getvalue())
            assert (rec["width"], rec["height"]) == (7, 5)
            assert rec["n_bytes"] == len(buf.getvalue())
        else:
            import pytest as _pytest

            with _pytest.raises(NotImplementedError):
                _decode_one(b"\x89PNG\r\n\x1a\nnot-really-a-png")

    def test_framesample_covers_every_doc(self, spark, sf_dir):
        out = QUERIES["ext_multimodal_framesample"](spark, sf_dir)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        assert out.select("doc_id").distinct().count() == docs.count()
        assert out.filter(F.col("frame_no") % 4 != 0).count() == 0


class TestPipelineOps:
    def test_dedup_cluster_elects_source_as_canonical(self, spark, sf_dir):
        out = QUERIES["ext_dedup_cluster"](spark, sf_dir).collect()
        assert len(out) > 0
        mutants = [r for r in out if r["doc_id"] >= MUTANT_OFFSET]
        assert mutants, "no mutant rows clustered"
        good = sum(
            1 for r in mutants if r["canonical_id"] == r["doc_id"] - MUTANT_OFFSET
        )
        assert good / len(mutants) > 0.9
        # canonical must be the component minimum: never larger than member
        assert all(r["canonical_id"] <= r["doc_id"] for r in out)

    def test_cluster_merges_chain_beyond_fixed_rounds(self, spark, sf_dir):
        """A 10-node chain (0-1, 1-2, …, 8-9; diameter 9) exceeds the
        reach of the old fixed 2-round pointer-doubling (diameter ≤ 6),
        which silently split it; the probed-fixpoint loop must merge it
        into one component labeled by the minimum node."""
        from streamingdemo_spark.extensions.dedup import min_label_components

        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(9)] + [(i + 1, i) for i in range(9)],
            "doc_a long, doc_b long",
        )
        labels = {r["doc_id"]: r["label"] for r in min_label_components(chain).collect()}
        assert labels == {i: 0 for i in range(10)}

    def test_cluster_matches_union_find_on_random_graphs(self, spark, sf_dir):
        """min_label_components must equal a driver-side union-find on
        seeded random graphs covering rings, stars, chains and forests
        — shapes with diameters the fixpoint loop must actually probe."""
        import random

        from streamingdemo_spark.extensions.dedup import min_label_components

        rng = random.Random(20260813)
        graphs = [
            [(i, (i + 1) % 12) for i in range(12)],          # ring, diam 6
            [(0, i) for i in range(1, 9)],                    # star
            [(i, i + 1) for i in range(15)],                  # chain, diam 15
            [(rng.randrange(40), rng.randrange(40)) for _ in range(30)],
        ]
        for edges in graphs:
            edges = [(a, b) for a, b in edges if a != b]
            undirected = edges + [(b, a) for a, b in edges]
            df = spark.createDataFrame(undirected, "doc_a long, doc_b long")
            got = {
                r["doc_id"]: r["label"]
                for r in min_label_components(df).collect()
            }
            assert got == _union_find_labels(edges), f"edges={edges}"

    def test_cluster_survives_an_observation_that_never_fires(
        self, spark, sf_dir, monkeypatch
    ):
        """The per-round fixpoint probe rides the checkpoint job as an
        Observation. If its metric never arrives, the loop must fall
        back to an explicit sum after a bounded wait and still return
        the union-find labels, not block forever in ``obs.get``."""
        import threading

        import pyspark.sql
        from pyspark.sql import Observation

        from streamingdemo_spark.extensions import dedup

        class NeverFires(Observation):
            # a real JVM Observation that is never attached to a plan
            def _on(self, df, *exprs):
                self._jvm = df._sc._jvm
                self._jo = self._jvm.org.apache.spark.sql.Observation()
                return df

        monkeypatch.setattr(pyspark.sql, "Observation", NeverFires)
        monkeypatch.setattr(dedup, "_OBSERVATION_WAIT_S", 0.2, raising=False)
        edges = [(i, i + 1) for i in range(9)] + [(20, 21), (21, 22)]
        df = spark.createDataFrame(
            edges + [(b, a) for a, b in edges], "doc_a long, doc_b long"
        )
        got: dict = {}

        def run():
            got.update(
                (r["doc_id"], r["label"])
                for r in dedup.min_label_components(df).collect()
            )

        worker = threading.Thread(target=run, daemon=True)
        worker.start()
        worker.join(timeout=180)  # watchdog: the loop must not hang
        assert not worker.is_alive(), "blocked on an Observation"
        assert got == _union_find_labels(edges)

    def test_cluster_string_ids_use_join_probe_fallback(self, spark, sf_dir):
        """r13-opt: the fixpoint probe is an exact monotonic label-sum
        scan for NUMERIC ids; non-numeric ids must fall back to the
        join probe and still converge to the component minimum (chain
        shape, so a broken probe under-merges or never exits)."""
        from streamingdemo_spark.extensions.dedup import min_label_components

        ids = [f"d{i:02d}" for i in range(10)]
        chain = spark.createDataFrame(
            [(ids[i], ids[i + 1]) for i in range(9)]
            + [(ids[i + 1], ids[i]) for i in range(9)],
            "doc_a string, doc_b string",
        )
        labels = {
            r["doc_id"]: r["label"]
            for r in min_label_components(chain).collect()
        }
        assert labels == {i: "d00" for i in ids}

    def test_cluster_raises_when_rounds_exhausted(self, spark, sf_dir):
        """With max_rounds too low for the diameter, the loop must fail
        loudly instead of returning under-merged components."""
        import pytest as _pytest

        from streamingdemo_spark.extensions.dedup import min_label_components

        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(9)] + [(i + 1, i) for i in range(9)],
            "doc_a long, doc_b long",
        )
        with _pytest.raises(RuntimeError, match="did not converge"):
            min_label_components(chain, max_rounds=1)

    def test_quantize_error_bounded_by_half_step(self, spark, sf_dir):
        """Int8 quantization MAE can't exceed half a quantization step
        ((vmax - vmin)/255/2) per vector, and the range must be sane."""
        out = QUERIES["ext_embedding_quantize"](spark, sf_dir).collect()
        assert len(out) > 0
        for r in out:
            assert r["vmax"] > r["vmin"]
            half_step = (r["vmax"] - r["vmin"]) / 255.0 / 2.0
            assert 0 <= r["mae"] <= half_step + 1e-9, r

    def test_contamination_flags_only_corpus_docs(self, spark, sf_dir):
        """Contaminated rows must be non-benchmark docs with >= 1 leaked
        shingle, and every near-dup mutant of a benchmark doc must be
        flagged — lightly-edited benchmark leaks are the realistic case
        the shingle check exists for."""
        out = QUERIES["ext_contamination_check"](spark, sf_dir).collect()
        assert len(out) > 0
        for r in out:
            assert not (r["doc_id"] % 97 == 0 and r["doc_id"] < MUTANT_OFFSET)
            assert r["n_hits"] >= 1 and r["n_bench_docs"] >= 1
        flagged = {r["doc_id"] for r in out}
        # mutants exist for every 5th doc; benchmark docs are every 97th
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        bench_mutants = {
            r["doc_id"] + MUTANT_OFFSET
            for r in docs.select("doc_id").collect()
            if r["doc_id"] % 97 == 0 and r["doc_id"] % 5 == 0
        }
        assert bench_mutants, "fixture must contain mutated benchmark docs"
        assert bench_mutants <= flagged

    def test_stratified_sample_respects_fractions(self, spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        totals = {r["lang"]: r["n"] for r in
                  docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
        out = {r["lang"]: r["n_sampled"] for r in
               QUERIES["ext_sample_stratified"](spark, sf_dir).collect()}
        assert out.get("en") == totals["en"]  # fraction 1.0 keeps all
        for lang, frac in [("es", 0.5), ("zh", 0.5), ("de", 0.25), ("fr", 0.25)]:
            if lang in out:
                ratio = out[lang] / totals[lang]
                assert abs(ratio - frac) < 0.2, (lang, ratio)

    def test_cross_source_dedup_prefers_original_over_mirror(self, spark, sf_dir):
        """Every planted mirror copy must lose the election to its
        original (prio 0 beats prio 1), so no survivor is ever from
        the mirror source and every doc with a mirror shows 2 copies
        from 2 sources."""
        out = QUERIES["ext_dedup_cross_source"](spark, sf_dir)
        assert out.filter(F.col("keep_source") == "mirror").count() == 0
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        n_mirrored = docs.filter(F.col("doc_id") % 6 == 0).count()
        # larger fixtures contain NATURAL cross-source exact dups on
        # top of the planted mirrors (sf0.1 has 6), so planted is the
        # floor, not the total
        n_two_by_two = out.filter(
            (F.col("n_copies") == 2) & (F.col("n_sources") == 2)
        ).count()
        assert n_mirrored <= n_two_by_two <= n_mirrored + 10

    def test_quality_score_threshold_consistent(self, spark, sf_dir):
        rows = QUERIES["ext_quality_score"](spark, sf_dir).collect()
        # rounded score and keep flag must agree up to rounding width
        for r in rows:
            if r["keep"]:
                assert r["quality_score"] >= 1.5 - 5e-5
            else:
                assert r["quality_score"] < 1.5 + 5e-5
        assert 0 < sum(r["keep"] for r in rows) < len(rows)

    def test_chunking_covers_every_token_with_overlap(self, spark, sf_dir):
        """Chunks on a 24-stride with 32-token windows: per doc, chunk
        token counts must sum to n_tokens + 8·(n_chunks − 1) (every
        non-final chunk re-covers 8 tokens), and chunk_no must be a
        dense 0..n_chunks−1 sequence."""
        out = QUERIES["ext_doc_chunking"](spark, sf_dir)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", F.size(F.split("text", " ")).alias("n_tok")
        )
        per_doc = (
            out.groupBy("doc_id")
            .agg(
                F.sum("n_chunk_tokens").alias("tok_sum"),
                F.count(F.lit(1)).alias("n_chunks"),
                F.max("chunk_no").alias("max_no"),
            )
            .join(docs, "doc_id")
        )
        bad = per_doc.filter(
            # full coverage: overlapped token total is >= n_tok, and the
            # overlap is at most 8 per non-final chunk (the final chunk
            # may be short and overlap less)
            (F.col("tok_sum") < F.col("n_tok"))
            | (F.col("tok_sum") > F.col("n_tok") + 8 * (F.col("n_chunks") - 1))
            | (F.col("max_no") != F.col("n_chunks") - 1)
            | (F.col("n_chunks") != F.ceil(F.col("n_tok") / 24))
        ).count()
        assert bad == 0

    def test_vocab_coverage_is_monotone_to_one(self, spark, sf_dir):
        rows = sorted(
            QUERIES["ext_vocab_coverage"](spark, sf_dir).collect(),
            key=lambda r: r["rank"],
        )
        cov = [r["cum_coverage"] for r in rows]
        assert all(a <= b for a, b in zip(cov, cov[1:]))  # monotone
        assert cov[-1] <= 1.0 + 1e-9
        ns = [r["n"] for r in rows]
        assert all(a >= b for a, b in zip(ns, ns[1:]))  # freq-sorted

    def test_curation_pipeline_dedups_and_partitions(self, spark, sf_dir):
        """The composed pipeline must (a) assign every survivor to
        exactly one split, and (b) emit fewer docs than the
        dup-augmented corpus but at least the filtered base corpus's
        survivor floor — i.e. the dedup stage provably removed the
        planted exact duplicates."""
        out = QUERIES["ext_curation_pipeline"](spark, sf_dir).collect()
        n_out = sum(r["n_docs"] for r in out)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        n_docs = docs.count()
        n_dups = docs.filter(F.col("doc_id") % 7 == 0).count()
        assert n_out <= n_docs          # every planted dup was removed
        assert n_out + n_dups > n_docs * 0.5  # filter keeps a real share
        assert {r["split"] for r in out} <= {"train", "valid", "test"}

    def test_train_mix_is_deterministic_and_partitions(self, spark, sf_dir):
        a = sorted(map(tuple, QUERIES["ext_train_mix"](spark, sf_dir).collect()))
        b = sorted(map(tuple, QUERIES["ext_train_mix"](spark, sf_dir).collect()))
        assert a == b  # pure function of the key: identical across runs
        n_total = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
        assert sum(r[2] for r in a) == n_total  # partition, not sample


class TestIVF:
    def test_ivf_recall_and_scores(self, spark, sf_dir):
        """The key now emits the accuracy-contract summary (one row
        per query: result count + macro-recall flag vs the exact
        cosine top-k); assert every query returned a full k and the
        macro recall gate held — recall >= 0.30 with ~0.55-0.65
        measured, well above the ~0.25 random-probe baseline of
        nprobe=4/16 cells."""
        ivf = QUERIES["ext_sim_ivf_topk"](spark, sf_dir).collect()
        assert len(ivf) == 8
        assert all(r["n_results"] == 5 for r in ivf)
        assert all(r["recall_ok"] for r in ivf)


def test_hll_mergeable_accuracy(spark, sf_dir):
    """The sketch union's estimate must sit within HLL lgK=14 error
    (<1% at this cardinality — use 5% slack) of the exact distinct
    count, per group AND after the merge."""
    from pyspark.sql import functions as F

    from streamingdemo_spark.registry import QUERIES

    rows = {
        r["event_type"]: r
        for r in QUERIES["agg_hll_mergeable"](spark, sf_dir).collect()
    }
    from streamingdemo_spark.io import load_tables

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    exact_all = ev.select("user_id").distinct().count()
    exact_per = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    # exact columns really are exact; approx_ok IS the sketch-error gate
    assert rows["ALL"]["n_users"] == exact_all
    assert rows["ALL"]["approx_ok"]
    for t, n in exact_per.items():
        assert rows[t]["n_users"] == n, t
        assert rows[t]["approx_ok"], t


def _lcg_noise(n: int) -> str:
    """Deterministic high-entropy printable string (64-bit LCG)."""
    x, chars = 1, []
    for _ in range(n):
        x = (x * 6364136223846793005 + 1442695040888963407) % 2**64
        chars.append(chr(33 + (x >> 33) % 90))
    return "".join(chars)


def test_compression_ratio_orders_texts(spark, sf_dir):
    """Repetitive text must compress far better than fixture prose;
    the scores must be deterministic across two runs."""
    from pyspark.sql import Row

    from streamingdemo_spark.registry import QUERIES

    df = QUERIES["ext_compression_ratio"](spark, sf_dir)
    fixture_med = sorted(r["compress_ppk"] for r in df.collect())
    assert fixture_med[0] > 0
    again = sorted(
        r["compress_ppk"]
        for r in QUERIES["ext_compression_ratio"](spark, sf_dir).collect()
    )
    assert fixture_med == again  # deterministic
    # planted extremes through the same UDF pipeline
    probe = spark.createDataFrame(
        [
            Row(doc_id=1, lang="en", n_chars=1000, text="spam " * 200),
            Row(doc_id=2, lang="en", n_chars=1000, text=_lcg_noise(1000)),
        ]
    )
    import streamingdemo_spark.extensions.text as text_mod

    orig = text_mod._docs
    text_mod._docs = lambda s, d: probe
    try:
        rows = {
            r["doc_id"]: r["compress_ppk"]
            for r in QUERIES["ext_compression_ratio"](spark, sf_dir).collect()
        }
    finally:
        text_mod._docs = orig
    assert rows[1] < 100          # boilerplate crushes
    assert rows[2] > 700          # high-entropy barely compresses
    # fixture prose sits between the planted extremes (median, not
    # min/max: very short docs are header-overhead-dominated and can
    # exceed 1000 ppk)
    median = fixture_med[len(fixture_med) // 2]
    assert rows[1] < median < rows[2]


def test_compression_bound_orders_texts(spark, sf_dir):
    """The order-1 entropy bound must carry the same monotone
    redundancy signal as the zlib key it audits: boilerplate far below
    fixture prose, LCG noise far above — through the identical planted
    probe."""
    from pyspark.sql import Row

    from streamingdemo_spark.registry import QUERIES

    fixture = sorted(
        r["bound_ppk"]
        for r in QUERIES["ext_compression_bound"](spark, sf_dir).collect()
    )
    assert fixture[0] > 0
    probe = spark.createDataFrame(
        [
            Row(doc_id=1, lang="en", n_chars=1000, text="spam " * 200),
            Row(doc_id=2, lang="en", n_chars=1000, text=_lcg_noise(1000)),
        ]
    )
    import streamingdemo_spark.extensions.text as text_mod

    orig = text_mod._docs
    text_mod._docs = lambda s, d: probe
    try:
        rows = {
            r["doc_id"]: r["bound_ppk"]
            for r in QUERIES["ext_compression_bound"](spark, sf_dir).collect()
        }
    finally:
        text_mod._docs = orig
    assert rows[1] < 50           # order-1 model nails pure repetition
    # noise: near conditional alphabet entropy per char (the 1000-char
    # sample conditions ~|A| observations per head, so the bound sits
    # below the asymptotic log2|A|/8 but far above any structured text)
    assert rows[2] > 350
    median = fixture[len(fixture) // 2]
    assert rows[1] < median < rows[2]


def test_kll_merge_rank_accuracy(spark, sf_dir):
    """The key's p50/p90/p99 are exact nearest-rank values (rank
    within 1/n of target by construction), and ``kll_ok`` carries the
    sketch-accuracy gate: every per-group and merged KLL estimate's
    exact rank within 5% of its target (default-k KLL: ~1.65% at 99%
    confidence; measured <=0.61% across sfs)."""
    from pyspark.sql import functions as F

    from streamingdemo_spark.io import load_tables
    from streamingdemo_spark.registry import QUERIES

    est = {
        r["event_type"]: r
        for r in QUERIES["agg_kll_quantile_merge"](spark, sf_dir).collect()
    }
    assert all(r["kll_ok"] for r in est.values()), est
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    n = ev.count()
    for target, col in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
        qhat = est["ALL"][col]
        # Tie-robust nearest-rank check: qhat is the nearest-rank value
        # iff strictly-below count < ceil(target*n) <= at-or-below
        # count. A plain |count(<=qhat)/n - target| band is tie-blind:
        # at sf0.1 the median value occurs 10 times, so the <= count
        # legitimately overshoots the target rank by 5.
        want = -(-int(target * 1_000_000) * n // 1_000_000)  # ceil on ints
        below = ev.filter(F.col("value") < qhat).count()
        at_or_below = ev.filter(F.col("value") <= qhat).count()
        assert below < want <= at_or_below, (col, qhat, below, want, at_or_below)


class TestRetrieval:
    def test_bm25_top_docs_contain_the_rare_term(self, spark, sf_dir):
        """'dup' is ~16× rarer than the other query terms, so its idf
        dominates: every top-10 BM25 doc must actually contain it, and
        scores must be strictly ranked."""
        from streamingdemo_spark.extensions.retrieval import QUERY_TERMS

        out = QUERIES["ext_text_bm25"](spark, sf_dir).collect()
        assert [r["rank"] for r in out] == list(range(1, len(out) + 1))
        scores = [r["bm25_micro"] for r in out]
        assert scores == sorted(scores, reverse=True)
        docs = {
            r["doc_id"]: r["text"]
            for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
            .filter(F.col("doc_id").isin([r["doc_id"] for r in out]))
            .collect()
        }
        rare = QUERY_TERMS[-1]
        assert all(rare in docs[r["doc_id"]].split(" ") for r in out)

    def test_rrf_fuses_both_rankings(self, spark, sf_dir):
        """rrf_nano must equal the integer fusion of the two emitted
        ranks, the query doc must not rank itself, and the fused top-10
        can't be dominated by docs absent from both lists."""
        from streamingdemo_spark.extensions.retrieval import (
            QUERY_DOC,
            RRF_K,
        )

        out = QUERIES["ext_sim_rrf"](spark, sf_dir).collect()
        assert [r["rank"] for r in out] == list(range(1, len(out) + 1))
        assert all(r["doc_id"] != QUERY_DOC for r in out)
        for r in out:
            want = 0
            if r["lex_rank"] is not None:
                want += 1_000_000_000 // (RRF_K + r["lex_rank"])
            if r["dense_rank"] is not None:
                want += 1_000_000_000 // (RRF_K + r["dense_rank"])
            assert r["rrf_nano"] == want, r
        # the fused winner either tops one ranking or — RRF's whole
        # point — appears in BOTH (consensus at moderate ranks beats a
        # single list's head; at sf0.01 the winner is lex 9 + dense 24)
        top = out[0]
        in_both = (
            top["lex_rank"] is not None and top["dense_rank"] is not None
        )
        best_single = min(
            x for x in (top["lex_rank"], top["dense_rank"]) if x is not None
        )
        assert in_both or best_single <= 3


def test_split_assign_ratios_and_determinism(spark, sf_dir):
    """The 80/10/10 hash split must be stable across runs, partition
    counts must be within binomial noise of the target ratios, and the
    split must be independent of the shuffle hash (different salt)."""
    out = QUERIES["ext_split_assign"](spark, sf_dir)
    a = {r["doc_id"]: (r["bucket"], r["split"]) for r in out.collect()}
    b = {r["doc_id"]: (r["bucket"], r["split"]) for r in out.collect()}
    assert a == b
    n = len(a)
    counts = {s: 0 for s in ("train", "val", "test")}
    for _, s in a.values():
        counts[s] += 1
    # 4σ binomial slack at n=500: train ±36, val/test ±27
    assert abs(counts["train"] - 0.8 * n) <= 4 * (n * 0.8 * 0.2) ** 0.5
    assert abs(counts["val"] - 0.1 * n) <= 4 * (n * 0.1 * 0.9) ** 0.5
    assert abs(counts["test"] - 0.1 * n) <= 4 * (n * 0.1 * 0.9) ** 0.5


def test_phash_dedup_catches_reencodes_exact_hash_misses(spark, sf_dir):
    """Every planted brightness-shifted media copy must be recovered
    (the +1-per-byte shift barely moves adjacent-bucket differences),
    while byte-exact hashing finds NONE of them — the reason media
    dedup needs a perceptual signature at all."""
    from streamingdemo_spark.extensions.multimodal import (
        PHASH_MUTANT_OFFSET,
        _phash_payloads,
    )

    out = QUERIES["ext_multimodal_phash_dedup"](spark, sf_dir).collect()
    planted = [
        r for r in out if r["doc_b"] - r["doc_a"] == PHASH_MUTANT_OFFSET
    ]
    n_mutants = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % 7 == 0)
        .count()
    )
    # the _BAND_CAP skew guard drops over-popular band values, so a
    # pair whose only clean bands are capped is missed BY DESIGN (the
    # documented LSH cap tradeoff; it first bites at sf0.1 where band
    # values get popular: 693/715 there, 100% at smaller sfs)
    assert len(planted) >= 0.95 * n_mutants
    assert all(r["hamming"] <= 3 for r in planted)

    exact = (
        _phash_payloads(spark, sf_dir)
        .groupBy(F.xxhash64("payload"))
        .agg(F.min("doc_id").alias("a"), F.max("doc_id").alias("b"))
        .filter(F.col("b") - F.col("a") == PHASH_MUTANT_OFFSET)
        .count()
    )
    assert exact == 0


def test_bpe_train_matches_pure_python_replay(spark, sf_dir):
    """Replay the whole 3-round BPE loop in pure Python on collected
    word counts (the vocabulary is small) and require the exact same
    merge table — pins pair counting, argmax tie-break, and the
    non-overlapping replace semantics end-to-end."""
    from collections import Counter

    got = [
        (r["merge_no"], r["pair"], r["n"])
        for r in QUERIES["ext_bpe_train"](spark, sf_dir).collect()
    ]
    words = Counter()
    for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect():
        words.update(r["text"].split(" "))
    vocab = {f" {' '.join(w)} ": wc for w, wc in words.items()}
    want = []
    for round_no in (1, 2, 3):
        counts = Counter()
        for s, wc in vocab.items():
            syms = s.strip().split(" ")
            for a, b in zip(syms, syms[1:]):
                counts[f"{a} {b}"] += wc
        pair, n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        want.append((round_no, pair, n))
        vocab = {
            s.replace(f" {pair} ", f" {pair.replace(' ', '')} "): wc
            for s, wc in vocab.items()
        }
    assert got == want


def test_ivf_probe_beats_probe_fraction_and_subsets_exact(spark, sf_dir):
    """The deterministic-codebook probe search must beat the
    probe-fraction recall floor (nprobe=2 of 10 cells scans ~20% of
    the corpus; the fixture's label clusters are loose, so recall sits
    near 2× that, not near 1.0), and every hit it returns must carry
    the same cosine the exact scan computes."""
    exact = {
        (r["q_id"], r["vec_id"]): r["cosine"]
        for r in QUERIES["ext_sim_cosine_topk"](spark, sf_dir).collect()
    }
    probe = QUERIES["ext_sim_ivf_probe_topk"](spark, sf_dir).collect()
    hits = [r for r in probe if (r["q_id"], r["vec_id"]) in exact]
    recall = len(hits) / len(exact)
    assert recall > 0.25
    assert all(exact[(r["q_id"], r["vec_id"])] == r["cosine"] for r in hits)
    per_q = {}
    for r in probe:
        per_q.setdefault(r["q_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())


def test_tokenize_apply_counts_bounded_and_compressive(spark, sf_dir):
    """Per doc: ws_tokens <= bpe_tokens <= non-space chars (3 merges
    can't beat one-symbol-per-word, and must not exceed raw chars);
    corpus-wide the merges must actually fire (strict compression vs
    character tokenization)."""
    out = QUERIES["ext_tokenize_apply"](spark, sf_dir).collect()
    chars = {
        r["doc_id"]: len(r["text"].replace(" ", ""))
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    assert len(out) == len(chars)
    for r in out:
        assert r["ws_tokens"] <= r["bpe_tokens"] <= chars[r["doc_id"]]
    assert sum(r["bpe_tokens"] for r in out) < sum(chars.values())


def test_lang_mix_temperature_rebalances_toward_uniform(spark, sf_dir):
    """T=2 mixing must shrink the dominant language's share and grow
    every low-resource share (strictly between raw and uniform),
    quotas must be honored exactly, and the draw must be repeatable."""
    rows = QUERIES["ext_lang_mix_temperature"](spark, sf_dir).collect()
    total_raw = sum(r["n_docs"] for r in rows)
    total_sampled = sum(r["n_sampled"] for r in rows)
    assert total_sampled <= 200
    again = QUERIES["ext_lang_mix_temperature"](spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    for r in rows:
        assert r["n_sampled"] == min(r["quota"], r["n_docs"])
        raw_share = r["n_docs"] / total_raw
        new_share = r["n_sampled"] / total_sampled
        if raw_share > 1 / len(rows):
            assert new_share < raw_share  # dominant lang shrinks
        else:
            assert new_share > raw_share  # low-resource langs grow


def test_twa_weights_holds_not_rows(spark, sf_dir):
    """The time-weighted mean must equal a pure-Python step-function
    replay for a sample of users, and must differ from the naive row
    mean whenever inter-event gaps vary (the whole point of TWA)."""
    out = {
        r["user_id"]: r for r in QUERIES["ext_ts_twa"](spark, sf_dir).collect()
    }
    ev = sorted(
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id", "ts", "event_id", "value")
        .collect(),
        key=lambda r: (r["user_id"], r["ts"], r["event_id"]),
    )
    from itertools import groupby

    n_diff = 0
    for uid, rows in groupby(ev, key=lambda r: r["user_id"]):
        rows = list(rows)
        # naive datetime -> UTC explicitly: .timestamp() alone would
        # read the box's local TZ and break the replay off-UTC
        from datetime import timezone

        secs = [
            int(r["ts"].replace(tzinfo=timezone.utc).timestamp())
            for r in rows
        ]
        units = [int(r["value"] * 10000 + 0.5) for r in rows]
        sum_dt = secs[-1] - secs[0]
        if sum_dt <= 0:
            assert uid not in out
            continue
        sum_w = sum(
            u * (b - a) for u, a, b in zip(units, secs, secs[1:])
        )
        want = round((sum_w / sum_dt) / 10000.0, 6)
        assert abs(out[uid]["twa_value"] - want) < 1e-9, uid
        row_mean = sum(units[:-1]) / len(units[:-1]) / 10000.0
        n_diff += abs(row_mean - want) > 1e-6
    assert n_diff > 0  # gaps vary, so TWA must disagree with row mean


def test_gram_matrix_equals_numpy_and_powers_pca(spark, sf_dir):
    """The distributed integer Gram matrix must equal numpy's X^T X of
    the milli-quantized vectors exactly, and its dominant eigenvector
    (driver-side power iteration, the intended PCA use) must match
    numpy's eigendecomposition."""
    import numpy as np

    rows = QUERIES["ext_emb_gram"](spark, sf_dir).collect()
    d = 64
    C = np.zeros((d, d), dtype=np.int64)
    for r in rows:
        C[r["i"], r["j"]] = r["c_ij"]
        C[r["j"], r["i"]] = r["c_ij"]
    emb = np.array(
        [
            r["embedding"]
            for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .select("embedding")
            .collect()
        ],
        dtype=np.float64,
    )
    Q = np.floor(emb * 1000 + 0.5).astype(np.int64)
    assert (C == Q.T @ Q).all()
    v = np.ones(d)
    for _ in range(200):
        v = C @ v
        v = v / np.linalg.norm(v)
    evals = np.linalg.eigvalsh(C.astype(np.float64))
    # near-random embeddings have a near-DEGENERATE top eigengap
    # (1.7% at sf0.1), so comparing eigenVECTORS is ill-posed — any
    # float-order difference rotates within the top subspace. The
    # well-posed check: the power-iteration direction must capture
    # >= 99% of the top eigenVALUE's Rayleigh quotient (invariant
    # under degeneracy; the exact-matrix check is the == above).
    # 200 iterations against a ~1.7% top gap leave a mixture over the
    # top few near-equal directions, so 0.95 is the honest bound — the
    # spectrum MEAN sits near 0.7x the max, so this still proves the
    # direction is concentrated at the top end.
    assert (v @ C @ v) >= 0.95 * evals.max()


def test_ts_interp_fills_within_bracket_bounds(spark, sf_dir):
    """Interpolated values must exist exactly for in-bracket gap
    buckets and lie within the observed per-series value range
    (linear interpolation can't overshoot its endpoints)."""
    import pytest

    out = QUERIES["ext_ts_interp"](spark, sf_dir)
    filled = out.filter("filled").collect()
    if not filled:
        # denser fixtures (sf0.1 packs 10x events into the same span)
        # can have no empty buckets at all — nothing to interpolate is
        # a property of the data, not a defect; the non-vacuous check
        # runs at the suite's default sf
        pytest.skip("no gap buckets at this sf: nothing to interpolate")
    obs = {
        r["event_type"]: (r["lo"], r["hi"])
        for r in out.filter("n_events > 0")
        .groupBy("event_type")
        .agg(F.min("interp_avg").alias("lo"), F.max("interp_avg").alias("hi"))
        .collect()
    }
    for r in filled:
        lo, hi = obs[r["event_type"]]
        assert lo - 1e-9 <= r["interp_avg"] <= hi + 1e-9, r
    # every row is either observed, filled, or outside the bracket
    assert out.filter("interp_avg IS NULL AND filled").count() == 0


def test_phash_cluster_groups_contain_the_planted_pairs(spark, sf_dir):
    """Every planted (doc, doc+offset) re-encode pair must land in the
    same cluster, each cluster's canonical must be its min member, and
    sizes must equal member counts."""
    from collections import Counter

    from streamingdemo_spark.extensions.multimodal import (
        PHASH_MUTANT_OFFSET,
    )

    rows = QUERIES["ext_multimodal_phash_cluster"](spark, sf_dir).collect()
    canon = {r["doc_id"]: r["canonical_id"] for r in rows}
    members = Counter(r["canonical_id"] for r in rows)
    for r in rows:
        assert r["cluster_size"] == members[r["canonical_id"]]
    paired = co = 0
    for doc in set(canon):
        if doc + PHASH_MUTANT_OFFSET in canon:
            paired += 1
            co += canon[doc] == canon[doc + PHASH_MUTANT_OFFSET]
    # same _BAND_CAP tradeoff as the dedup test: capped bands can
    # orphan a planted pair's only collision at sf0.1
    assert paired and co >= 0.95 * paired
    by_canon = {}
    for d, c in canon.items():
        by_canon.setdefault(c, []).append(d)
    assert all(c == min(ds) for c, ds in by_canon.items())


def test_ewma_matches_pure_python_recursion(spark, sf_dir):
    """The frame-fold EWMA must equal the textbook recursion
    s_t = (v_t + s_{t-1·scaled}) truncated to the same 16-term window,
    replayed in exact Fraction arithmetic for every event."""
    from fractions import Fraction
    from itertools import groupby

    out = {
        (r["user_id"], r["event_id"]): r["ewma_value"]
        for r in QUERIES["win_ewma"](spark, sf_dir).collect()
    }
    ev = sorted(
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id", "ts", "event_id", "value")
        .collect(),
        key=lambda r: (r["user_id"], r["ts"], r["event_id"]),
    )
    for uid, rows in groupby(ev, key=lambda r: r["user_id"]):
        units = [
            (r["event_id"], int(r["value"] * 10000 + 0.5)) for r in rows
        ]
        for t in range(len(units)):
            frame = units[max(0, t - 15) : t + 1]
            n = len(frame)
            num = sum(
                Fraction(v, 1 << (n - 1 - i))
                for i, (_, v) in enumerate(frame)
            )
            den = 2 - Fraction(1, 1 << (n - 1))
            want = float(num / den / 10000)
            got = out[(uid, units[t][0])]
            assert abs(got - round(want, 6)) < 2e-6, (uid, t)


def test_stats_keys_match_scipy_free_references(spark, sf_dir):
    """The Welch t-test and regression keys must agree with plain
    numpy computations on collected data (library-free reference:
    numpy.polyfit for the line, the Welch formulas verbatim)."""
    import numpy as np

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").collect()
    vals = {
        t: np.array(
            [round(r["value"] * 1e4) / 1e4 for r in ev if r["event_type"] == t]
        )
        for t in ("view", "purchase")
    }
    a, b = vals["view"], vals["purchase"]
    se = a.var(ddof=1) / len(a) + b.var(ddof=1) / len(b)
    t_want = (a.mean() - b.mean()) / np.sqrt(se)
    row = QUERIES["ext_ab_ttest"](spark, sf_dir).collect()[0]
    assert row["n_view"] == len(a) and row["n_purchase"] == len(b)
    assert abs(row["t_stat"] - t_want) < 1e-4

    from datetime import date

    reg = {
        r["event_type"]: r
        for r in QUERIES["agg_regression"](spark, sf_dir).collect()
    }
    for etype in ("view", "purchase"):
        xs = np.array(
            [
                (r["ts"].date() - date(2024, 1, 1)).days
                for r in ev
                if r["event_type"] == etype
            ],
            dtype=float,
        )
        ys = np.array(
            [r["value"] for r in ev if r["event_type"] == etype]
        )
        slope, intercept = np.polyfit(xs, ys, 1)
        assert abs(reg[etype]["slope_per_day"] - slope) < 1e-4
        assert abs(reg[etype]["intercept"] - intercept) < 1e-2


def test_chi_square_matches_numpy_contingency(spark, sf_dir):
    """The chi-square statistic must match a numpy recomputation from
    the raw contingency table (outer-product expected counts)."""
    import numpy as np
    from datetime import date

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").collect()
    types = sorted({r["event_type"] for r in ev})
    table = np.zeros((len(types), 7))
    for r in ev:
        wd = (r["ts"].date() - date(2024, 1, 1)).days % 7
        table[types.index(r["event_type"]), wd] += 1
    e = np.outer(table.sum(1), table.sum(0)) / table.sum()
    want = ((table - e) ** 2 / e).sum()
    row = QUERIES["agg_chi_square"](spark, sf_dir).collect()[0]
    assert row["n_rows_dim"] == len(types) and row["n_cols_dim"] == 7
    assert row["dof"] == (len(types) - 1) * 6
    assert abs(row["chi_square"] - want) < 1e-3


def test_k_anonymity_counts_reconcile(spark, sf_dir):
    """Per language: exposed_docs must equal the sum of members of
    sub-k classes recomputed from raw data, and k5_anonymous must be
    min_class_size >= 5."""
    from collections import Counter

    out = {r["lang"]: r for r in QUERIES["ext_k_anonymity"](spark, sf_dir).collect()}
    classes = Counter()
    for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect():
        bucket = len(r["text"].split(" ")) // 32 * 32
        classes[(r["lang"], r["source"], bucket)] += 1
    for lang, row in out.items():
        sizes = [n for (l, _, _), n in classes.items() if l == lang]
        assert row["n_classes"] == len(sizes)
        assert row["small_classes"] == sum(1 for n in sizes if n < 5)
        assert row["exposed_docs"] == sum(n for n in sizes if n < 5)
        assert row["min_class_size"] == min(sizes)
        assert row["k5_anonymous"] == (min(sizes) >= 5)


def test_cumulative_reach_is_monotone_and_bounded(spark, sf_dir):
    """Reach must be non-decreasing per series, at least the daily
    distinct count, and converge to the series' true user universe."""
    out = QUERIES["win_cumulative_reach"](spark, sf_dir).collect()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    universe = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    series = {}
    for r in sorted(out, key=lambda r: (r["event_type"], r["day"])):
        prev = series.get(r["event_type"], 0)
        assert r["cumulative_reach"] >= prev
        assert r["cumulative_reach"] >= r["day_users"]
        series[r["event_type"]] = r["cumulative_reach"]
    assert series == universe


def test_standardize_zscores_are_groupwise_zero_mean(spark, sf_dir):
    """Per language, z-scores must have ~zero mean and ~unit sample
    variance (the defining property), and the z of a doc longer than
    its language mean must be positive."""
    from collections import defaultdict

    rows = QUERIES["ext_feature_standardize"](spark, sf_dir).collect()
    by_lang = defaultdict(list)
    for r in rows:
        by_lang[r["lang"]].append((r["n_tok"], r["z_len"]))
    for lang, pairs in by_lang.items():
        zs = [z for _, z in pairs]
        m = sum(zs) / len(zs)
        v = sum((z - m) ** 2 for z in zs) / (len(zs) - 1)
        assert abs(m) < 1e-4, lang
        assert abs(v - 1.0) < 1e-3, lang
        mean_tok = sum(t for t, _ in pairs) / len(pairs)
        for t, z in pairs:
            assert (z > 0) == (t > mean_tok) or abs(t - mean_tok) < 1


def test_dataset_diff_totals_match_construction(spark, sf_dir):
    """The diff totals must equal the construction arithmetic: removed
    = docs%13, added = docs%17, changed = docs%11 surviving the %13
    removal (edit collides with removal on %143 multiples)."""
    rows = QUERIES["ext_dataset_diff"](spark, sf_dir).collect()
    totals = {}
    for r in rows:
        totals[r["change"]] = totals.get(r["change"], 0) + r["n_docs"]
    ids = [
        r["doc_id"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id")
        .collect()
    ]
    assert totals["removed"] == sum(1 for i in ids if i % 13 == 0)
    assert totals["added"] == sum(1 for i in ids if i % 17 == 0)
    assert totals["changed"] == sum(
        1 for i in ids if i % 11 == 0 and i % 13 != 0
    )


def test_corpus_drift_properties(spark, sf_dir):
    """KL must be ~0 for identical halves (self-drift of half 'a'
    against itself via the tv identity) and the emitted tv must match
    a Fraction-exact recomputation; kl >= 0 within quantization."""
    from collections import Counter
    from fractions import Fraction

    row = QUERIES["ext_corpus_drift"](spark, sf_dir).collect()[0]
    c1, c2 = Counter(), Counter()
    for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect():
        (c1 if int(r["source"][3:]) < 10 else c2).update(
            r["text"].split(" ")
        )
    vocab = set(c1) | set(c2)
    n1, n2, v = sum(c1.values()), sum(c2.values()), len(vocab)
    assert (row["vocab_size"], row["n1"], row["n2"]) == (v, n1, n2)
    tv = sum(
        abs(
            Fraction(c1[t] + 1, n1 + v) - Fraction(c2[t] + 1, n2 + v)
        )
        for t in vocab
    ) / 2
    assert abs(row["tv_dist"] - float(tv)) < 2e-6
    # nano-quantized KL can dip a hair under 0 only by vocab * 0.5 units
    assert row["kl_nano"] >= -v


def test_source_overlap_flags_only_the_planted_mirrors(spark, sf_dir):
    """Every surviving overlap pair must involve a planted mirror
    feed and its original (unrelated real sources share ~no exact
    texts), and each mirror must overlap its own original."""
    rows = QUERIES["ext_source_overlap"](spark, sf_dir).collect()
    assert rows
    docs_norm = {
        (r["source"], r["norm"])
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("source", F.lower(F.trim("text")).alias("norm"))
        .collect()
    }
    by_src: dict = {}
    for src, norm in docs_norm:
        by_src.setdefault(src, set()).add(norm)
    for r in rows:
        pair = {r["src_a"], r["src_b"]}
        mirrors = {s for s in pair if s.startswith("mirror-")}
        if not mirrors:
            # larger fixtures have NATURAL shared texts between real
            # sources — flagging them is correct; require the overlap
            # to be genuine rather than assume it can't exist
            shared = by_src[r["src_a"]] & by_src[r["src_b"]]
            assert len(shared) >= r["shared_docs"] > 0, r
            continue
    found = {
        tuple(sorted((r["src_a"], r["src_b"]))) for r in rows
    }
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mirrored_srcs = {
        r["source"]
        for r in docs.filter(F.col("doc_id") % 5 == 0)
        .select("source")
        .distinct()
        .collect()
    }
    import pyspark.sql.functions as _F

    per_src = {
        r["source"]: r["n"]
        for r in docs.filter(_F.col("doc_id") % 5 == 0)
        .groupBy("source")
        .agg(_F.count(_F.lit(1)).alias("n"))
        .collect()
    }
    for src, n in per_src.items():
        if n >= 2:
            assert tuple(sorted((src, f"mirror-{src}"))) in found


def test_semantic_decontam_is_the_cross_split_subset(spark, sf_dir):
    """Decontam rows must be exactly the near-dup pairs whose two ids
    hash into different splits, with the eval id always on the eval
    side — and the cross-split fraction must sit near the binomial
    expectation 2·0.8·0.2 of the split."""
    from streamingdemo_spark.registry import POLY_MOD

    def split(i):
        acc = 0
        for ch in f"split:{i}":
            acc = (acc * 31 + ord(ch)) % POLY_MOD
        return "train" if acc % 100 < 80 else "eval"

    pairs = QUERIES["ext_dedup_embedding"](spark, sf_dir).collect()
    want = set()
    for r in pairs:
        sa, sb = split(r["vec_a"]), split(r["vec_b"])
        if sa != sb:
            ev = r["vec_a"] if sa == "eval" else r["vec_b"]
            tr = r["vec_b"] if sa == "eval" else r["vec_a"]
            want.add((ev, tr, r["cosine"]))
    got = {
        (r["eval_id"], r["train_id"], r["cosine"])
        for r in QUERIES["ext_semantic_decontam"](spark, sf_dir).collect()
    }
    assert got == want
    frac = len(got) / len(pairs)
    assert 0.15 < frac < 0.50  # 2·0.8·0.2 = 0.32 ± binomial noise


def test_char_entropy_matches_python_and_bounds(spark, sf_dir):
    """Entropy must equal a pure-Python recomputation (same micro-nat
    quantization) and respect 0 <= H <= n·ln(alphabet) (total nats
    over the doc, since terms are per-char-probability masses)."""
    import math
    from collections import Counter

    out = {
        r["doc_id"]: r
        for r in QUERIES["ext_char_entropy"](spark, sf_dir).collect()
    }
    for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect():
        counts = Counter(r["text"])
        n = sum(counts.values())
        want = sum(
            math.floor(-(k / n) * math.log(k / n) * 1e6 + 0.5)
            for k in counts.values()
        )
        row = out[r["doc_id"]]
        assert row["n_chars"] == n and row["alphabet"] == len(counts)
        assert row["entropy_micro_nats"] == want
        assert 0 <= row["entropy_micro_nats"] <= math.log(len(counts)) * 1e6 + len(counts)


def test_weighted_median_python_replay(spark, sf_dir):
    """Weighted medians must equal a pure-Python replay: half the
    total quantity lies at-or-below the reported price per group."""
    from collections import defaultdict

    rows = QUERIES["agg_weighted_median"](spark, sf_dir).collect()
    data = defaultdict(list)
    for r in spark.read.parquet(f"{sf_dir}/lineitem.parquet").collect():
        data[r["l_returnflag"]].append(
            (
                int(r["l_extendedprice"] * 100 + 0.5),
                int(r["l_quantity"] + 0.5),
                r["l_orderkey"],
                r["l_linenumber"],
            )
        )
    for r in rows:
        items = sorted(data[r["l_returnflag"]], key=lambda t: (t[0], t[2], t[3]))
        tot = sum(q for _, q, _, _ in items)
        assert r["total_weight"] == tot
        cum = 0
        for price_c, qty, _, _ in items:
            cum += qty
            if 2 * cum >= tot:
                assert abs(r["weighted_median_price"] - price_c / 100.0) < 1e-9
                break


def test_pca_project_matches_numpy_exactly(spark, sf_dir):
    """ext_embedding_pca_project: replay the whole pipeline in
    numpy/pure-Python integer math — same milli-unit quantization,
    same Gram, same eigh, same sign fix, same micro-unit component
    quantization — and require BITWISE-equal integer projections for
    every vector (the key's determinism contract)."""
    import numpy as np

    from streamingdemo_spark.registry import QUERIES

    got = {
        r["vec_id"]: (r["pc1_nano"], r["pc2_nano"], r["pc3_nano"], r["pc4_nano"])
        for r in QUERIES["ext_embedding_pca_project"](spark, sf_dir).collect()
    }
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pydict()
    ids = t["vec_id"]
    Q = np.array(
        [
            [int(np.floor(float(x) * 1000 + 0.5)) for x in emb]
            for emb in t["embedding"]
        ],
        dtype=object,  # python ints: exact
    )
    Qf = np.array([[float(v) for v in row] for row in Q])
    gram = Qf.T @ Qf
    _, vecs = np.linalg.eigh(gram)
    comps = vecs[:, ::-1][:, :4].T
    want_rows = {}
    wq = []
    for c in comps:
        pivot = int(np.argmax(np.abs(c)))
        c = -c if c[pivot] < 0 else c
        wq.append([int(np.floor(v * 1_000_000 + 0.5)) for v in c])
    for vid, row in zip(ids, Q):
        want_rows[vid] = tuple(
            sum(int(x) * w for x, w in zip(row, wk)) for wk in wq
        )
    assert got == want_rows


def test_winnowing_catches_misaligned_runs(spark):
    """The guarantee fixed-stride sampling could not give (round-4
    advice finding): a duplicated run of >= W + K - 1 = 49 chars must
    yield a shared selected gram for EVERY relative alignment of the
    run between the two documents — selection is content-defined, so
    offset arithmetic (a ≢ b mod stride) can no longer hide a
    duplicate. Probes all 10 offset classes with the minimum-length
    run; non-run text uses disjoint alphabets so the run is the only
    possible 40-char overlap."""
    import string

    from streamingdemo_spark.extensions.dedup import _winnowed_grams

    run = (string.ascii_lowercase + string.digits + string.ascii_uppercase)[
        :49
    ]
    for off in range(10):
        docs = spark.createDataFrame(
            [
                (1, "!" * 7 + run + "@" * 23),
                (2, "#" * (7 + off) + run + "$" * 31),
            ],
            "doc_id long, text string",
        )
        shared = (
            _winnowed_grams(docs)
            .groupBy("gram")
            .agg(F.countDistinct("doc_id").alias("n_docs"))
            .filter(F.col("n_docs") >= 2)
            .count()
        )
        assert shared >= 1, f"offset {off}: misaligned run missed"


def test_winnow_positions_matches_naive_fold():
    """The vectorized modular-prefix-hash selection (r6's map-side
    rewrite of _winnowed_grams) must agree position-for-position with
    a naive per-position poly fold + per-position window min/max —
    i.e. with exactly the arithmetic the oracle's explode+window CTEs
    replay. Random texts over tiny/ASCII/astral alphabets cover hash
    ties, clipped edge windows, and the sub-K empty case."""
    import random
    import string

    from streamingdemo_spark.extensions.dedup import (
        POLY_MOD,
        WINNOW_K,
        WINNOW_SEL,
        WINNOW_W,
        winnow_positions,
    )

    def naive(text):
        n = len(text) - (WINNOW_K - 1)
        if n < 1:
            return []

        def ph(s):
            acc = 0
            for c in s:
                acc = (acc * 31 + ord(c)) % POLY_MOD
            return acc

        h = [ph(text[p : p + WINNOW_SEL]) for p in range(n)]
        mn = [min(h[p : min(p + WINNOW_W, n)]) for p in range(n)]
        mx = [
            max(mn[max(0, p - WINNOW_W + 1) : p + 1]) for p in range(n)
        ]
        return [p + 1 for p in range(n) if mx[p] == h[p]]

    rng = random.Random(42)
    for _ in range(200):
        length = rng.randint(0, 300)
        alphabet = (
            string.ascii_lowercase[: rng.choice([2, 4, 26])] + "é😀"
        )
        text = "".join(rng.choice(alphabet) for _ in range(length))
        assert winnow_positions(text) == naive(text), text


def test_winnow_cdc_batch_matches_per_doc():
    """The whole-batch vectorized forms behind the Arrow UDFs (r13-opt:
    one set of numpy passes per Arrow batch instead of ~20 small
    allocations per document) must be bit-identical to mapping the
    per-doc reference functions — including doc-boundary window
    clipping (the sentinel-padding construction), sub-K/sub-W docs,
    empty strings, and hash ties straddling the padded gaps."""
    import random
    import string

    from streamingdemo_spark.extensions.dedup import (
        CDC_W,
        WINNOW_K,
        cdc_cut_positions,
        cdc_cut_positions_batch,
        winnow_positions,
        winnow_positions_batch,
    )

    rng = random.Random(7)
    batch = ["", "a", "x" * (WINNOW_K - 1), "x" * WINNOW_K,
             "x" * (WINNOW_K + 25), "ab" * CDC_W, "é😀" * 40]
    for _ in range(120):
        length = rng.randint(0, 260)
        alphabet = string.ascii_lowercase[: rng.choice([2, 4, 26])]
        batch.append("".join(rng.choice(alphabet) for _ in range(length)))
    assert winnow_positions_batch(batch) == [
        winnow_positions(t) for t in batch
    ]
    assert cdc_cut_positions_batch(batch) == [
        cdc_cut_positions(t) for t in batch
    ]
    assert winnow_positions_batch([]) == []
    assert cdc_cut_positions_batch([None, ""]) == [[], []]


def test_substring_mask_consistent_with_span_coverage(spark, sf_dir):
    """Cross-key consistency between the two independent consumers of
    the island pipeline: the set of masked docs must equal the docs
    with nonzero coverage; each masked doc carries exactly n_spans
    [DUP] markers; and the characters REMOVED by masking must equal
    that doc's dup_chars (coverage and mask agree on every island
    boundary)."""
    from streamingdemo_spark.registry import QUERIES

    cov = {
        r["doc_id"]: r["dup_chars"]
        for r in QUERIES["ext_dedup_span_coverage"](spark, sf_dir).collect()
    }
    n_chars = {
        r["doc_id"]: r["n_chars"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "n_chars")
        .collect()
    }
    masked = QUERIES["ext_dedup_substring_mask"](spark, sf_dir).collect()
    assert {r["doc_id"] for r in masked} == {
        d for d, c in cov.items() if c > 0
    }
    for r in masked:
        assert r["masked"].count("[DUP]") == r["n_spans"]
        kept = len(r["masked"]) - 5 * r["n_spans"]  # strip markers
        assert n_chars[r["doc_id"]] - kept == cov[r["doc_id"]], r["doc_id"]


def test_skyline_equals_bruteforce_dominance(spark, sf_dir):
    """win_skyline_frontier's linear scan must return EXACTLY the
    non-dominated point set per the quadratic NOT EXISTS definition —
    two independent formulations of dominance agreeing on the whole
    fixture."""
    import duckdb

    from streamingdemo_spark.registry import QUERIES

    got = {
        (r["price"], r["psize"])
        for r in QUERIES["win_skyline_frontier"](spark, sf_dir).collect()
    }
    con = duckdb.connect()
    want = {
        (r[0], r[1])
        for r in con.execute(
            f"""
            WITH pts AS (SELECT DISTINCT p_retailprice AS price,
                                p_size AS psize
                         FROM read_parquet('{sf_dir}/part.parquet'))
            SELECT price, psize FROM pts p1
            WHERE NOT EXISTS (
              SELECT 1 FROM pts p2
              WHERE p2.price <= p1.price AND p2.psize >= p1.psize
                AND (p2.price < p1.price OR p2.psize > p1.psize))
            """
        ).fetchall()
    }
    assert got == want and got


def test_label_noise_knn_votes_bounded_and_consistent(spark, sf_dir):
    """Every vector votes with exactly its 3 nearest neighbors: counts
    in [0,3], one row per corpus vector, and the agreement count must
    equal a direct recount over the kNN graph joined with labels."""
    from streamingdemo_spark.registry import QUERIES

    out = {r["vec_id"]: r for r in QUERIES["ext_label_noise_knn"](spark, sf_dir).collect()}
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    assert set(out) == set(labels)
    knn = QUERIES["ext_sim_knn_join"](spark, sf_dir).collect()
    agree: dict[int, int] = {}
    for r in knn:
        agree[r["vec_id"]] = agree.get(r["vec_id"], 0) + (
            labels[r["nbr_id"]] == labels[r["vec_id"]]
        )
    for vid, row in out.items():
        assert 0 <= row["n_agree"] <= 3
        assert row["n_agree"] == agree.get(vid, 0), vid
        assert row["is_suspect"] == (row["n_agree"] == 0)


def test_label_noise_ann_tracks_exact_twin(spark, sf_dir):
    """The ANN-graph label screen (production path) must find most of
    the exact twin's suspects: suspect recall >= 0.75 (measured
    0.81/0.84 at sf0.01/0.1 with r12's lowest-margin multi-probe, up
    from 0.77/0.81 single-probe — the floor leaves LSH-variance
    headroom), cover every corpus vector that has at least one ANN
    candidate, and keep votes internally consistent
    (n_agree <= n_nbrs <= 3, is_suspect == zero agreement)."""
    from streamingdemo_spark.registry import QUERIES

    exact = {
        r["vec_id"]: r
        for r in QUERIES["ext_label_noise_knn"](spark, sf_dir).collect()
    }
    ann = {
        r["vec_id"]: r
        for r in QUERIES["ext_label_noise_ann"](spark, sf_dir).collect()
    }
    assert set(ann) <= set(exact)
    assert len(ann) / len(exact) > 0.95  # near-total coverage
    for r in ann.values():
        assert 0 <= r["n_agree"] <= r["n_nbrs"] <= 3
        assert r["is_suspect"] == (r["n_agree"] == 0)
    exact_suspects = {v for v, r in exact.items() if r["is_suspect"]}
    ann_suspects = {v for v, r in ann.items() if r["is_suspect"]}
    if exact_suspects:
        recall = len(exact_suspects & ann_suspects) / len(exact_suspects)
        assert recall >= 0.75, recall


def test_l_diversity_consistent_with_k_anonymity(spark, sf_dir):
    """Same quasi-identifier classes as the k-anonymity audit (the id
    join is 1:1 on this fixture), diversity bounded by class size and
    label vocabulary, and exposure accounting conserves documents."""
    from streamingdemo_spark.registry import QUERIES

    ldiv = {r["lang"]: r for r in QUERIES["ext_l_diversity"](spark, sf_dir).collect()}
    kanon = {r["lang"]: r for r in QUERIES["ext_k_anonymity"](spark, sf_dir).collect()}
    assert set(ldiv) == set(kanon)
    n_labels = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("label").distinct().count()
    )
    total_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    for lang, row in ldiv.items():
        # l-diversity runs over LABELED records (docs joined to
        # embedding ids); when the fixture has fewer embeddings than
        # docs (sf0.1: 2000 vs 5000) its class set is a subset of the
        # k-anonymity classes, equal only under a 1:1 id join
        n_docs_ = total_docs
        n_vecs = (
            spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
        )
        if n_vecs >= n_docs_:
            assert row["n_classes"] == kanon[lang]["n_classes"], lang
        else:
            assert row["n_classes"] <= kanon[lang]["n_classes"], lang
        assert 1 <= row["min_l"] <= n_labels
        assert 0 <= row["homogeneous_classes"] <= row["n_classes"]
        assert row["exposed_docs"] <= total_docs
        assert row["l3_diverse"] == (row["min_l"] >= 3)


def test_mmr_diversifies_from_relevance_candidates(spark, sf_dir):
    """MMR invariants: 5 distinct picks per query, all drawn from the
    relevance top-10, pick #1 IS the relevance argmax, and ranks are
    contiguous 1..5. Greedy scoring itself is pinned by the oracle."""
    from streamingdemo_spark.extensions.retrieval import MMR_CAND, MMR_K
    from streamingdemo_spark.registry import QUERIES

    rows = QUERIES["ext_sim_mmr"](spark, sf_dir).collect()
    by_q: dict[int, dict[int, int]] = {}
    for r in rows:
        by_q.setdefault(r["q_id"], {})[r["mmr_rank"]] = r["doc_id"]
    top = {}
    for r in QUERIES["ext_sim_cosine_topk"](spark, sf_dir).collect():
        if r["rank"] == 1:
            top[r["q_id"]] = r["vec_id"]
    assert set(by_q) == set(top)
    for q, picks in by_q.items():
        assert sorted(picks) == list(range(1, MMR_K + 1))
        assert len(set(picks.values())) == MMR_K
        assert picks[1] == top[q], q


def test_cusum_equals_textbook_recurrence(spark, sf_dir):
    """The two-window prefix-min identity must reproduce the textbook
    CUSUM recurrence S_i = max(0, S_{i-1} + (x_i - mu - K)) exactly —
    replayed per series in plain Python on the same integer units."""
    from streamingdemo_spark.plans.behavior import _CUSUM_H, _CUSUM_K
    from streamingdemo_spark.registry import QUERIES

    got = {
        (r["event_type"], r["event_id"]): (r["cusum"], r["is_alarm"])
        for r in QUERIES["ext_ts_cusum"](spark, sf_dir).collect()
    }
    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id", "event_type", "ts", "value")
        .collect()
    )
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for etype, series in by_type.items():
        series.sort(key=lambda r: (r["ts"], r["event_id"]))
        xs = [int(r["value"] * 10000 + 0.5) for r in series]
        n, su = len(xs), sum(xs)
        s = 0
        for r, x in zip(series, xs):
            # scaled by n so mu = su/n never becomes a float
            s = max(0, s + x * n - su - _CUSUM_K * n)
            want_cusum = round(s / (n * 10000.0), 4) + 0.0
            cus, alarm = got[(etype, r["event_id"])]
            assert cus == want_cusum, (etype, r["event_id"])
            assert alarm == (s > _CUSUM_H * n)


def test_weighted_sample_biased_toward_heavy_docs(spark, sf_dir):
    """Exponential-rank weighted sampling must (a) be deterministic,
    (b) return exactly k rows, (c) oversample heavy documents: the
    sampled mean weight exceeds the corpus mean (selection probability
    is proportional to n_chars), and the transition-matrix rows of
    agg_markov_transitions must each sum to ~1."""
    from streamingdemo_spark.extensions.corpus import SAMPLE_WEIGHTED_K
    from streamingdemo_spark.registry import QUERIES

    s1 = QUERIES["ext_sample_weighted"](spark, sf_dir).collect()
    s2 = QUERIES["ext_sample_weighted"](spark, sf_dir).collect()
    assert [r["doc_id"] for r in s1] == [r["doc_id"] for r in s2]
    assert len(s1) == SAMPLE_WEIGHTED_K
    sampled_mean = sum(r["w"] for r in s1) / len(s1)
    corpus = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus_mean = (
        corpus.agg({"n_chars": "avg"}).collect()[0][0]
    )
    assert sampled_mean > corpus_mean * 1.05, (sampled_mean, corpus_mean)

    trans = QUERIES["agg_markov_transitions"](spark, sf_dir).collect()
    by_from: dict[str, float] = {}
    for r in trans:
        by_from[r["from_type"]] = by_from.get(r["from_type"], 0.0) + r["p"]
    for ft, tot in by_from.items():
        assert abs(tot - 1.0) < 1e-4, (ft, tot)


def test_ts_decompose_additivity_and_negative_path(spark, sf_dir):
    """trend + seasonal + residual must reconstruct y*1000 exactly on
    every row (pure integer additivity), seasonal components must be
    roughly mean-zero per series, and the fixture must actually
    exercise negative detrended sums (the Spark-DIV vs DuckDB-floor
    divergence the offset trick guards against)."""
    from streamingdemo_spark.registry import QUERIES

    rows = QUERIES["ext_ts_decompose"](spark, sf_dir).collect()
    assert rows
    neg_seasonal = 0
    by_type: dict[str, list] = {}
    for r in rows:
        assert (
            r["trend_milli"] + r["seasonal_milli"] + r["resid_milli"]
            == r["y"] * 1000
        ), (r["event_type"], r["hr"])
        neg_seasonal += r["seasonal_milli"] < 0
        by_type.setdefault(r["event_type"], []).append(r["seasonal_milli"])
    # below-trend hours exist, so some seasonal components are negative
    # (the offset-DIV path is live, not vacuous)
    assert neg_seasonal > 0
    for etype, seas in by_type.items():
        assert abs(sum(seas)) / len(seas) < 1000, etype  # ~mean-zero


def test_dsir_weights_favor_target_domain(spark, sf_dir):
    """DSIR's whole point: documents from the target domain (lang='en')
    must score a higher mean importance weight than out-of-domain docs,
    and the selected set must be the top quartile by weight."""
    import pyspark.sql.functions as F

    from streamingdemo_spark.io import load_tables

    df = QUERIES["ext_dsir_weights"](spark, sf_dir)
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    joined = df.join(docs.select("doc_id", "lang"), "doc_id").collect()
    en = [r["logw_micro"] for r in joined if r["lang"] == "en"]
    other = [r["logw_micro"] for r in joined if r["lang"] != "en"]
    assert sum(en) / len(en) > sum(other) / len(other)
    n_sel = sum(1 for r in joined if r["selected"])
    # top quartile by construction (ties at the threshold may add rows)
    assert len(joined) // 4 <= n_sel <= len(joined) // 2
    # selected docs are exactly those at/above the weight threshold
    thr = min(r["logw_micro"] for r in joined if r["selected"])
    assert all(
        (r["logw_micro"] >= thr) == r["selected"] for r in joined
    )


def test_pq_adc_rerank_recall_vs_exact(spark, sf_dir):
    """The two-stage PQ serving layout must actually retrieve. These
    fixture embeddings are structure-free random vectors — PQ's worst
    case — so like test_ann_recall_against_exact the bound is
    "well above chance": top-10 of 500 by chance is 2%, the 8-byte
    codes + exact re-rank must hit >=20% (measured: 0.3 at sf0.001,
    0.7 at sf0.01). Re-rank distances must also be exact (monotone
    with true L2)."""
    import numpy as np
    import pyarrow.parquet as pq

    from streamingdemo_spark.extensions.similarity import PQ_QUERY

    rows = QUERIES["ext_sim_pq_adc"](spark, sf_dir).collect()
    got = [r["vec_id"] for r in rows]
    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    ids = t["vec_id"].to_numpy()
    emb = np.array(t["embedding"].to_pylist(), dtype=np.float64)
    q = emb[list(ids).index(PQ_QUERY)]
    d2 = ((emb - q) ** 2).sum(1)
    exact = [int(i) for dd, i in sorted(zip(d2, ids)) if i != PQ_QUERY][:10]
    # the 40-candidate pool is a corpus FRACTION knob (see PQ_CAND):
    # 8% of the 500-vector fixtures, 2% at sf0.1's 2000 — the chance
    # baseline for 10 hits of top-10 is 10*10/N, so >=2 (resp >=1)
    # stays an order of magnitude above chance at either size
    need = 2 if len(ids) <= 1000 else 1
    assert len(set(got) & set(exact)) >= need, (got, exact)
    # dist2 column is the true distance (rounded), so it must be
    # non-decreasing in rank order
    dists = [r["dist2"] for r in sorted(rows, key=lambda r: r["rk"])]
    assert dists == sorted(dists)


def test_ngram_pmi_surfaces_sticky_pairs(spark, sf_dir):
    """PMI must rank by stickiness, not raw frequency: every top-k
    bigram's observed count must exceed its independence expectation
    (pmi > 0 at these support levels), and the micro-nat floor must
    sit safely away from its rounding boundary (the cross-engine ulp
    guard used by the surprisal keys)."""
    import math

    import pyarrow.parquet as pq

    rows = QUERIES["ext_ngram_pmi"](spark, sf_dir).collect()
    assert len(rows) == 5
    assert all(r["pmi_micro"] > 0 for r in rows)
    # replay PMI in python and check boundary margins
    texts = pq.read_table(f"{sf_dir}/documents.parquet")["text"].to_pylist()
    uni, bg = {}, {}
    nu = nb = 0
    for s in texts:
        t = s.split(" ")
        if len(t) < 2:
            continue
        for w in t:
            uni[w] = uni.get(w, 0) + 1
            nu += 1
        for a, b in zip(t, t[1:]):
            bg[(a, b)] = bg.get((a, b), 0) + 1
            nb += 1
    for r in rows:
        a, b = r["bigram"].split(" ")
        x = math.log(
            (bg[(a, b)] / nb) / ((uni[a] / nu) * (uni[b] / nu))
        ) * 1e6 + 0.5
        assert abs(x - round(x)) > 1e-3 or x == round(x), (r["bigram"], x)
        assert math.floor(x) == r["pmi_micro"]


def test_matryoshka_overlap_monotone_in_dim(spark, sf_dir):
    """The sweep's verdict must be coherent: at d=64 overlap is
    exactly top-k with itself (10, top1_same), and mean overlap must
    not DECREASE as the prefix grows (longer prefixes approximate the
    full metric at least as well, on average across queries)."""
    rows = QUERIES["ext_embedding_matryoshka"](spark, sf_dir).collect()
    by_dim: dict = {}
    for r in rows:
        by_dim.setdefault(r["dim"], []).append(r)
    assert set(by_dim) == {8, 16, 32, 64}
    assert all(
        r["n_overlap"] == 10 and r["top1_same"] for r in by_dim[64]
    )
    means = {
        d: sum(r["n_overlap"] for r in v) / len(v)
        for d, v in by_dim.items()
    }
    assert means[8] <= means[16] <= means[32] <= means[64], means


def test_heaps_law_curves_are_cumulative_and_beta_sublinear(spark, sf_dir):
    """Prefixes are cumulative, so both curves must be non-decreasing
    with vocab <= tokens at every point; on natural-ish text the
    fitted exponent must be sublinear (0 < beta < 1), and it must
    equal the closed-form OLS replayed in python from the same
    points."""
    import math

    rows = sorted(
        QUERIES["ext_heaps_law"](spark, sf_dir).collect(),
        key=lambda r: r["k"],
    )
    ns = [r["n_tokens"] for r in rows]
    vs = [r["vocab"] for r in rows]
    assert ns == sorted(ns) and vs == sorted(vs)
    assert all(v <= n for v, n in zip(vs, ns))
    beta = rows[0]["heaps_beta"]
    assert 0.0 < beta < 1.0
    xs = [math.floor(math.log(n) * 1e6 + 0.5) for n in ns]
    ys = [math.floor(math.log(v) * 1e6 + 0.5) for v in vs]
    k = len(xs)
    num = k * sum(x * y for x, y in zip(xs, ys)) - sum(xs) * sum(ys)
    den = k * sum(x * x for x in xs) - sum(xs) ** 2
    assert abs(beta - num / den) < 1e-6


def test_ivfpq_candidates_come_only_from_probed_cells(spark, sf_dir):
    """The composed pipeline's routing claim: every returned neighbor
    must be homed in one of the query's N_PROBE coarse cells, and the
    re-ranked distances must be non-decreasing in rank."""
    from streamingdemo_spark.extensions.similarity import (
        N_PROBE,
        PQ_QUERY,
        _ivf_assigned_and_qcells,
    )

    rows = QUERIES["ext_sim_ivfpq_topk"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 10
    assigned, qcells = _ivf_assigned_and_qcells(spark, sf_dir, qmax=8)
    probe = {
        r["cell"]
        for r in qcells.filter(f"q_id = {PQ_QUERY}").collect()
    }
    assert len(probe) == N_PROBE
    home = {r["vec_id"]: r["cell"] for r in assigned.collect()}
    assert all(home[r["vec_id"]] in probe for r in rows)
    dists = [r["dist2"] for r in sorted(rows, key=lambda r: r["rk"])]
    assert dists == sorted(dists)


def test_cdc_chunks_survive_prefix_edit(sf_dir):
    """The reason content-defined chunking exists: prepending one
    character must leave all chunks after the first content-anchored
    cut identical, while fixed-width chunking re-cuts everything.
    Pure-python check against the same cut function the Spark UDF
    uses, over every fixture document."""
    import pyarrow.parquet as pq

    from streamingdemo_spark.extensions.dedup import cdc_cut_positions

    def chunks(t):
        cuts = cdc_cut_positions(t)
        starts = [1] + [c + 1 for c in cuts]
        ends = cuts + [len(t)]
        return [t[s - 1 : e] for s, e in zip(starts, ends) if s <= e]

    texts = pq.read_table(f"{sf_dir}/documents.parquet")["text"].to_pylist()
    tot_cdc = tot_fixed = tot_chunks = 0
    for text in texts:
        orig, edited = chunks(text), chunks("X" + text)
        tot_chunks += len(orig)
        tot_cdc += len(set(orig) & set(edited))
        fixed = {text[i : i + 32] for i in range(0, len(text), 32)}
        fixed_e = {
            ("X" + text)[i : i + 32]
            for i in range(0, len(text) + 1, 32)
        }
        tot_fixed += len(fixed & fixed_e)
    # content-defined: at most the leading chunks are disturbed (the
    # first cut itself can vanish when the edit reaches its gram, so
    # up to 2 per doc)
    assert tot_cdc >= tot_chunks - 2 * len(texts)
    # and it must beat fixed-width chunking by a wide margin
    assert tot_cdc > 5 * max(tot_fixed, 1)


def test_setjoin_prefix_filter_prunes_and_is_lossless(spark, sf_dir):
    """The prefix filter must PRUNE (candidate pairs well below the
    share-any-shingle pair count) yet stay LOSSLESS (every true
    tau-similar pair is a candidate — also proven corpus-wide by the
    key's hash equality with the exhaustive oracle). Replayed in pure
    python from the same global rarity order."""
    import itertools

    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/documents.parquet")
    sets = {}
    for did, text in zip(
        t["doc_id"].to_pylist(), t["text"].to_pylist()
    ):
        w = text.split(" ")
        if len(w) >= 3:
            sets[did] = {
                " ".join(w[i : i + 3]) for i in range(len(w) - 2)
            }
    df: dict = {}
    for s in sets.values():
        for g in s:
            df[g] = df.get(g, 0) + 1
    order = lambda g: (df[g], g)  # noqa: E731
    prefixes = {
        did: set(
            sorted(s, key=order)[: len(s) - ((len(s) + 1) // 2) + 1]
        )
        for did, s in sets.items()
    }
    # candidates: prefix tokens joined against full sets
    by_tok: dict = {}
    for did, s in sets.items():
        for g in s:
            by_tok.setdefault(g, []).append(did)
    cand = set()
    for did, pre in prefixes.items():
        for g in pre:
            for other in by_tok[g]:
                if other != did:
                    cand.add((min(did, other), max(did, other)))
    share_any = set()
    for docs in by_tok.values():
        for a, b in itertools.combinations(sorted(docs), 2):
            share_any.add((a, b))
    # pruning weakens as the corpus grows (the rarest shingles get
    # commoner): 0.10 at sf0.001, ~0.45 at sf0.1 — require a strict
    # cut at any scale, and the tight ratio at the suite's default sf
    bound = 0.25 if len(sets) <= 1000 else 0.6
    assert len(cand) < bound * len(share_any), (len(cand), len(share_any))
    true_pairs = {
        (a, b)
        for a, b in share_any
        if 2 * len(sets[a] & sets[b]) >= len(sets[a] | sets[b])
    }
    assert true_pairs <= cand  # losslessness
    got = {
        (r["doc_a"], r["doc_b"])
        for r in QUERIES["ext_dedup_setjoin"](spark, sf_dir).collect()
    }
    assert got == true_pairs


class TestSemDeDup:
    """ext_semdedup: cluster-scoped dedup verdicts are self-consistent."""

    def test_semdedup_verdicts_check_out(self, spark, sf_dir):
        import numpy as np

        from streamingdemo_spark.extensions.dedup import SEMDEDUP_TAU

        num, den = SEMDEDUP_TAU
        out = QUERIES["ext_semdedup"](spark, sf_dir).collect()
        emb = {
            r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .collect()
        }
        rows = {r["vec_id"]: r for r in out}
        assert len(rows) == len(emb)  # verdict for every vector
        dups = [r for r in out if r["is_dup"]]
        keeps = [r for r in out if not r["is_dup"]]
        assert dups and keeps  # non-vacuous both ways
        qv = {k: np.floor(v * 1000 + 0.5).astype(np.int64)
              for k, v in emb.items()}
        for r in dups:
            d = rows[r["dup_of"]]
            # dominator exists, same cell, earlier keep-priority
            assert d["cell"] == r["cell"]
            assert (d["dist2"], d["vec_id"]) >= (r["dist2"], -1) or (
                d["dist2"] > r["dist2"]
                or (d["dist2"] == r["dist2"] and d["vec_id"] < r["vec_id"])
            )
            # quantized cosine really above tau = num/den
            a, b = qv[r["vec_id"]], qv[r["dup_of"]]
            g = int(a @ b)
            assert g > 0 and den * den * g * g > num * num * int(a @ a) * int(
                b @ b
            )
        # kept vectors: spot-check a handful have NO dominator above tau
        by_cell: dict = {}
        for r in out:
            by_cell.setdefault(r["cell"], []).append(r)
        checked = 0
        for r in keeps[:20]:
            mates = [
                m
                for m in by_cell[r["cell"]]
                if (m["dist2"], m["vec_id"]) != (r["dist2"], r["vec_id"])
                and (
                    m["dist2"] > r["dist2"]
                    or (m["dist2"] == r["dist2"] and m["vec_id"] < r["vec_id"])
                )
            ]
            a = qv[r["vec_id"]]
            for m in mates:
                b = qv[m["vec_id"]]
                g = int(a @ b)
                assert not (
                    g > 0
                    and den * den * g * g
                    > num * num * int(a @ a) * int(b @ b)
                )
                checked += 1
        assert checked  # the spot-check actually exercised pairs


class TestHardNegatives:
    """ext_hard_negatives: DPR-style triplet mining invariants."""

    def test_triplets_are_label_consistent_top_ranked(self, spark, sf_dir):
        import numpy as np

        from streamingdemo_spark.extensions.similarity import (
            N_HARDNEG,
            N_QUERIES,
        )

        out = QUERIES["ext_hard_negatives"](spark, sf_dir).collect()
        emb_rows = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
        label = {r["vec_id"]: r["label"] for r in emb_rows}
        vec = {
            r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb_rows
        }
        by_q: dict = {}
        for r in out:
            by_q.setdefault(r["q_id"], []).append(r)
        assert set(by_q) == set(range(N_QUERIES))
        for q_id, rows in by_q.items():
            assert len(rows) == N_HARDNEG
            assert sorted(r["neg_rank"] for r in rows) == list(
                range(1, N_HARDNEG + 1)
            )
            for r in rows:
                # supervision: positive shares the query's label,
                # negatives don't; margin is the score difference
                assert label[r["pos_id"]] == label[q_id]
                assert label[r["neg_id"]] != label[q_id]
                assert abs(r["margin"] - round(r["pos_cos"] - r["neg_cos"], 4)) < 1e-12

        # brute-force re-derivation for one query
        q_id = 0
        qv = vec[q_id]
        cos = {
            v: round(
                float(qv @ x / (np.linalg.norm(qv) * np.linalg.norm(x))), 4
            )
            for v, x in vec.items()
            if v != q_id
        }
        diff = sorted(
            ((c, v) for v, c in cos.items() if label[v] != label[q_id]),
            key=lambda t: (-t[0], t[1]),
        )
        expect = [v for _, v in diff[:N_HARDNEG]]
        got = [
            r["neg_id"] for r in sorted(by_q[0], key=lambda r: r["neg_rank"])
        ]
        assert got == expect


class TestRetrievalMetrics:
    """ext_retrieval_metrics: IR metrics agree with a re-derivation
    from the two ranked legs they evaluate."""

    def test_metrics_match_rederivation(self, spark, sf_dir):
        from streamingdemo_spark.extensions.retrieval import (
            _DCG_GAINS,
            _IDCG_MICRO,
            EVAL_K,
        )
        from streamingdemo_spark.extensions.similarity import (
            ann_lsh_ranked,
            exact_cosine_ranked,
        )

        out = {r["q_id"]: r for r in
               QUERIES["ext_retrieval_metrics"](spark, sf_dir).collect()}
        run = [
            (r["q_id"], r["vec_id"], r["rank"])
            for r in ann_lsh_ranked(spark, sf_dir)
            .filter(F.col("rank") <= EVAL_K)
            .collect()
        ]
        rel = {
            (r["q_id"], r["vec_id"])
            for r in exact_cosine_ranked(spark, sf_dir)
            .filter(F.col("rank") <= EVAL_K)
            .collect()
        }
        per: dict = {}
        for q, v, rk in run:
            st = per.setdefault(q, {"n": 0, "hits": 0, "fr": None, "dcg": 0})
            st["n"] += 1
            if (q, v) in rel:
                st["hits"] += 1
                st["dcg"] += _DCG_GAINS[rk - 1]
                if st["fr"] is None or rk < st["fr"]:
                    st["fr"] = rk
        assert set(out) == set(per)
        for q, st in per.items():
            r = out[q]
            assert r["n_ret"] == st["n"] and r["hits"] == st["hits"]
            assert r["dcg_micro"] == st["dcg"]
            assert r["mrr_micro"] == (
                1000000 // st["fr"] if st["fr"] else 0
            )
            assert 0.0 <= r["ndcg"] <= 1.0
            assert abs(r["ndcg"] - round(st["dcg"] / _IDCG_MICRO, 6)) < 1e-12
        # the eval is non-degenerate: the index finds something, and
        # the harness can tell an index from an exact scan
        assert any(r["hits"] > 0 for r in out.values())


class TestTsHolt:
    """ext_ts_holt: the order-pinned fold matches a plain-Python
    replay of Holt's recursion bit-for-bit."""

    def test_holt_matches_python_replay(self, spark, sf_dir):
        from streamingdemo_spark.plans.behavior import HOLT_ALPHA, HOLT_BETA

        out = {
            r["user_id"]: r
            for r in QUERIES["ext_ts_holt"](spark, sf_dir).collect()
        }
        ev = sorted(
            spark.read.parquet(f"{sf_dir}/events.parquet").collect(),
            key=lambda r: (r["user_id"], r["ts"], r["event_id"]),
        )
        series: dict = {}
        for r in ev:
            series.setdefault(r["user_id"], []).append(r["value"])
        assert set(out) == set(series)
        for uid, xs in series.items():
            l, b = xs[1], xs[1] - xs[0]
            for x in xs[2:]:
                l_new = HOLT_ALPHA * x + (1 - HOLT_ALPHA) * (l + b)
                b = HOLT_BETA * (l_new - l) + (1 - HOLT_BETA) * b
                l = l_new
            r = out[uid]
            assert r["n_obs"] == len(xs)
            assert r["level"] == round(l, 6) + 0.0
            assert r["trend"] == round(b, 6) + 0.0
            assert r["forecast"] == round(l + b, 6) + 0.0
        # the fit is non-degenerate: trends differ across series
        assert len({r["trend"] for r in out.values()}) > 1


class TestTsHoltWinters:
    """ext_ts_holt_winters: the triple (level, trend, seasonal-queue)
    fold matches a plain-Python replay bit-for-bit."""

    def test_holt_winters_matches_python_replay(self, spark, sf_dir):
        from streamingdemo_spark.plans.behavior import (
            HW_ALPHA, HW_BETA, HW_GAMMA, HW_PERIOD,
        )

        out = {
            r["user_id"]: r
            for r in QUERIES["ext_ts_holt_winters"](spark, sf_dir).collect()
        }
        ev = sorted(
            spark.read.parquet(f"{sf_dir}/events.parquet").collect(),
            key=lambda r: (r["user_id"], r["ts"], r["event_id"]),
        )
        series: dict = {}
        for r in ev:
            series.setdefault(r["user_id"], []).append(r["value"])
        assert set(out) == set(series)
        m = HW_PERIOD
        for uid, xs in series.items():
            assert len(xs) >= 2 * m  # documented contract bound
            l = sum(xs[1:m], xs[0]) / m  # left-assoc, as both engines
            b = sum(
                (xs[m + i] - xs[i] for i in range(1, m)), xs[m] - xs[0]
            ) / (m * m)
            seas = [x - l for x in xs[:m]]
            for x in xs[m:]:
                s_old = seas[0]
                l_new = HW_ALPHA * (x - s_old) + (1 - HW_ALPHA) * (l + b)
                b = HW_BETA * (l_new - l) + (1 - HW_BETA) * b
                s_new = HW_GAMMA * (x - l_new) + (1 - HW_GAMMA) * s_old
                l = l_new
                seas = seas[1:] + [s_new]
            r = out[uid]
            assert r["n_obs"] == len(xs)
            assert r["level"] == round(l, 6) + 0.0
            assert r["trend"] == round(b, 6) + 0.0
            assert r["seasonal_next"] == round(seas[0], 6) + 0.0
            assert r["forecast"] == round(l + b + seas[0], 6) + 0.0
        # the seasonal component is non-degenerate
        assert len({r["seasonal_next"] for r in out.values()}) > 1


class TestClusterKMeans:
    """ext_cluster_kmeans: the deterministic Lloyd fit matches a
    numpy replay exactly (seeds, assignments, floor-div centroids)."""

    def test_kmeans_matches_numpy_replay(self, spark, sf_dir):
        import numpy as np

        from streamingdemo_spark.extensions.similarity import (
            KMEANS_K, KMEANS_ROUNDS,
        )

        out = {
            r["cluster_id"]: r
            for r in QUERIES["ext_cluster_kmeans"](spark, sf_dir).collect()
        }
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
        order = sorted(range(len(emb)), key=lambda i: emb[i]["vec_id"])
        q = np.floor(
            np.array(
                [emb[i]["embedding"] for i in order], dtype=np.float64
            ) * 1000 + 0.5
        ).astype(np.int64)
        cents = q[:KMEANS_K].copy()
        for _ in range(KMEANS_ROUNDS):
            d2 = ((q[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            asg = d2.argmin(axis=1)  # ties -> lowest cid, as the key
            cents = np.array([
                np.floor_divide(q[asg == j].sum(axis=0), (asg == j).sum())
                if (asg == j).any() else cents[j]
                for j in range(KMEANS_K)
            ])
        d2 = ((q[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        asg = d2.argmin(axis=1)
        assert set(out) == set(range(KMEANS_K))
        for j in range(KMEANS_K):
            r = out[j]
            assert r["n_vecs"] == int((asg == j).sum())
            assert r["inertia"] == int(d2[asg == j, j].sum())
            assert r["cent_l1"] == int(np.abs(cents[j]).sum())
        # structural sanity: a partition of the corpus, non-degenerate
        assert sum(r["n_vecs"] for r in out.values()) == len(emb)
        assert sum(1 for r in out.values() if r["n_vecs"] > 0) > 1


class TestCoresetKCenter:
    """ext_coreset_kcenter: the greedy chain matches a numpy replay
    and the coverage radius is monotone non-increasing."""

    def test_kcenter_matches_numpy_replay(self, spark, sf_dir):
        import numpy as np

        from streamingdemo_spark.extensions.similarity import KCENTER_K

        out = sorted(
            QUERIES["ext_coreset_kcenter"](spark, sf_dir).collect(),
            key=lambda r: r["sel_rank"],
        )
        assert [r["sel_rank"] for r in out] == list(range(1, KCENTER_K + 1))
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
        ids = np.array([r["vec_id"] for r in emb])
        q = np.floor(
            np.array([r["embedding"] for r in emb], dtype=np.float64) * 1000
            + 0.5
        ).astype(np.int64)
        order = np.argsort(ids)
        ids, q = ids[order], q[order]
        nrm = (q * q).sum(axis=1)
        # seed: max norm, min vec_id tiebreak
        i = np.lexsort((ids, -nrm))[0]
        picks, radii = [ids[i]], []
        mind = ((q - q[i]) ** 2).sum(axis=1)
        for _ in range(2, KCENTER_K + 1):
            j = np.lexsort((ids, -mind))[0]
            radii.append(int(mind[j]))
            picks.append(ids[j])
            mind = np.minimum(mind, ((q - q[j]) ** 2).sum(axis=1))
        radii.append(int(mind.max()))
        assert [r["vec_id"] for r in out] == [int(p) for p in picks]
        assert [r["radius2"] for r in out] == radii
        # greedy k-center property: radius never increases with k
        rs = [r["radius2"] for r in out]
        assert all(a >= b for a, b in zip(rs, rs[1:]))
        assert len({r["vec_id"] for r in out}) == KCENTER_K


class TestBootstrapCI:
    """ext_bootstrap_ci: the Poisson-weight PRNG matches a Python
    replay exactly, and the interval behaves like a bootstrap CI."""

    def test_bootstrap_matches_python_replay(self, spark, sf_dir):
        from streamingdemo_spark.extensions.corpus import (
            BOOT_B, _BOOT_CDF, _BOOT_MIX, _BOOT_P,
        )

        out = sorted(
            QUERIES["ext_bootstrap_ci"](spark, sf_dir).collect(),
            key=lambda r: r["replicate"],
        )
        assert [r["replicate"] for r in out] == list(range(BOOT_B))
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
        means = []
        for r in range(BOOT_B):
            n_w = sum_w = 0
            for d in docs:
                m = ((d["doc_id"] % _BOOT_P) * 1000003
                     + (r + 1) * _BOOT_MIX) % _BOOT_P
                h = (m * _BOOT_MIX) % _BOOT_P
                w = 7
                for k, t in enumerate(_BOOT_CDF):
                    if h < t:
                        w = k
                        break
                n_w += w
                sum_w += w * d["n_chars"]
            row = out[r]
            assert row["n_w"] == n_w and row["sum_w"] == sum_w
            means.append(sum_w / n_w)
            assert row["mean_rep"] == round(sum_w / n_w, 6) + 0.0
        # CI sanity: lo <= hi, and the interval brackets the replicate
        # spread (it is computed FROM these means)
        lo, hi = out[0]["boot_lo"], out[0]["boot_hi"]
        assert all(r["boot_lo"] == lo and r["boot_hi"] == hi for r in out)
        assert lo <= hi
        assert min(means) <= lo and hi <= max(means)
        # Poisson(1) weights resample ~n rows per replicate; Var(w)=1
        # so |sum(w) - n| concentrates at ~sqrt(n) — gate at 5 sigma
        n = len(docs)
        assert all(abs(r["n_w"] - n) < 5 * n ** 0.5 for r in out)
        # the true corpus mean falls inside the 95% interval here
        true_mean = sum(d["n_chars"] for d in docs) / n
        assert lo <= true_mean <= hi


class TestAttributionShapley:
    """ext_attribution_shapley: exact replay of the coalition values
    and the Shapley efficiency property."""

    def test_shapley_matches_replay_and_is_efficient(self, spark, sf_dir):
        from math import factorial

        from streamingdemo_spark.plans.behavior import (
            SHAPLEY_CHANNELS, _SHAP_SCALE, _shapley_terms,
        )

        out = {
            r["channel"]: r
            for r in QUERIES["ext_attribution_shapley"](
                spark, sf_dir
            ).collect()
        }
        assert set(out) == set(SHAPLEY_CHANNELS)
        # rebuild v from raw events with an independent sessionizer
        ev = sorted(
            spark.read.parquet(f"{sf_dir}/events.parquet").collect(),
            key=lambda r: (r["user_id"], r["ts"], r["event_id"]),
        )
        sessions: dict = {}
        last = {}
        sid = {}
        for r in ev:
            u = r["user_id"]
            if u not in last or (r["ts"] - last[u]).total_seconds() > 1800:
                sid[u] = sid.get(u, -1) + 1
            last[u] = r["ts"]
            sessions.setdefault((u, sid[u]), []).append(r["event_type"])
        stats: dict = {}
        for types in sessions.values():
            key = ",".join(sorted(set(t for t in types if t != "purchase")))
            if not key:
                continue
            cnt, conv = stats.get(key, (0, 0))
            stats[key] = (cnt + 1, conv + ("purchase" in types))
        v = {
            k: (conv * _SHAP_SCALE) // cnt for k, (cnt, conv) in stats.items()
        }
        phi = {c: 0 for c in SHAPLEY_CHANNELS}
        for ch, coef, k1, k0 in _shapley_terms():
            phi[ch] += coef * (v.get(k1, 0) - v.get(k0, 0))
        for c in SHAPLEY_CHANNELS:
            assert out[c]["phi_scaled"] == phi[c]
        # efficiency: sum(phi) == v(full coalition) - v(empty) exactly
        kfact = factorial(len(SHAPLEY_CHANNELS))
        full = ",".join(sorted(SHAPLEY_CHANNELS))
        assert sum(r["phi_scaled"] for r in out.values()) == kfact * v.get(
            full, 0
        )
        # non-degenerate: some channel carries credit
        assert any(r["phi_scaled"] != 0 for r in out.values())


def test_compression_ratio_fingerprint_pinned(spark):
    """The rows-only compression key is byte-pinned per zlib build
    (its FINAL CONTRACT): same zlib -> identical output bytes. A
    mismatch means the key's output drifted without a deliberate
    repin (tools/compression_fp.py)."""
    import json
    import zlib
    from pathlib import Path

    from tools.compression_fp import OUT, compute

    if not OUT.exists():
        raise AssertionError(
            "COMPRESSION_FP.json missing — run tools/compression_fp.py"
        )
    rec = json.load(open(OUT))
    if rec["zlib_runtime"] != zlib.ZLIB_RUNTIME_VERSION:
        import pytest

        pytest.skip(
            f"zlib {zlib.ZLIB_RUNTIME_VERSION} != pinned "
            f"{rec['zlib_runtime']} — regenerate the fingerprint"
        )
    assert compute(spark) == rec


def test_embedding_cluster_consistent_with_pairs(spark, sf_dir):
    """Every verified near-dup pair must be co-clustered, every
    cluster member must reach its canonical id (the component min),
    and sizes must recount — the same contract the minhash and phash
    cluster keys pin, applied to the semantic family."""
    from streamingdemo_spark.registry import QUERIES

    pairs = QUERIES["ext_dedup_embedding"](spark, sf_dir).collect()
    clus = QUERIES["ext_dedup_embedding_cluster"](spark, sf_dir).collect()
    canon = {r["vec_id"]: r["canonical_id"] for r in clus}
    for p in pairs:
        assert canon[p["vec_a"]] == canon[p["vec_b"]], (p["vec_a"], p["vec_b"])
    from collections import Counter

    sizes = Counter(canon.values())
    members: dict[int, list[int]] = {}
    for v, c in canon.items():
        members.setdefault(c, []).append(v)
    for r in clus:
        assert r["cluster_size"] == sizes[r["canonical_id"]]
        assert r["canonical_id"] == min(members[r["canonical_id"]])
        assert r["cluster_size"] >= 2
    assert clus  # planted mutants guarantee non-empty clusters


def test_graduated_occupancy_recovers_planted_pair_in_dense_batch(spark):
    """The streaming index's graduated rollup (r12 verdict: the
    streaming leg ran refine=False, so a crowd-dense micro-batch whose
    band bucket exceeded the cap dropped whole with no second chance,
    losing planted pairs the batch key's r12 fix protects): feed the
    OCCUPANCY of a synthetic crowd-dense micro-batch — one band bucket
    holding a 38-member crowd plus a planted pair sharing a refine
    value — through :func:`graduated_occupancy` and assert the pair's
    refined sub-bucket survives as a probe-able (n_vecs >= 2) index
    row, while a bucket dense at BOTH refine levels still drops whole
    (the candidate-volume bound) and an under-cap bucket stays
    unsplit. Weighted twin of refine_capped_bands: same fates, driven
    by sub-bucket counts instead of member rows."""
    from streamingdemo_spark.extensions.dedup import graduated_occupancy

    # (band_no, band_val, refine_val, refine2_val, n_vecs, lo, hi)
    fin_rows = []
    # bucket 111: 76-member crowd spread over 19 refine values (4 per
    # level-1 sub-bucket), plus the planted pair (vec ids 0 and 1)
    # sharing refine 99 -> over cap at level 0 (78 > 16), every
    # level-1 sub-bucket under cap
    fin_rows += [(0, 111, (i % 19) + 100, i // 19, 2, 1000 + i,
                  1075 - i) for i in range(38)]
    fin_rows += [(0, 111, 99, 0, 2, 0, 1)]  # the pair's finest bucket
    # bucket 222: 40 members dense at both levels -> dropped whole
    fin_rows += [(0, 222, 7, 9, 40, 2000, 2039)]
    # bucket 333: under cap -> untouched, sub = sub2 = -1
    fin_rows += [(0, 333, 5, 6, 5, 3000, 3004)]
    fin = spark.createDataFrame(
        fin_rows,
        "band_no int, band_val long, refine_val long, refine2_val long,"
        " n_vecs long, lo_vec long, hi_vec long",
    )
    out = {
        (r["band_val"], r["sub"], r["sub2"]): r
        for r in graduated_occupancy(fin, cap=16).collect()
    }
    # the planted pair's refined bucket IS in the index (pre-r13 the
    # coarse 80-member bucket was one over-cap row a cap-disciplined
    # prober had to drop whole)
    pair = out[(111, 99, -1)]
    assert pair["n_vecs"] == 2
    assert (pair["lo_vec"], pair["hi_vec"]) == (0, 1)
    # every crowd sub-bucket also survives (spread level-1 values)
    assert all(k[1] != -1 for k in out if k[0] == 111)
    # both-levels-dense bucket dropped whole
    assert not any(k[0] == 222 for k in out)
    # under-cap bucket unsplit
    assert out[(333, -1, -1)]["n_vecs"] == 5


def test_refine_capped_bands_graduated_split_and_drop(spark):
    """The r12 cap semantics on crafted buckets (no fixture bucket
    exceeds the cap below sf10, so this is the unit witness for the
    refinement path): an over-cap bucket whose LEVEL-1 refine values
    spread keeps its members (sub = refine, sub2 = -1 — a planted
    pair sharing a refine value still joins); a bucket whose level-1
    values collide but level-2 values spread survives via the SECOND
    split (sub2 = refine2); a bucket colliding at BOTH levels is
    dropped whole (the hard candidate-volume bound); an under-cap
    bucket passes untouched with sub = sub2 = -1."""
    from streamingdemo_spark.extensions.dedup import refine_capped_bands

    rows = []
    # bucket A: 40 rows, level-1 refine spread -> one split suffices;
    # ids 0/1 share refine 99 (the planted pair)
    rows += [(i, 0, 111, (i % 20) + 100, 0) for i in range(2, 40)]
    rows += [(0, 0, 111, 99, 0), (1, 0, 111, 99, 0)]
    # bucket B: 40 rows, ALL level-1 refine 7, level-2 spread ->
    # survives via the second split; ids 100/101 share refine2 88
    rows += [(102 + i, 0, 222, 7, (i % 20) + 100) for i in range(38)]
    rows += [(100, 0, 222, 7, 88), (101, 0, 222, 7, 88)]
    # bucket D: 40 rows colliding at BOTH levels -> dropped whole
    rows += [(300 + i, 0, 444, 7, 9) for i in range(40)]
    # bucket C: 5 rows, under cap -> untouched
    rows += [(200 + i, 0, 333, i, i) for i in range(5)]
    bands = spark.createDataFrame(
        rows,
        "vec_id long, band_no int, band_val long, "
        "refine_val long, refine2_val long",
    )
    out = refine_capped_bands(bands, cap=16).collect()
    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r["band_val"], []).append(r)
    # A: one split suffices — all survive, pair shares (val, sub, sub2)
    assert len(by_bucket.get(111, [])) == 40
    a = {r["vec_id"]: (r["sub"], r["sub2"]) for r in by_bucket[111]}
    assert a[0] == a[1] == (99, -1)
    assert all(s != -1 and s2 == -1 for s, s2 in a.values())
    # B: second split rescues — all survive, pair shares sub2
    assert len(by_bucket.get(222, [])) == 40
    bmap = {r["vec_id"]: (r["sub"], r["sub2"]) for r in by_bucket[222]}
    assert bmap[100] == bmap[101] == (7, 88)
    assert all(s == 7 and s2 != -1 for s, s2 in bmap.values())
    # D: collides at both levels -> dropped whole
    assert 444 not in by_bucket
    # C: untouched
    assert [(r["sub"], r["sub2"]) for r in by_bucket.get(333, [])] == [
        (-1, -1)
    ] * 5


def test_refine_capped_bands_deep_levels_split_doubly_dense_core(spark):
    """r13 x1600 forward-probe decomposition: 21.3 of the 27.6 lost
    recall points were crowd CORES that survived BOTH certified refine
    levels above the cap and dropped whole — the split depth was a
    constant while crowd depth grows with density. The batch pipeline
    now refines up to _EMB_DEEP_LEVELS graduated levels: a crowd dense
    at levels 1-2 but split by level 3 keeps its members (and a
    planted pair sharing the level-3 cell co-buckets), while a crowd
    dense at ALL four levels still drops whole (the candidate-volume
    bound is depth-independent). At levels=2 the function must remain
    the certified two-level form: the same crafted crowd drops whole."""
    from streamingdemo_spark.extensions.dedup import refine_capped_bands

    cap = 16
    rows = []
    # one band bucket, 40 members: identical refine values at levels
    # 1-2 (the surviving core), spread 4-per-cell by level 3; the
    # planted pair (vec 0, 1) shares level-3 cell 100
    for i in range(38):
        rows.append((1000 + i, 0, 111, 7, 9, (i % 10) + 101, 5))
    rows += [(0, 0, 111, 7, 9, 100, 5), (1, 0, 111, 7, 9, 100, 5)]
    # a second bucket dense at every level -> dropped whole even deep
    rows += [(2000 + i, 0, 222, 1, 2, 3, 4) for i in range(40)]
    # an under-cap bucket -> all subs stay -1
    rows += [(3000 + i, 0, 333, 1, 2, 3, 4) for i in range(5)]
    bands = spark.createDataFrame(
        rows,
        "vec_id long, band_no int, band_val long, refine_val long,"
        " refine2_val long, refine3_val long, refine4_val long",
    )
    deep = refine_capped_bands(bands, cap=cap, levels=4)
    got = {r["vec_id"]: r for r in deep.collect()}
    assert 0 in got and 1 in got, "level-3 split must keep the pair"
    assert (
        got[0]["sub3"] == got[1]["sub3"] == 100
        and got[0]["sub4"] == got[1]["sub4"] == -1
    )
    assert not any(2000 <= v < 2040 for v in got), "all-level-dense drops"
    assert got[3000]["sub"] == -1 and got[3000]["sub4"] == -1
    # certified two-level behavior unchanged: the same core drops
    shallow = refine_capped_bands(
        bands.select(
            "vec_id", "band_no", "band_val", "refine_val", "refine2_val"
        ),
        cap=cap,
        levels=2,
    )
    kept = {r["vec_id"] for r in shallow.collect()}
    assert 0 not in kept and 1 not in kept
    assert any(3000 <= v < 3005 for v in kept)


def test_graduated_occupancy_deep_levels_split_doubly_dense_core(spark):
    """Streaming twin of the deep-level batch test: an occupancy whose
    crowd is dense at the two certified refine levels but split by
    level 3 must keep its planted pair's cell probe-able at levels=4
    (one graduated index row), while an every-level-dense bucket still
    drops whole and an under-cap bucket stays unsplit with all four
    subs at -1 — the streaming index now carries the same deep
    graduated structure as the batch candidate generator."""
    from streamingdemo_spark.extensions.dedup import graduated_occupancy

    rows = []
    # band bucket 111: 40 members share refine levels 1-2 (7, 9);
    # level 3 spreads them 4-per-cell; the pair's cell is 100
    for i in range(10):
        rows.append((0, 111, 7, 9, 101 + i, 5, 4, 1000 + i, 1039 - i))
    rows.append((0, 111, 7, 9, 100, 5, 2, 0, 1))
    # bucket 222: dense at every level -> dropped
    rows.append((0, 222, 1, 2, 3, 4, 40, 2000, 2039))
    # bucket 333: under cap -> untouched
    rows.append((0, 333, 1, 2, 3, 4, 5, 3000, 3004))
    fin = spark.createDataFrame(
        rows,
        "band_no int, band_val long, refine_val long, refine2_val long,"
        " refine3_val long, refine4_val long, n_vecs long,"
        " lo_vec long, hi_vec long",
    )
    out = {
        (r["band_val"], r["sub"], r["sub2"], r["sub3"], r["sub4"]): r
        for r in graduated_occupancy(fin, cap=16, levels=4).collect()
    }
    pair = out[(111, 7, 9, 100, -1)]
    assert pair["n_vecs"] == 2 and pair["lo_vec"] == 0
    assert not any(k[0] == 222 for k in out), "all-level-dense drops"
    under = out[(333, -1, -1, -1, -1)]
    assert under["n_vecs"] == 5
