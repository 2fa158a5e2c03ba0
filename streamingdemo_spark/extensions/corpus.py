"""Corpus-shaping operators for training-data pipelines (SURVEY §2.F
north-star surface): n-gram statistics, length bucketing for batch
packing, sub-document (chunk-level) deduplication, and deterministic
reproducible corpus shuffling.

Like the rest of the extension layer these run over the ``documents``
fixture with JVM builtins on the hot path — token arrays are
materialized once per row before any lambda indexes them (the
re-evaluation gotcha documented at ``text.py:_shingles`` / SCALE.md),
and every corpus-wide step is a bounded groupBy/window, never an
all-pairs or driver-side loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from streamingdemo_spark.io import load_tables, plan_bytes, spread_scan, tasks_for
from streamingdemo_spark.registry import opoly, poly_hash, query


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir, ("documents",))["documents"]


@query(
    "ext_ngram_stats",
    oracle="""
    WITH tok AS (
      SELECT lang, string_split(text, ' ') AS t FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ), bg AS (
      SELECT lang,
             unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i + 1])) AS bigram
      FROM tok
    ), counts AS (
      SELECT lang, bigram, COUNT(*) AS n FROM bg GROUP BY lang, bigram
    )
    SELECT lang, bigram, n, rn FROM
      (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                                    ORDER BY n DESC, bigram) AS rn
       FROM counts)
    WHERE rn <= 5
    """,
)
def ext_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus n-gram statistics: top-5 bigrams per language.

    The canonical distributed n-gram count: tokenize once, form
    adjacent-pair bigrams with a JVM higher-order function over the
    *materialized* token array, explode, then a two-level aggregate
    (map-side partial combine bounds the shuffle by bigram vocabulary,
    not corpus token count) and a windowed top-k. At 100 TB the only
    full-data pass is the scan+explode; everything after is
    vocabulary-sized.
    """
    with_toks = (
        _docs(spark, sf_dir)
        .select("lang", F.split("text", " ").alias("toks"))
        .filter(F.size("toks") >= 2)
    )
    toks = F.col("toks")
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        # element_at is 1-based, matching DuckDB's t[i]
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i), F.element_at(toks, i + 1)
        ),
    )
    counts = (
        with_toks.select("lang", F.explode(bigrams).alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("bigram"))
    return counts.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 5
    )


@query(
    "ext_length_bucket",
    oracle="""
    WITH d AS (
      SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    )
    SELECT (n_tok // 32) * 32 AS bucket_lo,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(SUM((n_tok // 32) * 32 + 32 - n_tok) AS BIGINT) AS pad_waste
    FROM d GROUP BY bucket_lo
    """,
)
def ext_length_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length bucketing for batch packing: group documents into
    32-token-wide buckets and report, per bucket, the document count,
    total tokens, and the padding waste if every doc were padded to
    the bucket ceiling.

    This is the planning query behind length-bucketed batching (pack
    similar-length sequences together to cut pad-token waste). Pure
    integer arithmetic end-to-end — no float bucket boundaries that
    could flip between engines — and a single scan + small aggregate:
    output cardinality is max_len/32 rows regardless of corpus size.
    """
    n_tok = F.size(F.split("text", " ")).cast("bigint")
    d = _docs(spark, sf_dir).select(n_tok.alias("n_tok"))
    bucket_lo = (F.floor(F.col("n_tok") / 32) * 32).cast("bigint")
    return (
        d.select("n_tok", bucket_lo.alias("bucket_lo"))
        .groupBy("bucket_lo")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.sum(F.col("bucket_lo") + 32 - F.col("n_tok")).alias("pad_waste"),
        )
    )


@query(
    "ext_chunk_dedup",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), chunks AS (
      SELECT doc_id,
             unnest(list_transform(
               range(0, (len(t) + 31) // 32),
               k -> array_to_string(t[k * 32 + 1 : k * 32 + 32], ' ')))
               AS chunk
      FROM tok
    ), freq AS (
      SELECT chunk, COUNT(*) AS n FROM chunks GROUP BY chunk
    )
    SELECT c.doc_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN f.n > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS dup_chunks,
           ROUND(SUM(CASE WHEN f.n > 1 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 4) AS dup_ratio,
           SUM(CASE WHEN f.n > 1 THEN 1 ELSE 0 END)
             <= 0.5 * COUNT(*) AS keep
    FROM chunks c JOIN freq f ON c.chunk = f.chunk
    GROUP BY c.doc_id
    """,
)
def ext_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document deduplication: split every document into 32-token
    chunks, count each chunk's global frequency, and flag documents
    whose duplicated-chunk ratio exceeds 50% (boilerplate-heavy pages
    whose *whole-doc* hash is unique but whose content is mostly
    copies — the case exact dedup misses and MinHash over-merges).

    Scale shape: chunks shuffle by chunk text for the frequency count
    (at 100 TB, substitute the 8-byte ``xxhash64(chunk)`` as the
    groupBy key as in ``ext_dedup_exact``), then one more shuffle by
    doc_id for the per-doc rollup. Both aggregates get map-side
    partial combine; nothing is quadratic in corpus size.
    """
    with_toks = _docs(spark, sf_dir).select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    toks = F.col("toks")
    n_chunks_expr = F.floor((F.size(toks) + 31) / 32).cast("int")
    chunk_list = F.transform(
        F.sequence(F.lit(0), n_chunks_expr - 1),
        lambda k: F.concat_ws(" ", F.slice(toks, k * 32 + 1, 32)),
    )
    chunks = with_toks.select(
        "doc_id", F.explode(chunk_list).alias("chunk")
    )
    freq = chunks.groupBy("chunk").agg(F.count("*").alias("n"))
    dup = F.sum(F.when(F.col("n") > 1, 1).otherwise(0))
    return (
        chunks.join(freq, "chunk")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            dup.alias("dup_chunks"),
            F.round(dup / F.count("*").cast("double"), 4).alias("dup_ratio"),
            (dup <= 0.5 * F.count("*")).alias("keep"),
        )
    )


@query(
    "ext_doc_shuffle",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, source,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(
                   string_split(CAST(doc_id AS VARCHAR) || ':seed42', ''),
                   c -> CAST(ascii(c) AS BIGINT))),
               (a, b) -> (a * 31 + b) % 1000000007) AS shuffle_key
      FROM documents
    )
    SELECT doc_id, source, shuffle_key,
           shuffle_key % 8 AS shard,
           ROW_NUMBER() OVER (ORDER BY shuffle_key, doc_id) AS pos
    FROM keyed
    """,
)
def ext_doc_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle for reproducible training order:
    key every document with the portable hash of ``doc_id:seed``, emit
    its global position under that order plus an 8-way shard id.

    Seeded hash ordering is how a 100 TB corpus gets a reproducible
    "random" epoch order without materializing a random permutation:
    keying and sharding are pure projections, and changing the seed
    string re-shuffles without touching the data layout. The global
    ``pos`` here exists to make the full order — not just the row set
    — oracle-checkable; it is a single-reducer window like any total
    order, so this key is the VERIFICATION variant. The production
    path is :func:`ext_doc_shuffle_sharded`, where positions are
    shard-local and nothing funnels through one task.
    """
    d = _docs(spark, sf_dir).select("doc_id", "source")
    key = poly_hash(F.concat(F.col("doc_id").cast("string"), F.lit(":seed42")))
    keyed = d.select("doc_id", "source", key.alias("shuffle_key"))
    w = Window.orderBy("shuffle_key", "doc_id")
    return keyed.select(
        "doc_id",
        "source",
        "shuffle_key",
        (F.col("shuffle_key") % 8).alias("shard"),
        F.row_number().over(w).alias("pos"),
    )


@query(
    "ext_doc_shuffle_sharded",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, source,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(
                   string_split(CAST(doc_id AS VARCHAR) || ':seed42', ''),
                   c -> CAST(ascii(c) AS BIGINT))),
               (a, b) -> (a * 31 + b) % 1000000007) AS shuffle_key
      FROM documents
    )
    SELECT doc_id, source, shuffle_key,
           shuffle_key % 8 AS shard,
           ROW_NUMBER() OVER (PARTITION BY shuffle_key % 8
                              ORDER BY shuffle_key, doc_id) AS shard_pos
    FROM keyed
    """,
)
def ext_doc_shuffle_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production epoch shuffle: the scale-safe variant of
    :func:`ext_doc_shuffle`.

    Same seeded-hash order, but the total order is expressed as
    (shard, shard-local position) instead of one global position:
    ``repartitionByRange(shard)`` routes each shard's rows to its own
    range partition, ``sortWithinPartitions(shuffle_key, doc_id)``
    lays them out in epoch order with a partition-local sort (no
    global exchange), and ``shard_pos`` is a window partitioned by
    shard — N_SHARDS parallel reducers, never one. The within-
    partition sort leads with ``shard`` so the range layout satisfies
    the window's required clustering AND ordering exactly: Catalyst
    inserts no further exchange and no further sort (pinned by a plan
    test). A trainer consumes shards in shard order, rows in shard_pos
    order, which replays the identical global order the verification
    key enumerates. At 100 TB raise N_SHARDS so each shard fits an
    executor (shards are hash-derived, so sizes stay balanced for any
    count).
    """
    d = _docs(spark, sf_dir).select("doc_id", "source")
    key = poly_hash(F.concat(F.col("doc_id").cast("string"), F.lit(":seed42")))
    # two projections on purpose: shard references the shuffle_key
    # COLUMN, so the hash is evaluated once per row (inlining `key`
    # twice would make the plan fold the string twice per row)
    keyed = d.select("doc_id", "source", key.alias("shuffle_key")).withColumn(
        "shard", F.col("shuffle_key") % 8
    )
    w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    return (
        keyed.repartitionByRange(8, "shard")
        .sortWithinPartitions("shard", "shuffle_key", "doc_id")
        .select(
            "doc_id",
            "source",
            "shuffle_key",
            "shard",
            F.row_number().over(w).alias("shard_pos"),
        )
    )


_MUTANT_DOCS_SQL = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id,
             array_to_string(list_filter(string_split(text, ' '),
                             (t, i) -> i % 25 <> 0), ' ') AS text
      FROM documents WHERE doc_id % 5 = 0
"""


@query(
    "ext_dedup_containment",
    oracle=f"""
    WITH all_docs AS ({_MUTANT_DOCS_SQL}),
    sh AS (
      SELECT DISTINCT doc_id,
             array_to_string(parts[CAST(g.i AS INT):CAST(g.i + 7 AS INT)],
                             ' ') AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS parts FROM all_docs),
           UNNEST(generate_series(1, greatest(len(parts) - 7, 1))) AS g(i)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 20),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM sh a JOIN rare USING (shingle) JOIN sh b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b
    )
    SELECT doc_a, doc_b, n_inter,
           ROUND(greatest(n_inter / CAST(sa.n_sh AS DOUBLE),
                          n_inter / CAST(sb.n_sh AS DOUBLE)), 4)
             AS containment
    FROM pairs JOIN sizes sa ON sa.doc_id = doc_a
               JOIN sizes sb ON sb.doc_id = doc_b
    WHERE greatest(n_inter / CAST(sa.n_sh AS DOUBLE),
                   n_inter / CAST(sb.n_sh AS DOUBLE)) >= 0.5
    """,
)
def ext_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup: pairs where one document's
    8-token shingle set is mostly inside the other's
    (max-directional containment ≥ 0.5) — the subset/quote-heavy case
    that symmetric Jaccard under-scores (a short doc fully contained
    in a long one has low Jaccard but containment ≈ 1). Runs over the
    mutant-augmented corpus shared with the other dedup keys.

    Scale shape: candidate pairs come from a self-join on shared
    shingles with a document-frequency cap (shingles in > 20 docs are
    boilerplate, non-discriminative, and the quadratic danger — same
    skew-guard role as the MinHash bucket cap). Intersection counts
    are computed on the capped shingles only, so the containment is a
    lower bound — exactly reproduced by the oracle, and the standard
    trade in blocked containment scans. At 100 TB, shingle strings
    become 8-byte hashes (``ext_dedup_exact``'s convention).
    """
    from streamingdemo_spark.extensions.dedup import _docs_with_mutants

    toks = F.col("toks")
    n = F.size(toks)
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - 7, F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, 8)),
        )
    )
    sh = (
        _docs_with_mutants(spark, sf_dir)
        # toks materialized before the shingle lambda slices it
        .select("doc_id", F.split("text", " ").alias("toks"))
        .select("doc_id", F.explode(shingles).alias("shingle"))
    ).cache()  # feeds sizes, the df-cap, and both join sides
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    rare = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= 20)
        .select("shingle")
    )
    capped = sh.join(rare, "shingle")
    pairs = (
        capped.select(F.col("doc_id").alias("doc_a"), "shingle")
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), "shingle"), "shingle"
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b")
    )
    containment = F.greatest(
        F.col("n_inter") / F.col("n_a").cast("double"),
        F.col("n_inter") / F.col("n_b").cast("double"),
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        # threshold on the UNROUNDED value: exact integer-derived
        # division, identical doubles on both engines
        .filter(containment >= 0.5)
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            F.round(containment, 4).alias("containment"),
        )
    )


@query(
    "ext_quality_prune",
    oracle="""
    WITH f AS (
      SELECT doc_id, source,
             2.0 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                    / len(string_split(text, ' ')))
             - (CAST(len(list_filter(string_split(text, ' '),
                    t -> list_contains(['the','a','of','and','to',
                                        'in','is','on','for','it'], t)))
                     AS DOUBLE)
                / len(string_split(text, ' ')))
             + least(len(string_split(text, ' ')), 100) / 100.0 AS score
      FROM documents
    ), ranked AS (
      SELECT doc_id, source, score,
             PERCENT_RANK() OVER (PARTITION BY source
                                  ORDER BY score DESC, doc_id ASC) AS pr
      FROM f
    )
    SELECT doc_id, source, ROUND(score, 4) AS quality_score,
           ROUND(pr, 6) AS pctl
    FROM ranked WHERE pr <= 0.5
    """,
)
def ext_quality_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality-percentile pruning: keep each source's top
    half by quality score (the ``ext_quality_score`` linear model —
    same weights, cross-referenced there). Percentile quotas per
    domain are how curation pipelines prune without letting one huge
    low-quality source swamp a global threshold, and the complement
    of ``ext_train_mix``'s fixed-ratio sampling.

    ``percent_rank`` over (score DESC, doc_id ASC) is tie-free, so
    pr = k/(n-1) is an exact integer-derived double on both engines —
    the 50% cut compares unrounded values safely. One shuffle by
    source; at scale each source partition sorts independently
    (and a skewed mega-source salts exactly like ``agg_skew_salted``).
    """
    from streamingdemo_spark.extensions.text import STOPWORDS

    toks = F.split("text", " ")
    n_tok = F.size(toks)
    ttr = F.size(F.array_distinct(toks)).cast("double") / n_tok
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    stop_ratio = (
        F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))).cast(
            "double"
        )
        / n_tok
    )
    score = (
        F.lit(2.0) * ttr - stop_ratio + F.least(n_tok, F.lit(100)) / F.lit(100.0)
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        _docs(spark, sf_dir)
        .select("doc_id", "source", score.alias("score"))
        .withColumn("pr", F.percent_rank().over(w))
        .filter(F.col("pr") <= 0.5)
        .select(
            "doc_id",
            "source",
            F.round("score", 4).alias("quality_score"),
            F.round("pr", 6).alias("pctl"),
        )
    )


@query(
    "ext_dedup_url",
    oracle="""
    WITH urls AS (
      SELECT doc_id,
             concat(
               CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END,
               CASE WHEN doc_id % 3 = 0 THEN 'WWW.Docs.Example.COM'
                    ELSE 'docs.example.com' END,
               '/articles/', CAST(doc_id // 7 AS VARCHAR),
               CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END,
               CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&ref=rss'
                    ELSE '' END) AS url
      FROM documents
    ),
    canon AS (
      SELECT doc_id,
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(lower(url), '^https?://', ''),
                   '^www\\.', ''),
                 '\\?(utm_[a-z]+|ref)=[^&]*(&(utm_[a-z]+|ref)=[^&]*)*$', ''),
               '/$', '') AS canonical_url
      FROM urls
    )
    SELECT canonical_url,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS n_copies
    FROM canon GROUP BY canonical_url
    """,
)
def ext_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup: the same page crawled under scheme /
    case / www / tracking-parameter / trailing-slash variants collapses
    to one canonical URL, keeping the lowest doc_id — the first dedup
    pass of every web-corpus pipeline (exact-text dedup misses pages
    whose body differs by ads; URL dedup catches the recrawl).

    URLs are synthesized deterministically from doc_id (the fixture has
    no url column) with all five noise dimensions; canonicalization is
    a lower + regexp_replace chain (scheme strip, www strip, tracking
    params utm_*/ref strip, trailing-slash strip) — pure string ops,
    identical in both engines. The dedup itself is one hash groupBy on
    the canonical string: linear, map-side partial, the exact-dedup
    shape. At 100 TB group on xxhash64(canonical_url) and keep the
    min-(hash,doc_id) survivor exactly as ext_dedup_exact does.
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("https://")).otherwise(
            F.lit("http://")
        ),
        F.when(
            F.col("doc_id") % 3 == 0, F.lit("WWW.Docs.Example.COM")
        ).otherwise(F.lit("docs.example.com")),
        F.lit("/articles/"),
        F.floor(F.col("doc_id") / 7).cast("long").cast("string"),
        F.when(F.col("doc_id") % 6 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 4 == 0, F.lit("?utm_source=feed&ref=rss")
        ).otherwise(F.lit("")),
    )
    canon = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.lower(url), "^https?://", ""),
                "^www\\.",
                "",
            ),
            "\\?(utm_[a-z]+|ref)=[^&]*(&(utm_[a-z]+|ref)=[^&]*)*$",
            "",
        ),
        "/$",
        "",
    )
    return (
        d.select("doc_id", canon.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


@query(
    "ext_bpe_pair_stats",
    oracle="""
    WITH words AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    chars AS (
      SELECT string_split(w, '') AS ch FROM words WHERE length(w) >= 2
    ),
    pairs AS (
      SELECT unnest(list_transform(generate_series(1, len(ch) - 1),
                                   i -> ch[i] || ch[i + 1])) AS pair
      FROM chars
    )
    SELECT pair, COUNT(*) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair LIMIT 20
    """,
)
def ext_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding merge statistics: the top adjacent
    symbol-pair counts across the corpus — one iteration of BPE
    tokenizer training (the candidate list the merge rule is picked
    from), run at corpus scale.

    Shape mirrors ``ext_ngram_stats`` one level down: tokenize, split
    each word to codepoints ONCE (materialized array — the
    re-evaluation gotcha), form adjacent pairs with a JVM higher-order
    function, explode, and aggregate with map-side partial combine:
    the shuffle is bounded by the pair vocabulary (≤ |alphabet|²),
    not corpus size, and the global top-20 is a TakeOrdered, never a
    full sort. Iterated BPE training replays this query k times with
    the current merge table applied upstream — every iteration keeps
    this bounded-shuffle shape.
    """
    d = _docs(spark, sf_dir)
    words = d.select(F.explode(F.split("text", " ")).alias("w")).filter(
        F.length("w") >= 2
    )
    chars = words.select(F.split("w", "").alias("ch"))
    pairs = chars.select(
        F.explode(
            F.expr("transform(sequence(1, size(ch) - 1), i -> ch[i-1] || ch[i])")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(20)
    )


@query(
    "ext_split_assign",
    oracle="""
    SELECT doc_id,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split('split:' || CAST(doc_id AS VARCHAR), ''),
               c -> CAST(ascii(c) AS BIGINT))),
             (a, b) -> (a * 31 + b) % 1000000007) % 100 AS bucket,
    CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split('split:' || CAST(doc_id AS VARCHAR), ''),
               c -> CAST(ascii(c) AS BIGINT))),
             (a, b) -> (a * 31 + b) % 1000000007) % 100 < 80 THEN 'train'
         WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split('split:' || CAST(doc_id AS VARCHAR), ''),
               c -> CAST(ascii(c) AS BIGINT))),
             (a, b) -> (a * 31 + b) % 1000000007) % 100 < 90 THEN 'val'
         ELSE 'test' END AS split,
    n_chars
    FROM documents
    """,
)
def ext_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split assignment: bucket =
    portable_hash('split:' || doc_id) mod 100, with an 80/10/10 cut —
    the reproducible content-independent split every training pipeline
    stamps onto its corpus. Hash-based (not modulo-of-id) so the split
    is uncorrelated with ingestion order, stable under re-runs and
    incremental appends, and new documents land in splits at the
    configured ratio without rebalancing old ones.

    Shape: a pure per-row expression chain — no shuffle, no state;
    pushdown-friendly and embarrassingly parallel at any scale. The
    salt prefix ('split:') namespaces this hash away from the other
    doc_id-keyed hashes (``ext_doc_shuffle``'s ':seed42') so split
    membership and shuffle order stay independent."""
    d = _docs(spark, sf_dir)
    bucket = (
        poly_hash(F.concat(F.lit("split:"), F.col("doc_id").cast("string")))
        % 100
    )
    return d.select("doc_id", bucket.alias("bucket"), "n_chars").select(
        "doc_id",
        "bucket",
        F.when(F.col("bucket") < 80, "train")
        .when(F.col("bucket") < 90, "val")
        .otherwise("test")
        .alias("split"),
        "n_chars",
    )


_BPE_ROUNDS = 3


def _bpe_oracle_ctes() -> str:
    """The WITH body replaying the 3-round merge loop: each round
    re-derives pair counts from the previous round's symbol strings,
    picks the same (count DESC, pair ASC) argmax, and applies the same
    left-to-right non-overlapping replace. Ends with v3 (the
    post-merge vocabulary) so both the train and apply oracles build
    on the identical chain."""
    parts = [
        """
    v0 AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS wc,
             ' ' || array_to_string(string_split(w, ''), ' ') || ' ' AS s
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      GROUP BY w
    )"""
    ]
    for i in range(1, _BPE_ROUNDS + 1):
        parts.append(f"""
    p{i} AS (
      SELECT pair, CAST(SUM(wc) AS BIGINT) AS n FROM (
        SELECT wc, unnest(list_transform(generate_series(1, len(a) - 1),
                 j -> a[j] || ' ' || a[j + 1])) AS pair
        FROM (SELECT wc, string_split(trim(s), ' ') AS a FROM v{i - 1})
        WHERE len(a) >= 2
      ) GROUP BY pair
    ),
    m{i} AS (SELECT pair, n FROM p{i} ORDER BY n DESC, pair LIMIT 1),
    v{i} AS (
      SELECT w, wc,
             replace(s, ' ' || m{i}.pair || ' ',
                     ' ' || replace(m{i}.pair, ' ', '') || ' ') AS s
      FROM v{i - 1} CROSS JOIN m{i}
    )""")
    return ",".join(parts)


def _bpe_oracle() -> str:
    sel = "\n    UNION ALL ".join(
        f"SELECT CAST({i} AS INT) AS merge_no, pair, n FROM m{i}"
        for i in range(1, _BPE_ROUNDS + 1)
    )
    return "WITH " + _bpe_oracle_ctes() + "\n    " + sel


@query("ext_bpe_train", oracle=_bpe_oracle())
def ext_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, 3 merge rounds: maintain the word
    vocabulary as space-joined symbol strings, and per round (a) count
    adjacent symbol pairs weighted by word frequency, (b) pick the
    most frequent pair (count DESC, pair ASC — deterministic), (c)
    merge it everywhere with a left-to-right non-overlapping replace.
    Output: the learned merge table (merge_no, pair, n) — the artifact
    a tokenizer trainer ships.

    This is how industrial BPE trainers actually scale: after the one
    corpus pass that builds word counts, every round runs on the
    WORD VOCABULARY (sub-linear in corpus size), never on the corpus
    itself. The per-round argmax is a driver scalar (one tiny
    TakeOrdered collect — same bounded-driver-state discipline as
    ``ext_graph_pagerank``'s convergence probe); the vocabulary stays
    distributed and cached, and each round adds one narrow projection
    to its lineage. At a 1e7-word vocabulary each round is one
    explode + vocabulary-bounded aggregate — flat cost per round.

    Both engines replay the merge with plain ``replace`` (both scan
    left-to-right over non-overlapping matches), and the sentinel
    spaces around each symbol string make symbol boundaries explicit,
    so 'a b'→'ab' can never merge across two adjacent words or inside
    an already-merged symbol.
    """
    merges, _, base = _bpe_fit(spark, sf_dir)
    base.unpersist()
    return spark.createDataFrame(merges, "merge_no int, pair string, n long")


def _bpe_fit(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple[int, str, int]], DataFrame, DataFrame]:
    """Run the merge loop; return (merge table, post-merge vocabulary
    as (w, wc, s) with s the space-joined symbol string, persisted
    base vocabulary). Callers unpersist the base when done."""
    words = _docs(spark, sf_dir).select(
        F.explode(F.split("text", " ")).alias("w")
    )
    # Every merge round launches a stage PER CACHED PARTITION of the
    # vocabulary, so a small vocab spread over the session's 32 shuffle
    # partitions pays ~32x pure task overhead per round (~0.45 s of
    # scheduling for <1 ms of work at the fixture sizes). coalesce()
    # folds the agg's output to tasks_for its size without an extra
    # shuffle.
    counts = words.groupBy("w").agg(F.count(F.lit(1)).alias("wc"))
    vocab = (
        counts.select(
            "w",
            "wc",
            F.concat(
                F.lit(" "), F.array_join(F.split("w", ""), " "), F.lit(" ")
            ).alias("s"),
        )
        .coalesce(tasks_for(spark, plan_bytes(counts)))
        .persist()
    )
    merges: list[tuple[int, str, int]] = []
    cur = vocab
    for round_no in range(1, _BPE_ROUNDS + 1):
        arr = F.split(F.trim(F.col("s")), " ")
        pairs = (
            cur.select("wc", arr.alias("a"))
            .filter(F.size("a") >= 2)
            .select(
                "wc",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(a) - 1),"
                        " j -> a[j - 1] || ' ' || a[j])"
                    )
                ).alias("pair"),
            )
            .groupBy("pair")
            .agg(F.sum("wc").alias("n"))
        )
        best = pairs.orderBy(F.desc("n"), F.asc("pair")).first()
        merges.append((round_no, best["pair"], best["n"]))
        merged = best["pair"].replace(" ", "")
        cur = cur.withColumn(
            "s",
            F.replace(
                F.col("s"),
                F.lit(f" {best['pair']} "),
                F.lit(f" {merged} "),
            ),
        )
    return merges, cur, vocab


@query(
    "ext_tokenize_apply",
    oracle="WITH "
    + _bpe_oracle_ctes()
    + """,
    tokmap AS (
      SELECT w, len(string_split(trim(s), ' ')) AS n_sym FROM v3
    ),
    docw AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    )
    SELECT d.doc_id,
           CAST(COUNT(*) AS BIGINT) AS ws_tokens,
           CAST(SUM(t.n_sym) AS BIGINT) AS bpe_tokens
    FROM docw d JOIN tokmap t USING (w)
    GROUP BY d.doc_id
    """,
)
def ext_tokenize_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer inference: apply the merge table ``ext_bpe_train``
    learns to the corpus and report per-document whitespace vs BPE
    token counts — the token-budget accounting step every training
    pipeline runs after tokenizer training.

    Scale shape: inference never re-tokenizes the corpus char by
    char — the post-merge VOCABULARY (word → symbol count) is the
    entire model state, broadcast to a map-side join against the
    exploded corpus, then one per-doc aggregate. This is how
    production token counting works at 100 TB: the expensive merge
    loop ran once on the vocabulary; the corpus pass is an
    equi-join + sum. The oracle replays the full train→apply chain
    (the same 3-round CTE pyramid extended by the symbol-count map),
    so a drift anywhere in training changes these counts and fails
    the hash."""
    merges, vocab, base = _bpe_fit(spark, sf_dir)
    tokmap = vocab.select(
        "w", F.size(F.split(F.trim(F.col("s")), " ")).alias("n_sym")
    )
    docw = _docs(spark, sf_dir).select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    out = (
        docw.join(F.broadcast(tokmap), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("ws_tokens"),
            F.sum("n_sym").alias("bpe_tokens"),
        )
    )
    # unpersist is safe here: the learned merges are baked into the
    # lineage as literals, so executing `out` later just recomputes
    # the vocab-sized chain from the scan (no checkpoint of a
    # corpus-sized result, no dependency on executor-held blocks)
    base.unpersist()
    return out


@query(
    "ext_lang_mix_temperature",
    oracle="""
    WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
               FROM documents GROUP BY lang),
    w AS (SELECT lang, n,
                 CAST(FLOOR(sqrt(n) * 1000000 + 0.5) AS BIGINT) AS wm
          FROM c),
    t AS (SELECT CAST(SUM(wm) AS BIGINT) AS wsum,
                 CAST(SUM(n) AS BIGINT) AS ntot FROM w),
    q AS (SELECT lang, n, wm,
                 (200 * wm) // t.wsum AS quota,
                 (n * 1000000) // t.ntot AS share_before_ppm
          FROM w CROSS JOIN t),
    r AS (SELECT lang, n_chars,
                 ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform(
                       string_split(CAST(doc_id AS VARCHAR) || ':mix', ''),
                       ch -> CAST(ascii(ch) AS BIGINT))),
                     (a, b) -> (a * 31 + b) % 1000000007),
                   doc_id) AS rk
          FROM documents)
    SELECT q.lang, q.n AS n_docs, q.share_before_ppm, q.quota,
           CAST(COUNT(*) AS BIGINT) AS n_sampled,
           CAST(SUM(r.n_chars) AS BIGINT) AS sample_chars
    FROM r JOIN q USING (lang)
    WHERE r.rk <= q.quota
    GROUP BY q.lang, q.n, q.share_before_ppm, q.quota
    """,
)
def ext_lang_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language mixing (T=2, i.e. p ∝ n^(1/2)) —
    the multilingual-pretraining rebalance that upsamples low-resource
    languages relative to their raw share. Per language: raw count and
    share, the temperature quota out of a 200-doc budget, and the
    deterministically sampled set (count + chars actually drawn).

    Exactness: sqrt is IEEE-correctly-rounded in BOTH engines (unlike
    ln/pow there is no ulp gap to absorb), so quantizing
    floor(sqrt(n)·1e6 + 0.5) is unconditionally portable; everything
    after — weight normalization, quotas, shares — is integer
    division. Selection is the salted portable hash ranked per
    language, so the drawn set is reproducible and independent of the
    split/shuffle hashes.

    Scale shape: language counts and weights are a lang-cardinality
    aggregate + broadcast; the sample selection is one hash-ranked
    window per language. At 100 TB replace the exact window with a
    hash-threshold cut (rank r ≤ quota ≈ hash < quota/n·MAX, as in
    ``ext_sample_stratified``) — no global sort either way.
    """
    d = _docs(spark, sf_dir)
    c = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    w = c.select(
        "lang",
        "n",
        F.floor(F.sqrt("n") * 1000000 + F.lit(0.5)).alias("wm"),
    )
    t = w.agg(
        F.sum("wm").alias("wsum"), F.sum("n").alias("ntot")
    )
    q = (
        w.crossJoin(F.broadcast(t))
        .select(
            "lang",
            F.col("n").alias("n_docs"),
            F.expr("(n * 1000000) div ntot").alias("share_before_ppm"),
            F.expr("(200 * wm) div wsum").alias("quota"),
        )
    )
    rk = F.row_number().over(
        Window.partitionBy("lang").orderBy(
            poly_hash(
                F.concat(F.col("doc_id").cast("string"), F.lit(":mix"))
            ),
            F.asc("doc_id"),
        )
    )
    r = d.select("lang", "n_chars", "doc_id").withColumn("rk", rk)
    return (
        r.join(F.broadcast(q), "lang")
        .filter(F.col("rk") <= F.col("quota"))
        .groupBy("lang", "n_docs", "share_before_ppm", "quota")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_chars").alias("sample_chars"),
        )
    )


@query(
    "ext_k_anonymity",
    oracle="""
    WITH classes AS (
      SELECT lang, source,
             (len(string_split(text, ' ')) // 32) * 32 AS len_bucket,
             CAST(COUNT(*) AS BIGINT) AS class_size
      FROM documents GROUP BY 1, 2, 3
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(CASE WHEN class_size < 5 THEN 1 ELSE 0 END)
                AS BIGINT) AS small_classes,
           CAST(SUM(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)
                AS BIGINT) AS exposed_docs,
           CAST(MIN(class_size) AS BIGINT) AS min_class_size,
           (MIN(class_size) >= 5) AS k5_anonymous
    FROM classes GROUP BY lang
    """,
)
def ext_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers: group the corpus by
    (lang, source, 32-token length bucket) — attributes an adversary
    could link externally — and report, per language, how many
    equivalence classes fall below k=5 and how many documents those
    small classes expose. The release-gating check privacy reviews
    run before publishing a dataset: a class of size 1 means a
    document is uniquely re-identifiable from its quasi-identifiers
    alone.

    Shape: one aggregate to the equivalence classes (map-side
    combine; cardinality = |lang|×|source|×|buckets|, never corpus-
    sized) and one rollup over them — all integer counts, trivially
    hash-portable. At 100 TB the same two-level aggregate holds;
    remediation (generalize buckets, suppress small classes) reruns
    the identical audit until `k5_anonymous` is true everywhere.
    """
    d = _docs(spark, sf_dir)
    len_bucket = (
        F.floor(F.size(F.split("text", " ")) / 32) * 32
    ).alias("len_bucket")
    classes = d.groupBy("lang", "source", len_bucket).agg(
        F.count(F.lit(1)).alias("class_size")
    )
    small = F.col("class_size") < 5
    return classes.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.sum(small.cast("long")).alias("small_classes"),
        F.sum(F.when(small, F.col("class_size")).otherwise(0)).alias(
            "exposed_docs"
        ),
        F.min("class_size").alias("min_class_size"),
        (F.min("class_size") >= 5).alias("k5_anonymous"),
    )


@query(
    "ext_l_diversity",
    oracle="""
    WITH joined AS (
      SELECT d.lang, d.source,
             (len(string_split(d.text, ' ')) // 32) * 32 AS len_bucket,
             e.label
      FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    ),
    classes AS (
      SELECT lang, source, len_bucket,
             CAST(COUNT(*) AS BIGINT) AS class_size,
             CAST(COUNT(DISTINCT label) AS BIGINT) AS l_div
      FROM joined GROUP BY 1, 2, 3
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MIN(l_div) AS BIGINT) AS min_l,
           CAST(SUM(CASE WHEN l_div < 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS homogeneous_classes,
           CAST(SUM(CASE WHEN l_div < 3 THEN class_size ELSE 0 END)
                AS BIGINT) AS exposed_docs,
           (MIN(l_div) >= 3) AS l3_diverse
    FROM classes GROUP BY lang
    """,
)
def ext_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the second privacy gate after
    ``ext_k_anonymity``: a class can be large (k-anonymous) yet still
    leak if every member shares the same SENSITIVE value (an adversary
    who links a person to the class learns the attribute without
    identifying the row). Here the quasi-identifiers are the same
    (lang, source, 32-token length bucket) and the sensitive attribute
    is the document's topic label (embeddings.label keyed by doc id);
    a class is l-diverse at l=3 iff it contains >= 3 distinct labels.

    Reports, per language: class count, the minimum diversity, how
    many classes fall below l=3 and how many documents they expose,
    and the release-gate boolean. Pure integer counting; the only
    addition over the k-anonymity shape is one co-partitioned id join
    and a COUNT(DISTINCT label) whose domain is the label vocabulary —
    both unchanged at 100 TB (distinct-label sets per class stay
    label-vocabulary-bounded, so the two-level aggregate never grows
    beyond classes x labels).
    """
    d = load_tables(spark, sf_dir, ("documents", "embeddings"))
    joined = d["documents"].join(
        d["embeddings"].select(
            F.col("vec_id").alias("doc_id"), "label"
        ),
        "doc_id",
    )
    len_bucket = (
        F.floor(F.size(F.split("text", " ")) / 32) * 32
    ).alias("len_bucket")
    classes = joined.groupBy("lang", "source", len_bucket).agg(
        F.count(F.lit(1)).alias("class_size"),
        F.countDistinct("label").alias("l_div"),
    )
    low = F.col("l_div") < 3
    return classes.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.min("l_div").alias("min_l"),
        F.sum(low.cast("long")).alias("homogeneous_classes"),
        F.sum(F.when(low, F.col("class_size")).otherwise(0)).alias(
            "exposed_docs"
        ),
        (F.min("l_div") >= 3).alias("l3_diverse"),
    )


@query(
    "ext_dataset_diff",
    oracle="""
    WITH v1 AS (SELECT doc_id, source, lower(trim(text)) AS norm
                FROM documents),
    v2 AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 11 = 0
                  THEN lower(trim(text)) || ' edited'
                  ELSE lower(trim(text)) END AS norm
      FROM documents WHERE doc_id % 13 <> 0
      UNION ALL
      SELECT doc_id + 3000000, source, lower(trim(text))
      FROM documents WHERE doc_id % 17 = 0
    ),
    j AS (
      SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
             COALESCE(a.source, b.source) AS source,
             CASE WHEN b.doc_id IS NULL THEN 'removed'
                  WHEN a.doc_id IS NULL THEN 'added'
                  WHEN a.norm <> b.norm THEN 'changed'
                  ELSE 'unchanged' END AS change
      FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id
    )
    SELECT source, change, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM j WHERE change <> 'unchanged'
    GROUP BY source, change
    """,
)
def ext_dataset_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset snapshot diff: added / removed / changed documents
    between two corpus versions (v2 drops every 13th doc, edits every
    11th, appends mirrors of every 17th under new ids), reported per
    source — the audit every dataset release publishes alongside its
    version bump, and the input to incremental reprocessing (only
    'added'+'changed' need re-scoring; see
    ``ext_dedup_incremental_bloom``).

    Shape: ONE full-outer join on doc_id classifies every row in a
    single pass (content comparison only on matched ids — at 100 TB
    compare ``xxhash64(norm)`` digests instead of full text so the
    join carries 8 bytes per side), then a diff-sized aggregate.
    Nothing is quadratic; unchanged rows never leave the join."""
    d = _docs(spark, sf_dir)
    norm = F.lower(F.trim(F.col("text")))
    v1 = d.select("doc_id", "source", norm.alias("norm"))
    v2 = (
        d.filter(F.col("doc_id") % 13 != 0)
        .select(
            "doc_id",
            "source",
            F.when(F.col("doc_id") % 11 == 0, F.concat(norm, F.lit(" edited")))
            .otherwise(norm)
            .alias("norm"),
        )
        .unionByName(
            d.filter(F.col("doc_id") % 17 == 0).select(
                (F.col("doc_id") + 3000000).alias("doc_id"),
                "source",
                norm.alias("norm"),
            )
        )
    )
    a = v1.select(
        F.col("doc_id").alias("id_a"), F.col("source").alias("src_a"),
        F.col("norm").alias("norm_a"),
    )
    b = v2.select(
        F.col("doc_id").alias("id_b"), F.col("source").alias("src_b"),
        F.col("norm").alias("norm_b"),
    )
    j = a.join(b, a.id_a == b.id_b, "full_outer").select(
        F.coalesce("src_a", "src_b").alias("source"),
        F.when(F.col("id_b").isNull(), "removed")
        .when(F.col("id_a").isNull(), "added")
        .when(F.col("norm_a") != F.col("norm_b"), "changed")
        .otherwise("unchanged")
        .alias("change"),
    )
    return (
        j.filter(F.col("change") != "unchanged")
        .groupBy("source", "change")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "ext_source_overlap",
    oracle="""
    WITH corpus AS (
      SELECT source, lower(trim(text)) AS norm FROM documents
      UNION ALL
      SELECT 'mirror-' || source, lower(trim(text))
      FROM documents WHERE doc_id % 5 = 0
    ),
    by_text AS (
      SELECT norm, list(DISTINCT source) AS srcs FROM corpus GROUP BY norm
    ),
    pairs AS (
      SELECT a.src AS src_a, b.src AS src_b
      FROM by_text, UNNEST(srcs) AS a(src), UNNEST(srcs) AS b(src)
      WHERE a.src < b.src
    )
    SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS shared_docs
    FROM pairs GROUP BY src_a, src_b
    HAVING COUNT(*) >= 2
    """,
)
def ext_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source overlap matrix: for every pair of sources, how many
    distinct document texts they share (≥2 to suppress coincidences) —
    the mirror-site detector that tells a crawl pipeline which source
    pairs to collapse BEFORE document-level dedup (here the planted
    'mirror-src*' feeds overlap their originals heavily; unrelated
    source pairs share almost nothing).

    Shape: group by content digest (at 100 TB: ``xxhash64(norm)``, 8
    bytes), collect each text's distinct source set — bounded by the
    source count, not corpus size — and explode within-group source
    pairs: candidate volume is Σ|sources-per-text|², quadratic only
    in MIRROR MULTIPLICITY, never in documents. One shuffle on the
    digest, one aggregate on source pairs."""
    d = _docs(spark, sf_dir)
    norm = F.lower(F.trim(F.col("text")))
    corpus = d.select("source", norm.alias("norm")).unionByName(
        d.filter(F.col("doc_id") % 5 == 0).select(
            F.concat(F.lit("mirror-"), F.col("source")).alias("source"),
            norm.alias("norm"),
        )
    )
    by_text = corpus.groupBy("norm").agg(
        F.collect_set("source").alias("srcs")
    )
    pairs = (
        by_text.select(F.explode("srcs").alias("src_a"), "srcs")
        .select("src_a", F.explode("srcs").alias("src_b"))
        .filter(F.col("src_a") < F.col("src_b"))
    )
    return (
        pairs.groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("shared_docs"))
        .filter(F.col("shared_docs") >= 2)
    )


@query(
    "ext_dataset_card",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, source, lang, n_chars,
             len(string_split(text, ' ')) AS n_tokens,
             {opoly("text")} AS th
      FROM documents
    ),
    dup AS (
      SELECT th, COUNT(*) AS c FROM h GROUP BY th
    )
    SELECT h.source,
           COUNT(*) AS n_docs,
           CAST(SUM(h.n_tokens) AS BIGINT) AS n_tokens,
           COUNT(DISTINCT h.lang) AS n_langs,
           CAST(SUM(CASE WHEN dup.c > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_in_dup_groups,
           CAST(SUM(h.n_chars) * 1000000 // COUNT(*) AS BIGINT)
             AS mean_chars_micro
    FROM h JOIN dup ON dup.th = h.th
    GROUP BY h.source
    """,
)
def ext_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset card ("datasheets for datasets") — the per-source
    summary table a corpus release ships: document and token volumes,
    language spread, exact-duplicate exposure (docs whose text occurs
    more than once ANYWHERE in the corpus — cross-source duplication
    counts against both sources), and mean length. The numbers a
    consumer reads before training on the mix, produced by the same
    engine that built it.

    Shape: one scan computes per-doc facts (token count, the portable
    text hash); a hash-grain aggregate finds duplicate groups; the
    join-back tags each doc's dup exposure; one source-grain rollup
    (COUNT DISTINCT lang expands to the standard two-phase plan).
    Everything integer-exact (mean as micro-unit floor division), so
    the card is bitwise-reproducible — a re-release diff of two cards
    (``ext_dataset_diff``'s job) is meaningful down to the last
    digit.
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    h = d.select(
        "doc_id",
        "source",
        "lang",
        "n_chars",
        F.size(F.split("text", " ")).alias("n_tokens"),
        poly_hash(F.col("text")).alias("th"),
    )
    dup = h.groupBy("th").agg(F.count(F.lit(1)).alias("c"))
    return (
        h.join(dup, "th")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.countDistinct("lang").alias("n_langs"),
            F.sum(F.when(F.col("c") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("docs_in_dup_groups"),
            F.expr("SUM(n_chars) * 1000000 DIV COUNT(*)").alias(
                "mean_chars_micro"
            ),
        )
    )


@query(
    "ext_split_temporal",
    oracle="""
    WITH cut AS (SELECT TIMESTAMP '2024-01-24 00:00:00' AS t0),
    train_users AS (
      SELECT DISTINCT user_id FROM events, cut WHERE ts < t0
    )
    SELECT e.event_id, e.user_id, e.ts,
           CASE WHEN e.ts < cut.t0 THEN 'train'
                WHEN tu.user_id IS NULL THEN 'eval'
                ELSE 'discard' END AS split
    FROM events e CROSS JOIN cut
    LEFT JOIN train_users tu ON tu.user_id = e.user_id
    """,
)
def ext_split_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe TEMPORAL train/eval split: train = everything
    before the cutoff; eval = post-cutoff events of users the model
    NEVER saw in training; post-cutoff events of train users are
    DISCARDED, not evaluated — scoring a model on future behavior of
    users it memorized inflates eval silently (user-level leakage),
    which is why temporal splits must also be user-disjoint. The hash
    split (``ext_split_assign``) answers "does it generalize across
    users"; this one answers "does it generalize FORWARD" — the
    deployment question.

    Shape: one distinct-user aggregate on the train slice (the
    predicate pushes to the scan), broadcast back as a membership
    check — no row ever moves for the labeling itself. At 100 TB the
    train-user relation is user-cardinality-sized (broadcast or a
    Bloom side, ``ext_dedup_incremental_bloom``'s pattern).
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    cutoff = F.lit("2024-01-24 00:00:00").cast("timestamp")
    train_users = (
        ev.filter(F.col("ts") < cutoff)
        .select("user_id")
        .distinct()
        .withColumn("seen_in_train", F.lit(True))
    )
    return (
        ev.join(F.broadcast(train_users), "user_id", "left")
        .select(
            "event_id",
            "user_id",
            "ts",
            F.when(F.col("ts") < cutoff, "train")
            .when(F.col("seen_in_train").isNull(), "eval")
            .otherwise("discard")
            .alias("split"),
        )
    )


SAMPLE_WEIGHTED_K = 100


@query(
    "ext_sample_weighted",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS w,
             CAST(FLOOR(-ln(
               CAST(((doc_id % 65536) * 2654435761 % 4294967296
                     + ((doc_id % 4294967296) // 65536) * 2041643008)
                    % 4294967296 + 1 AS DOUBLE)
               / 4294967297.0) * 1000000 + 0.5) AS BIGINT) AS lnu_micro
      FROM documents
    )
    SELECT doc_id, lang, w,
           ROUND(CAST(lnu_micro AS DOUBLE) / w, 6) + 0.0 AS rank_key
    FROM keyed
    ORDER BY ROUND(CAST(lnu_micro AS DOUBLE) / w, 6) + 0.0, doc_id
    LIMIT {SAMPLE_WEIGHTED_K}
    """,
)
def ext_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, seedably deterministic —
    the Efraimidis–Spirakis exponential-rank trick (take the k
    smallest ``-ln(u_i)/w_i``), which is how a data pipeline samples a
    training subset with probability proportional to a quality or
    length weight (here w = n_chars: a token-budget-aware draw that
    prefers long documents) while staying exactly reproducible
    run-to-run and engine-to-engine.

    Portability chain: u_i comes from the integer Knuth-hash PRNG
    (``(doc_id · 2654435761) mod 2^32 + 1`` over 2^32+1 — never 0 or
    1, so ln is finite), evaluated as a split modmul over 16-bit
    limbs of ``doc_id mod 2^32`` (lo·A + hi·(2^16·A mod 2^32), every
    operand < 2^48) so the int64 product can NEVER wrap — the raw
    ``doc_id * 2654435761`` form wrapped silently on Spark / raised
    on DuckDB once doc_id exceeded ~3.47e9 (the ext_negative_sampling
    bug class); bit-identical to the raw form below that bound, and
    now correct for all int64 doc_ids. ``-ln(u)`` quantizes to
    integer micro-nats (the ``ext_unigram_surprisal`` convention,
    absorbing the ln ulp); the rank key closes with ONE double
    division by the weight on a shared 1e-6 rounding grid, and ties
    break on doc_id.

    Scale shape: NO window anywhere — the global k-smallest is
    ORDER BY + LIMIT, which Spark executes as TakeOrdered (per-
    partition top-k heaps, then a k-sized driver merge; the
    ``sort_limit_topk`` plan contract). One scan, no shuffle of the
    corpus. At 100 TB this is THE way to draw a weighted subset:
    no sequential pass, no rejection loop, restartable, and adding
    ``GROUP BY stratum`` turns it into weighted-stratified via one
    partitioned window instead.
    """
    d = _docs(spark, sf_dir)
    u32 = (
        (F.col("doc_id") % 65536) * F.lit(2654435761) % F.lit(4294967296)
        + F.expr("(doc_id % 4294967296) DIV 65536") * F.lit(2041643008)
    ) % F.lit(4294967296)
    lnu_micro = F.floor(
        -F.log((u32 + 1).cast("double") / F.lit(4294967297.0))
        * 1000000
        + F.lit(0.5)
    ).cast("long")
    keyed = d.select(
        "doc_id",
        "lang",
        F.col("n_chars").cast("long").alias("w"),
        lnu_micro.alias("lnu_micro"),
    )
    rank_key = (
        F.round(F.col("lnu_micro").cast("double") / F.col("w"), 6)
        + F.lit(0.0)
    ).alias("rank_key")
    return (
        keyed.select("doc_id", "lang", "w", rank_key)
        .orderBy("rank_key", "doc_id")
        .limit(SAMPLE_WEIGHTED_K)
    )


_DP_EPS_INV = 2.0  # Laplace scale b = 1/epsilon (epsilon = 0.5)


@query(
    "ext_dp_noise_count",
    oracle=f"""
    WITH c AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_true
      FROM documents GROUP BY lang, source
    ),
    u AS (
      SELECT lang, source, n_true,
             CAST(({opoly("lang || ':' || source || ':dp-seed-42'")}
                   * 2654435761) % 4294967296 + 1 AS DOUBLE)
               / 4294967297.0 AS uu
      FROM c
    )
    SELECT lang, source, n_true,
           CAST(FLOOR((CASE WHEN uu >= 0.5 THEN 1.0 ELSE -1.0 END)
                 * (-{_DP_EPS_INV}) * ln(1.0 - 2.0 * ABS(uu - 0.5))
                 * 1000000 + 0.5) AS BIGINT) AS noise_micro,
           ROUND(n_true + CAST(FLOOR((CASE WHEN uu >= 0.5 THEN 1.0
                                           ELSE -1.0 END)
                 * (-{_DP_EPS_INV}) * ln(1.0 - 2.0 * ABS(uu - 0.5))
                 * 1000000 + 0.5) AS BIGINT) / 1000000.0, 4) + 0.0
             AS n_noised
    FROM u
    """,
)
def ext_dp_noise_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Laplace-noised counts — the differential-privacy release
    shape (counts + Laplace(1/ε) noise, ε=0.5) as production DP
    pipelines actually run it: the noise draw comes from a SEEDED
    PRNG so a release is reproducible, auditable, and replayable in a
    backfill (a fresh random draw per run would make every rerun a
    fresh privacy spend). Same inverse-CDF-of-hash-uniform trick as
    ``ext_sample_weighted``: u from the integer Knuth hash of the
    portable group fingerprint, noise = -b·sgn(u-½)·ln(1-2|u-½|).

    Exactness: the uniform is an exact integer-ratio double; the one
    transcendental quantizes to integer micro-units (the module's
    ln-ulp discipline), and the released value closes with one shared
    division + 1e-4 round. The true count rides along here so the
    oracle can pin the noise independently — a real release drops it
    (and the seed string becomes a secret input).

    Scale shape: a two-column aggregate (map-side combine) to
    |lang|×|source| rows, then pure per-row expressions — the DP
    machinery adds zero shuffles to the count it protects.
    """
    d = _docs(spark, sf_dir)
    c = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n_true"))
    uu = (
        (
            (
                poly_hash(
                    F.concat_ws(":", F.col("lang"), F.col("source"), F.lit("dp-seed-42"))
                )
                * F.lit(2654435761)
            )
            % F.lit(4294967296)
            + 1
        ).cast("double")
        / F.lit(4294967297.0)
    )
    sgn = F.when(F.col("uu") >= 0.5, F.lit(1.0)).otherwise(F.lit(-1.0))
    noise_micro = F.floor(
        sgn
        * F.lit(-_DP_EPS_INV)
        * F.log(F.lit(1.0) - 2.0 * F.abs(F.col("uu") - 0.5))
        * 1000000
        + F.lit(0.5)
    ).cast("long")
    return (
        c.withColumn("uu", uu)
        .withColumn("noise_micro", noise_micro)
        .select(
            "lang",
            "source",
            "n_true",
            "noise_micro",
            (
                F.round(
                    F.col("n_true") + F.col("noise_micro") / 1000000.0, 4
                )
                + F.lit(0.0)
            ).alias("n_noised"),
        )
    )


# DSIR hashed-feature space: small enough that the per-bucket score
# relation broadcasts (fixed size regardless of corpus scale), large
# enough that fixture vocabulary (~60 distinct tokens) rarely collides.
DSIR_V = 512


@query(
    "ext_dsir_weights",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             {opoly('unnest(string_split(text, chr(32)))')} % {DSIR_V}
               AS bucket
      FROM documents
    ),
    src AS (SELECT bucket, COUNT(*) AS c_s FROM toks GROUP BY bucket),
    tgt AS (SELECT bucket, COUNT(*) AS c_t FROM toks
            WHERE lang = 'en' GROUP BY bucket),
    ns AS (SELECT COUNT(*) AS n_s FROM toks),
    nt AS (SELECT COUNT(*) AS n_t FROM toks WHERE lang = 'en'),
    buckets AS (
      SELECT src.bucket,
             CAST(FLOOR((
               ln(CAST(COALESCE(c_t, 0) + 1 AS DOUBLE)
                  / (n_t + {DSIR_V}))
               - ln(CAST(c_s + 1 AS DOUBLE) / (n_s + {DSIR_V}))
             ) * 1000000 + 0.5) AS BIGINT) AS delta_micro
      FROM src LEFT JOIN tgt ON src.bucket = tgt.bucket
      CROSS JOIN ns CROSS JOIN nt
    ),
    docs AS (
      SELECT doc_id, COUNT(*) AS n_tokens,
             SUM(delta_micro) AS logw_micro
      FROM toks JOIN buckets USING (bucket)
      GROUP BY doc_id
    ),
    thr AS (SELECT quantile_cont(CAST(logw_micro AS DOUBLE), 0.75) AS q
            FROM docs)
    SELECT doc_id, n_tokens, CAST(logw_micro AS BIGINT) AS logw_micro,
           CAST(logw_micro AS DOUBLE) >= q AS selected
    FROM docs CROSS JOIN thr
    """,
)
def ext_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Data Selection via Importance
    Resampling, Xie et al. 2023): score every raw document by how much
    more likely its hashed-unigram features are under a target-domain
    LM (here: the ``lang='en'`` slice) than under the raw-corpus LM,
    then keep the top quartile — the published recipe for targeting a
    pretraining mix at a domain without a neural scorer.

    log w(x) = sum over tokens of [ln p_tgt(h(tok)) - ln p_src(h(tok))]
    with add-1-smoothed unigram LMs over a {DSIR_V}-bucket hashed
    feature space (the paper's hashed n-gram trick: the LM relation has
    FIXED size no matter the corpus).

    Shape: TWO corpus passes total — (1) one tokenize scan feeding a
    single conditional aggregate that builds both LMs at once (c_s and
    the target slice's c_t per bucket, {DSIR_V} keys; the totals then
    reduce from that 512-row relation, not the corpus), (2) one
    per-doc integer-sum aggregate against the broadcast bucket scores.
    No corpus-sized shuffle except the per-doc agg (map-side partial),
    no window: the selection threshold is a 1-row exact-percentile
    aggregate, so at 100 TB this is two linear passes and a broadcast —
    the same shape DSIR runs at trillion-token scale.

    Portability: per-bucket score quantized to integer micro-nats
    BEFORE the per-doc sum (exact int64, order-insensitive); the
    quartile threshold compares doubles that are exact images of int64
    values, and Spark ``percentile`` == DuckDB ``quantile_cont``
    (linear interpolation, pinned by ``agg_percentile``).

    Reference parity: north-star extension beyond the reference's SQL
    surface (src/sparkSQL/SparkSQLOperator.java:17-23), SURVEY §2.F.
    """
    # spread_scan here and NOT in _docs: this key re-runs the
    # tokenize+poly-hash explode for BOTH passes (LM build and the
    # per-doc sum), so the single-file fixture serialized ~2.3 s of
    # per-token hashing on one core (profiled: every stage 1 task);
    # interleaved A/B 2.41 -> 1.83 s. The other corpus keys are one
    # cheap explode feeding an aggregate whose exchange already
    # parallelizes — a blanket _docs spread measured REGRESSIONS there
    # (ngram_pmi 1.04 -> 1.30, doc_shuffle_sharded 0.36 -> 0.49,
    # tfidf 1.52 -> 1.77) and was reverted.
    d = spread_scan(_docs(spark, sf_dir))
    toks = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    # materialize the hash before reuse (HOF re-evaluation gotcha)
    toks = toks.select(
        "doc_id", "lang", (poly_hash(F.col("tok")) % DSIR_V).alias("bucket")
    )
    # ONE conditional-aggregation pass builds both LMs (c_s plus the
    # lang='en' slice's c_t per bucket) — not separate src/tgt/ns/nt
    # branches, which would re-run the tokenize+hash explode once per
    # consumer (5 corpus passes; the flagship_q21 lesson). The totals
    # reduce from the 512-row bucket relation, not the corpus.
    bucket_counts = toks.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("c_s"),
        F.sum(
            F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(0))
        ).alias("c_t"),
    )
    totals = bucket_counts.agg(
        F.sum("c_s").alias("n_s"), F.sum("c_t").alias("n_t")
    )
    delta = F.floor(
        (
            F.log(
                (F.coalesce(F.col("c_t"), F.lit(0)) + 1).cast("double")
                / (F.col("n_t") + DSIR_V)
            )
            - F.log((F.col("c_s") + 1).cast("double") / (F.col("n_s") + DSIR_V))
        )
        * 1000000
        + F.lit(0.5)
    ).cast("long")
    buckets = (
        bucket_counts.crossJoin(F.broadcast(totals))
        .select("bucket", delta.alias("delta_micro"))
    )
    docs = (
        toks.join(F.broadcast(buckets), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("delta_micro").alias("logw_micro"),
        )
    )
    thr = docs.agg(
        F.expr("percentile(CAST(logw_micro AS DOUBLE), 0.75)").alias("q")
    )
    return docs.crossJoin(F.broadcast(thr)).select(
        "doc_id",
        "n_tokens",
        "logw_micro",
        (F.col("logw_micro").cast("double") >= F.col("q")).alias("selected"),
    )


PMI_TOPK = 5
PMI_MIN_COUNT = 5  # collocation support floor: kills one-off pairs


@query(
    "ext_ngram_pmi",
    oracle=f"""
    WITH tok AS (
      SELECT string_split(text, ' ') AS t FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    uni AS (
      SELECT unnest(t) AS w FROM tok
    ),
    ucnt AS (SELECT w, COUNT(*) AS cw FROM uni GROUP BY w),
    utot AS (SELECT COUNT(*) AS nu FROM uni),
    bg AS (
      SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i + 1])) AS bigram,
             unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> t[i])) AS wa,
             unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> t[i + 1])) AS wb
      FROM tok
    ),
    bcnt AS (SELECT bigram, wa, wb, COUNT(*) AS cab
             FROM bg GROUP BY bigram, wa, wb),
    btot AS (SELECT COUNT(*) AS nb FROM bg),
    scored AS (
      SELECT bigram, cab,
             CAST(FLOOR(ln(
               (CAST(cab AS DOUBLE) / nb)
               / ((CAST(a.cw AS DOUBLE) / nu) * (CAST(b.cw AS DOUBLE) / nu))
             ) * 1000000 + 0.5) AS BIGINT) AS pmi_micro
      FROM bcnt
      JOIN ucnt a ON bcnt.wa = a.w
      JOIN ucnt b ON bcnt.wb = b.w
      CROSS JOIN utot CROSS JOIN btot
      WHERE cab >= {PMI_MIN_COUNT}
    )
    SELECT bigram, cab, pmi_micro, rk FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY pmi_micro DESC, bigram) AS rk
      FROM scored)
    WHERE rk <= {PMI_TOPK}
    """,
)
def ext_ngram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by pointwise mutual information: rank
    bigrams by PMI = ln(p(ab) / (p(a)·p(b))) — the classic phrase
    detector (word2vec's phrase pass, NLTK collocations) LLM pipelines
    run to decide which token pairs deserve vocabulary entries, next
    to frequency-ranked ``ext_ngram_stats`` (PMI surfaces *sticky*
    pairs, frequency surfaces merely common ones).

    Shape: one tokenize scan feeds both the unigram and bigram counts
    (vocabulary-sized aggregates with map-side partials); the PMI join
    keys bigrams to two unigram-count relations — vocabulary-sized,
    broadcastable at any corpus scale — with totals as 1-row cross
    joins. The support floor (cab >= {PMI_MIN_COUNT}) kills the
    PMI-loves-rare-pairs pathology AND bounds the scored relation.
    Top-k is a window over the tiny scored set.

    Portability: one double expression per bigram, written in the
    identical shape on both engines, quantized to integer micro-nats
    at the end; counts and ranks are pure integers.

    Reference parity: north-star extension beyond the reference's SQL
    surface (src/sparkSQL/SparkSQLOperator.java:17-23), SURVEY §2.F.
    """
    with_toks = (
        _docs(spark, sf_dir)
        .select(F.split("text", " ").alias("t"))
        .filter(F.size("t") >= 2)
    )
    uni = with_toks.select(F.explode("t").alias("w"))
    ucnt = uni.groupBy("w").agg(F.count(F.lit(1)).alias("cw"))
    utot = uni.agg(F.count(F.lit(1)).alias("nu"))
    t = F.col("t")
    idx = F.sequence(F.lit(1), F.size(t) - 1)
    bg = with_toks.select(
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.concat_ws(
                        " ", F.element_at(t, i), F.element_at(t, i + 1)
                    ).alias("bigram"),
                    F.element_at(t, i).alias("wa"),
                    F.element_at(t, i + 1).alias("wb"),
                ),
            )
        ).alias("s")
    ).select("s.bigram", "s.wa", "s.wb")
    bcnt = bg.groupBy("bigram", "wa", "wb").agg(
        F.count(F.lit(1)).alias("cab")
    )
    btot = bg.agg(F.count(F.lit(1)).alias("nb"))
    pmi = F.floor(
        F.log(
            (F.col("cab").cast("double") / F.col("nb"))
            / (
                (F.col("a.cw").cast("double") / F.col("nu"))
                * (F.col("b.cw").cast("double") / F.col("nu"))
            )
        )
        * 1000000
        + F.lit(0.5)
    ).cast("long")
    scored = (
        bcnt.filter(F.col("cab") >= PMI_MIN_COUNT)
        .join(F.broadcast(ucnt.alias("a")), F.col("wa") == F.col("a.w"))
        .join(F.broadcast(ucnt.alias("b")), F.col("wb") == F.col("b.w"))
        .crossJoin(F.broadcast(utot))
        .crossJoin(F.broadcast(btot))
        .select("bigram", "cab", pmi.alias("pmi_micro"))
    )
    wr = Window.orderBy(F.desc("pmi_micro"), F.asc("bigram"))
    return (
        scored.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= PMI_TOPK)
    )


HEAPS_PREFIXES = 5


@query(
    "ext_heaps_law",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ),
    toks AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(t) - 2),
                    i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS tok
      FROM tok
    ),
    mx AS (SELECT MAX(doc_id) AS m FROM documents),
    ks AS (SELECT unnest(generate_series(1, {HEAPS_PREFIXES})) AS k),
    thr AS (SELECT k, ((m + 1) * k) // {HEAPS_PREFIXES} AS t
            FROM ks CROSS JOIN mx),
    firsts AS (SELECT tok, MIN(doc_id) AS fd FROM toks GROUP BY tok),
    pts AS (
      SELECT thr.k,
             (SELECT COUNT(*) FROM toks WHERE doc_id < thr.t) AS n_tokens,
             (SELECT COUNT(*) FROM firsts WHERE fd < thr.t) AS vocab
      FROM thr
    ),
    xy AS (
      SELECT k, n_tokens, vocab,
             CAST(FLOOR(ln(CAST(n_tokens AS DOUBLE)) * 1000000 + 0.5)
                  AS BIGINT) AS x,
             CAST(FLOOR(ln(CAST(vocab AS DOUBLE)) * 1000000 + 0.5)
                  AS BIGINT) AS y
      FROM pts
    ),
    fit AS (
      SELECT ROUND(
               CAST({HEAPS_PREFIXES} * SUM(x * y) - SUM(x) * SUM(y)
                    AS DOUBLE)
               / ({HEAPS_PREFIXES} * SUM(x * x) - SUM(x) * SUM(x)), 6)
               + 0.0 AS beta
      FROM xy
    )
    SELECT k, n_tokens, vocab, beta AS heaps_beta
    FROM xy CROSS JOIN fit
    """,
)
def ext_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit: type growth V ≈ c·N^β estimated from cumulative
    corpus prefixes — the scaling-law measurement an LLM pipeline runs
    to predict tokenizer vocabulary coverage and dedup-value at
    10×/100× more data (β well below 1 means new data buys few new
    types; β near 1 flags synthetic/ID-heavy text). The type unit is
    the word TRIGRAM: the fixture's ~60-word unigram vocabulary
    saturates in the first prefix (β = 0 exactly — a correct but
    degenerate measurement), while trigram types show the law at work
    (β ≈ 0.78 at sf0.01) AND its collapse under saturation (β ≈ 0.10
    at sf0.1, where the 60³ type space exhausts) — both readings are
    the point of running the probe.

    Prefixes are doc_id ranges (no global sort or window — the
    threshold is pure integer arithmetic on max(doc_id), so the same
    definition shards at any scale); cumulative vocabulary comes from
    each token's FIRST doc_id (one vocabulary-sized aggregate), never
    a per-prefix re-scan, and both curves fall out of ONE conditional
    aggregation against the broadcast threshold grid. The OLS slope on
    the ln-ln points is computed from micro-nat-quantized coordinates,
    so every sum in the fit is exact int64 and the single closing
    division follows the one-double-division rule.

    Reference parity: north-star extension beyond the reference's SQL
    surface (src/sparkSQL/SparkSQLOperator.java:17-23), SURVEY §2.F.
    """
    d = _docs(spark, sf_dir)
    with_t = d.select("doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") >= 3
    )
    t = F.col("t")
    toks = with_t.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(t) - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(t, i),
                    F.element_at(t, i + 1),
                    F.element_at(t, i + 2),
                ),
            )
        ).alias("tok"),
    )
    mx = d.agg(F.max("doc_id").alias("m"))
    ks = spark.createDataFrame(
        [(k,) for k in range(1, HEAPS_PREFIXES + 1)], "k int"
    )
    thr = ks.crossJoin(F.broadcast(mx)).select(
        "k", F.expr(f"((m + 1) * k) DIV {HEAPS_PREFIXES}").alias("t")
    )
    n_tok = (
        toks.crossJoin(F.broadcast(thr))
        .filter(F.col("doc_id") < F.col("t"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_tokens"))
    )
    firsts = toks.groupBy("tok").agg(F.min("doc_id").alias("fd"))
    vocab = (
        firsts.crossJoin(F.broadcast(thr))
        .filter(F.col("fd") < F.col("t"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("vocab"))
    )
    xy = (
        n_tok.join(vocab, "k")
        .select(
            "k",
            "n_tokens",
            "vocab",
            F.floor(F.log(F.col("n_tokens").cast("double")) * 1000000
                    + F.lit(0.5)).cast("long").alias("x"),
            F.floor(F.log(F.col("vocab").cast("double")) * 1000000
                    + F.lit(0.5)).cast("long").alias("y"),
        )
    )
    n = HEAPS_PREFIXES
    fit = xy.agg(
        (
            F.round(
                (n * F.sum(F.col("x") * F.col("y"))
                 - F.sum("x") * F.sum("y")).cast("double")
                / (n * F.sum(F.col("x") * F.col("x"))
                   - F.sum("x") * F.sum("x")),
                6,
            )
            + F.lit(0.0)
        ).alias("beta")
    )
    return xy.crossJoin(F.broadcast(fit)).select(
        "k", "n_tokens", "vocab", F.col("beta").alias("heaps_beta")
    )


# ---------------------------------------------------------------------------
# Poisson bootstrap: distributed uncertainty estimation in one pass.

BOOT_B = 32             # bootstrap replicates
_BOOT_P = 1_000_000_007
# floor(P * CDF_Poisson(1)(k)) for k = 0..6; a draw u in [0, P) maps
# to the first k with u < threshold (else 7). P(X > 6 | lambda=1)
# ~ 8e-5: the truncation is part of the pinned contract, identical in
# both engines.
_BOOT_CDF = [367879443, 735758887, 919698609, 981011849,
             996340160, 999405822, 999916765]
_BOOT_MIX = 2654435761 % _BOOT_P  # Knuth multiplier, pre-reduced


def _boot_weight_sql(h: str) -> str:
    cases = " ".join(
        f"WHEN {h} < {t} THEN {k}" for k, t in enumerate(_BOOT_CDF)
    )
    return f"(CASE {cases} ELSE 7 END)"


def boot_weight_partials(df: DataFrame) -> DataFrame:
    """Per-replicate Poisson-weight partial sums (r, p_n, p_sum) for a
    (doc_id, n_chars) relation — the ONE implementation of the
    bootstrap draw, shared by ``ext_bootstrap_ci`` and the streaming
    leg (``streaming.queries.stream_bootstrap_ci``) so the mixer and
    CDF lookup cannot drift between the legs (both replay
    ``BOOT_ORACLE_SQL``).

    The draw: r comes out of ``sequence()`` as int32, so widen BEFORE
    the mixer multiply (654M * r overflows int at r >= 4 under ANSI);
    TWO multiplicative rounds mod p — the affine first round alone
    leaves small doc_ids in a narrow band of [0, p) (no wrap), which
    skews the CDF lookup; the second multiply wraps ~1e9 times and
    uniformizes (worst replicate deviation measured 3.6% at n=500,
    ~sqrt(n) noise). Weights are additive per row, so these partials
    merge exactly across any partitioning of the corpus."""
    rep = df.select(
        "doc_id",
        "n_chars",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("r"),
    )
    m = (
        (F.col("doc_id") % _BOOT_P) * 1000003
        + (F.col("r").cast("long") + 1) * F.lit(_BOOT_MIX)
    ) % _BOOT_P
    h = (m * F.lit(_BOOT_MIX)) % _BOOT_P
    # materialize h before the CASE chain reuses it 7 times
    rep = rep.select("r", "n_chars", h.alias("h"))
    w = F.lit(7)
    for k in range(len(_BOOT_CDF) - 1, -1, -1):
        w = F.when(F.col("h") < _BOOT_CDF[k], F.lit(k)).otherwise(w)
    return (
        rep.select("r", "n_chars", w.alias("w"))
        .groupBy("r")
        .agg(
            F.sum("w").alias("p_n"),
            F.sum(F.col("w") * F.col("n_chars")).alias("p_sum"),
        )
    )


def boot_ci(per_rep: DataFrame) -> DataFrame:
    """Close the bootstrap over per-replicate (r, n_w, sum_w, mean_rep)
    rows: the 2.5/97.5 interpolated percentile of the B means, beside
    every replicate, rounded to 6 dp — the ``ci`` and final SELECT of
    ``BOOT_ORACLE_SQL``, shared by the batch and streaming legs."""
    ci = per_rep.agg(
        F.expr("percentile(mean_rep, 0.025)").alias("lo"),
        F.expr("percentile(mean_rep, 0.975)").alias("hi"),
    )
    rnd = lambda c: F.round(c, 6) + F.lit(0.0)  # noqa: E731
    return per_rep.crossJoin(F.broadcast(ci)).select(
        F.col("r").alias("replicate"),
        "n_w",
        "sum_w",
        rnd("mean_rep").alias("mean_rep"),
        rnd("lo").alias("boot_lo"),
        rnd("hi").alias("boot_hi"),
    )


# Shared by ext_bootstrap_ci and the streaming leg
# (streaming.queries.stream_bootstrap_ci): the per-row Poisson weights
# are additive across any partitioning of the corpus, so both converge
# to the same per-replicate totals and replay the same oracle.
BOOT_ORACLE_SQL = f"""
    WITH rep AS (
      SELECT r.r, d.doc_id, d.n_chars,
             ((((d.doc_id % {_BOOT_P}) * 1000003
                + (r.r + 1) * {_BOOT_MIX}) % {_BOOT_P})
              * {_BOOT_MIX}) % {_BOOT_P} AS h
      FROM documents d
      CROSS JOIN (SELECT unnest(generate_series(0, {BOOT_B - 1})) AS r) r
    ),
    w AS (SELECT r, n_chars, {_boot_weight_sql('h')} AS w FROM rep),
    per_rep AS (
      SELECT r,
             CAST(SUM(w) AS BIGINT) AS n_w,
             CAST(SUM(w * n_chars) AS BIGINT) AS sum_w,
             CAST(SUM(w * n_chars) AS DOUBLE) / SUM(w) AS mean_rep
      FROM w GROUP BY r
    ),
    ci AS (
      SELECT quantile_cont(mean_rep, 0.025) AS lo,
             quantile_cont(mean_rep, 0.975) AS hi
      FROM per_rep
    )
    SELECT p.r AS replicate, p.n_w, p.sum_w,
           ROUND(p.mean_rep, 6) + 0.0 AS mean_rep,
           ROUND(c.lo, 6) + 0.0 AS boot_lo,
           ROUND(c.hi, 6) + 0.0 AS boot_hi
    FROM per_rep p CROSS JOIN ci c
    """


@query("ext_bootstrap_ci", oracle=BOOT_ORACLE_SQL)
def ext_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap (Chamandy et al., Google 2012) for the mean
    document length: every (document, replicate) pair draws a
    Poisson(1) resampling weight from a deterministic arithmetic PRNG,
    each replicate's weighted mean is one exact int64 ratio, and the
    95% interval is the 2.5/97.5 interpolated percentile over the B
    replicate means — THE distributed bootstrap: classic resampling
    needs n draws WITH replacement per replicate (a global shuffle per
    replicate), while Poisson weights are row-local, so all B
    replicates run in ONE corpus pass with map-side combine into B
    groups.

    Determinism contract: u = (((doc_id % p) * 1000003
    + (r+1) * mix) % p * mix) % p — the ``ext_negative_sampling``
    overflow-safe mixer plus a second multiplicative round (the affine
    form alone leaves small id domains in a narrow non-wrapping band,
    the poly_hash short-key caveat; the second multiply wraps ~1e9
    times and uniformizes, worst replicate deviation ~sqrt(n));
    the Poisson(1) inverse CDF is a 7-threshold integer CASE over
    pre-scaled constants (k > 6 truncates at p ~ 8e-5 — part of the
    pinned contract); per-replicate sums are int64; each mean closes
    with ONE double division and the CI with Spark ``percentile`` ==
    DuckDB ``quantile_cont`` (linear interpolation, pinned by
    ``agg_percentile``), so ROUND(.,6) is collision-free.

    Scale shape: explode B replicate ids per row (B x map work, no
    extra data motion), aggregate to B groups (map-side partial), and
    the CI reduces a B-row relation. At 100 TB: one linear pass, B
    counters per task — the published production shape for CIs over
    corpus statistics.

    Reference parity: north-star extension beyond the reference's SQL
    surface (src/sparkSQL/SparkSQLOperator.java:17-23), SURVEY §2.F.
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    per_rep = (
        boot_weight_partials(d.select("doc_id", "n_chars"))
        .withColumnRenamed("p_n", "n_w")
        .withColumnRenamed("p_sum", "sum_w")
        .select(
            "r",
            "n_w",
            "sum_w",
            (F.col("sum_w").cast("double") / F.col("n_w")).alias("mean_rep"),
        )
        # B rows consumed by BOTH the CI aggregate and the output:
        # eager-checkpoint the TINY replicate relation so the corpus
        # pass provably runs once (AQE exchange reuse across the
        # broadcast-subquery boundary is not guaranteed; the plan test
        # pins that the final query holds no corpus scan at all)
        .localCheckpoint(eager=True)
    )
    return boot_ci(per_rep)
