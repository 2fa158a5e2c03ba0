"""Sources / sinks (SURVEY.md §2.D scans; reference C2/C6).

``src_*`` keys prove the scan paths (direct parquet, catalog/temp-view
SQL — the reference's Hive-table reads, ``SparkSQLOperator.java:18``);
``snk_*`` keys prove write-then-requery (the reference's CTAS,
``SparkSQLOperator.java:23``).
"""

from __future__ import annotations

import os

from streamingdemo_spark.scratch import scratch_dir

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streamingdemo_spark.io import load_tables, register_views, table_path
from streamingdemo_spark.plans import txn_log
from streamingdemo_spark.registry import dsum, opoly, osum, query
from streamingdemo_spark.streaming.runner import replay


@query(
    "src_parquet_scan",
    oracle=f"""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(l_orderkey) AS BIGINT) AS key_checksum,
           {osum("l_extendedprice")} AS price_sum
    FROM lineitem
    """,
)
def src_parquet_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Direct parquet scan + full-table checksum aggregate."""
    li = spark.read.parquet(table_path(sf_dir, "lineitem"))
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_orderkey").alias("key_checksum"),
        dsum("l_extendedprice").alias("price_sum"),
    )


@query(
    "src_view_scan",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n
    FROM orders GROUP BY o_orderstatus
    """,
)
def src_view_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan via a registered temp view, addressed from SQL text (C1+C2)."""
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        "SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY o_orderstatus"
    )


@query(
    "snk_parquet_write",
    # the written-then-read-back aggregate must equal the aggregate
    # itself — this checks the parquet roundtrip, not just row count
    oracle="""
    SELECT n_regionkey, COUNT(*) AS "count" FROM nation GROUP BY n_regionkey
    """,
)
def snk_parquet_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write an aggregate result as parquet, read it back (C6 analogue).

    100 TB note: the write stays distributed (one file per partition);
    nothing is collected.
    """
    nat = spark.read.parquet(table_path(sf_dir, "nation"))
    out = os.path.join(scratch_dir(prefix="snk_parquet_"), "nations_by_region")
    nat.groupBy("n_regionkey").count().write.mode("overwrite").parquet(out)
    return spark.read.parquet(out).orderBy("n_regionkey")


@query(
    "snk_ctas",
    oracle="""
    SELECT r.r_name, COUNT(*) AS n_nations
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def snk_ctas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTAS into a temp view and re-query it — the reference's
    ``create table dy.nice as select ...`` (``SparkSQLOperator.java:23``)
    without requiring a persistent metastore."""
    register_views(spark, sf_dir, ("region", "nation"))
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY VIEW nice AS
        SELECT r.r_name, COUNT(*) AS n_nations
        FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
        """
    )
    return spark.sql("SELECT * FROM nice ORDER BY r_name")


def _csv_json_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir, ("supplier",))["supplier"]


@query(
    "src_csv_scan",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey,
           CAST(s_acctbal AS DOUBLE) AS s_acctbal
    FROM supplier
    """,
)
def src_csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source: write the supplier dim as CSV, read it back with an
    explicit schema (never inferSchema in production — it double-scans
    and guesses types). Round-trip must equal the parquet original."""
    out = os.path.join(scratch_dir(prefix="src_csv_"), "supplier_csv")
    base = _csv_json_base(spark, sf_dir)
    base.write.mode("overwrite").option("header", True).csv(out)
    schema = "s_suppkey long, s_name string, s_nationkey int, s_acctbal double"
    return (
        spark.read.schema(schema)
        .option("header", True)
        .csv(out)
        .withColumn("s_acctbal", F.round("s_acctbal", 2))
    )


@query(
    "src_json_scan",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey,
           CAST(s_acctbal AS DOUBLE) AS s_acctbal
    FROM supplier
    """,
)
def src_json_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source with explicit schema, same round-trip check."""
    out = os.path.join(scratch_dir(prefix="src_json_"), "supplier_json")
    base = _csv_json_base(spark, sf_dir)
    base.write.mode("overwrite").json(out)
    schema = "s_suppkey long, s_name string, s_nationkey int, s_acctbal double"
    return spark.read.schema(schema).json(out)


@query(
    "src_orc_scan",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey,
           CAST(s_acctbal AS DOUBLE) AS s_acctbal
    FROM supplier
    """,
)
def src_orc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source round-trip (columnar alternative to parquet; same
    pushdown/pruning machinery in Spark's reader)."""
    out = os.path.join(scratch_dir(prefix="src_orc_"), "supplier_orc")
    _csv_json_base(spark, sf_dir).write.mode("overwrite").orc(out)
    return spark.read.orc(out)


@query(
    "src_jdbc_scan",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey,
           CAST(s_acctbal AS DOUBLE) AS s_acctbal
    FROM supplier
    """,
)
def src_jdbc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JDBC source: load the supplier dim into an embedded Derby
    database over Spark's JDBC sink, read it back through the JDBC
    source, and prove the round trip equals the parquet original —
    the same database-table read path as the A6 operator registry
    (``DBHelper.java:8-35`` shape), but as a data source.

    The reader call is identical for MySQL/Postgres (swap url/driver);
    production reads add ``partitionColumn/lowerBound/upperBound/
    numPartitions`` so the scan parallelizes into range-bounded
    executor queries instead of one driver-side cursor — a dimension
    table this size reads in one partition and then broadcasts.
    """
    url = (
        "jdbc:derby:"
        + os.path.join(scratch_dir(prefix="src_jdbc_"), "suppdb")
        + ";create=true"
    )
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    base = _csv_json_base(spark, sf_dir)
    (
        base.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "supplier_src")
        .option("driver", driver)
        .mode("overwrite")
        .save()
    )
    return (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "supplier_src")
        .option("driver", driver)
        .load()
    )


@query(
    "src_binary_scan",
    oracle=f"""
    SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           {opoly("text")} AS content_hash
    FROM documents WHERE doc_id < 64
    """,
)
def src_binary_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary file ingestion via Spark's ``binaryFile`` source —
    the real entry path for image/audio/video corpora (one row per
    file: path, length, raw content bytes), proven by a text
    round trip: documents are written out as raw UTF-8 files, read
    back as binary, and the decoded content must hash-equal the
    originals.

    The binaryFile source scales like any file scan (splittable
    listing, per-file rows, predicate pushdown on path/length
    metadata); pair it with the ``ext_multimodal_*`` mapInPandas
    decode plumbing downstream. ``pathGlobFilter`` prunes at the
    listing, and content bytes stay opaque until a decode op touches
    them — exactly how a 100 TB image crawl is staged.
    """
    import tempfile

    d = load_tables(spark, sf_dir, ("documents",))["documents"].filter(
        F.col("doc_id") < 64
    )
    out = scratch_dir(prefix="src_binary_")
    # stage: one .txt file per doc, named by doc_id (driver-side write
    # of a 64-row sample — staging fixture files, not a data path)
    for r in d.select("doc_id", "text").collect():
        with open(os.path.join(out, f"{r['doc_id']}.txt"), "wb") as f:
            f.write(r["text"].encode("utf-8"))
    from streamingdemo_spark.registry import poly_hash

    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .load(out)
    )
    return raw.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.txt$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("length").alias("n_bytes"),
        poly_hash(F.col("content").cast("string")).alias("content_hash"),
    )


@query(
    "src_schema_evolution",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey,
           CAST(NULL AS DOUBLE) AS s_acctbal
    FROM supplier WHERE s_suppkey % 2 = 0
    UNION ALL
    SELECT s_suppkey, s_name, s_nationkey, CAST(s_acctbal AS DOUBLE)
    FROM supplier WHERE s_suppkey % 2 = 1
    """,
)
def src_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: one table directory holding files
    written under TWO schema versions (v1 without the balance column,
    v2 with it), read back with ``mergeSchema`` into the unified
    schema — v1 rows surface NULL for the late-added column instead
    of failing the scan. This is the daily reality of a 100 TB lake
    (partitions written across schema generations); without
    mergeSchema the read planner takes one footer's schema and either
    drops the new column or errors.

    Production notes in-line: mergeSchema reads every file footer
    (expensive at huge file counts — prefer a table format's tracked
    schema or an explicit ``.schema(...)``), and only ADDITIVE
    nullable evolution merges; type changes need an explicit cast
    migration.
    """
    base = _csv_json_base(spark, sf_dir)
    out = scratch_dir(prefix="src_evo_")
    v1 = base.filter(F.col("s_suppkey") % 2 == 0).select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    v2 = base.filter(F.col("s_suppkey") % 2 == 1).select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    v1.write.mode("append").parquet(out)
    v2.write.mode("append").parquet(out)
    return (
        spark.read.option("mergeSchema", True)
        .parquet(out)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    )


@query(
    "src_text_scan",
    oracle="""
    SELECT text AS value FROM documents
    """,
)
def src_text_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented text ingestion (``spark.read.text``) — the entry
    path for raw corpora dumps (one row per line, lazy scan,
    splittable like any file source). Proven by a round trip: the
    documents table is written out as text files by the EXECUTORS
    (``df.write.text``, one file per partition — no driver staging),
    read back with read.text, and the line set must hash-equal the
    original text column (fixture documents are single-line, so the
    round trip is the identity).

    At 100 TB this is how a crawl dump enters the engine before any
    parquet conversion: text scan → parse/score → columnar write;
    compression-splittable codecs (bzip2/zstd-seekable) or many files
    keep the scan parallel.
    """
    import tempfile

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    out = scratch_dir(prefix="streamingdemo_textscan_") + "/docs"
    d.select(F.col("text").alias("value")).write.mode("overwrite").text(out)
    return spark.read.text(out)


@query(
    "src_python_datasource",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(mod97) AS BIGINT) AS mod_sum
    FROM (
      SELECT i AS id, (i * i) % 97 AS mod97,
             e.event_type
      FROM range(0, 5000) t(i)
      JOIN events e ON e.event_id = i
    )
    GROUP BY event_type
    """,
)
def src_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python data source (Spark 4 DataSource API): a
    pure-Python source class registered by name becomes a
    ``spark.read.format(...)`` scan with REAL partition planning —
    each InputPartition reads in its own task (8 here, plan-visible),
    the engine-native answer to the reference's by-class-name source
    operators (``OpContainer``'s registry dispatch) without any
    driver-side materialization. The generated relation joins the
    events fixture like any other table; the oracle replays the
    generator's integer math in SQL, so partition planning, per-task
    generators, and Arrow conversion are all value-hash-checked.

    At scale the same API wraps internal feeds (service APIs, custom
    formats); partition count drives parallelism exactly like file
    splits. See plans/python_source.py for the source class.
    """
    from streamingdemo_spark.plans.python_source import register_demo_source

    register_demo_source(spark)
    gen = (
        spark.read.format("demo_range")
        .option("n", 5000)
        .option("partitions", 8)
        .load()
    )
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    return (
        gen.join(ev, gen["id"] == ev["event_id"])
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("mod97").alias("mod_sum"),
        )
    )


@query(
    "src_csv_corrupt_recovery",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_orderkey % 97 <> 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_good,
           CAST(SUM(CASE WHEN o_orderkey % 97 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_corrupt,
           {osum("CASE WHEN o_orderkey % 97 <> 0 THEN o_totalprice ELSE 0 END")}
             AS good_total
    FROM orders
    """,
)
def src_csv_corrupt_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input recovery on the CSV path: a feed where every
    97th order line is corrupted (non-numeric amount, truncated
    fields) is read in PERMISSIVE mode with a ``_corrupt_record``
    column — bad lines become quarantine rows instead of killing the
    job or silently vanishing, and the summary proves the accounting:
    parsed + quarantined = fed, and the parsed total matches the
    clean-subset oracle exactly.

    This is the ingestion contract a 100 TB crawl feed needs: never
    FAILFAST on line 3 billion, never DROPMALFORMED silently — land
    bad lines in a quarantine column/table with the rest of the
    batch, alert on the corrupt rate, reprocess later. The corrupt
    feed itself is staged by the EXECUTORS (format_string + write
    .text, no driver loop), and the corrupted subset is keyed by
    orderkey so the oracle can replay the split from the clean table.
    """
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    line = F.when(
        F.col("o_orderkey") % 97 == 0,
        # truncated + non-numeric: parses to nulls + _corrupt_record
        F.format_string("%d,corrupted", F.col("o_orderkey")),
    ).otherwise(
        F.format_string(
            "%d,%d,%s",
            F.col("o_orderkey"),
            F.col("o_custkey"),
            F.col("o_totalprice").cast("decimal(12,2)").cast("string"),
        )
    )
    feed = os.path.join(scratch_dir(prefix="src_corrupt_"), "feed")
    o.select(line.alias("value")).write.mode("overwrite").text(feed)

    schema = (
        "o_orderkey long, o_custkey long, o_totalprice double, "
        "_corrupt_record string"
    )
    parsed = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(feed)
        .cache()
    )
    good = F.col("_corrupt_record").isNull()
    return parsed.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(good.cast("long")).alias("n_good"),
        F.sum((~good).cast("long")).alias("n_corrupt"),
        dsum(
            F.when(good, F.col("o_totalprice")).otherwise(F.lit(0.0))
        ).alias("good_total"),
    )


@query(
    "src_compressed_scan",
    oracle="""
    SELECT doc_id, lang, n_chars FROM documents
    """,
)
def src_compressed_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-file ingestion: gzip'd JSON-lines in, rows out —
    the shape of most delivered data drops (API exports, log
    shipping, vendor feeds). Proven by a round trip: the documents
    table's metadata columns are written as gzip JSONL by the
    EXECUTORS (``write.option("compression","gzip").json`` — Spark
    infers the codec back from the ``.gz`` extension on read), read
    back with schema-explicit ``read.json``, and the rows must
    hash-equal the source.

    The 100 TB trap this key documents: gzip is NOT splittable — one
    file = one task no matter the file size, so a single 500 GB
    .json.gz drop serializes onto one core. The mitigation is upstream
    of the reader (many moderate files — here one per partition, the
    executor-write default — or a splittable codec like bzip2/zstd-
    seekable); after the first columnar rewrite the codec question
    disappears (parquet compresses per column chunk and stays
    splittable). Schema is passed explicitly: inference would scan
    every gzip member once just to guess types the pipeline already
    knows.
    """
    import tempfile

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    out = scratch_dir(prefix="streamingdemo_gzscan_") + "/docs_jsonl"
    (
        d.select("doc_id", "lang", "n_chars")
        .write.mode("overwrite")
        .option("compression", "gzip")
        .json(out)
    )
    return spark.read.schema("doc_id bigint, lang string, n_chars bigint").json(
        out
    ).select("doc_id", "lang", "n_chars")


def _footer_stats(
    paths: list[str], cols: tuple[str, ...] = ()
) -> tuple[int, dict[str, tuple[int, int]]]:
    """Writer-side stats straight from the parquet FOOTERS of the data
    files under ``paths`` (dirs or files): total row count plus exact
    per-column min/max. This is the Delta convention — the bytes a
    writer just landed already carry their statistics, so recomputing
    them with a second Spark pass over the lineage (or a read-back
    aggregate) is a wasted full pass (optimization guide §1.2: fix the
    algorithm's pass count before anything else). Driver-side metadata,
    O(files), no row data read; int64 columns only (footer min/max is
    exact there). A data-carrying file with no stats for a requested
    column raises loudly — the log must never silently under-cover."""
    import pyarrow.parquet as _pq

    files: list[str] = []
    for p in paths:
        if os.path.isdir(p):
            for root, _dirs, names in os.walk(p):
                files.extend(
                    os.path.join(root, f)
                    for f in names
                    if f.endswith(".parquet")
                )
        else:
            files.append(p)
    n_rows = 0
    mins: dict[str, int] = {}
    maxs: dict[str, int] = {}
    for f in files:
        md = _pq.ParquetFile(f).metadata
        n_rows += md.num_rows
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for i in range(rg.num_columns):
                c = rg.column(i)
                name = c.path_in_schema
                if name not in cols:
                    continue
                st = c.statistics
                if st is None or not st.has_min_max:
                    raise RuntimeError(
                        f"parquet footer of {f} has no min/max for "
                        f"{name}: writer-side stats require a "
                        f"stats-writing writer"
                    )
                mins[name] = min(mins.get(name, st.min), st.min)
                maxs[name] = max(maxs.get(name, st.max), st.max)
    missing = [c for c in cols if c not in mins]
    if missing and n_rows:
        raise RuntimeError(f"no footer stats found for {missing}")
    return n_rows, {c: (mins[c], maxs[c]) for c in mins}


def _stage_parts(
    spark: SparkSession, sf_dir: str, prefix: str, commits: list[list[dict]]
) -> tuple[str, str]:
    """Stage the minimal lakehouse fixture shared by the txn-log keys:
    orders hash-partitioned into part0..part3 data directories plus a
    log holding ``commits``. Returns (table base dir, log dir)."""
    from concurrent.futures import ThreadPoolExecutor

    base = scratch_dir(prefix=prefix)
    o = load_tables(spark, sf_dir, ("orders",))["orders"].select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )

    def _write_part(part: int) -> None:
        o.filter(F.col("o_orderkey") % 4 == part).write.mode(
            "overwrite"
        ).parquet(os.path.join(base, f"part{part}"))

    # The four staged part-writes are independent single-file-scan jobs
    # (the fixture is one parquet file -> one task each); running them
    # sequentially leaves the box idle 3/4 of the staging wall. Submit
    # them together and let the scheduler back-fill (guide §2.6,
    # overlap independent jobs). pool.map re-raises any write error.
    with ThreadPoolExecutor(max_workers=4) as pool:
        list(pool.map(_write_part, range(4)))
    return base, txn_log.create(os.path.join(base, "_txn_log"), commits)


def _overlapping(live: dict[str, dict], lo: int, hi: int) -> list[str]:
    """Stats-based file skipping: the live paths whose logged
    ``[min_key, max_key]`` can overlap ``[lo, hi]`` — log metadata
    only, driver-side by design."""
    return [
        p
        for p, a in sorted(live.items())
        if not (a["max_key"] < lo or a["min_key"] > hi)
    ]


@query(
    "src_txn_log_checkpointed",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 4 != 3
    """,
)
def src_txn_log_checkpointed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log checkpointing for the minimal lakehouse format — the
    checkpoint + pointer mechanism (``plans/txn_log.py``) that keeps
    snapshot resolution O(checkpoint + commit suffix) instead of
    O(n_commits) (Delta solves exactly this with periodic parquet
    checkpoints + a pointer file, Iceberg with snapshot manifests). At
    100 TB a table accretes millions of commits; without checkpoints
    every reader's PLANNING cost grows with table history — with them
    it is bounded by the checkpoint cadence regardless of age.

    Writer side: the staged history (8 commits of add/remove churn
    over 4 parts) checkpoints on cadence — after every 5th commit.
    Reader side: resolve = pointer read + checkpoint load + replay of
    commits 5..7 ONLY — the key raises loudly if any pre-checkpoint
    commit file was opened, and tests/test_plans.py pins the
    opened-file list plus checkpointed-equals-full-replay equivalence
    on the same log.

    Churn history is chosen so correctness is visible: part 0 is
    removed then re-added BEFORE the checkpoint (a reader that merges
    actions out of order loses it), parts 1 and 3 change state AFTER
    it (a reader that trusts the checkpoint alone misses them). Final
    live set {part0, part1, part2} — the oracle asserts the logical
    equivalent (keys with ``o_orderkey % 4 != 3``).
    """
    base, log_dir = _stage_parts(
        spark,
        sf_dir,
        "txnlog_ckpt_",
        [
            [{"add": "part0"}, {"add": "part1"}],
            [{"add": "part2"}],
            [{"remove": "part0"}],
            [{"add": "part3"}],
            [{"add": "part0"}],
            # -- checkpoint cadence: every 5 commits (written below,
            #    after commit 4, covering versions 0..4)
            [{"remove": "part1"}],
            [{"remove": "part3"}],
            [{"add": "part1"}],
        ],
    )
    txn_log.write_checkpoint(log_dir, version=4)
    live, opened = txn_log.resolve(log_dir)
    # O(suffix) invariant, raised explicitly (the whole point of the
    # key): only the checkpoint and the 3 post-checkpoint commits may
    # be opened — never the 5 pre-checkpoint commit files
    expected_opened = [txn_log.checkpoint_name(4)] + [
        txn_log.commit_name(v) for v in (5, 6, 7)
    ]
    if opened != expected_opened:
        raise RuntimeError(
            f"checkpointed resolve opened {opened}, "
            f"expected exactly {expected_opened}"
        )
    if live != txn_log.snapshot(log_dir):
        raise RuntimeError(
            "checkpointed snapshot diverged from full replay"
        )
    return spark.read.parquet(*(os.path.join(base, p) for p in sorted(live)))


@query(
    "src_txn_log_snapshot",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 4 != 0
    """,
)
def src_txn_log_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimal lakehouse table format: an ordered transaction log of
    JSON commits carrying add/remove file actions (the Delta-protocol
    shape), replayed to resolve the current snapshot — the mechanism
    that gives object-store tables atomic commits, deletes, and time
    travel without ever mutating data files.

    Staged history: commit 0 adds parts 0-2; commit 1 adds part 3 and
    REMOVES part 0 (a delete rewritten as file replacement — the only
    kind of delete an immutable store supports). Replay keeps the
    live set {{1,2,3}}, so the snapshot must equal the logical table
    minus part 0's rows — which is exactly what the oracle asserts:
    format mechanics, zero content drift. Only file PATHS flow through
    the driver (the log is metadata, tiny by design — this is how
    every lakehouse reader works); row data moves entirely through the
    parquet scan of the live files. Snapshot isolation falls out:
    readers that listed the log before commit 1 keep reading part 0's
    still-present file.
    """
    base, log_dir = _stage_parts(
        spark,
        sf_dir,
        "txnlog_",
        [
            [{"add": "part0"}, {"add": "part1"}, {"add": "part2"}],
            [{"add": "part3"}, {"remove": "part0"}],
        ],
    )
    live = txn_log.snapshot(log_dir)
    return spark.read.parquet(*(os.path.join(base, p) for p in sorted(live)))


@query(
    "src_txn_log_time_travel",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 4 IN (1, 2)
    """,
)
def src_txn_log_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over the minimal lakehouse format of
    ``src_txn_log_snapshot``: resolve the table AS OF an EARLIER
    version by replaying the transaction log only through that
    commit — the Delta `VERSION AS OF` / Iceberg snapshot-id read
    that makes immutable-file tables auditable and lets a training
    run pin the exact dataset version it consumed (the
    reproducibility contract every dataset card cites).

    Staged history (one commit further than the snapshot key so the
    traveled-to state differs from BOTH endpoints): commit 0 adds
    parts 0-1; commit 1 adds part 2 and removes part 0; commit 2 adds
    part 3 and removes part 1. Latest = {2,3}; AS OF version 1 =
    {1,2} — which is what the oracle asserts, so a reader that
    accidentally replays the full log (the classic time-travel bug:
    filtering files by mtime instead of cutting the LOG) fails the
    hash. Replay stays metadata-only through the driver exactly like
    the snapshot key; commit 2's data files exist on disk and must
    not be touched by the scan.
    """
    base, log_dir = _stage_parts(
        spark,
        sf_dir,
        "txnlog_tt_",
        [
            [{"add": "part0"}, {"add": "part1"}],
            [{"add": "part2"}, {"remove": "part0"}],
            [{"add": "part3"}, {"remove": "part1"}],
        ],
    )
    # AS OF version 1: replay commits 0..1 only — the version cut is a
    # filename comparison on the ordered log, nothing else changes
    live = txn_log.snapshot(log_dir, as_of=1)
    return spark.read.parquet(*(os.path.join(base, p) for p in sorted(live)))


@query(
    "src_txn_log_incremental",
    oracle="""
    WITH actions AS (
      SELECT * FROM (VALUES (0, 'add', 0), (0, 'add', 1),
                            (1, 'add', 2), (1, 'remove', 0),
                            (2, 'add', 3), (2, 'remove', 1))
        AS t(version, kind, part)
    ),
    parts AS (
      SELECT (o_orderkey % 4) AS part,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    per AS (
      SELECT a.version AS version,
             CAST(SUM(CASE WHEN a.kind = 'add' THEN p.n ELSE 0 END)
                  AS BIGINT) AS n_added,
             CAST(SUM(CASE WHEN a.kind = 'remove' THEN p.n ELSE 0 END)
                  AS BIGINT) AS n_removed,
             CAST(SUM(CASE WHEN a.kind = 'add' THEN p.cents
                           ELSE -p.cents END) AS BIGINT) AS delta_cents
      FROM actions a JOIN parts p ON p.part = a.part
      GROUP BY a.version
    )
    SELECT CAST(version AS BIGINT) AS version, n_added, n_removed,
           delta_cents,
           CAST(SUM(n_added - n_removed) OVER (ORDER BY version)
                AS BIGINT) AS net_rows
    FROM per
    """,
)
def src_txn_log_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (streaming) read over the minimal lakehouse format
    of ``src_txn_log_snapshot`` — the Delta-streaming-source / CDF
    consumption shape: the TRANSACTION LOG is the stream, and each
    micro-batch turns that commit's add/remove actions into data-file
    side-reads, so a consumer keeps up with a 100 TB table by scanning
    only each commit's delta files, never re-listing or re-reading the
    table. Emits one row per commit version: rows/cents added and
    removed plus the running net row count — after the availableNow
    replay the per-version deltas must reconcile exactly with the
    logical table (the oracle derives them from the orders fixture),
    and the final ``net_rows`` equals the latest snapshot's count,
    tying the incremental view to ``src_txn_log_snapshot``'s full
    resolve.

    Mechanics: the JSON commit files feed a file-source stream
    (``maxFilesPerTrigger=1`` — one commit per micro-batch, the
    commit-is-the-unit-of-atomicity rule), each action row carrying
    its commit version parsed from ``_metadata.file_name``.
    ``foreachBatch`` groups the batch's actions by version and runs
    ONE batch parquet read over that version's added files and one
    over its removed files (removed files still exist — immutable
    store — so their row/cents totals are exactly recoverable at
    tombstone time, which is how CDF emits deletes without keeping row
    data in the log). Only per-version AGGREGATE rows accumulate
    driver-side (metadata-bounded: one row per commit, like the log
    replay itself); row data moves entirely through executor-side
    parquet scans of the delta files.

    Staged history (same as ``src_txn_log_time_travel``): commit 0
    adds parts 0-1, commit 1 adds part 2 / removes part 0, commit 2
    adds part 3 / removes part 1.
    """
    base, log_dir = _stage_parts(
        spark,
        sf_dir,
        "txnlog_inc_",
        [
            [{"add": "part0"}, {"add": "part1"}],
            [{"add": "part2"}, {"remove": "part0"}],
            [{"add": "part3"}, {"remove": "part1"}],
        ],
    )
    actions_stream = (
        spark.readStream.schema("add string, remove string")
        .option("maxFilesPerTrigger", 1)
        .json(log_dir)
        .select(
            "add",
            "remove",
            F.col("_metadata.file_name").alias("commit_file"),
        )
    )

    def _side_totals(
        adds: list[str], removes: list[str]
    ) -> tuple[int, int, int, int]:
        """Row/cents totals of one commit's added and removed files in
        ONE Spark job: the two delta scans are unioned under a side tag
        and aggregated together (previously two sequential
        driver-blocking jobs per commit — guide §1.2, pass count
        first). Returns (n_add, c_add, n_rem, c_rem)."""
        cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
            "long"
        )
        sides = [
            spark.read.parquet(*paths).select(
                F.lit(tag).alias("side"), cents.alias("cents")
            )
            for tag, paths in (("a", adds), ("r", removes))
            if paths
        ]
        if not sides:
            return 0, 0, 0, 0
        df = sides[0] if len(sides) == 1 else sides[0].unionByName(sides[1])
        rows = {
            r["side"]: r
            for r in df.groupBy("side")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("c"))
            .collect()  # <= 2 rows — per-commit aggregate metadata
        }

        def _get(tag: str) -> tuple[int, int]:
            r = rows.get(tag)
            return (int(r["n"]), int(r["c"] or 0)) if r else (0, 0)

        (n_add, c_add), (n_rem, c_rem) = _get("a"), _get("r")
        return n_add, c_add, n_rem, c_rem

    deltas: dict[int, tuple[int, int, int]] = {}

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        # actions are metadata (the commit log), tiny by design
        by_version: dict[int, dict[str, list[str]]] = {}
        for r in batch_df.collect():
            v = int(r["commit_file"].split(".")[0])
            acts = by_version.setdefault(v, {"add": [], "remove": []})
            if r["add"] is not None:
                acts["add"].append(os.path.join(base, r["add"]))
            if r["remove"] is not None:
                acts["remove"].append(os.path.join(base, r["remove"]))
        for v in sorted(by_version):
            n_add, c_add, n_rem, c_rem = _side_totals(
                by_version[v]["add"], by_version[v]["remove"]
            )
            deltas[v] = (n_add, n_rem, c_add - c_rem)

    replay(actions_stream.writeStream.foreachBatch(handle), spark)

    rows, net = [], 0
    for v in sorted(deltas):
        n_add, n_rem, d_cents = deltas[v]
        net += n_add - n_rem
        rows.append((v, n_add, n_rem, d_cents, net))
    return spark.createDataFrame(
        rows,
        "version bigint, n_added bigint, n_removed bigint, "
        "delta_cents bigint, net_rows bigint",
    )


@query(
    "src_txn_log_stats_prune",
    oracle="""
    WITH b AS (
      SELECT MIN(o_orderkey) AS lo, MAX(o_orderkey) AS hi FROM orders
    )
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders, b
    WHERE o_orderkey
      BETWEEN lo + ((hi - lo + 1) * 3) // 10
          AND lo + ((hi - lo + 1) * 9) // 20
    """,
)
def src_txn_log_stats_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File skipping via per-file min/max column stats carried IN the
    transaction log — the data-skipping half of a lakehouse reader
    (Delta's stats-based pruning / Iceberg's manifest ranges): the
    writer records each data file's o_orderkey [min, max] in its add
    action, and a point/range query consults ONLY the log (metadata,
    driver-side by design) to drop every file whose range cannot
    overlap the predicate — at 100 TB the difference between scanning
    a table and scanning the 2 files that matter, before partition
    pruning or parquet row-group stats even enter.

    Staging: orders range-bucketed into 8 buckets by o_orderkey via
    ONE partitioned write (tight, disjoint per-file ranges), one
    commit whose add actions carry the REAL written min/max per bucket
    (one grouped aggregate — writer-side stats, the Delta convention).
    Query: keys in the [30%, 45%] span of the key range (pure integer
    arithmetic both engines replay: truncating division on
    non-negative operands). The pruned scan reads exactly the
    overlapping files — pinned by tests/test_plans.py via
    ``df.inputFiles()``, which reflects the explicit path list — and
    re-applies the predicate as the residual filter (stats skip files,
    they don't subset rows). The oracle proves the pruned+filtered
    result equals the logical table's answer: skipping must be
    invisible to query semantics.
    """
    base, log_dir, lo, hi = _stage_stats(spark, sf_dir)
    span = hi - lo + 1
    qlo = lo + span * 3 // 10
    qhi = lo + span * 9 // 20
    keep = [
        os.path.join(base, p)
        for p in _overlapping(txn_log.snapshot(log_dir), qlo, qhi)
    ]
    return (
        spark.read.parquet(*keep)
        .filter(F.col("o_orderkey").between(qlo, qhi))
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )


def _stage_stats(
    spark: SparkSession, sf_dir: str, n_files: int = 8
) -> tuple[str, str, int, int]:
    """Stage orders as a stats-carrying txn-log table: n_files tight
    range buckets written in ONE partitioned scan, plus commit 0 whose
    add actions carry each bucket's REAL o_orderkey min/max
    (writer-side stats, the Delta convention). Shared by the
    stats-prune read key and the copy-on-write MERGE key. Returns
    (base dir, log dir, key lo, key hi)."""
    o = load_tables(spark, sf_dir, ("orders",))["orders"].select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    b = o.agg(
        F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi")
    ).collect()[0]  # 2 scalars — the driver edge every reader has
    lo, hi = int(b["lo"]), int(b["hi"])
    span = hi - lo + 1
    base = scratch_dir(prefix="txnlog_stats_")
    # integer DIV, not float division: the bucket split is part of the
    # staged layout and should be bit-deterministic by construction
    bucket = F.expr(f"((o_orderkey - {lo}) * {n_files}) DIV {span}")
    # ONE partitioned write produces all n_files range buckets in a
    # single scan (the previous 8 filtered writes re-read orders 8
    # times; at the 10x probe corpus the staging write is this key's
    # dominant wall)
    data_dir = os.path.join(base, "data")
    o.withColumn("b", bucket).write.mode("overwrite").partitionBy(
        "b"
    ).parquet(data_dir)
    # per-bucket min/max from the written files' own footers — exact
    # int64 stats, no second aggregation pass over the table
    stats = {
        int(d.split("=", 1)[1]): _footer_stats(
            [os.path.join(data_dir, d)], ("o_orderkey",)
        )[1]["o_orderkey"]
        for d in os.listdir(data_dir)
        if d.startswith("b=")
    }
    log_dir = txn_log.create(
        os.path.join(base, "_txn_log"),
        [
            [
                {"add": f"data/b={part}", "min_key": mn, "max_key": mx}
                for part, (mn, mx) in sorted(stats.items())
            ]
        ],
    )
    return base, log_dir, lo, hi


@query(
    "snk_txn_log_commit",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    """,
)
def snk_txn_log_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The txn-log WRITE path: an atomic append commit under
    optimistic concurrency — the protocol that gives immutable-file
    tables multi-writer safety (Delta's commit protocol / Iceberg's
    atomic swap): data files land first (invisible until committed),
    then the writer claims the NEXT log version with an atomic
    create-exclusive; losing the race means re-reading the log,
    re-validating that the transaction still applies, and retrying at
    the next version — never overwriting another writer's commit.

    Staged race (deterministic): commit 0 holds parts 0-1; a
    concurrent writer has already claimed version 1 (adding part 2)
    by the time this writer — appending part 3 — tries it. The
    create-exclusive MUST fail exactly once (asserted loudly), the
    retry lands at version 2, and the final snapshot is the union of
    everything: the oracle checks the full logical table, so a lost
    commit (ours or the rival's — the classic last-writer-wins
    overwrite bug) fails the hash. Blind appends commute, so the
    conflict validation is trivially true here; a real engine would
    re-check read-set overlap before retrying (the remove-vs-remove
    case is ``snk_txn_log_merge``'s territory).

    100 TB story: the commit is O(1) metadata regardless of table
    size — writers never lock data, readers never see partial
    commits (they list the log, not the directory), and contention
    costs one log re-read per retry.

    The atomic claim and its object-store mapping are described in
    ``plans/txn_log.py``. ``snk_txn_log_conflict`` builds the
    read-set validation that runs between losing the race and
    retrying.
    """
    base, log_dir = _stage_parts(
        spark,
        sf_dir,
        "txnlog_commit_",
        # the rival writer's commit is already durable at version 1
        [[{"add": "part0"}, {"add": "part1"}], [{"add": "part2"}]],
    )

    # our transaction: append part3 (data already on disk from the
    # staging write — invisible until the commit lands). Our log read
    # happened BEFORE the rival's commit landed, so the next version
    # per our (stale) view is 1 — which the rival now holds.
    conflicts = 0
    version = 1
    while not txn_log.try_commit(log_dir, version, [{"add": "part3"}]):
        conflicts += 1
        if conflicts >= 10:
            raise RuntimeError("commit retry runaway")
        # conflict: re-read the log, re-validate (appends commute —
        # nothing to check for a blind insert), retry at the next free
        # version
        version = txn_log.next_version(log_dir)
    # protocol invariants raised explicitly (a bare assert vanishes
    # under python -O, silently passing a broken retry path)
    if conflicts != 1:
        raise RuntimeError(
            f"expected exactly one staged conflict, got {conflicts}"
        )
    live = set(txn_log.snapshot(log_dir))
    if live != {"part0", "part1", "part2", "part3"}:
        raise RuntimeError(f"lost a commit: live set {live}")
    return spark.read.parquet(*(os.path.join(base, p) for p in sorted(live)))


def _cow_merge_txn(
    spark: SparkSession,
    base: str,
    log_dir: str,
    ulo: int,
    uhi: int,
    mult_num: int,
    mult_den: int,
    out_name: str,
) -> txn_log.Plan:
    """Plan + stage one copy-on-write MERGE transaction against the
    CURRENT snapshot: stats-prune the update span to the affected
    files (the transaction's READ SET), land the rewrite data file
    (invisible until committed), and return
    ``(base_version, planned_removes, commit actions)`` for the
    optimistic-commit loop. The price update is exact integer cents
    arithmetic (``(cents * num) DIV den``, non-negative operands)."""
    base_version = txn_log.next_version(log_dir)
    affected = _overlapping(txn_log.snapshot(log_dir), ulo, uhi)
    updated_cents = F.expr(
        f"(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) "
        f"* {mult_num}) DIV {mult_den}"
    )
    rewritten = (
        spark.read.parquet(*(os.path.join(base, p) for p in affected))
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.when(
                F.col("o_orderkey").between(ulo, uhi),
                updated_cents.cast("double") / 100.0,
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
    )
    rewritten.write.mode("overwrite").parquet(os.path.join(base, out_name))
    # writer-side stats from the landed file's own footer: the old
    # read-back aggregate re-ran the whole rewrite lineage a second
    # time for 2 scalars the parquet metadata already holds
    _n, fstats = _footer_stats(
        [os.path.join(base, out_name)], ("o_orderkey",)
    )
    mn, mx = fstats["o_orderkey"]
    actions = [{"remove": p} for p in affected] + [
        {"add": out_name, "min_key": int(mn), "max_key": int(mx)}
    ]
    return base_version, set(affected), actions


def _stage_with_quantiles(
    spark: SparkSession, sf_dir: str, *fracs: float
) -> tuple[str, str, int, int, list[int]]:
    """``_stage_stats`` and ``_orderkey_quantiles`` run over
    the same source but neither reads the other's output — run the
    staging write on a worker thread while the quantile pass runs on
    the main thread, so the fixture-staging wall is max(stage,
    quantiles) instead of their sum (guide §2.6, overlap independent
    jobs; protocol commits stay sequential downstream). Returns
    ``(base, log_dir, lo, hi, quantiles)``."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=1) as pool:
        stage_fut = pool.submit(_stage_stats, spark, sf_dir)
        qs = _orderkey_quantiles(spark, sf_dir, *fracs)
        base, log_dir, lo, hi = stage_fut.result()
    return base, log_dir, lo, hi, qs


def _orderkey_quantile_span(

    spark: SparkSession, sf_dir: str, flo: float, fhi: float
) -> tuple[int, int]:
    """Update span [floor(Q(flo)), floor(Q(fhi))] over the ACTUAL
    o_orderkey distribution — quantiles, not geometric key-range
    fractions, so a span always covers a fixed fraction of real rows.
    (The 10× scale probe caught the geometric version: replica-offset
    key spaces have large gaps, and tight per-file stats pruned two
    'overlapping' geometric spans to DISJOINT file sets, voiding the
    staged race.) Both engines replay the same linear-interpolation
    percentile (the hash-certified ``agg_percentile`` contract:
    Spark ``percentile`` == DuckDB ``quantile_cont``), floored to the
    integer grid."""
    return tuple(_orderkey_quantiles(spark, sf_dir, flo, fhi))


def _orderkey_quantiles(
    spark: SparkSession, sf_dir: str, *fracs: float
) -> list[int]:
    """All requested o_orderkey quantiles in ONE aggregation pass
    (``percentile(col, array(...))``) — exact percentile keeps a
    value→count map per partition, so one pass costs the same as one
    quantile; the two-span keys were paying it twice (10× probe:
    the duplicated pass dominated their walls). Floored to the
    integer grid. This derivation is fixture STAGING (the update
    predicate a writer already has), not part of the commit
    protocol being certified."""
    import math

    arr = ", ".join(str(f) for f in fracs)
    row = (
        load_tables(spark, sf_dir, ("orders",))["orders"]
        .agg(F.expr(f"percentile(o_orderkey, array({arr}))").alias("qs"))
        .collect()[0]  # len(fracs) scalars — one planner edge
    )
    return [int(math.floor(q)) for q in row["qs"]]


@query(
    "snk_txn_log_conflict",
    oracle="""
    WITH q AS (
      SELECT CAST(FLOOR(quantile_cont(o_orderkey, 0.40)) AS BIGINT) AS alo,
             CAST(FLOOR(quantile_cont(o_orderkey, 0.60)) AS BIGINT) AS ahi
      FROM orders
    )
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderkey BETWEEN alo AND ahi
                THEN CAST((CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                           * 11) // 10 AS DOUBLE) / 100.0
                ELSE o_totalprice END AS o_totalprice
    FROM orders, q
    """,
)
def snk_txn_log_conflict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read-set conflict DETECTION on the txn-log write path — the
    validation ``snk_txn_log_commit`` scopes out (its staged race is a
    commuting blind append): two COW MERGE writers plan against the
    SAME base snapshot with OVERLAPPING key spans, so their affected
    file sets intersect; the loser must detect the remove-vs-remove
    overlap on log re-read and ABORT — a blind retry would re-remove
    files the winner already rewrote and commit a rewrite computed
    from pre-winner data, silently losing the winner's update (the
    serializability bug every lakehouse commit protocol exists to
    prevent; Delta calls this ConcurrentDeleteDeleteException).

    Staged race (deterministic): both writers plan at base version 1 —
    writer A (+10% on the [P40, P60] orderkey-quantile span) and
    writer B (−10% on the overlapping [P50, P70] span); the overlap
    window holds ≥10% of actual rows BY CONSTRUCTION (quantiles, not
    geometric key fractions — see ``_orderkey_quantile_span``), so
    their stats-pruned read sets must intersect. A commits first at
    version 1. B's
    create-exclusive on version 1 MUST fail; its read-set validation
    over the commits since base MUST raise (both invariants enforced
    with explicit exceptions — and the validation is also checked to
    fire BEFORE any retry claim, so B never writes a log entry). Final
    state: A's update alone, B's staged rewrite file dead on disk —
    the oracle asserts exactly that table, so a lost-update (blind
    retry) OR a lost-abort (B's commit landing anyway) flips the hash.
    tests/test_plans.py stages BOTH interleavings (A-first and
    B-first) through the same transaction helper and asserts the loser
    aborts in each.

    100 TB story: validation cost is O(commits since base snapshot) ×
    O(actions per commit) on metadata only — independent of table
    size; aborted work is one staged data file, never a corrupted
    table. ``snk_txn_log_rebase`` is the productive alternative to
    aborting.
    """
    base, log_dir, lo, hi, (alo, ahi, blo, bhi) = _stage_with_quantiles(
        spark, sf_dir, 0.40, 0.60, 0.50, 0.70
    )
    # both writers plan against the SAME base snapshot (version 1)
    a_base, a_removes, a_actions = _cow_merge_txn(
        spark, base, log_dir, alo, ahi, 11, 10, "rewriteA"
    )
    b_base, b_removes, b_actions = _cow_merge_txn(
        spark, base, log_dir, blo, bhi, 9, 10, "rewriteB"
    )
    if not (a_removes & b_removes):
        raise RuntimeError(
            f"staged race must overlap: {a_removes} vs {b_removes}"
        )
    # writer A wins the race at version 1
    if not txn_log.try_commit(log_dir, a_base, a_actions):
        raise RuntimeError("writer A's uncontended commit failed")
    # writer B: loses the claim, re-reads the log, validation MUST
    # detect the remove-vs-remove overlap and abort the transaction
    aborted = False
    if txn_log.try_commit(log_dir, b_base, b_actions):
        raise RuntimeError("writer B claimed a version A already holds")
    try:
        txn_log.validate_read_set(log_dir, b_base, b_removes)
    except txn_log.TxnConflictError:
        aborted = True  # the ONLY correct outcome: abort, commit nothing
    if not aborted:
        raise RuntimeError(
            "read-set validation missed the remove-vs-remove conflict"
        )
    if txn_log.next_version(log_dir) != 2:
        raise RuntimeError("aborted writer must leave no commit behind")
    final = sorted(txn_log.snapshot(log_dir))
    if "rewriteB" in final:
        raise RuntimeError("aborted writer's rewrite leaked into the log")
    return spark.read.parquet(
        *(os.path.join(base, p) for p in final)
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")


@query(
    "snk_txn_log_rebase",
    oracle="""
    WITH q AS (
      SELECT CAST(FLOOR(quantile_cont(o_orderkey, 0.40)) AS BIGINT) AS alo,
             CAST(FLOOR(quantile_cont(o_orderkey, 0.60)) AS BIGINT) AS ahi,
             CAST(FLOOR(quantile_cont(o_orderkey, 0.50)) AS BIGINT) AS blo,
             CAST(FLOOR(quantile_cont(o_orderkey, 0.70)) AS BIGINT) AS bhi
      FROM orders
    ),
    c AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             alo, ahi, blo, bhi
      FROM orders, q
    )
    SELECT o_orderkey, o_orderstatus,
           CASE
             WHEN o_orderkey BETWEEN blo AND bhi THEN
               CAST((CASE WHEN o_orderkey BETWEEN alo AND ahi
                          THEN (cents * 11) // 10 ELSE cents END * 9) // 10
                    AS DOUBLE) / 100.0
             WHEN o_orderkey BETWEEN alo AND ahi THEN
               CAST((cents * 11) // 10 AS DOUBLE) / 100.0
             ELSE o_totalprice
           END AS o_totalprice
    FROM c
    """,
)
def snk_txn_log_rebase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The productive resolution of ``snk_txn_log_conflict``'s staged
    race: instead of aborting, the losing writer REBASES — it discards
    its stale plan, re-reads the log to the new snapshot (which now
    contains the winner's rewrite), re-plans its MERGE against the
    CURRENT files, and commits at the next version. Serializability is
    restored by construction: the final table equals A's update THEN
    B's update applied sequentially (the oracle composes both price
    transforms in exactly that order on the integer cents grid —
    overlap keys get ``((cents·11 div 10)·9) div 10``), which is what
    optimistic concurrency promises and what a blind retry destroys.

    Mechanics mirror a real engine's retry loop: B's second plan
    stats-prunes the NEW live set, so its read set now includes A's
    rewrite file (A's stats range overlaps B's span) plus any original
    buckets B's span touches beyond A's; B's rewrite reads A's updated
    prices (floor-recovering the exact cents A wrote), applies B's
    transform on top, and the remove(old)+add(new) commit lands
    uncontended at version 2. The stale first rewrite stays dead on
    disk — staged data is cheap, commits are sacred.

    100 TB story: a rebase costs one metadata re-read plus a rewrite
    of ONLY the currently-affected files — same asymptotics as the
    original MERGE attempt; no locks held at any point.
    """
    base, log_dir, lo, hi, (alo, ahi, blo, bhi) = _stage_with_quantiles(
        spark, sf_dir, 0.40, 0.60, 0.50, 0.70
    )
    # both plan at base version 1; A wins the race
    a_base, _, a_actions = _cow_merge_txn(
        spark, base, log_dir, alo, ahi, 11, 10, "rewriteA"
    )
    b_base, b_removes, b_stale_actions = _cow_merge_txn(
        spark, base, log_dir, blo, bhi, 9, 10, "rewriteB_stale"
    )
    if not txn_log.try_commit(log_dir, a_base, a_actions):
        raise RuntimeError("writer A's uncontended commit failed")
    if txn_log.try_commit(log_dir, b_base, b_stale_actions):
        raise RuntimeError("writer B claimed a version A already holds")
    try:
        txn_log.validate_read_set(log_dir, b_base, b_removes)
        raise RuntimeError(
            "read-set validation missed the remove-vs-remove conflict"
        )
    except txn_log.TxnConflictError:
        pass  # detected — now rebase instead of aborting
    # rebase: fresh plan against the CURRENT snapshot (A's rewrite is
    # now part of the read set), then commit at the next version
    rb_base, rb_removes, rb_actions = _cow_merge_txn(
        spark, base, log_dir, blo, bhi, 9, 10, "rewriteB"
    )
    if "rewriteA" not in rb_removes:
        raise RuntimeError(
            f"rebased plan must read the winner's rewrite: {rb_removes}"
        )
    txn_log.validate_read_set(log_dir, rb_base, rb_removes)
    if not txn_log.try_commit(log_dir, rb_base, rb_actions):
        raise RuntimeError("rebased commit lost an impossible race")
    final = sorted(txn_log.snapshot(log_dir))
    return spark.read.parquet(
        *(os.path.join(base, p) for p in final)
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")


@query(
    "snk_txn_log_stream_commit",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    """,
)
def snk_txn_log_stream_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming commit INTO the txn-log — the write-side
    twin of ``src_txn_log_incremental``'s log-as-stream read, closing
    the stream-in/stream-out loop the reference's KafkaInput→
    KafkaOutput DAG gestures at (OpContainer.java:46-69) with real
    transactional semantics: a ``foreachBatch`` sink lands each
    micro-batch's data file and commits it atomically together with a
    ``{"txn": {"appId", "version": epoch_id}}`` action (Delta's
    idempotent-writer protocol). Structured Streaming guarantees
    at-least-once foreachBatch delivery — after a crash between data
    write and checkpoint advance, the SAME epoch re-runs — so
    exactly-once lands in the SINK: before committing, the writer
    consults the log's txn ledger and skips any epoch at or below the
    app's last recorded version; the (deterministic-path, overwrite)
    data rewrite makes the retry's data write idempotent too.

    Staged replay (deterministic): after the availableNow run drains
    all 4 single-file micro-batches, epoch 0's batch is deliberately
    re-delivered through the same commit function — the retry every
    at-least-once contract implies. The guard MUST skip it (enforced
    with explicit exceptions: exactly one skip, commit count unchanged,
    exactly one txn action per epoch). The final snapshot read must
    reconcile with the logical table — a double-commit would duplicate
    epoch 0's rows and flip the oracle hash.

    100 TB story: per-epoch cost is one data-file write + one O(1)
    metadata commit; the idempotence check is a metadata scan (bounded
    by checkpoint cadence when composed with
    ``src_txn_log_checkpointed``), and readers see each epoch
    atomically or not at all — no partial batches, no duplicates,
    across arbitrary retries.
    """
    base = scratch_dir(prefix="txnlog_stream_")
    incoming = os.path.join(base, "incoming")
    o = load_tables(spark, sf_dir, ("orders",))["orders"].select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    # 4 source files = 4 single-file micro-batches under
    # maxFilesPerTrigger=1 (key-ranged so each epoch's content is
    # deterministic). The writes are independent single-task jobs —
    # submitted concurrently so staging costs ~one write, not four
    # (guide §2.6, overlap independent jobs).
    from concurrent.futures import ThreadPoolExecutor

    def _stage_src(part: int) -> None:
        o.filter(F.col("o_orderkey") % 4 == part).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(incoming, f"src{part}"))

    with ThreadPoolExecutor(max_workers=4) as pool:
        list(pool.map(_stage_src, range(4)))
    log_dir = txn_log.create(os.path.join(base, "_txn_log"), [])
    app_id = "orders_ingest"
    skips: list[int] = []

    def commit_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        out = f"epoch{epoch_id}"
        # deterministic per-epoch path + overwrite = idempotent data
        # write; the file stays invisible until the commit lands
        batch_df.write.mode("overwrite").parquet(os.path.join(base, out))
        if txn_log.last_txn_version(log_dir, app_id) >= epoch_id:
            skips.append(epoch_id)  # retry of a committed epoch
            return
        actions = [
            {"add": out},
            {"txn": {"appId": app_id, "version": epoch_id}},
        ]
        version = txn_log.next_version(log_dir)
        while not txn_log.try_commit(log_dir, version, actions):
            version = txn_log.next_version(log_dir)

    stream = (
        spark.readStream.schema(
            "o_orderkey bigint, o_orderstatus string, o_totalprice double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(incoming, "src*"))
    )
    replay(stream.writeStream.foreachBatch(commit_epoch), spark)

    n_epochs = txn_log.next_version(log_dir)
    if n_epochs < 2 or skips:
        raise RuntimeError(
            f"staging expects >=2 clean epochs, got {n_epochs} "
            f"with premature skips {skips}"
        )
    # the at-least-once retry: re-deliver epoch 0's batch verbatim.
    # localCheckpoint materializes it first — the retry's idempotent
    # data write overwrites the very path the batch was read from,
    # which Spark (correctly) refuses for a lineage-live file scan
    retry_batch = spark.read.parquet(
        os.path.join(base, "epoch0")
    ).localCheckpoint(eager=True)
    commit_epoch(retry_batch, 0)
    if skips != [0]:
        raise RuntimeError(f"retry of epoch 0 was not skipped: {skips}")
    if txn_log.next_version(log_dir) != n_epochs:
        raise RuntimeError("retry must not append a commit")
    if txn_log.last_txn_version(log_dir, app_id) != n_epochs - 1:
        raise RuntimeError("txn ledger out of step with epoch count")
    live = txn_log.snapshot(log_dir)
    return spark.read.parquet(*(os.path.join(base, p) for p in sorted(live)))


@query(
    "snk_txn_log_pipeline",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderstatus = 'F'
    """,
)
def snk_txn_log_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transactional table-to-table streaming ETL — the full
    composition of this family's read and write sides, and the
    engine-shaped version of the reference's Kafka-in → operator →
    Kafka-out DAG (OpContainer.java:46-69): table A's COMMIT LOG is
    the stream (``src_txn_log_incremental``'s source shape), each
    micro-batch side-reads that commit's added data files, applies the
    transform (a filter projection here; any batch lineage works —
    batch/stream unification), and commits the result into table B's
    log exactly once (``snk_txn_log_stream_commit``'s idempotent
    epoch protocol). B is itself a first-class txn-log table: after
    the run it is checkpointed, so the staged at-least-once replay of
    epoch 0 exercises the CHECKPOINT-AWARE ledger lookup — the skip
    decision reads B's checkpoint plus the (empty) commit suffix, not
    B's history.

    Only commit METADATA flows through the driver (the per-batch
    ``collect`` is add-action file names — the same bounded edge every
    log reader has); row data moves executor-side from A's files
    through the filter into B's files. The oracle asserts B's final
    snapshot equals the transform of A's full logical table, so a
    dropped epoch, a double-commit, or a transform applied twice
    flips the hash.

    100 TB story: the pipeline keeps up with A by reading each
    commit's delta files only (never re-listing A), lands B
    atomically per epoch with O(1) metadata commits, survives
    arbitrary retries without duplicates, and B's readers plan in
    O(checkpoint + suffix) — every property certified separately by
    this family, composed here end to end.
    """
    base_a, log_a = _stage_parts(
        spark,
        sf_dir,
        "txnlog_pipe_a_",
        [[{"add": f"part{i}"}] for i in range(4)],  # append-only source
    )
    base_b = scratch_dir(prefix="txnlog_pipe_b_")
    log_b = txn_log.create(os.path.join(base_b, "_txn_log"), [])
    app_id = "pipeline_a_to_b"
    skips: list[int] = []
    seen: dict[int, list[str]] = {}

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        # commit metadata only — file names, one commit per batch
        adds = [r["add"] for r in batch_df.collect() if r["add"]]
        seen[epoch_id] = adds
        out = f"epoch{epoch_id}"
        if adds:
            (
                spark.read.parquet(
                    *(os.path.join(base_a, p) for p in adds)
                )
                .filter(F.col("o_orderstatus") == "F")
                .write.mode("overwrite")  # idempotent epoch rewrite
                .parquet(os.path.join(base_b, out))
            )
        if txn_log.last_txn_version(log_b, app_id) >= epoch_id:
            skips.append(epoch_id)
            return
        actions = ([{"add": out}] if adds else []) + [
            {"txn": {"appId": app_id, "version": epoch_id}}
        ]
        version = txn_log.next_version(log_b)
        while not txn_log.try_commit(log_b, version, actions):
            version = txn_log.next_version(log_b)

    actions_stream = (
        spark.readStream.schema("add string, remove string")
        .option("maxFilesPerTrigger", 1)
        .json(log_a)
        .select("add")
    )
    replay(actions_stream.writeStream.foreachBatch(handle), spark)

    n_epochs = txn_log.next_version(log_b)
    if n_epochs < 2 or skips:
        raise RuntimeError(
            f"staging expects >=2 clean epochs, got {n_epochs} "
            f"with premature skips {skips}"
        )
    # B is a first-class table: checkpoint it, then replay epoch 0
    # (whatever source commit that epoch actually carried) — the skip
    # decision must come from the checkpoint-aware ledger
    txn_log.write_checkpoint(log_b, version=n_epochs - 1)
    replay_batch = spark.createDataFrame(
        [(p,) for p in seen[0]] or [(None,)], "add string"
    )
    handle(replay_batch, 0)
    if skips != [0]:
        raise RuntimeError(f"retry of epoch 0 was not skipped: {skips}")
    if txn_log.next_version(log_b) != n_epochs:
        raise RuntimeError("retry must not append a commit")
    live, opened = txn_log.resolve(log_b)
    if opened != [txn_log.checkpoint_name(n_epochs - 1)]:
        raise RuntimeError(
            f"B's readers must resolve from the checkpoint alone: {opened}"
        )
    return spark.read.parquet(
        *(os.path.join(base_b, p) for p in sorted(live))
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")


@query(
    "src_txn_log_cdf",
    oracle="""
    WITH q AS (
      SELECT CAST(FLOOR(quantile_cont(o_orderkey, 0.40)) AS BIGINT) AS alo,
             CAST(FLOOR(quantile_cont(o_orderkey, 0.60)) AS BIGINT) AS ahi
      FROM orders
    ),
    u AS (
      SELECT o_orderkey, o_totalprice AS pre,
             CAST((CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) * 11)
                  // 10 AS DOUBLE) / 100.0 AS post
      FROM orders, q WHERE o_orderkey BETWEEN alo AND ahi
    )
    SELECT o_orderkey, 'update_preimage' AS _change_type,
           pre AS o_totalprice, CAST(1 AS BIGINT) AS _commit_version
    FROM u WHERE pre != post
    UNION ALL
    SELECT o_orderkey, 'update_postimage', post, CAST(1 AS BIGINT)
    FROM u WHERE pre != post
    """,
)
def src_txn_log_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level Change Data Feed from a copy-on-write MERGE — the
    capability ``src_txn_log_incremental`` deliberately stops short
    of: that key emits per-commit FILE-level deltas (adds/removes as
    aggregate rows); this one reconstructs the ROW-level
    update_preimage/update_postimage pairs a downstream consumer
    needs to apply an UPDATE incrementally (Delta CDF's
    ``_change_type`` contract) — without the writer ever persisting
    change rows, because COW keeps both sides: the removed files ARE
    the preimage and the added files the postimage (immutable store,
    nothing overwritten).

    Mechanics: stage the stats table, run one quantile-span COW MERGE
    (``_cow_merge_txn``, +10% on [P40, P60]) committed at version 1,
    then CDF-read THAT commit: parse its remove/add actions (metadata),
    scan the removed files as ``pre`` and the added file as ``post``,
    equi-join on the key, and keep rows whose price actually changed —
    copied-through rows are NOT changes and must not be emitted (the
    classic CDF-from-COW bug: emitting every row of a rewritten file).
    Each surviving row explodes into its preimage/postimage pair with
    ``_change_type`` and ``_commit_version`` columns. The oracle
    derives the same pairs from the logical table, so phantom changes
    (copied-through rows), missed changes, or wrong images flip the
    hash.

    100 TB story: CDF cost is bounded by the commit's delta files
    (the only files read), the join is key-co-partitioned between a
    removed set and its own rewrite, and nothing row-sized touches
    the driver. Exact float equality on the copied-through filter is
    sound because COW passes untouched doubles through parquet
    bit-exactly.
    """
    base, log_dir, _, _, (alo, ahi) = _stage_with_quantiles(
        spark, sf_dir, 0.40, 0.60
    )
    b_ver, _, actions = _cow_merge_txn(
        spark, base, log_dir, alo, ahi, 11, 10, "rewrite1"
    )
    if not txn_log.try_commit(log_dir, b_ver, actions):
        raise RuntimeError("uncontended merge commit failed")
    removed, added = txn_log.commit_files(log_dir, b_ver)
    pre = spark.read.parquet(*(os.path.join(base, p) for p in removed)).select(
        "o_orderkey", F.col("o_totalprice").alias("pre_price")
    )
    post = spark.read.parquet(*(os.path.join(base, p) for p in added)).select(
        "o_orderkey", F.col("o_totalprice").alias("post_price")
    )
    changed = pre.join(post, "o_orderkey").filter(
        F.col("pre_price") != F.col("post_price")
    )
    images = changed.select(
        "o_orderkey",
        F.explode(
            F.array(
                F.struct(
                    F.lit("update_preimage").alias("_change_type"),
                    F.col("pre_price").alias("o_totalprice"),
                ),
                F.struct(
                    F.lit("update_postimage").alias("_change_type"),
                    F.col("post_price").alias("o_totalprice"),
                ),
            )
        ).alias("img"),
    )
    return images.select(
        "o_orderkey",
        "img._change_type",
        "img.o_totalprice",
        F.lit(b_ver).cast("long").alias("_commit_version"),
    )


@query(
    "src_txn_log_schema_evolution",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           CASE WHEN o_orderkey % 4 >= 2 THEN o_orderpriority
                END AS o_orderpriority
    FROM orders
    """,
)
def src_txn_log_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution through the transaction log — the Delta
    ``metaData``-action mechanism: the table's schema is ITSELF
    versioned log state, so adding a column is a metadata commit, not
    a table rewrite. Files written before the change simply lack the
    column; readers resolve the LATEST schema from the log and scan
    old files with the new column as NULL (parquet's
    missing-column-to-null contract under an explicit read schema) —
    at 100 TB this is the difference between an O(1) ALTER TABLE and
    rewriting petabytes.

    Staged history: commit 0 carries schema v0 (3 columns) and adds
    parts 0-1 written WITHOUT ``o_orderpriority``; commit 1 carries
    schema v1 (v0 + ``o_orderpriority``) and adds parts 2-3 written
    WITH it. The reader replays add/remove actions for the live set
    AND the last ``metaData`` action for the schema (last-writer-wins,
    exactly like file actions), then scans all four parts under the
    v1 schema. The oracle asserts old-file rows surface NULL priority
    and new-file rows the real value — a reader that inferred the
    schema from (some) files, or that dropped old files it couldn't
    "fully" read, flips the hash.
    """
    schema_v0 = "o_orderkey bigint, o_orderstatus string, o_totalprice double"
    schema_v1 = schema_v0 + ", o_orderpriority string"
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    base = scratch_dir(prefix="txnlog_schema_")
    # one partitioned write per schema era (2 scans total)
    (
        o.filter(F.col("o_orderkey") % 4 < 2)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .withColumn("b", F.col("o_orderkey") % 4)
        .write.partitionBy("b")
        .parquet(os.path.join(base, "old"))
    )
    (
        o.filter(F.col("o_orderkey") % 4 >= 2)
        .select(
            "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
        )
        .withColumn("b", F.col("o_orderkey") % 4)
        .write.partitionBy("b")
        .parquet(os.path.join(base, "new"))
    )
    log_dir = txn_log.create(
        os.path.join(base, "_txn_log"),
        [
            [
                {"metaData": {"schemaString": schema_v0}},
                {"add": "old/b=0"},
                {"add": "old/b=1"},
            ],
            [
                {"metaData": {"schemaString": schema_v1}},
                {"add": "new/b=2"},
                {"add": "new/b=3"},
            ],
        ],
    )
    # replay file actions AND the schema (both are log state)
    live = txn_log.snapshot(log_dir)
    schema = None
    for _, actions in txn_log.commits(log_dir):
        for a in actions:
            if "metaData" in a:
                schema = a["metaData"]["schemaString"]
    if schema != schema_v1:
        raise RuntimeError(f"schema replay resolved {schema!r}")
    return spark.read.schema(schema).parquet(
        *(os.path.join(base, p) for p in sorted(live))
    )


@query(
    "src_txn_log_stats_prune_checkpointed",
    oracle="""
    WITH q AS (
      SELECT CAST(FLOOR(quantile_cont(o_orderkey, 0.70)) AS BIGINT) AS qlo,
             CAST(FLOOR(quantile_cont(o_orderkey, 0.90)) AS BIGINT) AS qhi
      FROM orders
    )
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders, q WHERE o_orderkey BETWEEN qlo AND qhi
    """,
)
def src_txn_log_stats_prune_checkpointed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The composition that makes a checkpointed 100 TB table fast to
    QUERY, not just fast to plan: checkpoints preserve each add
    action VERBATIM — per-file min/max stats included — so a reader
    resolves the snapshot from checkpoint + suffix (O(cadence)
    planning, ``src_txn_log_checkpointed``) and THEN file-skips
    against the stats it just read (``src_txn_log_stats_prune``)
    without opening a single pre-checkpoint commit. A checkpoint
    format that dropped stats (the first-draft bug this key pins
    against) would silently degrade every post-checkpoint query from
    2-file scans to full-table scans — planning-time regression
    invisible to correctness tests.

    Staged history: the 8-bucket stats table, one quantile-span COW
    MERGE ([P40, P60], +10%) committed at version 1, checkpoint at
    version 1 (live set = untouched buckets + the rewrite, all with
    stats). Query: keys in [P70, P90] — strictly ABOVE the update
    span, so the result is original prices (the oracle asserts the
    logical table's answer). The resolve must open EXACTLY the
    checkpoint (raised loudly: the commit suffix is empty and
    pre-checkpoint commits are forbidden), the stats must prune at
    least one live file, and the scan re-applies the predicate as the
    residual filter.
    """
    base, log_dir, _, _, (alo, ahi, qlo, qhi) = _stage_with_quantiles(
        spark, sf_dir, 0.40, 0.60, 0.70, 0.90
    )
    m_ver, _, actions = _cow_merge_txn(
        spark, base, log_dir, alo, ahi, 11, 10, "rewrite1"
    )
    if not txn_log.try_commit(log_dir, m_ver, actions):
        raise RuntimeError("uncontended merge commit failed")
    txn_log.write_checkpoint(log_dir, version=m_ver)
    live, opened = txn_log.resolve(log_dir)
    if opened != [txn_log.checkpoint_name(m_ver)]:
        raise RuntimeError(
            f"resolve must read the checkpoint alone, opened {opened}"
        )
    keep = [os.path.join(base, p) for p in _overlapping(live, qlo, qhi)]
    if not keep or len(keep) >= len(live):
        raise RuntimeError(
            f"stats skipping degraded: kept {len(keep)} of {len(live)}"
        )
    return (
        spark.read.parquet(*keep)
        .filter(F.col("o_orderkey").between(qlo, qhi))
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )


@query(
    "snk_txn_log_merge",
    oracle="""
    WITH b AS (
      SELECT MIN(o_orderkey) AS lo, MAX(o_orderkey) AS hi FROM orders
    )
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderkey
                     BETWEEN lo + ((hi - lo + 1) * 11) // 20
                         AND lo + ((hi - lo + 1) * 13) // 20
                THEN CAST((CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                           * 11) // 10 AS DOUBLE) / 100.0
                ELSE o_totalprice END AS o_totalprice
    FROM orders, b
    """,
)
def snk_txn_log_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE (row-level UPDATE) over the stats-carrying
    txn-log table — the Delta/Iceberg COW shape: immutable files can't
    be updated in place, so the writer (1) prunes the update's key
    range against the per-file stats in the log (only files that CAN
    hold touched rows are read — ``src_txn_log_stats_prune``'s skip
    logic on the write path), (2) rewrites exactly those files with
    the update applied (untouched rows copied through), and (3)
    commits remove(old)+add(new) atomically at the next version.
    Readers of the old snapshot keep their files (time travel intact);
    the new snapshot mixes rewritten and never-touched ORIGINAL files.

    The update: +10% price for keys in the [55%, 65%] span of the key
    range, computed on the cents grid (``(cents * 11) div 10``,
    non-negative integer arithmetic, one exact display division by
    100 — both engines bit-agree). The oracle applies the same update
    to the logical table, so a MERGE that rewrote the wrong files,
    dropped untouched rows, or double-applied the delta fails the
    hash. tests/test_plans.py additionally pins that non-overlapping
    buckets survive as their ORIGINAL paths (never rewritten).

    100 TB story: MERGE cost is proportional to AFFECTED files, not
    table size — the stats prune is what makes a 100-row update on a
    100 TB table a 2-file job.
    """
    base, log_dir, lo, hi = _stage_stats(spark, sf_dir)
    span = hi - lo + 1
    ulo = lo + span * 11 // 20
    uhi = lo + span * 13 // 20
    affected = _overlapping(txn_log.snapshot(log_dir), ulo, uhi)
    # copy-on-write: read ONLY the affected files, apply the update,
    # land the rewrite (invisible until committed)
    updated_cents = F.expr(
        "(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) * 11) DIV 10"
    )
    rewritten = (
        spark.read.parquet(*(os.path.join(base, p) for p in affected))
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.when(
                F.col("o_orderkey").between(ulo, uhi),
                updated_cents.cast("double") / 100.0,
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
    )
    rewritten.write.mode("overwrite").parquet(os.path.join(base, "rewrite1"))
    # writer-side stats from the landed file's footer (no second pass
    # through the rewrite lineage — guide §1.2)
    _n, fstats = _footer_stats(
        [os.path.join(base, "rewrite1")], ("o_orderkey",)
    )
    mn_r, mx_r = fstats["o_orderkey"]
    if not txn_log.try_commit(
        log_dir,
        1,
        [{"remove": p} for p in affected]
        + [{"add": "rewrite1", "min_key": int(mn_r), "max_key": int(mx_r)}],
    ):
        raise RuntimeError("uncontended merge commit failed")
    final = sorted(txn_log.snapshot(log_dir))
    return spark.read.parquet(
        *(os.path.join(base, p) for p in final)
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")


@query(
    "src_txn_log_time_travel_ts",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 4 IN (1, 2)
    """,
)
def src_txn_log_time_travel_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp-based time travel (`TIMESTAMP AS OF`) over the
    txn-log table — the version-based read of
    ``src_txn_log_time_travel`` resolved through commit TIMESTAMPS
    instead, with the monotonicity guard non-monotone writer clocks
    force (``txn_log.version_at_ts``).

    Staged history: commit 0 (ts 1000) adds parts 0-1; commit 1
    (ts 3000) adds part 2, removes part 0; commit 2 adds part 3 and
    removes part 1 — but its writer's clock is SKEWED BACKWARD
    (raw ts 2500 < commit 1's 3000). Reading AS OF ts=3000 must
    resolve to version 1 (live {1,2}): the guard clamps commit 2's
    effective timestamp to 3001, excluding it. A resolver that trusts
    raw timestamps would include commit 2 (2500 <= 3000) and return
    {2,3} — a snapshot that never existed at any single point in
    commit order — which the oracle's version-1 table flags as a hash
    mismatch. The in-key check raises loudly too, so the defect can't
    hide behind a passing scan.

    100 TB story: identical to version-based travel — resolution is
    one metadata pass over the log (O(checkpoint + suffix) when
    composed with ``src_txn_log_checkpointed``); row data moves only
    through the parquet scan of the resolved live set.
    """
    base, log_dir = _stage_parts(
        spark,
        sf_dir,
        "txnlog_tts_",
        [
            [
                {"commitInfo": {"timestamp": 1000}},
                {"add": "part0"},
                {"add": "part1"},
            ],
            [
                {"commitInfo": {"timestamp": 3000}},
                {"add": "part2"},
                {"remove": "part0"},
            ],
            [
                # skewed writer clock: raw ts goes BACKWARD
                {"commitInfo": {"timestamp": 2500}},
                {"add": "part3"},
                {"remove": "part1"},
            ],
        ],
    )
    version = txn_log.version_at_ts(log_dir, 3000)
    if version != 1:
        raise RuntimeError(
            f"monotonicity guard failed: ts 3000 resolved to version "
            f"{version}, expected 1 (commit 2's skewed clock must be "
            f"clamped past the cutoff)"
        )
    live = txn_log.snapshot(log_dir, as_of=version)
    return spark.read.parquet(*(os.path.join(base, p) for p in sorted(live)))


def _compaction_txn(
    spark: SparkSession,
    base: str,
    log_dir: str,
    clo: int,
    chi: int,
    out_name: str,
) -> tuple[int, set[str], list[dict], int]:
    """Plan + stage one OPTIMIZE (compaction) transaction against the
    CURRENT snapshot: stats-select the small files overlapping
    [clo, chi] (the transaction's READ SET — compaction reads what it
    rewrites, exactly like a MERGE), rewrite them as ONE data file
    with rows byte-identical (no transform — compaction is a purely
    physical operation), and return ``(base_version, planned_removes,
    commit actions, input row count)`` for the optimistic-commit
    loop. At 100 TB the single ``coalesce(1)`` becomes bin-packing to
    a target file size; the transaction shape is unchanged."""
    base_version = txn_log.next_version(log_dir)
    affected = _overlapping(txn_log.snapshot(log_dir), clo, chi)
    if len(affected) < 2:
        raise RuntimeError(
            f"compaction needs >= 2 input files, got {affected}"
        )
    src = spark.read.parquet(
        *(os.path.join(base, p) for p in affected)
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")
    src.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(base, out_name)
    )
    # identity check + writer-side stats from FOOTERS on both sides:
    # the immutable input files and the just-written output each carry
    # exact row counts and int64 min/max in their metadata, so the old
    # read-back aggregate AND the src.count() re-scan (two extra full
    # passes per compaction) collapse into driver-side footer reads —
    # and the check now compares real input bytes against real output
    # bytes instead of one lineage against itself.
    n_in, _ = _footer_stats([os.path.join(base, p) for p in affected])
    n_out, fstats = _footer_stats(
        [os.path.join(base, out_name)], ("o_orderkey",)
    )
    if n_out != n_in:
        raise RuntimeError(
            f"compaction must be data-identical: read {n_in} rows, "
            f"wrote {n_out}"
        )
    mn, mx = fstats["o_orderkey"]
    actions = [{"remove": p} for p in affected] + [
        {"add": out_name, "min_key": int(mn), "max_key": int(mx)}
    ]
    return base_version, set(affected), actions, n_in


@query(
    "snk_txn_log_compact",
    oracle="""
    WITH q AS (
      SELECT CAST(FLOOR(quantile_cont(o_orderkey, 0.40)) AS BIGINT) AS alo,
             CAST(FLOOR(quantile_cont(o_orderkey, 0.60)) AS BIGINT) AS ahi
      FROM orders
    )
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderkey BETWEEN alo AND ahi
                THEN CAST((CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                           * 11) // 10 AS DOUBLE) / 100.0
                ELSE o_totalprice END AS o_totalprice
    FROM orders, q
    """,
)
def snk_txn_log_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE as a transaction — compaction brought under the same
    commit protocol as every writer (Delta OPTIMIZE / Iceberg
    rewrite_data_files): a data-IDENTICAL rewrite commit that merges
    small files, COMMUTES with disjoint appends, and must lose to an
    overlapping row-changing writer — the OPTIMIZE-vs-writer race
    every real table hits. A compactor that blind-retries after losing
    would re-remove the files the writer just rewrote and resurrect
    the PRE-update rows it read at plan time: the update silently
    vanishes from the table (compaction is only "data identical"
    against the snapshot it actually committed against).

    Staged race (deterministic): the compactor plans at base version 1
    to merge the small files overlapping the [P35, P65] orderkey span;
    concurrently, writer A's COW MERGE (+10% on [P40, P60] — spans
    overlap by construction, quantiles not geometry) wins version 1.
    The compactor's claim MUST fail once; read-set validation MUST
    raise (A removed files the compactor planned to rewrite); the
    rebase re-plans against the post-A snapshot — its new read set now
    includes A's rewrite file — and the data-identical merge commits
    uncontended at version 2. Enforced loudly: exactly one lost claim,
    conflict detected, rebased read set contains ``rewriteA``, row
    count preserved across the rewrite, and the final snapshot has
    FEWER live files than the post-A snapshot (it is an OPTIMIZE).
    The oracle asserts A's update alone — a compactor that resurrected
    pre-A rows (blind retry) or dropped/duplicated any row flips the
    hash. tests/test_plans.py stages the reverse interleaving too
    (compactor wins, writer rebases onto the compacted file).

    100 TB story: compaction cost is proportional to the files it
    bin-packs, its commit is O(1) metadata, and the race costs one
    metadata re-read + re-plan — writers and OPTIMIZE never block each
    other; they serialize through validate -> rebase -> retry.
    """
    base, log_dir, lo, hi, (alo, ahi, clo, chi) = _stage_with_quantiles(
        spark, sf_dir, 0.40, 0.60, 0.35, 0.65
    )
    # both plan against base version 1
    c_base, c_removes, c_actions, _ = _compaction_txn(
        spark, base, log_dir, clo, chi, "compact0_stale"
    )
    a_base, a_removes, a_actions = _cow_merge_txn(
        spark, base, log_dir, alo, ahi, 11, 10, "rewriteA"
    )
    if not (c_removes & a_removes):
        raise RuntimeError(
            f"staged race must overlap: {c_removes} vs {a_removes}"
        )
    # writer A wins the race at version 1
    if not txn_log.try_commit(log_dir, a_base, a_actions):
        raise RuntimeError("writer A's uncontended commit failed")
    n_after_a = len(txn_log.snapshot(log_dir))
    # compactor: loses the claim, detects the conflict, rebases
    if txn_log.try_commit(log_dir, c_base, c_actions):
        raise RuntimeError("compactor claimed a version A already holds")
    try:
        txn_log.validate_read_set(log_dir, c_base, c_removes)
        raise RuntimeError(
            "read-set validation missed the OPTIMIZE-vs-writer conflict"
        )
    except txn_log.TxnConflictError:
        pass  # detected — rebase instead of blind-retrying
    rb_base, rb_removes, rb_actions, _ = _compaction_txn(
        spark, base, log_dir, clo, chi, "compact0"
    )
    if "rewriteA" not in rb_removes:
        raise RuntimeError(
            f"rebased compaction must read the winner's rewrite: "
            f"{rb_removes}"
        )
    txn_log.validate_read_set(log_dir, rb_base, rb_removes)
    if not txn_log.try_commit(log_dir, rb_base, rb_actions):
        raise RuntimeError("rebased compaction lost an impossible race")
    final = sorted(txn_log.snapshot(log_dir))
    if len(final) >= n_after_a:
        raise RuntimeError(
            f"compaction must shrink the live file count: "
            f"{n_after_a} -> {len(final)}"
        )
    return spark.read.parquet(
        *(os.path.join(base, p) for p in final)
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")


@query(
    "snk_txn_log_multiwriter",
    oracle="""
    WITH q AS (
      SELECT CAST(FLOOR(quantile_cont(o_orderkey, 0.40)) AS BIGINT) AS alo,
             CAST(FLOOR(quantile_cont(o_orderkey, 0.60)) AS BIGINT) AS ahi,
             CAST(FLOOR(quantile_cont(o_orderkey, 0.50)) AS BIGINT) AS blo,
             CAST(FLOOR(quantile_cont(o_orderkey, 0.70)) AS BIGINT) AS bhi,
             CAST(FLOOR(quantile_cont(o_orderkey, 0.45)) AS BIGINT) AS clo,
             CAST(FLOOR(quantile_cont(o_orderkey, 0.55)) AS BIGINT) AS chi
      FROM orders
    ),
    s0 AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             alo, ahi, blo, bhi, clo, chi
      FROM orders, q
    ),
    s1 AS (
      SELECT *, CASE WHEN o_orderkey BETWEEN alo AND ahi
                     THEN (cents * 11) // 10 ELSE cents END AS c1
      FROM s0
    ),
    s2 AS (
      SELECT *, CASE WHEN o_orderkey BETWEEN blo AND bhi
                     THEN (c1 * 9) // 10 ELSE c1 END AS c2
      FROM s1
    )
    SELECT o_orderkey, o_orderstatus,
           CAST(CASE WHEN o_orderkey BETWEEN clo AND chi
                     THEN (c2 * 21) // 20 ELSE c2 END AS DOUBLE) / 100.0
             AS o_totalprice
    FROM s2
    """,
)
def snk_txn_log_multiwriter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N contending writers serializing through the bounded
    validate -> rebase -> retry loop (``txn_log.commit_with_retry``)
    — ``snk_txn_log_rebase`` generalized from one loser/one rebase to
    a three-writer pile-up where the last writer must rebase TWICE,
    each time onto a snapshot that already contains the previous
    winners' rewrites. This is the actual steady state of a busy
    lakehouse table: every writer plans optimistically, loses some
    races, and re-plans until its claim lands; correctness means the
    final table equals the transforms applied SEQUENTIALLY in commit
    order, each exactly once.

    Staged pile-up (deterministic): writers A (+10% on [P40, P60]),
    B (-10% on [P50, P70]) and C (+5% on [P45, P55]) all plan against
    base version 1; every span pair overlaps by construction
    (quantiles, not geometry). A commits at v1 uncontended. C enters
    the retry loop with its stale plan: claim v1 fails -> conflict
    with A -> rebase #1 (reads A's rewrite); the ``after_rebase`` seam
    then lands B's ENTIRE retry cycle (B: claim v1 fails -> conflict
    -> rebase onto A -> commit at v2) in the window between C's
    re-plan and its next claim — exactly where real rival commits
    land. C's claim at v2 now fails -> conflict with B -> rebase #2
    (reads B's rewrite) -> commits at v3. Enforced loudly: B took
    exactly 1 rebase, C exactly 2, the log holds exactly 4 commits
    (one per writer plus the staging commit), and no stale rewrite
    file is live. The oracle composes the three price transforms in
    commit order on the integer cents grid — a lost update, a
    double-apply, or out-of-order composition flips the hash.

    100 TB story: under W contending writers each retry is one
    metadata re-read plus a re-plan bounded by the writer's OWN
    affected files; some claim succeeds at every version, so the
    system makes progress and work scales with conflict RATE, never
    table size. The bounded loop turns pathological livelock into a
    loud error instead of infinite spin.
    """
    base, log_dir, lo, hi, (alo, ahi, blo, bhi, clo, chi) = (
        _stage_with_quantiles(
            spark, sf_dir, 0.40, 0.60, 0.50, 0.70, 0.45, 0.55
        )
    )
    # all three writers plan against base version 1 (truly concurrent
    # planning: none has seen any rival's commit) — and they really do
    # run concurrently: the three staging rewrites are independent
    # jobs over the same snapshot (disjoint output dirs, read-only log
    # replay), so they overlap on the scheduler instead of paying
    # three sequential job walls (guide §2.6); the commit RACE below
    # stays strictly sequential, that's the protocol under test
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        a_fut = pool.submit(
            _cow_merge_txn, spark, base, log_dir, alo, ahi, 11, 10, "rewriteA"
        )
        b_fut = pool.submit(
            _cow_merge_txn, spark, base, log_dir, blo, bhi, 9, 10,
            "rewriteB_stale",
        )
        c_fut = pool.submit(
            _cow_merge_txn, spark, base, log_dir, clo, chi, 21, 20,
            "rewriteC_stale",
        )
        a_plan, b_plan, c_plan = a_fut.result(), b_fut.result(), c_fut.result()
    # pairwise overlap is what forces rebases instead of blind retries
    for name, (lhs, rhs) in {
        "A/B": (a_plan[1], b_plan[1]),
        "A/C": (a_plan[1], c_plan[1]),
        "B/C": (b_plan[1], c_plan[1]),
    }.items():
        if not (lhs & rhs):
            raise RuntimeError(f"staged pile-up must overlap: {name}")
    # writer A wins the first race uncontended
    if not txn_log.try_commit(log_dir, a_plan[0], a_plan[2]):
        raise RuntimeError("writer A's uncontended commit failed")

    b_rebases: list[int] = []
    b_replans = 0

    def b_replan():
        nonlocal b_replans
        b_replans += 1
        return _cow_merge_txn(
            spark, base, log_dir, blo, bhi, 9, 10, f"rewriteB_rb{b_replans}"
        )[:3]

    def land_b(_c_rebases: int) -> None:
        if b_rebases:
            return  # B commits exactly once, on C's first rebase window
        b_rebases.append(
            txn_log.commit_with_retry(log_dir, b_plan[:3], b_replan)
        )

    c_replans = 0

    def c_replan():
        nonlocal c_replans
        c_replans += 1
        return _cow_merge_txn(
            spark, base, log_dir, clo, chi, 21, 20, f"rewriteC_rb{c_replans}"
        )[:3]

    c_rebases = txn_log.commit_with_retry(
        log_dir, c_plan[:3], c_replan, after_rebase=land_b
    )
    if b_rebases != [1]:
        raise RuntimeError(
            f"writer B must land with exactly one rebase, got {b_rebases}"
        )
    if c_rebases != 2:
        raise RuntimeError(
            f"writer C must rebase twice (once onto A, once onto B), "
            f"got {c_rebases}"
        )
    if txn_log.next_version(log_dir) != 4:
        raise RuntimeError(
            f"exactly-once violated: expected 4 commits, got "
            f"{txn_log.next_version(log_dir)}"
        )
    final = sorted(txn_log.snapshot(log_dir))
    stale = {n for n in final if "stale" in n or n == "rewriteC_rb1"}
    if stale:
        raise RuntimeError(f"stale rewrites leaked into the log: {stale}")
    return spark.read.parquet(
        *(os.path.join(base, p) for p in final)
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")


@query(
    "snk_txn_log_vacuum",
    oracle="""
    WITH b AS (
      SELECT MIN(o_orderkey) AS lo, MAX(o_orderkey) AS hi FROM orders
    )
    SELECT o_orderkey, o_orderstatus,
           CASE
             WHEN o_orderkey BETWEEN lo + ((hi - lo + 1) * 2) // 20
                              AND lo + ((hi - lo + 1) * 4) // 20
               THEN CAST((CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                          * 11) // 10 AS DOUBLE) / 100.0
             WHEN o_orderkey BETWEEN lo + ((hi - lo + 1) * 15) // 20
                              AND lo + ((hi - lo + 1) * 17) // 20
               THEN CAST((CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                          * 9) // 10 AS DOUBLE) / 100.0
             ELSE o_totalprice
           END AS o_totalprice
    FROM orders, b
    """,
)
def snk_txn_log_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM — physical reclamation of dead files under a retention
    horizon, the missing lifecycle step after COW rewrites: every MERGE
    and OPTIMIZE leaves its inputs on disk (readers of older snapshots
    depend on them), so a 100 TB table under steady update churn grows
    without bound until dead files are reclaimed. Safe reclamation is
    defined over the LOG, never the directory: a file is dead iff NO
    retained version references it (``txn_log.vacuum``).

    Staged lifecycle: commit 0 = 8 stats buckets; commit 1 = COW
    update (+10% on the [10%, 20%] key span) rewriting its affected
    buckets; commit 2 = second COW update (-10% on the DISJOINT
    [75%, 85%] span). Vacuum retains versions >= 1. Enforced loudly:
    the dead set is exactly the files removed by both updates and
    every dead directory is physically gone; every retained-referenced
    file still exists; version-1 time travel (inside the horizon)
    still resolves and scans; the version-0 snapshot (outside the
    horizon) now references missing paths — the documented VACUUM
    trade-off, asserted as an actual defect so retention semantics
    can't silently widen. The final snapshot must equal the logical
    table with both updates applied — vacuum touches only dead bytes,
    never the live table — which is exactly what the oracle asserts.

    100 TB story: vacuum cost is one metadata replay plus one delete
    per dead file — independent of table row count; retention is the
    contract that makes concurrent readers safe (any reader pinned to
    a retained snapshot never loses a file mid-scan).
    """
    base, log_dir, lo, hi = _stage_stats(spark, sf_dir)
    span = hi - lo + 1
    # two disjoint-span COW updates (geometric spans are fine here —
    # disjointness at 2/20..4/20 vs 15/20..17/20 holds under any key
    # distribution, and the oracle replays the same arithmetic)
    for ulo, uhi, num, den, out in (
        (lo + span * 2 // 20, lo + span * 4 // 20, 11, 10, "rewriteA"),
        (lo + span * 15 // 20, lo + span * 17 // 20, 9, 10, "rewriteB"),
    ):
        v, removes, actions = _cow_merge_txn(
            spark, base, log_dir, ulo, uhi, num, den, out
        )
        if not txn_log.try_commit(log_dir, v, actions):
            raise RuntimeError("staged sequential commit lost a race")
    before = set(txn_log.snapshot(log_dir))
    dead, referenced = txn_log.vacuum(base, log_dir, retain_from_version=1)
    if not dead:
        raise RuntimeError("staged lifecycle must produce dead files")
    if dead & referenced:
        raise RuntimeError(f"vacuum deleted retained files: {dead}")
    for p in dead:
        if os.path.exists(os.path.join(base, p)):
            raise RuntimeError(f"dead file survived vacuum: {p}")
    for p in referenced:
        if not os.path.exists(os.path.join(base, p)):
            raise RuntimeError(f"retained file lost to vacuum: {p}")
    # inside the horizon: version-1 travel still scans
    v1 = txn_log.snapshot(log_dir, as_of=1)
    spark.read.parquet(*(os.path.join(base, p) for p in sorted(v1))).take(1)
    # outside the horizon: version 0 must now be broken (else the
    # vacuum deleted nothing it claimed to)
    v0 = txn_log.snapshot(log_dir, as_of=0)
    if all(os.path.exists(os.path.join(base, p)) for p in v0):
        raise RuntimeError(
            "pre-horizon snapshot survived vacuum — no reclamation"
        )
    if set(txn_log.snapshot(log_dir)) != before:
        raise RuntimeError("vacuum must not change the current snapshot")
    return spark.read.parquet(
        *(os.path.join(base, p) for p in sorted(before))
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")


@query(
    "snk_txn_log_restore",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    """,
)
def snk_txn_log_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE — roll the table back to an earlier version AS A NEW
    COMMIT (Delta RESTORE TABLE ... VERSION AS OF): the restore
    re-adds the files live at the target version and removes the files
    live now, landing through the same optimistic commit path as any
    writer. History is append-only — a rollback that REWROTE the log
    would break every concurrent reader's snapshot resolution and
    destroy the audit trail; restore-as-commit keeps both: the bad
    version stays queryable via time travel, and the table's current
    state equals the target version's.

    Staged lifecycle: commit 0 = 8 stats buckets; commit 1 = a COW
    update (the "bad write", +10% on the [55%, 65%] span); commit 2 =
    RESTORE to version 0. Enforced loudly: the restored live set
    equals version 0's exactly; the log holds 3 commits (nothing
    erased); time travel to version 1 still shows the bad write. The
    final snapshot must equal the ORIGINAL table — the oracle asserts
    plain orders, so a restore that missed a file, resurrected the
    update, or double-added anything flips the hash.

    100 TB story: restore is O(changed files) metadata — no data
    movement at all (the old files never left the store; VACUUM
    retention permitting), which is why lakehouse rollback is instant
    at any table size.
    """
    base, log_dir, lo, hi = _stage_stats(spark, sf_dir)
    span = hi - lo + 1
    v, removes, actions = _cow_merge_txn(
        spark,
        base,
        log_dir,
        lo + span * 11 // 20,
        lo + span * 13 // 20,
        11,
        10,
        "rewrite_bad",
    )
    if not txn_log.try_commit(log_dir, v, actions):
        raise RuntimeError("staged bad write lost a race")
    target = txn_log.snapshot(log_dir, as_of=0)
    current = set(txn_log.snapshot(log_dir))
    restore_actions = [
        {"remove": p} for p in sorted(current - set(target))
    ] + [
        # re-adds carry the ORIGINAL add action verbatim (stats and
        # all), so file skipping survives the restore
        target[p]
        for p in sorted(set(target) - current)
    ]
    if not txn_log.try_commit(
        log_dir, txn_log.next_version(log_dir), restore_actions
    ):
        raise RuntimeError("restore commit lost a race")
    if set(txn_log.snapshot(log_dir)) != set(target):
        raise RuntimeError("restore must reproduce the target live set")
    if txn_log.next_version(log_dir) != 3:
        raise RuntimeError("restore must append, never rewrite history")
    # the bad version remains queryable (append-only history)
    if "rewrite_bad" not in txn_log.snapshot(log_dir, as_of=1):
        raise RuntimeError("restore erased the bad write from history")
    live = txn_log.snapshot(log_dir)
    return spark.read.parquet(
        *(os.path.join(base, p) for p in sorted(live))
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")
