"""Storage-layout operators — the 100 TB data-layout surface.

The reference writes unpartitioned Hive tables (CTAS,
``SparkSQLOperator.java:23``); at scale the layout *is* the query
plan: date-partitioned parquet enables partition pruning, bucketed
tables enable shuffle-free joins. These keys demonstrate both with
verifiable results.
"""

from __future__ import annotations

import os


from streamingdemo_spark.scratch import scratch_dir

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streamingdemo_spark.io import load_tables
from streamingdemo_spark.plans import txn_log
from streamingdemo_spark.plans.scans import _stage_parts
from streamingdemo_spark.registry import dsum, osum, query


@query(
    "snk_partitioned_write",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
           COUNT(*) AS n, {osum("o_totalprice")} AS total
    FROM orders
    WHERE year(o_orderdate) IN (1996, 1997)
    GROUP BY 1
    """,
)
def snk_partitioned_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-partitioned parquet write + partition-pruned read-back.

    Writes orders partitioned by order_year, then re-reads only two
    partitions — the read plan's PartitionFilters prune all other
    years at file-listing time (zero I/O for them). This layout is the
    precondition for every time-ranged query at 100 TB.
    """
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    out = os.path.join(scratch_dir(prefix="part_write_"), "orders_by_year")
    (
        o.withColumn("order_year", F.year("o_orderdate").cast("bigint"))
        .write.mode("overwrite")
        .partitionBy("order_year")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return (
        back.filter(F.col("order_year").isin(1996, 1997))
        .groupBy("order_year")
        .agg(F.count(F.lit(1)).alias("n"), dsum("o_totalprice").alias("total"))
    )


@query(
    "join_bucketed",
    oracle=f"""
    SELECT o.o_custkey, COUNT(*) AS n_items, {osum("l.l_quantity")} AS qty
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_custkey
    """,
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both tables bucketed 8 ways on the
    join key at write time, so the join needs NO shuffle of either
    side (SortMergeJoin reads bucket i against bucket i directly).

    At 100 TB, bucketing the fact and its biggest dimension on the join
    key converts every subsequent join from a full shuffle to a local
    merge — the single highest-leverage layout decision for repeated
    workloads. (The verifying aggregate afterwards is on a different
    key, so it still shuffles — that part is the query, not the join.)
    """
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    warehouse = scratch_dir(prefix="bucketed_wh_")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    (
        t["orders"]
        .select("o_orderkey", "o_custkey")
        .write.mode("overwrite")
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", os.path.join(warehouse, "b_orders"))
        .saveAsTable("b_orders")
    )
    (
        t["lineitem"]
        .select("l_orderkey", "l_quantity")
        .write.mode("overwrite")
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", os.path.join(warehouse, "b_lineitem"))
        .saveAsTable("b_lineitem")
    )
    bo = spark.table("b_orders")
    bl = spark.table("b_lineitem")
    # hint("merge"): at fixture scale Catalyst would broadcast the small
    # side (also correct); the SMJ hint exposes what bucketing buys at
    # real scale — bucket-i-vs-bucket-i merge with zero Exchange.
    return (
        bl.join(bo.hint("merge"), bl.l_orderkey == bo.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_items"), dsum("l_quantity").alias("qty"))
    )


@query(
    "join_dpp",
    oracle=f"""
    WITH years AS (SELECT DISTINCT CAST(year(o_orderdate) AS BIGINT) AS yr
                   FROM orders WHERE o_orderpriority = '1-URGENT'
                     AND year(o_orderdate) <= 1996),
    part_orders AS (SELECT *, CAST(year(o_orderdate) AS BIGINT) AS order_year
                    FROM orders)
    SELECT p.order_year, COUNT(*) AS n, {osum("p.o_totalprice")} AS total
    FROM part_orders p JOIN years y ON p.order_year = y.yr
    GROUP BY p.order_year
    """,
)
def join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact side is year-partitioned
    parquet; the dim side (qualifying years) is only known at runtime,
    and Spark injects its values as a partition filter into the fact
    scan — unselected year directories are never read.

    At 100 TB this is THE mechanism that makes dim-filtered fact
    queries cheap without hand-written partition predicates: verify
    ``dynamicpruningexpression`` in the scan's PartitionFilters
    (asserted in tests/test_plans.py).
    """
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    out = os.path.join(scratch_dir(prefix="dpp_"), "orders_by_year")
    (
        o.withColumn("order_year", F.year("o_orderdate").cast("bigint"))
        .write.mode("overwrite")
        .partitionBy("order_year")
        .parquet(out)
    )
    fact = spark.read.parquet(out)
    years = (
        o.filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.year("o_orderdate") <= 1996)
        )
        .select(F.year("o_orderdate").cast("bigint").alias("yr"))
        .distinct()
    )
    return (
        fact.join(years, fact.order_year == years.yr)
        .groupBy("order_year")
        .agg(F.count(F.lit(1)).alias("n"), dsum("o_totalprice").alias("total"))
    )


@query(
    "snk_merge_upsert",
    oracle="""
    WITH updates AS (
      SELECT c_custkey, c_name,
             CAST(CAST(c_acctbal + 1000.0 AS DECIMAL(18,2)) AS DOUBLE)
               AS c_acctbal,
             'UPDATED' AS row_status
      FROM customer WHERE c_custkey % 7 = 0
      UNION ALL
      SELECT c_custkey + 10000000, concat('new-', c_name),
             CAST(0.0 AS DOUBLE), 'INSERTED'
      FROM customer WHERE c_custkey % 97 = 0
    ), base AS (
      SELECT c_custkey, c_name, c_acctbal, 'KEPT' AS row_status FROM customer
    )
    SELECT COALESCE(u.c_custkey, b.c_custkey) AS c_custkey,
           COALESCE(u.c_name, b.c_name) AS c_name,
           COALESCE(u.c_acctbal, b.c_acctbal) AS c_acctbal,
           COALESCE(u.row_status, b.row_status) AS row_status
    FROM base b FULL JOIN updates u ON b.c_custkey = u.c_custkey
    """,
)
def snk_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO emulation (CDC upsert without a table format that
    supports it natively): base FULL OUTER JOIN updates, update rows
    win by COALESCE precedence, unmatched updates insert, unmatched
    base rows persist.

    At 100 TB: partition both sides on the merge key (or bucket the
    base table) so the outer join co-locates; with Delta/Iceberg on the
    classpath the same logic is ``MERGE INTO`` DML — this key proves
    the semantics on plain parquet relations.
    """
    c = load_tables(spark, sf_dir, ("customer",))["customer"]
    base = c.select(
        "c_custkey", "c_name", "c_acctbal", F.lit("KEPT").alias("row_status")
    )
    updates = (
        c.filter(F.col("c_custkey") % 7 == 0)
        .select(
            "c_custkey",
            "c_name",
            (F.col("c_acctbal") + 1000.0)
            .cast("decimal(18,2)")
            .cast("double")
            .alias("c_acctbal"),
            F.lit("UPDATED").alias("row_status"),
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 97 == 0).select(
                (F.col("c_custkey") + 10_000_000).alias("c_custkey"),
                F.concat(F.lit("new-"), F.col("c_name")).alias("c_name"),
                F.lit(0.0).alias("c_acctbal"),
                F.lit("INSERTED").alias("row_status"),
            )
        )
    )
    b, u = base.alias("b"), updates.alias("u")
    merged = b.join(u, F.col("b.c_custkey") == F.col("u.c_custkey"), "full")
    return merged.select(
        F.coalesce(F.col("u.c_custkey"), F.col("b.c_custkey")).alias("c_custkey"),
        F.coalesce(F.col("u.c_name"), F.col("b.c_name")).alias("c_name"),
        F.coalesce(F.col("u.c_acctbal"), F.col("b.c_acctbal")).alias("c_acctbal"),
        F.coalesce(F.col("u.row_status"), F.col("b.row_status")).alias("row_status"),
    )


@query(
    "snk_scd2_history",
    oracle="""
    WITH h AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
             LAG(o_orderpriority) OVER w AS prev_prio,
             ROW_NUMBER() OVER w AS rn
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey)
    ),
    changes AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey FROM h
      WHERE rn = 1 OR o_orderpriority <> prev_prio
    )
    SELECT o_custkey AS custkey,
           o_orderpriority AS priority,
           o_orderdate AS valid_from,
           LEAD(o_orderdate) OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey)
             AS valid_to,
           LEAD(o_orderdate) OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey) IS NULL
             AS is_current
    FROM changes
    """,
)
def snk_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 versioning: compress a change
    stream (each customer's order-priority history, ordered by date)
    into validity intervals — one row per distinct consecutive value
    with [valid_from, valid_to) and an is_current flag. The warehouse
    pattern for tracking dimension history without overwriting it.

    Shape: two partitioned windows (lag to detect changes, lead to
    close intervals) over the key — shuffles once on the key, no
    self-join, no driver loop; at 100 TB the key partitioning is the
    only data movement. Ties inside a partition are broken by
    (o_orderdate, o_orderkey), so the interval boundaries are
    deterministic on both engines.
    """
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    h = o.select(
        "o_custkey",
        "o_orderpriority",
        "o_orderdate",
        "o_orderkey",
        F.lag("o_orderpriority").over(w).alias("prev_prio"),
        F.row_number().over(w).alias("rn"),
    )
    changes = h.filter(
        (F.col("rn") == 1) | (F.col("o_orderpriority") != F.col("prev_prio"))
    )
    # the interval-closing window needs the SAME (date, orderkey)
    # tiebreak as change detection: a customer can log two change rows
    # on one date (rn=1 then a flip), and ordering by date alone lets
    # each engine close those intervals in its own order -- invisible
    # at sf0.01 (no same-date change pairs), caught by the sf0.1 sim
    w2 = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    valid_to = F.lead("o_orderdate").over(w2)
    return changes.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").alias("valid_from"),
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
    )


@query(
    "snk_cdc_apply",
    oracle="""
    WITH cdc AS (
      SELECT event_id, user_id AS key, ts, value,
             CASE WHEN event_id % 10 = 0 THEN 'D'
                  WHEN event_id % 3 = 0 THEN 'U' ELSE 'I' END AS op
      FROM events
    ),
    latest AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY key
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM cdc
    )
    SELECT key, op AS last_op,
           ROUND(value, 4) + 0.0 AS value,
           event_id AS last_event_id
    FROM latest
    WHERE rn = 1 AND op <> 'D'
    """,
)
def snk_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture apply: fold an insert/update/delete op log
    (synthesized deterministically from the events table) into the
    final snapshot — per key, the latest op wins and a terminal delete
    removes the row. The log-to-table compaction every CDC-fed lake
    house runs.

    Shape: one partitioned window (latest op per key by event time with
    id tiebreak) + filter — the standard "deduplicate to latest"
    compaction; shuffles once on the key, map-side nothing to combine
    (row_number needs the full group, but groups are per-key small).
    At 100 TB this is exactly Delta/Iceberg MERGE's shuffle shape;
    pair with snk_merge_upsert for the keyed-overwrite variant.
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    from pyspark.sql.window import Window

    cdc = ev.select(
        "event_id",
        F.col("user_id").alias("key"),
        "ts",
        "value",
        F.when(F.col("event_id") % 10 == 0, F.lit("D"))
        .when(F.col("event_id") % 3 == 0, F.lit("U"))
        .otherwise(F.lit("I"))
        .alias("op"),
    )
    w = Window.partitionBy("key").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        cdc.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select(
            "key",
            F.col("op").alias("last_op"),
            (F.round("value", 4) + 0.0).alias("value"),
            F.col("event_id").alias("last_event_id"),
        )
    )


@query(
    "fn_zorder",
    oracle="""
    WITH base AS (
      SELECT o_orderkey,
             CAST(o_custkey % 65536 AS BIGINT) AS x,
             CAST(date_diff('day', TIMESTAMP '1970-01-01', o_orderdate) % 65536
                  AS BIGINT) AS y
      FROM orders
    ),
    s1 AS (SELECT o_orderkey,
                  ((x | (x << 8)) & 16711935) AS xa,
                  ((y | (y << 8)) & 16711935) AS ya FROM base),
    s2 AS (SELECT o_orderkey,
                  ((xa | (xa << 4)) & 252645135) AS xb,
                  ((ya | (ya << 4)) & 252645135) AS yb FROM s1),
    s3 AS (SELECT o_orderkey,
                  ((xb | (xb << 2)) & 858993459) AS xc,
                  ((yb | (yb << 2)) & 858993459) AS yc FROM s2),
    s4 AS (SELECT o_orderkey,
                  ((xc | (xc << 1)) & 1431655765) AS xd,
                  ((yc | (yc << 1)) & 1431655765) AS yd FROM s3)
    SELECT o_orderkey, xd | (yd << 1) AS zval FROM s4
    """,
)
def fn_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) interleaving of two layout dimensions —
    the multi-dimensional clustering key behind Z-ORDER table layouts:
    sorting by the interleaved code co-locates rows that are close in
    BOTH customer and order-date, so scans filtered on either
    dimension touch few files (a single-column sort only helps one).

    Pure integer bit math (4 shift/mask spread rounds per dimension —
    the magic-number form stays in whole-stage codegen), identical on
    both engines. Day index is epoch-anchored so it is always
    non-negative (a signed index would interleave two's-complement
    bits and scatter pre-anchor dates). Usage downstream:
    ``df.repartitionByRange(n, zval).sortWithinPartitions(zval)
    .write...`` — same shape as ``ext_doc_shuffle_sharded``'s range
    layout; this key pins the code computation itself.
    """
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    base = o.select(
        "o_orderkey",
        (F.col("o_custkey") % 65536).alias("x"),
        (
            F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).cast("long")
            % 65536
        ).alias("y"),
    )

    # the magic-number ladder stays inside whole-stage codegen (the
    # HOF-fold form was interpreted per row: 2.4x wall at 10x rows)
    z = F.expr(_zorder_sql("x", "y", _SPARK_SHL))
    return base.select("o_orderkey", z.alias("zval"))


# test introspection: file counts before/after the last compaction run
_LAST_COMPACTION: dict[str, int] = {}


@query(
    "snk_compaction",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders
    """,
)
def snk_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: a fragmented table (orders deliberately
    written as 64 splinter files — the debris an incremental/streaming
    writer leaves behind) is rewritten into size-targeted files, and
    the read-back must be value-hash IDENTICAL to the original
    table — compaction is a layout change, never a data change.

    The rewrite uses ``coalesce``, not ``repartition``: coalesce
    merges existing partitions WITHOUT a shuffle (each output task
    reads a handful of splinters sequentially), which is the correct
    primitive when the goal is fewer files rather than a new
    distribution. At 100 TB this runs per table-partition (compact
    yesterday's partition only), sized by bytes
    (``target_files ≈ partition_bytes / 128 MiB``) — here the target
    is 4. File counts are recorded for the test; the 16× reduction is
    asserted there, the content equality by this key's oracle.
    """
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    frag = os.path.join(scratch_dir(prefix="compact_"), "fragmented")
    o.repartition(64).write.mode("overwrite").parquet(frag)

    compacted = os.path.join(os.path.dirname(frag), "compacted")
    spark.read.parquet(frag).coalesce(4).write.mode("overwrite").parquet(
        compacted
    )

    def _n_files(d: str) -> int:
        return sum(1 for f in os.listdir(d) if f.endswith(".parquet"))

    _LAST_COMPACTION.update(
        before=_n_files(frag), after=_n_files(compacted)
    )
    return spark.read.parquet(compacted)


@query(
    "snk_analyze_stats",
    oracle="""
    SELECT 'n_rows' AS stat, CAST(COUNT(*) AS BIGINT) AS value FROM orders
    UNION ALL
    SELECT 'custkey_min', CAST(MIN(o_custkey) AS BIGINT) FROM orders
    UNION ALL
    SELECT 'custkey_max', CAST(MAX(o_custkey) AS BIGINT) FROM orders
    UNION ALL
    SELECT 'custkey_nulls',
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orderkey_min', CAST(MIN(o_orderkey) AS BIGINT) FROM orders
    UNION ALL
    SELECT 'orderkey_max', CAST(MAX(o_orderkey) AS BIGINT) FROM orders
    """,
)
def snk_analyze_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog statistics round-trip: CTAS a managed table, ``ANALYZE
    TABLE … COMPUTE STATISTICS FOR COLUMNS``, then read the stats BACK
    FROM THE CATALOG (never from the data) and verify they equal the
    data's true aggregates — proving the cost-based-optimizer inputs
    (row counts, column min/max/null counts that drive join reordering
    and selectivity estimates) are populated correctly. Only
    deterministic integer statistics are compared; ndv (HLL-estimated)
    and sizeInBytes (layout-dependent) are intentionally excluded.

    Catalog reads are metadata-only driver calls (same bounded driver
    edge as ``db_registry``); the one data pass is the ANALYZE scan
    itself — at 100 TB that scan is why engines persist stats rather
    than recompute them per query.
    """
    import uuid

    from streamingdemo_spark.io import register_views

    register_views(spark, sf_dir, ("orders",))
    tbl = f"stats_demo_{uuid.uuid4().hex[:10]}"
    spark.sql(f"CREATE TABLE {tbl} USING parquet AS SELECT * FROM orders")
    try:
        spark.sql(
            f"ANALYZE TABLE {tbl} COMPUTE STATISTICS "
            f"FOR COLUMNS o_custkey, o_orderkey"
        )

        def col_stats(col: str) -> dict:
            return {
                r["info_name"]: r["info_value"]
                for r in spark.sql(
                    f"DESCRIBE EXTENDED {tbl} {col}"
                ).collect()
            }

        ck, ok = col_stats("o_custkey"), col_stats("o_orderkey")
        n_rows = None
        for r in spark.sql(f"DESCRIBE EXTENDED {tbl}").collect():
            if r["col_name"] == "Statistics":
                # e.g. '123456 bytes, 15000 rows'
                n_rows = int(r["data_type"].split(",")[1].split()[0])
        rows = [
            ("n_rows", n_rows),
            ("custkey_min", int(ck["min"])),
            ("custkey_max", int(ck["max"])),
            ("custkey_nulls", int(ck["num_nulls"])),
            ("orderkey_min", int(ok["min"])),
            ("orderkey_max", int(ok["max"])),
        ]
        return spark.createDataFrame(rows, "stat string, value long")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


@query(
    "snk_partition_overwrite_dynamic",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           CASE WHEN EXTRACT(year FROM o_orderdate) = 1997
                THEN 'RESTATED' ELSE o_orderpriority END AS o_orderpriority,
           CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year
    FROM orders
    """,
)
def snk_partition_overwrite_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent partition backfill via DYNAMIC partition overwrite:
    a year-partitioned table gets one year's data restated, and
    ``INSERT OVERWRITE`` in dynamic mode replaces ONLY the partitions
    present in the incoming data — every other partition's files are
    untouched. This is THE daily-pipeline idempotence primitive: a
    re-run of a backfill converges to the same table instead of
    appending duplicates (mode("append")) or destroying the rest of
    the table (static overwrite, which would truncate all partitions
    first).

    The key proves all three properties in one pass: it writes the
    partitioned base table, applies the 1997 restatement TWICE (the
    second write must be a no-op difference — idempotence), and
    returns the final read-back, whose oracle is the base data with
    exactly the 1997 rows restated. The conf flips to ``dynamic``
    only around the overwrite and is restored after (static is
    Spark's default and other keys rely on it).

    Scale shape: the backfill shuffles/writes only the restated
    partition's rows; untouched partitions cost zero I/O — at 100 TB
    with daily partitions this is the difference between rewriting
    one day and rewriting three years.
    """
    o = load_tables(spark, sf_dir, ("orders",))["orders"].withColumn(
        "o_year", F.year("o_orderdate").cast("int")
    )
    base = os.path.join(scratch_dir(prefix="dynover_"), "orders_part")
    o.write.mode("overwrite").partitionBy("o_year").parquet(base)

    restated = o.filter(F.col("o_year") == 1997).withColumn(
        "o_orderpriority", F.lit("RESTATED")
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        for _ in range(2):  # second run must converge, not duplicate
            restated.write.mode("overwrite").partitionBy("o_year").parquet(base)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    out = spark.read.parquet(base)
    return out.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderpriority",
        F.col("o_year").cast("int").alias("o_year"),
    )


@query(
    "snk_observe_metrics",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS DOUBLE) / 100.0 AS sum_price,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_finished
    FROM orders
    """,
)
def snk_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-flight data-quality metrics via Spark's Observation API: the
    write job itself computes row count, exact revenue total, and a
    status count AS IT WRITES — no second scan, no separate audit
    query. This is how a production sink gates bad loads ("abort the
    promotion if n_rows dropped 50% vs yesterday") at zero extra I/O:
    the observe() aggregates ride the same tasks that produce the
    output files.

    The key writes the orders table to a scratch sink with an
    attached Observation and returns the observed metrics as a
    1-row relation; the oracle recomputes the same aggregates from
    the source — equality proves the observed numbers describe
    exactly the written data. The revenue metric uses the integer-
    unit exact-sum convention inside observe(), so the comparison is
    bitwise, not approximate.

    Scale note: observed metrics are partial-aggregated per task and
    merged on the driver (metric-cardinality-sized), the same
    mergeable-accumulator algebra as any global aggregate — free at
    any scale.
    """
    from pyspark.sql import Observation

    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    obs = Observation("load_audit")
    observed = o.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        (
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))).cast(
                "double"
            )
            / F.lit(100.0)
        ).alias("sum_price"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("long")
        .alias("n_finished"),
    )
    dest = os.path.join(scratch_dir(prefix="observe_"), "orders_out")
    observed.write.mode("overwrite").parquet(dest)
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["sum_price"], m["n_finished"])],
        "n_rows bigint, sum_price double, n_finished bigint",
    )


def _spread_sql(col: str, shl) -> str:
    """16-bit Morton 'spread' (insert a zero between consecutive bits)
    via the standard mask-and-shift ladder — pure non-negative integer
    ops, identical on both engines; ``shl`` formats the engine's
    shift-left."""
    v = f"(CAST({col} AS BIGINT) & 65535)"
    for shift, mask in ((8, 16711935), (4, 252645135), (2, 858993459),
                        (1, 1431655765)):
        v = f"(({v} | {shl(v, shift)}) & {mask})"
    return v


def _zorder_sql(xb: str, yb: str, shl) -> str:
    return f"({_spread_sql(xb, shl)} | {shl(_spread_sql(yb, shl), 1)})"


_SPARK_SHL = lambda e, n: f"shiftleft({e}, {n})"  # noqa: E731
_DUCK_SHL = lambda e, n: f"({e} << {n})"  # noqa: E731

# box query demonstrating 2-d locality: the middle quadrant of both
# bucket spaces (selectivity ~1/16)
_Z_BOX = (16384, 32767)

_LAST_ZORDER: dict[str, str] = {}


@query(
    "snk_zorder_write",
    oracle=f"""
    WITH mx AS (
      SELECT MAX(l_orderkey) AS mo, MAX(l_partkey) AS mp FROM lineitem
    ),
    b AS (
      SELECT l_orderkey, l_partkey, l_quantity,
             (l_orderkey * 65536) // (mo + 1) AS xb,
             (l_partkey * 65536) // (mp + 1) AS yb
      FROM lineitem CROSS JOIN mx
    )
    SELECT l_orderkey, l_partkey, l_quantity, xb, yb,
           {_zorder_sql('xb', 'yb', _DUCK_SHL)} AS z
    FROM b
    WHERE xb BETWEEN {_Z_BOX[0]} AND {_Z_BOX[1]}
      AND yb BETWEEN {_Z_BOX[0]} AND {_Z_BOX[1]}
    """,
)
def snk_zorder_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) clustered write: interleave the bits of
    two 16-bit bucketed dimensions and range-partition + sort the
    table by the resulting z-value before writing — the multi-
    dimensional clustering layout (Delta/Iceberg OPTIMIZE ZORDER) that
    makes parquet min-max stats skip row groups for predicates on
    EITHER dimension. A single-dim sort gives perfect pruning on one
    column and none on the other; the Morton curve bounds every file's
    span on BOTH (each of the 8 files covers roughly half of each
    bucket range — the test pins this against footer stats, plus that
    whole files fall outside the 2-d box query).

    The returned result is the box query read back FROM the z-ordered
    files with the 2-d predicate pushed to the scan (PushedFilters on
    xb/yb → row-group pruning); the oracle replays bucketing, Morton
    interleave (the same mask-and-shift ladder in DuckDB's operator
    syntax), and the box on the logical table, proving the layout
    changed nothing about content. At 100 TB this is the write-side
    answer to multi-dimensional slicing: cluster once, skip forever,
    no index structure to maintain.

    Reference parity: sink-side extension of the CTAS surface
    (src/sparkSQL/SparkSQLOperator.java:21-22), SURVEY §2.F.
    """
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    mx = li.agg(
        F.max("l_orderkey").alias("mo"), F.max("l_partkey").alias("mp")
    )
    b = li.crossJoin(F.broadcast(mx)).select(
        "l_orderkey",
        "l_partkey",
        "l_quantity",
        F.expr("(l_orderkey * 65536) DIV (mo + 1)").alias("xb"),
        F.expr("(l_partkey * 65536) DIV (mp + 1)").alias("yb"),
    )
    z = b.withColumn("z", F.expr(_zorder_sql("xb", "yb", _SPARK_SHL)))
    out = os.path.join(scratch_dir(prefix="zorder_"), "clustered")
    (
        z.repartitionByRange(8, "z")
        .sortWithinPartitions("z")
        .write.mode("overwrite")
        .parquet(out)
    )
    _LAST_ZORDER["path"] = out
    back = spark.read.parquet(out)
    return back.filter(
        F.col("xb").between(*_Z_BOX) & F.col("yb").between(*_Z_BOX)
    )


# test introspection for snk_vacuum_retention: base dir + live set of
# the last run, so the test can assert physical deletion + the
# time-travel boundary
_LAST_VACUUM: dict[str, object] = {}


@query(
    "snk_vacuum_retention",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 4 IN (2, 3)
    """,
)
def snk_vacuum_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM with a retention window over the minimal lakehouse
    format of ``src_txn_log_snapshot`` (plans/scans.py): physically
    delete data files that no snapshot inside the retention window
    references, keeping newer tombstones on disk so recent snapshots
    stay time-travelable — the Delta/Iceberg `VACUUM` /
    `expire_snapshots` contract that bounds object-store cost without
    breaking readers inside the window.

    Staged history (orders in 4 hash parts): c0 adds parts 0-2; c1
    adds part 3 and removes part 0; c2 removes part 1. With
    ``retain_last=1`` commit, vacuum keeps every file referenced by
    versions latest-1 and later — part 0 goes (its tombstone aged
    out), part 1 survives on disk (still inside the window, so the c1
    snapshot {1,2,3} remains readable) — and the CURRENT snapshot
    replay yields live set {2,3}, which must hash-equal the logical
    table at ``o_orderkey % 4 IN (2, 3)``: retention mechanics, zero
    content drift. Vacuum is metadata-driven (``txn_log.vacuum``: log
    scan + file deletes); no data file is ever rewritten.
    """
    retain_last = 1
    base, log_dir = _stage_parts(
        spark,
        sf_dir,
        "vacuum_",
        [
            [{"add": "part0"}, {"add": "part1"}, {"add": "part2"}],
            [{"add": "part3"}, {"remove": "part0"}],
            [{"remove": "part1"}],
        ],
    )
    latest = txn_log.next_version(log_dir) - 1
    vacuumed, _ = txn_log.vacuum(
        base, log_dir, retain_from_version=latest - retain_last
    )
    live = sorted(txn_log.snapshot(log_dir))
    _LAST_VACUUM.update(base=base, live=live, vacuumed=sorted(vacuumed))
    return spark.read.parquet(*(os.path.join(base, p) for p in live))
