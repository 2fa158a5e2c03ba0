"""Fixture / table I/O.

Plays the role of the reference's two data-access paths:
- Hive-catalog table reads (``SparkSQLOperator.java:18``) -> parquet
  reads + temp views, so ``spark.sql`` can address every table;
- the schema-tagged stream source (``KafkaInput.java``) -> see
  ``streamingdemo_spark.streaming`` for the readStream variants.

100 TB design note: reads stay fully declarative (``spark.read
.parquet``) so partition pruning / predicate pushdown / column pruning
reach the scan. Nothing here collects.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def parquet_rows(sf_dir: str, name: str) -> int:
    """Exact row count of a fixture table from its parquet FOOTER
    metadata — driver-side, no Spark job. Identical by definition to
    an unfiltered ``count()`` over the same files (the footer is the
    writer's own row accounting, the same source Spark's count-star
    optimization reads inside its tasks); for the scale dials that
    need only n (LSH band widths, partition counts, tile grids) the
    count() JOB's fixed scheduling cost is pure overhead — the same
    job-for-metadata swap as the txn family's ``_footer_stats``."""
    import pyarrow.parquet as pq

    path = table_path(sf_dir, name)
    if os.path.isdir(path):
        return sum(
            pq.read_metadata(os.path.join(path, f)).num_rows
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
    return pq.read_metadata(path).num_rows


# spread_scan's rule. Below the size floor (plan-statistics bytes) the
# repartition's fixed shuffle cost exceeds the per-row work it
# parallelizes: interleaved A/B, the heavy consumers win 1.3-7x at sf0.1
# (~4 MB corpus) and lose 15-35 % at sf0.01 (~0.4 MB). Above it, a scan
# spreads only when it yields at most 1/SPREAD_TASKS_RATIO of the cores.
SPREAD_MIN_BYTES = 256 << 10
SPREAD_TASKS_RATIO = 2


def _holds_exchange(plan) -> bool:
    """True if the physical plan contains an exchange. Under AQE (on in
    every engine session) such a plan is rooted at AdaptiveSparkPlan;
    the walk covers sessions with AQE off."""
    name = plan.nodeName()
    if name == "AdaptiveSparkPlan" or name.endswith("Exchange"):
        return True
    kids = plan.children()
    return any(_holds_exchange(kids.apply(i)) for i in range(kids.size()))


def spread_scan(df: DataFrame) -> DataFrame:
    """Parallelism floor for heavy per-row work over few-file scans
    (guide §2.5: "one huge unsplittable file … repartition immediately
    after the read").

    The bench fixtures are single-row-group parquet files, so every
    stage up to the first exchange runs as ONE task regardless of core
    count — shingle explodes, rolling-hash UDFs and signature builds
    all serialize on one core. At production scale a table scan has
    thousands of row-group splits and this helper is a metadata-only
    no-op: it round-robin repartitions to the session's default
    parallelism ONLY when an input of at least ``SPREAD_MIN_BYTES``
    yields at most 1/``SPREAD_TASKS_RATIO`` of the cores. Results are
    unchanged by construction — repartition moves rows, and every
    consumer is a key/group computation. The cost when it fires is one
    shuffle of the projected columns, so project/filter before calling
    (guide §2.3); the deterministic sort-before-repartition default
    stays on so task retries reproduce the same placement (guide §2.5).

    The decision never runs a job: the size comes from plan
    statistics and the split count from the frame's own physical plan.
    A frame whose plan already holds an exchange is returned unchanged
    — it is as parallel as its shuffle made it, and reading its split
    count would run that shuffle.
    """
    qe = df._jdf.queryExecution()
    if int(qe.optimizedPlan().stats().sizeInBytes()) < SPREAD_MIN_BYTES:
        return df
    plan = qe.executedPlan()
    if _holds_exchange(plan):
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if plan.execute().getNumPartitions() * SPREAD_TASKS_RATIO <= target:
        return df.repartition(target)
    return df


def _load_one(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # The events fixture stores TIMESTAMP(NANOS), which Spark's
        # reader rejects outright; force the legacy long read on
        # whatever session we were handed (the driver builds its own,
        # without our session.py defaults).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) read as raw int64 (see session.py); convert
        # with integer division — double division would lose precision
        # above 2^53 ns.
        df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load the fixture tables as DataFrames keyed by table name."""
    return {name: _load_one(spark, sf_dir, name) for name in names}


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load tables and register each as a temp view of the same name.

    Mirrors the reference's catalog-managed relations so arbitrary SQL
    (the C1 entry point) can run against them.
    """
    dfs = load_tables(spark, sf_dir, names)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
