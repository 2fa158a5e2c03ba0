"""Session-factory contract: the engine defaults that the 100 TB design
depends on must actually be set."""

from __future__ import annotations


def test_session_defaults(spark):
    conf = spark.conf
    assert conf.get("spark.sql.adaptive.enabled") == "true"
    assert conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert conf.get("spark.sql.session.timeZone") == "UTC"
    assert conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
    assert conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    assert conf.get("spark.ui.enabled") == "false"


def test_session_is_reused(spark):
    from streamingdemo_spark.session import get_spark

    assert get_spark() is spark  # getOrCreate: one JVM per process


def test_child_allocator_env_defaults():
    """Importing the package must export the glibc-malloc child env
    (workers otherwise re-pay kernel first-touch for every UDF batch's
    temporaries — measured 9-17 s/run vs 1.3 s on the winnow key), and
    must do so with ``setdefault`` semantics so deployments can
    override per-site."""
    import os

    from streamingdemo_spark.session import _CHILD_MALLOC_ENV

    for k, v in _CHILD_MALLOC_ENV.items():
        assert os.environ.get(k), f"{k} not exported"
        assert int(v) > 0  # defaults are sane positive byte counts


def test_stage_stats_reads_the_status_store(spark):
    """``bench.stage_stats`` reads a job group's completed stages from
    Spark's in-process status store on the UI-off session, and its
    seen-stage guard keeps a second read from counting them again."""
    import uuid

    from pyspark.sql import functions as F

    import bench

    sc = spark.sparkContext
    group = f"stage-stats-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        # map stage + reduce stage: a two-stage shuffle job
        spark.range(0, 20_000, 1, 4).groupBy(
            (F.col("id") % 7).alias("k")
        ).count().collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    seen: set = set()
    stats = bench.stage_stats(spark, group, seen)
    assert set(stats) == {
        "shuffle_read_bytes", "shuffle_write_bytes", "memory_spilled_bytes",
        "disk_spilled_bytes", "input_bytes", "n_stages", "n_tasks",
    }
    assert stats["n_stages"] >= 2
    assert stats["n_tasks"] > 0
    assert stats["shuffle_write_bytes"] > 0
    assert bench.stage_stats(spark, group, seen) is None


def test_parquet_rows_matches_count(spark, sf_dir):
    """The footer-metadata row count that sizes the scale dials (LSH
    band widths, state partitions, tile grids) must equal a real
    count() over the same files — the dial inputs may never drift
    from what a Spark job would see."""
    from streamingdemo_spark.io import load_tables, parquet_rows

    for name in ("embeddings", "documents", "events"):
        df = load_tables(spark, sf_dir, (name,))[name]
        assert parquet_rows(sf_dir, name) == df.count()


def test_spread_scan_floors_parallelism(spark, sf_dir):
    """spread_scan round-robins a few-partition input above the size
    floor up to the session's default parallelism (rows unchanged),
    and leaves tiny or already-parallel inputs alone — the guide §2.5
    input-skew fix must never fire where it would add a pointless
    shuffle."""
    from streamingdemo_spark.io import SPREAD_MIN_BYTES, load_tables, spread_scan

    target = spark.sparkContext.defaultParallelism

    # one 8-byte column: 40k rows plan at 320 KB, above the floor
    big = spark.range(0, 40_000, 1, 1)
    assert 40_000 * 8 >= SPREAD_MIN_BYTES
    spread = spread_scan(big)
    assert spread.rdd.getNumPartitions() == target
    assert spread.count() == 40_000

    # size floor: the sf0.001 fixture is tiny — spread must NOT fire
    # (the repartition's fixed cost isn't paid back; measured at
    # sf0.01: minhash/eval/containment lose 15-35% if it does)
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    assert spread_scan(docs) is docs

    # already-parallel input: untouched (identical plan object)
    wide = big.repartition(target)
    assert spread_scan(wide) is wide


def test_spread_scan_runs_no_job_on_post_exchange_input(spark):
    """A frame past an exchange is as parallel as its shuffle made it:
    spread_scan must return it unchanged without running a job. Reading
    its split count through ``df.rdd`` materialized the AQE shuffle
    stages — a hidden job per call — and then spread it again. Jobs are
    counted on the DAG scheduler, which also sees AQE map-stage jobs
    that a status-tracker scan misses."""
    from pyspark.sql import functions as F

    from streamingdemo_spark.io import spread_scan

    grouped = (
        spark.range(0, 200_000, 1, 4)
        .groupBy((F.col("id") % 1000).alias("k"))
        .count()
    )
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.numTotalJobs()
    assert spread_scan(grouped) is grouped
    assert dag.numTotalJobs() == before


# Deployment settings the engine reads: paths, memory, cores and a
# liveness bound. Tuning decisions are constants in the code; a new
# environment read is a new knob and must be argued onto this list
# (and into the README's Configuration section).
ALLOWED_ENV = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_DRIVER_MEMORY",
    "SPARK_DRIVER_MAX_RESULT_SIZE",
    "STREAMINGDEMO_STREAM_CACHE",
    "STREAMINGDEMO_CKPT_ROOT",
    "STREAMINGDEMO_STREAM_TIMEOUT",
}


def test_engine_reads_only_deployment_env():
    """Every environment variable read under ``streamingdemo_spark/``
    (``os.environ.get``, ``os.environ[...]``, ``os.getenv``, ``in
    os.environ``) is on the deployment allowlist; a read whose name is
    not a string literal fails too. No Spark needed."""
    import ast
    import pathlib

    import streamingdemo_spark

    def is_(node, dotted):
        return ast.unparse(node) == dotted

    found = set()
    root = pathlib.Path(streamingdemo_spark.__file__).parent
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Call) and (
                is_(node.func, "os.environ.get") or is_(node.func, "os.getenv")
            ):
                name = node.args[0]
            elif (
                isinstance(node, ast.Subscript)
                and isinstance(node.ctx, ast.Load)
                and is_(node.value, "os.environ")
            ):
                name = node.slice
            elif isinstance(node, ast.Compare) and any(
                is_(c, "os.environ") for c in node.comparators
            ):
                name = node.left
            else:
                continue
            if isinstance(name, ast.Constant) and isinstance(name.value, str):
                found.add(name.value)
            else:
                found.add(f"<non-literal in {path.name}: {ast.unparse(name)}>")
    assert found == ALLOWED_ENV


def test_only_the_runner_waits_on_a_stream():
    """Every bounded stream runs through ``streaming.runner.replay``; a
    module calling ``.awaitTermination(`` itself is a second lifecycle
    (the Kafka sink operator is unbounded, not a replay). No Spark."""
    import pathlib

    import streamingdemo_spark

    root = pathlib.Path(streamingdemo_spark.__file__).parent
    found = {
        path.relative_to(root).as_posix()
        for path in root.rglob("*.py")
        if ".awaitTermination(" in path.read_text()
    }
    assert found <= {"streaming/runner.py", "operators/builtin.py"}, found


def test_only_txn_log_knows_the_log_format():
    """``plans/txn_log.py`` owns the on-disk log format: no other module
    may spell the commit file name or the checkpoint pointer, so every
    txn-log key reads and writes the log through it. No Spark."""
    import pathlib
    import re

    import streamingdemo_spark

    root = pathlib.Path(streamingdemo_spark.__file__).parent
    pattern = re.compile(r"\\d\{8\}|:08d\}|_last_checkpoint")
    found = {
        path.relative_to(root).as_posix()
        for path in root.rglob("*.py")
        if pattern.search(path.read_text())
    }
    assert found == {"plans/txn_log.py"}, found
