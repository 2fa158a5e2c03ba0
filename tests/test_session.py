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
    assert (
        conf.get("spark.python.daemon.module") == "streamingdemo_spark.worker_daemon"
    )


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
    """spread_scan round-robins a few-partition input above one task's
    bytes up to ``tasks_for`` its size (rows unchanged), and leaves
    tiny or already-parallel inputs alone — the guide §2.5 input-skew
    fix must never fire where it would add a pointless shuffle."""
    from streamingdemo_spark.io import (
        BYTES_PER_TASK,
        load_tables,
        plan_bytes,
        spread_scan,
        tasks_for,
    )

    # one 8-byte column: 40k rows plan at 320 KB, above one task's bytes
    big = spark.range(0, 40_000, 1, 1)
    assert plan_bytes(big) == 40_000 * 8 > BYTES_PER_TASK
    target = tasks_for(spark, plan_bytes(big))
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


def _jobs(spark) -> int:
    """Jobs submitted so far, counted on the DAG scheduler, which also
    sees AQE map-stage jobs that a status-tracker scan misses."""
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def test_tasks_for_clamps_bytes_to_cores(spark):
    """One task per BYTES_PER_TASK, at least one, at most the cores."""
    from streamingdemo_spark.io import BYTES_PER_TASK, tasks_for

    cores = spark.sparkContext.defaultParallelism
    assert tasks_for(spark, 0) == 1
    assert tasks_for(spark, BYTES_PER_TASK) == 1
    assert tasks_for(spark, BYTES_PER_TASK + 1) == min(2, cores)
    assert tasks_for(spark, 10**15) == cores


def test_spread_scan_runs_no_job_on_post_exchange_input(spark):
    """A frame past an exchange is as parallel as its shuffle made it:
    spread_scan must return it unchanged without running a job. Reading
    its split count through ``df.rdd`` materialized the AQE shuffle
    stages — a hidden job per call — and then spread it again."""
    from pyspark.sql import functions as F

    from streamingdemo_spark.io import spread_scan

    grouped = (
        spark.range(0, 200_000, 1, 4)
        .groupBy((F.col("id") % 1000).alias("k"))
        .count()
    )
    before = _jobs(spark)
    assert spread_scan(grouped) is grouped
    assert _jobs(spark) == before


def test_parallelism_rule_runs_no_job(spark, sf_dir):
    """The rule's inputs come from metadata: spread_scan firing on a
    one-split frame, and a replay sizing its partitions from its file
    sources' on-disk bytes, submit no job."""
    import os

    from streamingdemo_spark.io import spread_scan
    from streamingdemo_spark.streaming.runner import _source_bytes
    from streamingdemo_spark.streaming.sources import _build, events_stream

    big = spark.range(0, 40_000, 1, 1)
    stream = events_stream(spark, sf_dir, "ordered", n_chunks=4)
    joined = stream.join(stream.select("event_id"), "event_id")
    src = _build(spark, sf_dir, "ordered", 4)
    on_disk = sum(os.path.getsize(os.path.join(src, f)) for f in os.listdir(src))
    before = _jobs(spark)
    assert spread_scan(big) is not big
    assert _source_bytes(stream) == on_disk
    assert _source_bytes(joined) == 2 * on_disk
    assert _source_bytes(spark.readStream.format("rate").load()) == 0
    assert _jobs(spark) == before


# Deployment settings the engine reads: paths, memory, cores and a
# liveness bound. Tuning decisions are constants in the code; a new
# environment read is a new knob and must be argued onto this list
# (and into the README's Configuration section).
ALLOWED_ENV = {
    "SPARK_GRAFT_CPUS",
    "SPARK_DRIVER_MEMORY",
    "SPARK_DRIVER_MAX_RESULT_SIZE",
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


def test_reuse_builds_once_per_session_and_fixture(tmp_path):
    """``io.reuse`` builds once per (session, fixture, extra key): a
    table rewritten in place rebuilds and releases the old value, and
    another application id rebuilds. No Spark."""
    from types import SimpleNamespace

    from streamingdemo_spark.io import forget, reuse

    table = tmp_path / "embeddings.parquet"
    table.write_bytes(b"v1")
    built, released = [], []

    def call(app, key=()):
        spark = SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app))
        return reuse(
            spark,
            "test_reuse",
            str(tmp_path),
            "embeddings",
            lambda: built.append(len(built)) or built[-1],
            release=released.append,
            key=key,
        )

    try:
        assert call("app-1") == call("app-1") == 0
        assert built == [0]
        table.write_bytes(b"v2, rewritten")
        assert call("app-1") == 1
        assert released == [0]
        # a stopped session's value died with its cache: not released
        assert call("app-2") == 2
        assert released == [0]
        assert call("app-2", key=(4,)) == 3
        assert released == [0, 2]
    finally:
        forget("test_reuse")
    assert released == [0, 2, 3]


# Module-level caches outside ``io.reuse``, each with the reason it may
# live on its own.
OWN_CACHES = {
    ("extensions/similarity.py", "_KNN_TILE_CACHE"):
        "executor side: one resident kNN build tile per Python worker",
}


def test_only_io_keeps_state_between_calls():
    """``io.py`` owns what a key keeps between calls (``reuse``) and the
    fixture fingerprint that keys it (``fixture_fp``). No other module
    under ``streamingdemo_spark/`` may bind a module-level empty dict or
    list named ``*_MEMO`` / ``*_CACHE`` (except the ones above), define a
    ``*_fp`` helper, stat a file's mtime, or import a ``*_fp`` helper
    from anywhere but ``io``. No Spark."""
    import ast
    import pathlib

    import streamingdemo_spark

    root = pathlib.Path(streamingdemo_spark.__file__).parent
    caches, fingerprints = set(), set()
    for path in root.rglob("*.py"):
        rel = path.relative_to(root).as_posix()
        if rel == "io.py":
            continue
        text = path.read_text()
        tree = ast.parse(text)
        for node in tree.body:
            target = value = None
            if isinstance(node, ast.Assign) and len(node.targets) == 1:
                target, value = node.targets[0], node.value
            elif isinstance(node, ast.AnnAssign):
                target, value = node.target, node.value
            if (
                isinstance(target, ast.Name)
                and target.id.endswith(("_MEMO", "_CACHE"))
                and isinstance(value, (ast.Dict, ast.List))
                and not (value.keys if isinstance(value, ast.Dict) else value.elts)
            ):
                caches.add((rel, target.id))
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name.endswith("_fp"):
                fingerprints.add((rel, node.name))
            if (
                isinstance(node, ast.ImportFrom)
                and node.module != "streamingdemo_spark.io"
            ):
                fingerprints.update(
                    (rel, a.name) for a in node.names if a.name.endswith("_fp")
                )
        if "st_mtime" in text:
            fingerprints.add((rel, "st_mtime"))
    assert caches == set(OWN_CACHES), caches
    assert not fingerprints, fingerprints


# Task counts that define their scenario or measured faster than the
# rule; every other count comes from ``io.tasks_for``. Keyed by file
# and line.
TASK_COUNT_LITERALS = {
    ("session.py", '.config("spark.sql.shuffle.partitions", "32")'):
        "AQE's pre-coalesce upper bound; AQE sizes batch shuffles by bytes",
    ("plans/storage.py", 'o.repartition(64).write.mode("overwrite").parquet(frag)'):
        "snk_compaction: the 64 small files it exists to compact",
    ("plans/storage.py",
     'spark.read.parquet(frag).coalesce(4).write.mode("overwrite").parquet('):
        "snk_compaction: the 4-file compacted layout it verifies",
    ("plans/storage.py", 'z.repartitionByRange(8, "z")'):
        "snk_zorder_write: the file count of the clustered layout",
    ("extensions/corpus.py", 'keyed.repartitionByRange(8, "shard")'):
        "ext_doc_shuffle_sharded: one range partition per shard (% 8)",
    ("extensions/similarity.py",
     'fit_df = fit_df.repartition(1).sortWithinPartitions("vec_id")'):
        "deterministic fit: one partition fixes the row order it reads",
    ("plans/scans.py",
     'o.filter(F.col("o_orderkey") % 4 == part).coalesce(1).write.mode('):
        "single-file source: one file is one micro-batch",
    ("plans/scans.py", "src.coalesce(1).write.mode(\"overwrite\").parquet("):
        "compaction output: one file by definition",
    ("plans/joins.py",
     'n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))'):
        "join_range_banded: uneven band buckets balance over the session's"
        " 32; tasks_for's 4 measured 2.38 -> 3.45 s at sf0.1 on 4 cores",
}


def test_task_counts_come_from_the_rule():
    """A task count spelled as an integer literal under
    ``streamingdemo_spark/`` (``.repartition(<int>``,
    ``.repartitionByRange(<int>``, ``.coalesce(<int>``,
    ``numPartitions=<int>``, ``spark.sql.shuffle.partitions`` set from a
    literal or read back as a count) bypasses ``io.tasks_for``; only the
    sites above may, each for the reason it gives. No Spark."""
    import pathlib
    import re

    import streamingdemo_spark

    pattern = re.compile(
        r"\.(?:repartition|repartitionByRange|coalesce)\(\s*\d"
        r"|numPartitions\s*=\s*\d"
        r"|shuffle\.partitions[\"']\s*(?:,|\]\s*=)\s*(?:str\()?\s*[\"']?\d"
        r"|conf\.get\(\s*[\"']spark\.sql\.shuffle\.partitions"
    )
    root = pathlib.Path(streamingdemo_spark.__file__).parent
    found = {
        (path.relative_to(root).as_posix(), line.strip())
        for path in sorted(root.rglob("*.py"))
        for line in path.read_text().splitlines()
        if pattern.search(line)
    }
    assert found == set(TASK_COUNT_LITERALS)


def test_malformed_env_values_fall_back(monkeypatch):
    """A malformed deployment value falls back to its default with one
    stderr line naming the variable, instead of failing every replay
    (``int('5m')``) or every session (a ``local[abc]`` master). No
    Spark: the values are read at import and by the master helper."""
    import pathlib
    import subprocess
    import sys

    probe = (
        "from streamingdemo_spark.streaming import runner\n"
        "from streamingdemo_spark import session\n"
        "print(runner.STREAM_TIMEOUT_S, session._local_master())\n"
    )
    root = pathlib.Path(__file__).resolve().parent.parent

    def run(timeout: str, cpus: str):
        monkeypatch.setenv("STREAMINGDEMO_STREAM_TIMEOUT", timeout)
        monkeypatch.setenv("SPARK_GRAFT_CPUS", cpus)
        out = subprocess.run(
            [sys.executable, "-c", probe],
            cwd=root, capture_output=True, text=True, check=True,
        )
        return out.stdout.strip(), out.stderr.splitlines()

    got, err = run("5m", "abc")
    assert got == "300 local[*]"
    for name in ("STREAMINGDEMO_STREAM_TIMEOUT", "SPARK_GRAFT_CPUS"):
        assert sum(name in line for line in err) == 1, err
    got, err = run("42", "3")
    assert got == "42 local[3]"
    assert not [line for line in err if "STREAM_TIMEOUT" in line or "CPUS" in line]


def test_entry_module_raises_on_a_broken_extension(monkeypatch):
    """``__spark_entry__`` must not swallow an ImportError: a broken
    extension import would silently drop its keys from ``queries()``,
    ``oracle_sql()`` and ``DRIVER_ORDER``. No Spark."""
    import importlib.util
    import pathlib
    import sys

    import pytest

    path = pathlib.Path(__file__).resolve().parent.parent / "__spark_entry__.py"
    spec = importlib.util.spec_from_file_location("entry_probe", path)
    monkeypatch.setitem(sys.modules, "streamingdemo_spark.extensions", None)
    with pytest.raises(ImportError):
        spec.loader.exec_module(importlib.util.module_from_spec(spec))
