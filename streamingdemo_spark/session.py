"""SparkSession factory.

Replaces the reference's hand-built contexts
(``JavaStreamingContext`` at ``OpContainer.java:47-49``,
``JavaSparkContext`` at ``OpContainerTest.java:53-54``,
``HiveContext`` at ``SparkSQLOperator.java:16``) with one unified
SparkSession — Structured Streaming shares it, so batch vs stream is
decided per-source, not per-context.

Scale notes (100 TB design): every knob here is also correct on a real
cluster — AQE re-plans joins/skew at runtime, shuffle partitions are
sized by AQE coalescing from an upper bound, Arrow is on so any
pandas-UDF path is vectorized. Only ``master`` is local-specific and is
overridable via env/args.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession

# glibc-malloc tuning for the Python workers (guide §4/§5): the numpy/
# Arrow hot paths inside pandas UDFs allocate and free tens-to-hundreds
# of MB of temporaries per batch. Above glibc's default mmap threshold
# (128 KB) every such buffer is a fresh mmap that is munmap'd on free,
# so EVERY batch re-pays kernel page-allocation + first-touch faulting
# for its whole working set — pure allocator churn that first-touch-
# expensive kernels (VM sandboxes such as gVisor, overcommitted hosts)
# amplify brutally. Measured here: ext_dedup_substring's winnow UDF
# held a steady 9-17 s/run while its worker cycled RSS 135→230 MB
# (mmap/munmap per rep); with the thresholds below the same worker
# reads 1.25 s/run steady-state (the one-time first-touch is paid at
# worker birth, then pages stay in the arena). Set via environment so
# the JVM and every pyspark.daemon worker it forks inherit them; each
# is ``setdefault`` so deployments can override. Cost: worker RSS
# high-water retention (~peak temp set per worker) — the normal glibc
# arena behavior for sub-threshold allocations, sized far below
# ``spark.executor.memoryOverhead`` on a real cluster.
_CHILD_MALLOC_ENV = {
    "MALLOC_MMAP_THRESHOLD_": str(1 << 30),  # big temps stay in arena
    "MALLOC_TRIM_THRESHOLD_": str(1 << 30),  # don't return arena pages
    "MALLOC_TOP_PAD_": str(64 << 20),  # grow the arena in big steps
}
for _k, _v in _CHILD_MALLOC_ENV.items():
    os.environ.setdefault(_k, _v)


# The directory holding the streamingdemo_spark package. Python workers
# get it on their path so by-reference kernels and the worker daemon
# import whatever directory the driver runs from.
_ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def positive_int(name: str, raw: str | None, default):
    """``raw``, the value of environment variable ``name``, as a
    positive int. ``default`` when it is unset, and when it is
    malformed, then with one stderr line naming the variable."""
    if raw is None:
        return default
    if raw.strip().isdigit() and int(raw) > 0:
        return int(raw)
    print(
        f"{name}={raw!r} is not a positive integer; using {default}",
        file=sys.stderr,
    )
    return default


def _local_master() -> str:
    """``local[N]`` for ``SPARK_GRAFT_CPUS=N``, else ``local[*]``."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if cpus != "*":
        cpus = positive_int("SPARK_GRAFT_CPUS", cpus, "*")
    return f"local[{cpus}]"


def get_spark(
    app_name: str = "streamingdemo-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the SparkSession with engine defaults.

    Defaults follow SURVEY.md §4: AQE on (runtime join re-selection,
    partition coalescing, skew-join splitting), Arrow on for all
    pandas-UDF/toPandas paths, UTC session time zone so timestamp
    semantics match the ANSI-SQL oracle. The tuning values are
    constants; a deployment sets any other Spark conf (e.g. the
    RocksDB ``spark.sql.streaming.stateStore.providerClass``) through
    ``extra_conf``.
    """
    builder = (
        SparkSession.builder.master(master or _local_master())
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE sizes post-shuffle partitions by BYTES; grouped numpy-UDF
        # stages (per-bucket GEMM top-k, codebook scoring, k-means
        # assign) are CPU-bound at ~KB/row, so the 1m default floor
        # coalesced them to ~5 tasks on 32 cores (measured:
        # ext_label_noise_ann's bucket GEMM stage). parallelismFirst
        # (Spark default, left on) already targets cluster parallelism;
        # lowering only the floor lets small-byte CPU-heavy shuffles
        # keep their task count while GB-scale shuffles never feel it.
        # Interleaved A/B at sf0.1: GEMM keys -10..-24 %
        # (ext_dedup_embedding 1.30->0.99, ext_label_noise_ann
        # 1.73->1.55, ext_cluster_kmeans 1.70->1.54), join/agg keys
        # unchanged over 5 alternating reps.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE's pre-coalesce upper bound: adaptive execution sizes each
        # batch shuffle by bytes; stream replays set their own count
        # through io.tasks_for.
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # events.parquet stores TIMESTAMP(NANOS), which Spark's reader
        # rejects; read as long and convert in io.load_tables.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Streaming: allow many concurrent short-lived queries in tests.
        .config("spark.sql.streaming.schemaInference", "true")
        # Off: a port + heap per session. Per-stage metrics stay
        # readable in-process (bench.stage_stats reads the status
        # store); a deployment that wants the UI passes extra_conf.
        .config("spark.ui.enabled", "false")
        .config("spark.sql.debug.maxToStringFields", "200")
        # Python < 3.13 workers: pyspark invalidates the import caches
        # before every task, which makes each of a worker's 16
        # zipimporters re-parse its whole archive (pyspark.zip, 1,328
        # entries; the spark-core jar, 5,359; the py4j zip): 0.26-0.52 s
        # per task on a reused worker (4-core box, Python 3.11). An
        # identity mapInArrow stage over 24k cached rows (4 tasks) took
        # 0.46 s against 0.12 s with no Python; with worker_daemon,
        # which re-reads an archive only when its size or mtime moved,
        # it takes 0.23 s. Delete this conf and worker_daemon.py once
        # the engine requires Python >= 3.13, whose invalidate_caches
        # only drops the cached directory (re-read lazily, once).
        .config("spark.python.daemon.module", "streamingdemo_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _ENGINE_ROOT)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # The oracle-differential harness collects FULL query results
        # for hashing; at the sf10 sweep a 60M-row projection tops the
        # 1g default. Production queries never collect a table — this
        # is a verification-harness limit, not an engine sizing.
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_DRIVER_MAX_RESULT_SIZE", "8g"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
