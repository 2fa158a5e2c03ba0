"""One lifecycle for every bounded stream: ``replay(writer, spark)``.

The engine analogue of the reference's 10 s-interval container run
(``OpContainer.java:46-69``). The caller builds the sink (memory
table, parquet files, ``foreachBatch``); ``replay`` checkpoints under
``CHECKPOINT_ROOT`` (or a caller-given dir to resume from), triggers
``availableNow`` (or a ``processingTime`` cadence), waits at most
``STREAMINGDEMO_STREAM_TIMEOUT`` seconds and raises ``TimeoutError``
rather than return a partly written sink, records
``LAST_STREAM_PROGRESS`` and ``LAST_STREAM_PLAN``, and stops the query
on every path. Its conf overrides hold only for ``start()``, and
``run_to_memory`` drops the sink's view once its frame is bound, so a
replay leaves nothing in the session.

Parallelism: a replay's shuffle (and so state-store) partitions are
``io.tasks_for`` the on-disk bytes of its file sources, read from the
``StreamingRelation`` paths of the writer's plan without a job — one
state store per ~256 KiB of replayed input, never more than the
session's cores. A source without a path (rate) adds no bytes.
"""

from __future__ import annotations

import json
import os
import tempfile
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter

from streamingdemo_spark.io import tasks_for
from streamingdemo_spark.scratch import scratch_dir
from streamingdemo_spark.session import positive_int

# Checkpoints for replay/test runs: prefer tmpfs — state-store fsyncs
# on a disk-backed dir dominate micro-batch latency at tiny data sizes.
# Production streams point this at durable storage (HDFS/S3) instead.
CHECKPOINT_ROOT = os.environ.get(
    "STREAMINGDEMO_CKPT_ROOT",
    "/dev/shm" if os.access("/dev/shm", os.W_OK) else tempfile.gettempdir(),
)

# Replay timeout in seconds (default 300 — ample at the fixture sfs,
# raised by the large-corpus sweeps where the same replays legitimately
# run long).
STREAM_TIMEOUT_S = positive_int(
    "STREAMINGDEMO_STREAM_TIMEOUT",
    os.environ.get("STREAMINGDEMO_STREAM_TIMEOUT"),
    300,
)

# Executed physical plan of the most recent replay — streaming
# DataFrames can't be explained before .start(), so tests/test_plans.py
# pins streaming plan shapes (map-side UDF placement, stateful-operator
# count) from this. Best-effort: "" on a capture failure, and the
# plan-shape tests then skip instead of failing on a Spark change.
LAST_STREAM_PLAN: str = ""
# Per-batch progress of the most recent replay (the parsed
# StreamingQueryProgress dicts): state-store row counts, watermark
# march, rows/sec — the observability a state-size regression gate
# needs (tests assert state rows stay bounded by live sessions).
LAST_STREAM_PROGRESS: list[dict] = []


def _progress_dict(p) -> dict:
    """Normalize one ``recentProgress`` entry to a dict: PySpark 4
    yields ``StreamingQueryProgress`` objects (``.json`` payload),
    older builds yield plain dicts."""
    return p if isinstance(p, dict) else json.loads(p.json)


def _capture_plan(query) -> str:
    """Public-API plan capture: ``StreamingQuery.explain()`` prints the
    runtime plan via Python ``print``; redirect stdout to harvest it."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        query.explain(extended=False)
    return buf.getvalue()


def _source_bytes(df: DataFrame) -> int:
    """On-disk bytes under the ``path`` of every file source
    (``StreamingRelation`` leaf) of the streaming frame ``df``, globs
    expanded, through the Hadoop filesystem API. Plan and filesystem
    metadata only: no job."""
    spark = df.sparkSession
    hconf = spark._jsc.hadoopConfiguration()
    total = 0
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.nodeName() != "StreamingRelation":
            continue
        path = leaf.dataSource().options().get("path")
        if path.isEmpty():
            continue
        p = spark._jvm.org.apache.hadoop.fs.Path(path.get())
        fs = p.getFileSystem(hconf)
        for st in fs.globStatus(p) or []:
            total += fs.getContentSummary(st.getPath()).getLength()
    return total


def replay(
    writer: DataStreamWriter,
    spark: SparkSession,
    *,
    checkpoint: str | None = None,
    timeout_sec: int | None = None,
    processing_time: str | None = None,
    min_batches: int = 2,
    no_data_batches: bool = True,
) -> None:
    """Run ``writer``'s query to completion; see the module docstring.

    ``checkpoint=None`` makes a fresh dir under ``CHECKPOINT_ROOT``;
    two replays given the same dir resume the second from the first.

    ``processing_time`` switches to a WALL-CLOCK trigger — the
    reference container's fixed batch interval (OpContainer.java:47-49)
    — that runs until ``min_batches`` micro-batches have fired, then
    stops. availableNow is the DETERMINISTIC form every hash-certified
    key uses; the cadence path is witnessed by ``stream_rate_smoke``.

    ``timeout_sec=None`` defers to ``STREAM_TIMEOUT_S``.

    The query's shuffle partitions come from ``tasks_for`` (see the
    module docstring); stateful-operator parallelism is fixed at first
    checkpoint, so a resumed replay keeps its first run's count.
    ``no_data_batches=False`` disables Spark's trailing no-data
    micro-batch for this query. Both are set on the session for
    ``start()`` only: the query runs on a clone of the session taken
    inside ``start()``, so no other query sees them.
    """
    global LAST_STREAM_PLAN, LAST_STREAM_PROGRESS
    if timeout_sec is None:
        timeout_sec = STREAM_TIMEOUT_S
    writer = writer.option(
        "checkpointLocation",
        checkpoint or scratch_dir(prefix="ckpt_", dir=CHECKPOINT_ROOT),
    )
    if processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    else:
        writer = writer.trigger(availableNow=True)
    parts = tasks_for(spark, _source_bytes(writer._df))
    conf = {"spark.sql.shuffle.partitions": str(parts)}
    if not no_data_batches:
        conf["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
    prev = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        query = writer.start()
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    try:
        if processing_time is not None:
            # wall-clock cadence: wait for min_batches COMPLETED
            # micro-batches (distinct batchIds in recentProgress),
            # bounded by timeout_sec — a cadence query never
            # terminates on its own
            deadline = time.time() + timeout_sec
            while time.time() < deadline:
                seen = {
                    _progress_dict(p).get("batchId")
                    for p in query.recentProgress
                    if p is not None
                }
                seen.discard(None)
                if len(seen) >= min_batches:
                    break
                time.sleep(0.25)
            else:
                raise TimeoutError(
                    f"processing-time query produced fewer than "
                    f"{min_batches} micro-batches in {timeout_sec}s"
                )
        # awaitTermination returns False on timeout: the replay is
        # incomplete, and reading its sink would silently corrupt
        # downstream equality assertions.
        elif not query.awaitTermination(timeout_sec):
            raise TimeoutError(
                f"streaming replay exceeded {timeout_sec}s "
                f"(query {query.id} stopped with partial results)"
            )
        try:
            LAST_STREAM_PLAN = _capture_plan(query)
        except Exception:  # plan capture is best-effort
            LAST_STREAM_PLAN = ""
        try:
            LAST_STREAM_PROGRESS = [
                _progress_dict(p) for p in query.recentProgress
            ]
        except Exception:  # progress capture is best-effort
            LAST_STREAM_PROGRESS = []
    finally:
        query.stop()


def run_to_memory(
    df: DataFrame,
    output_mode: str = "append",
    timeout_sec: int | None = None,
    processing_time: str | None = None,
    min_batches: int = 2,
    no_data_batches: bool = True,
) -> DataFrame:
    """``replay`` into an in-memory table; returns the table as a
    batch DataFrame. The frame is analyzed before the sink's view is
    dropped, so it keeps reading the sink while the session holds no
    table for it.

    The state-store backend is the session's
    ``spark.sql.streaming.stateStore.providerClass`` (read at query
    start and pinned into the checkpoint): Spark's HDFS-backed default
    keeps state on the executor heap, and a deployment with large
    state sets the RocksDB provider there.

    ``no_data_batches=False`` is only safe for keys that PROVE the
    final batch emits nothing they keep — e.g.
    ``stream_stream_outer_join``, whose real evictions all happen in
    the second flush-sentinel's (data) batch and whose no-data batch
    emits only the sentinel rows the caller strips; watermark
    aggregates and session keys RELY on the no-data batch for their
    final emission and must leave this True.
    """
    spark: SparkSession = df.sparkSession
    name = f"mem_{uuid.uuid4().hex[:12]}"
    replay(
        df.writeStream.format("memory").queryName(name).outputMode(output_mode),
        spark,
        timeout_sec=timeout_sec,
        processing_time=processing_time,
        min_batches=min_batches,
        no_data_batches=no_data_batches,
    )
    result = spark.table(name)
    spark.catalog.dropTempView(name)
    return result
