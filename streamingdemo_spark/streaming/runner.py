"""Run a streaming DataFrame to completion and return the batch result.

Test/driver harness: ``availableNow`` replays the whole source through
real micro-batch execution (the engine analogue of the reference's
10 s-interval container run, ``OpContainer.java:46-69``), collecting
into a memory sink. Production sinks swap the format — the query shape
is identical.
"""

from __future__ import annotations

import json
import os
import tempfile
import time

from streamingdemo_spark.scratch import scratch_dir
import uuid

from pyspark.sql import DataFrame, SparkSession

# Checkpoints for replay/test runs: prefer tmpfs — state-store fsyncs
# on a disk-backed dir dominate micro-batch latency at tiny data sizes.
# Production streams point this at durable storage (HDFS/S3) instead.
CHECKPOINT_ROOT = os.environ.get(
    "STREAMINGDEMO_CKPT_ROOT",
    "/dev/shm" if os.access("/dev/shm", os.W_OK) else tempfile.gettempdir(),
)


# Executed physical plan of the most recent run_to_memory stream —
# streaming DataFrames can't be explained before .start(), so this is
# the hook tests/test_plans.py uses to pin streaming plan shapes
# (map-side UDF placement, stateful-operator count) after a replay.
# Captured through the PUBLIC StreamingQuery.explain() API (which
# prints the runtime physical plan in the Python process) with stdout
# redirected — no private Py4J handles. Still best-effort by design:
# on any capture failure the plan is "" and plan-shape tests skip with
# a clear message instead of failing on a Spark-internal change.
# STREAM_PLANS additionally keys every capture by query name so two
# streams in one session can't race the global.
LAST_STREAM_PLAN: str = ""
STREAM_PLANS: dict[str, str] = {}
# Per-batch progress of the most recent replay (the parsed
# StreamingQueryProgress dicts): state-store row counts, watermark
# march, rows/sec — the observability a state-size regression gate
# needs (tests assert state rows stay bounded by live sessions).
LAST_STREAM_PROGRESS: list[dict] = []


def _progress_dict(p) -> dict:
    """Normalize one ``recentProgress`` entry to a dict: PySpark 4
    yields ``StreamingQueryProgress`` objects (``.json`` payload),
    older builds yield plain dicts — BOTH the cadence poll loop and
    the post-run capture must accept either shape (the r12 ADVICE
    found the poll loop assuming objects while the capture defended
    dicts)."""
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


def run_to_memory(
    df: DataFrame,
    output_mode: str = "append",
    timeout_sec: int | None = None,
    state_partitions: int | None = 8,
    processing_time: str | None = None,
    min_batches: int = 2,
    no_data_batches: bool = True,
) -> DataFrame:
    """Execute a streaming DataFrame with trigger(availableNow) into an
    in-memory table; returns the table as a batch DataFrame.

    ``processing_time`` switches the query to a WALL-CLOCK
    ``trigger(processingTime=...)`` — the reference container's fixed
    batch interval (OpContainer.java:47-49, a 10 s Duration) — and
    changes the completion contract: the query runs until
    ``min_batches`` micro-batches have fired (liveness), then stops;
    ``timeout_sec`` still bounds the wait. availableNow replays are
    the DETERMINISTIC form used by every hash-certified key; the
    processing-time path exists for cadence-driven production runs
    and is witnessed by ``stream_rate_smoke`` + the trigger liveness
    test.

    ``timeout_sec`` bounds the replay (partial results are an error,
    never silently returned); None defers to
    ``STREAMINGDEMO_STREAM_TIMEOUT`` (default 300 — ample at the
    fixture sfs, raised by the large-corpus sweeps where the same
    replays legitimately run long).

    ``state_partitions`` overrides shuffle partitions for the stream's
    lifetime: stateful-operator parallelism is fixed at first
    checkpoint, and at replay volumes 32 state-store partitions per
    micro-batch are pure task overhead. On a cluster, size this to the
    stream's key cardinality instead.

    The state-store backend is the session's
    ``spark.sql.streaming.stateStore.providerClass`` (read at query
    start and pinned into the checkpoint): Spark's HDFS-backed default
    keeps state on the executor heap, and a deployment with large
    state sets the RocksDB provider there.

    ``no_data_batches=False`` disables Spark's trailing no-data
    micro-batch (``spark.sql.streaming.noDataMicroBatches.enabled``)
    for this stream. Only safe for keys that PROVE the final batch
    emits nothing they keep — e.g. ``stream_stream_outer_join``, whose
    real evictions all happen in the second flush-sentinel's (data)
    batch and whose no-data batch emits only the sentinel rows the
    caller strips; watermark aggregates and session keys RELY on the
    no-data batch for their final emission and must leave this True.
    """
    if timeout_sec is None:
        timeout_sec = int(
            os.environ.get("STREAMINGDEMO_STREAM_TIMEOUT", "300")
        )
    spark: SparkSession = df.sparkSession
    name = f"mem_{uuid.uuid4().hex[:12]}"
    checkpoint = scratch_dir(prefix=f"ckpt_{name}_", dir=CHECKPOINT_ROOT)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    _NODATA_CONF = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev_nodata = spark.conf.get(_NODATA_CONF, None)
    if not no_data_batches:
        spark.conf.set(_NODATA_CONF, "false")
    try:
        writer = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
        )
        if processing_time is not None:
            writer = writer.trigger(processingTime=processing_time)
        else:
            writer = writer.trigger(availableNow=True)
        query = writer.start()
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
            # incomplete, and returning the partial memory table would
            # silently corrupt downstream equality assertions.
            elif not query.awaitTermination(timeout_sec):
                raise TimeoutError(
                    f"streaming replay exceeded {timeout_sec}s "
                    f"(query {name} stopped with partial results)"
                )
            global LAST_STREAM_PLAN, LAST_STREAM_PROGRESS
            try:
                LAST_STREAM_PLAN = _capture_plan(query)
            except Exception:  # plan capture is best-effort
                LAST_STREAM_PLAN = ""
            STREAM_PLANS[name] = LAST_STREAM_PLAN
            try:
                LAST_STREAM_PROGRESS = [
                    _progress_dict(p) for p in query.recentProgress
                ]
            except Exception:  # progress capture is best-effort
                LAST_STREAM_PROGRESS = []
        finally:
            query.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        if not no_data_batches:
            if prev_nodata is None:
                spark.conf.unset(_NODATA_CONF)
            else:
                spark.conf.set(_NODATA_CONF, prev_nodata)
    return spark.table(name)
