"""Streaming operator keys (SURVEY.md §2.E).

``win_time_*`` run Spark's time-window aggregation in batch mode (the
same ``window()`` expression works on static DataFrames — Structured
Streaming's batch/stream unification) and therefore carry a DuckDB
oracle. ``stream_*`` keys execute real ``writeStream`` micro-batches
over the deterministic replay sources in ``sources.py`` and are
rows-only checked (plus stronger pytest assertions in
``tests/test_streaming.py``).

State-boundedness (the 100 TB rule): every stateful query bounds its
state — watermarks GC window/session state; the one deliberate
exception (``stream_dedup`` without watermark) is called out in its
docstring.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streamingdemo_spark.io import load_tables, parquet_rows
from streamingdemo_spark.registry import dsum, osum, query
from streamingdemo_spark.scratch import scratch_dir
from streamingdemo_spark.streaming.runner import (
    CHECKPOINT_ROOT,
    replay,
    run_to_memory,
)
from streamingdemo_spark.streaming.sources import events_stream


@query(
    "win_time_tumbling",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS ws,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS we,
           COUNT(*) AS n, {osum("value", 4)} AS val_sum
    FROM events GROUP BY 1, 2
    """,
)
def win_time_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling window aggregate, batch mode."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", 4).alias("val_sum"))
        .select(
            F.col("w.start").alias("ws"), F.col("w.end").alias("we"), "n", "val_sum"
        )
    )


@query(
    "win_time_sliding",
    oracle=f"""
    SELECT time_bucket(INTERVAL '15 minutes', ts) - k * INTERVAL '15 minutes' AS ws,
           COUNT(*) AS n, {osum("value", 4)} AS val_sum
    FROM events, generate_series(CAST(0 AS BIGINT), CAST(3 AS BIGINT)) AS g(k)
    GROUP BY 1
    """,
)
def win_time_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1 h window every 15 min, batch mode — each event lands in
    4 overlapping windows."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", 4).alias("val_sum"))
        .select(F.col("w.start").alias("ws"), "n", "val_sum")
    )


@query(
    "stream_tumbling",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS ws,
           COUNT(*) AS n, {osum("value", 4)} AS val_sum
    FROM events GROUP BY 1
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tumbling aggregate executed as a real stream (complete mode).

    Oracle-checked: complete mode re-emits the full window table each
    micro-batch, so after an ``availableNow`` replay of the whole
    fixture the final memory table equals the batch aggregate — the
    stream/batch unification guarantee, checked value-for-value against
    DuckDB rather than merely rows-counted.

    files_per_trigger=4 → 2 micro-batches: the complete-mode result is
    chunk-count-independent by construction (the final table IS the
    full aggregate), and per-batch fixed cost dominates the replay
    wall (measured ~0.55 s/batch against ~25k rows of real work), so
    two batches exercise the cross-batch state merge at half the
    overhead — the trigger-sizing lever every production stream tunes
    (bigger micro-batches amortize fixed costs, same as Kafka
    maxOffsetsPerTrigger)."""
    stream = events_stream(spark, sf_dir, "ordered", files_per_trigger=4)
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", 4).alias("val_sum"))
        .select(F.col("w.start").alias("ws"), "n", "val_sum")
    )
    return run_to_memory(agg, output_mode="complete")


@query(
    "stream_sliding",
    oracle=f"""
    SELECT time_bucket(INTERVAL '15 minutes', ts) - k * INTERVAL '15 minutes' AS ws,
           COUNT(*) AS n, {osum("value", 4)} AS val_sum
    FROM events, generate_series(CAST(0 AS BIGINT), CAST(3 AS BIGINT)) AS g(k)
    GROUP BY 1
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1 h / 15 min windows as a real stream (complete mode):
    every event updates 4 overlapping window states per micro-batch.
    Same stream/batch unification check as ``stream_tumbling`` — after
    the deterministic replay the memory table must equal the batch
    sliding aggregate (``win_time_sliding``'s oracle, verbatim).
    files_per_trigger=4 → 2 micro-batches, per the ``stream_tumbling``
    trigger-sizing note (complete mode is chunk-count-independent)."""
    stream = events_stream(spark, sf_dir, "ordered", files_per_trigger=4)
    agg = (
        stream.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", 4).alias("val_sum"))
        .select(F.col("w.start").alias("ws"), "n", "val_sum")
    )
    return run_to_memory(agg, output_mode="complete")


@query(
    "stream_session",
    oracle=f"""
    WITH gaps AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
      SELECT user_id, ts, value,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM gaps
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events, {osum("value", 4)} AS val_sum
    FROM sess GROUP BY user_id, sid
    HAVING MAX(ts) + INTERVAL 30 MINUTE
           <= (SELECT MAX(ts) - INTERVAL 1 MINUTE FROM events)
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 30-minute gap per user (append mode —
    the only output mode Spark supports for streaming session aggs).

    Oracle-checked despite being a stateful streaming query: the replay
    is deterministic, so the emitted set is exactly the batch
    gaps-and-islands sessionization (new session when the gap to the
    previous event is >= 30 min; session_end = last event + 30 min)
    restricted to sessions the final watermark closed
    (session_end <= max(ts) - 1 min). Sessions still open at
    end-of-replay stay unemitted — correct append semantics, and the
    oracle's HAVING clause models precisely that.

    Watermark bounds session state; a session closes when no event for
    its user arrives within 30 minutes, and append emits it once the
    watermark passes its end (sessions still open at end-of-replay stay
    unemitted — correct append semantics).

    files_per_trigger=4 → 2 micro-batches: session-merge semantics are
    event-time-driven and chunk-independent; two batches exercise the
    cross-batch state merge at half the per-batch fixed cost.
    """
    stream = events_stream(spark, sf_dir, "ordered", files_per_trigger=4)
    agg = (
        stream.withWatermark("ts", "1 minute")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", 4).alias("val_sum"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "val_sum",
        )
    )
    return run_to_memory(agg, output_mode="append")


@query(
    "stream_watermark_late",
    oracle="""
    WITH main AS (SELECT ts, event_id FROM events WHERE event_id % 50 <> 0),
    cut AS (SELECT CAST(CEIL(COUNT(*) / 4.0) * 3 AS BIGINT) AS k FROM main),
    wm4 AS (SELECT ts - INTERVAL 10 MINUTE AS w
            FROM (SELECT ts, row_number() OVER (ORDER BY ts, event_id) AS rn
                  FROM main)
            WHERE rn = (SELECT k FROM cut)),
    wmf AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS w FROM events),
    kept AS (
      SELECT ts FROM events WHERE event_id % 50 <> 0
      UNION ALL
      SELECT ts FROM events WHERE event_id % 50 = 0
        AND date_trunc('hour', ts) + INTERVAL 1 HOUR > (SELECT w FROM wm4)
    )
    SELECT date_trunc('hour', ts) AS ws, COUNT(*) AS n
    FROM kept GROUP BY 1
    HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR <= (SELECT w FROM wmf)
    """,
)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data handling: the 'late' source holds back old rows until
    the final micro-batch, by which time the 10-minute watermark has
    passed them — they are dropped, and append mode emits only
    finalized windows. State is GC'd as the watermark advances.

    Oracle-checked: the replay is deterministic, so the drop set is a
    pure function of the chunking. Two distinct watermarks matter
    (Spark >= 3.4 splits them): late-row *filtering* in batch N uses the
    watermark committed at batch N's start — computed from data through
    batch N-2 — so the held rows (arriving in batch 4 of 5) are dropped
    against max(ts of the first 3 of 4 on-time chunks) - 10 min, kept
    only if their hour-window end still exceeds it; window *emission*
    uses the final watermark max(all ts) - 10 min (dropped rows still
    advance the watermark — the EventTimeWatermark node sees them before
    the state operator filters them). The oracle's main/cut/wm4/wmf CTEs
    model exactly that, reconstructing the chunk-2/3 boundary via
    row_number over the (ts, event_id) replay order.

    5 chunks / 1 per trigger: the 4 ordered batches advance the
    watermark past most held-back rows before the late batch delivers
    them — the same drop demonstration 9 batches gave at ~half the
    micro-batch fixed cost."""
    stream = events_stream(spark, sf_dir, "late", n_chunks=5, files_per_trigger=1)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    return run_to_memory(agg, output_mode="append")


@query(
    "stream_dedup",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value, props FROM events
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful exactly-once dedup on event_id: the 'dups' source
    re-delivers every 10th event in a later batch; dropDuplicates keeps
    first occurrences only.

    Oracle-checked: event_ids are unique in the fixture and re-delivered
    rows are byte-identical, so the deduped replay must equal the events
    table exactly.

    No watermark here deliberately: duplicates arrive arbitrarily late,
    so the dedup state must span the replay. In production, pair
    ``dropDuplicates`` with ``withWatermark`` sized to the maximum
    redelivery lag so state stays bounded.
    """
    stream = events_stream(spark, sf_dir, "dups", n_chunks=4, files_per_trigger=2)
    deduped = stream.dropDuplicates(["event_id"])
    return run_to_memory(deduped, output_mode="append")


@query(
    "stream_stream_static_join",
    oracle="""
    SELECT event_id, user_id,
           'c' || CAST(user_id % 5 AS VARCHAR) AS cohort,
           event_type, value
    FROM events
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join (B1 + C3 composition): enrich the event stream
    with a static user-cohort dimension. The static side is broadcast
    per micro-batch — no stream state at all.

    Oracle-checked: stateless stream-static enrichment over a full
    replay equals the same join run in batch; the cohort dim is a pure
    function of user_id, so the oracle inlines it."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    cohorts = (
        ev.select("user_id").distinct()
        .withColumn("cohort", F.concat(F.lit("c"), (F.col("user_id") % 5)))
    )
    stream = events_stream(spark, sf_dir, "ordered", files_per_trigger=4)
    joined = stream.join(F.broadcast(cohorts), "user_id").select(
        "event_id", "user_id", "cohort", "event_type", "value"
    )
    return run_to_memory(joined, output_mode="append")


@query(
    "stream_stream_join",
    oracle="""
    SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
           v.ts AS view_ts, p.ts AS purchase_ts,
           p.value AS purchase_value
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 60 MINUTE
    WHERE v.event_type = 'view' AND p.event_type = 'purchase'
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join: views joined to purchases
    by the same user within the following 60 minutes — the funnel query
    of clickstream pipelines, run as two real streams.

    Both sides carry a 1-minute watermark and the join condition bounds
    event time on both ends, so Spark can GC join state: a buffered view
    is dropped once the watermark passes view_ts + 60 min (state is
    bounded by rate × window, not by stream length — the 100 TB
    requirement for any stream-stream join).

    Oracle-checked: the replay is in event-time order, so no match ever
    arrives after its partner's state was evicted (a purchase at ts P
    joins views in [P - 60 min, P]; eviction has only reached
    watermark - 60 min ≈ P - 61 min) — the appended matches equal the
    batch theta-join exactly.
    """
    views = (
        events_stream(spark, sf_dir, "ordered", files_per_trigger=4)
        .filter(F.col("event_type") == "view")
        .withWatermark("ts", "1 minute")
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts").alias("view_ts"),
        )
    )
    purchases = (
        events_stream(spark, sf_dir, "ordered", files_per_trigger=4)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 minute")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    joined = views.join(
        purchases,
        F.expr(
            "user_id = p_user_id AND purchase_ts >= view_ts "
            "AND purchase_ts <= view_ts + INTERVAL 60 MINUTES"
        ),
    ).select(
        "view_id", "purchase_id", "user_id",
        "view_ts", "purchase_ts", "purchase_value",
    )
    return run_to_memory(joined, output_mode="append")


@query(
    "stream_stream_outer_join",
    oracle="""
    SELECT v.event_id AS view_id, v.user_id, v.ts AS view_ts,
           p.event_id AS purchase_id, p.ts AS purchase_ts,
           p.value AS purchase_value
    FROM events v LEFT JOIN events p
      ON v.user_id = p.user_id
     AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 60 MINUTE
    WHERE v.event_type = 'view'
    """,
)
def stream_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join: every view, joined to
    same-user purchases in the following 60 minutes — views with no
    purchase emit once with nulls, the abandonment signal the inner
    funnel join (``stream_stream_join``) cannot produce.

    The outer semantics are what make this key distinct: Spark can only
    emit the null-extended row once the watermark PROVES no match can
    still arrive (watermark > view_ts + 60 min), so unmatched rows
    trail the stream by the window length — and every view still open
    at end-of-replay would be dropped when the query stops. The replay
    therefore uses the 'flush' source variant, which appends two
    sentinel events past the last real event in separate triggers
    (files_per_trigger=1): the first advances the watermark through
    every open window, the second forces the one more micro-batch in
    which that watermark evicts and emits — a batch availableNow would
    otherwise never run. Pushdown subtlety (found the hard way): the
    event_type filters get pushed BELOW the EventTimeWatermark node by
    Catalyst, so a filter that drops the sentinel would blind the
    watermark to it — each side's filter therefore ADMITS the sentinel
    ('view'/'purchase' OR '__flush__'), and the sentinel rows (which
    never join a real row — reserved user_id -1) are stripped from the
    REPLAYED BATCH RESULT, where no streaming pushdown exists. The
    appended output then equals the batch LEFT JOIN exactly. State is
    GC'd by the same two-sided time bound as the inner join — bounded
    by rate × window at 100 TB.

    Reference anchor: composes the C1 SQL surface's outer-join shape
    (SparkSQLOperator.java:18-19) with the B-layer stream model.
    """
    views = (
        events_stream(spark, sf_dir, "flush", n_chunks=4, files_per_trigger=1)
        .withWatermark("ts", "1 minute")
        .filter(F.col("event_type").isin("view", "__flush__"))
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts").alias("view_ts"),
        )
    )
    purchases = (
        events_stream(spark, sf_dir, "flush", n_chunks=4, files_per_trigger=1)
        .withWatermark("ts", "1 minute")
        .filter(F.col("event_type").isin("purchase", "__flush__"))
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    joined = views.join(
        purchases,
        F.expr(
            "user_id = p_user_id AND purchase_ts >= view_ts "
            "AND purchase_ts <= view_ts + INTERVAL 60 MINUTES"
        ),
        "leftOuter",
    ).select(
        "view_id", "user_id", "view_ts",
        "purchase_id", "purchase_ts", "purchase_value",
    )
    # no_data_batches=False: by the time the trailing no-data batch
    # would run, the watermark set after sentinel 1 (max_ts + 2 h) has
    # already evicted-and-emitted every REAL unmatched view during
    # sentinel 2's data batch; the no-data batch could only emit the
    # sentinel views themselves (view_id -1/-2), which the filter
    # below strips. Skipping it drops one of five micro-batches of
    # pure fixed cost — oracle re-verified identical at 3 sfs.
    replayed = run_to_memory(joined, output_mode="append", no_data_batches=False)
    # batch-side sentinel strip — pushdown-safe here (see docstring)
    return replayed.filter(F.col("view_id") >= 0)


@query(
    "stream_stateful_custom",
    oracle=f"""
    SELECT user_id, COUNT(*) AS n_events, {osum("value", 4)} AS val_sum
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary per-key state via applyInPandasWithState: running event
    count + value sum per user, updated each micro-batch. Returns the
    final totals per user (the last update emitted).

    Oracle-checked: the final emission per user carries the complete
    replay's totals, and the scaled-int accumulator (value is exactly
    4-decimal) makes val_sum bitwise-equal to the oracle's decimal sum.

    State is one small struct per user — bounded by key cardinality; at
    100 TB add a state timeout for inactive keys.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = events_stream(spark, sf_dir, "ordered", files_per_trigger=4)

    def track(key, pdf_iter, state: GroupState):
        (user_id,) = key
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            # scaled-int accumulation: exact & order-insensitive
            cents += int((pdf["value"] * 10_000).round().astype("int64").sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "val_sum": [cents / 10_000.0]}
        )

    updates = stream.groupBy("user_id").applyInPandasWithState(
        track,
        outputStructType="user_id long, n_events long, val_sum double",
        stateStructType="n long, cents long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    mem = run_to_memory(updates, output_mode="update")
    # Reduce the update-mode emission log to the final emission per user
    # ATOMICALLY: max over a (n_events, val_sum) struct orders by
    # n_events (strictly monotone — every micro-batch adds rows) and
    # carries the matching val_sum from that same emission. Independent
    # per-column maxes would pair fields from different emissions
    # whenever val_sum is non-monotone (negative values).
    last = F.max(F.struct("n_events", "val_sum")).alias("s")
    return (
        mem.groupBy("user_id")
        .agg(last)
        .select(
            "user_id",
            F.col("s.n_events").alias("n_events"),
            F.col("s.val_sum").alias("val_sum"),
        )
    )


@query(
    "stream_kafka_smoke",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value, props,
           CAST(FLOOR(value / 100) AS BIGINT) AS value_bucket
    FROM events
    """,
)
def stream_kafka_smoke(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source→transform→sink wiring behind the operator registry (the
    KafkaInput → AddField → KafkaOutput pipeline of the reference,
    ``OpContainer`` + stubs). No broker in this environment, so the
    transport is the file-stream source — but the Kafka WIRE FORMAT
    runs for real: every record passes through ``kafka_loopback``,
    which applies kafka_sink's exact JSON serialization followed by
    kafka_source's exact parse (binary value, microsecond timestamps,
    shortest-round-trip doubles). With a broker, the loopback node is
    replaced by the real kafka_sink → kafka_source pair — pure config,
    which is exactly the reference's operator-container contract.

    Oracle-checked: the full replay through serialize→deserialize→
    add-field equals the batch projection — so a wire-format defect
    (truncated timestamp, lossy double, field misorder) fails the
    value hash, not just a row count."""
    from streamingdemo_spark.operators import run_pipeline
    from streamingdemo_spark.streaming.sources import EVENTS_SCHEMA, _build

    src_dir = _build(spark, sf_dir, "ordered", 8)
    ports = run_pipeline(
        spark,
        {
            "operators": [
                {
                    "name": "kafkaInput",
                    "op": "stream_parquet_source",
                    "params": {"path": src_dir, "schema": EVENTS_SCHEMA},
                },
                {
                    "name": "wire",
                    "op": "kafka_loopback",
                    "params": {"schema": EVENTS_SCHEMA},
                    "inputs": {"in": "kafkaInput.out"},
                },
                {
                    "name": "addField",
                    "op": "add_field",
                    "params": {
                        "name": "value_bucket",
                        "expr": "CAST(FLOOR(value / 100) AS BIGINT)",
                    },
                    "inputs": {"in": "wire.out"},
                },
            ]
        },
    )
    return run_to_memory(ports["addField.out"], output_mode="append")


@query(
    "stream_foreach_batch",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value, props FROM events
    """,
)
def stream_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink: each micro-batch appends to a parquet target
    tagged with its epoch; the read-back dedups on event_id, showing
    the idempotent-merge pattern for exactly-once semantics on
    re-delivery (the 'dups' source re-sends 10% of events).

    Oracle-checked: after the idempotent merge the target must equal the
    events table exactly (unique event_ids, byte-identical re-sends).

    This is the production escape hatch when a sink has no native
    transactional support — MERGE/upsert per epoch keyed on a stable
    id. State lives in the target table, not the stream.
    """
    out = scratch_dir(prefix="feb_sink_") + "/events_merged"
    stream = events_stream(spark, sf_dir, "dups", n_chunks=4, files_per_trigger=2)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.withColumn("epoch", F.lit(epoch_id))
            .write.mode("append")
            .parquet(out)
        )

    replay(stream.writeStream.foreachBatch(sink), spark)
    return (
        spark.read.parquet(out)
        .orderBy("epoch")
        .dropDuplicates(["event_id"])
        .drop("epoch")
    )


@query("stream_rate_smoke")  # rows-only: wall-clock-driven source
def stream_rate_smoke(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4 processing-time trigger on a true unbounded source: the rate
    source emits rows on a wall-clock schedule; the query runs two
    1-second micro-batches (the engine form of the reference's fixed
    10 s batch interval, OpContainer.java:47-49) and stops. Asserts
    only liveness — wall-clock sources are inherently nondeterministic.

    FINAL CONTRACT: permanently rows-only — row count is a function
    of wall-clock scheduling jitter by the SOURCE's definition, so no
    replay (DuckDB or otherwise) can be value-equal; the key's claim
    is liveness of the processing-time trigger path, and every
    deterministic facet of B4 (availableNow batching, epoch
    semantics, exactly-once sinks) is hash-certified by the other
    streaming keys.
    """
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 50).load()
        .withColumn("bucket", F.col("value") % 10)
    )
    # through the shared runner so the cadence path is the SAME code
    # every other streaming key exercises, not a hand-rolled sink
    return run_to_memory(
        stream,
        timeout_sec=30,
        processing_time="1 second",
        min_batches=2,
    )


def _anomaly_screen(key, pdf_iter, state):
    """Per-series trailing-24 3σ screen (see ``stream_anomaly``).

    Module-level so the checkpoint-resume test drives the IDENTICAL
    state function the query key uses."""
    import numpy as np

    (etype,) = key
    buf = list(state.get[0]) if state.exists else []
    # Concatenate ALL Arrow chunks before sorting: a group whose
    # micro-batch exceeds arrow.maxRecordsPerBatch arrives as several
    # chunks in arbitrary post-shuffle order, and a per-chunk sort
    # would screen events against the wrong window and hand a wrong
    # ring buffer to the next batch. Memory is bounded by the group's
    # micro-batch size (the same bound the prefix sums already
    # require).
    chunks = list(pdf_iter)
    if chunks:
        # (ts, event_id), not event_id alone: the screen's window is
        # defined over ARRIVAL order, and the replay contract orders
        # arrival by (ts, event_id). The two coincide only while
        # event ids happen to be ts-monotone — true of the pristine
        # fixture, broken by any id-assignment scheme that isn't
        # globally time-ordered (sharded ingestion, the sf1 probe's
        # replica offsets). The oracle windows by the same pair.
        pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
        vals = pdf["value"].to_numpy(dtype=np.float64)
        if np.isnan(vals).any():
            # NaN would astype() into undefined int64 garbage and
            # silently poison 24 subsequent verdicts — fail loudly;
            # the batch-equivalence contract assumes non-null values.
            raise ValueError("stream_anomaly: NULL/NaN value column")
        x = np.floor(vals * 10000.0 + 0.5).astype(np.int64)
        # Prefix sums run over SEGMENTS of <= 2^16 rows, each seeded by
        # the trailing-24 carry, so cumsum(x²) stays within int64 for
        # ANY micro-batch size (one global cumsum over a ~1M-row batch
        # at the sf10 corpus genuinely exceeds 2^63 — len·max² ≈
        # 2.7e19; the window itself only ever looks 24 back, so the
        # segmentation is exact, the same algebra as the cross-batch
        # carry). numpy int64 wraps silently, hence the loud per-
        # segment guard: cumsum(arr²) <= len(arr)·max² plus the window
        # algebra's 9·n·sq <= 5184·max² (Python ints — the check
        # itself cannot wrap). With 2^16-row segments it fires only
        # for |value| beyond ~3.7e4 full units.
        seg_len = 1 << 16
        ns, flags = [], []
        for s in range(0, len(x), seg_len):
            xs = x[s : s + seg_len]
            m = len(buf)
            arr = np.concatenate([np.asarray(buf, dtype=np.int64), xs])
            mx = int(np.abs(arr).max()) if arr.size else 0
            if (len(arr) + 5184) * mx * mx >= 2**63:
                raise ValueError(
                    "stream_anomaly: segment exceeds int64 prefix-sum"
                    f" bound (n={len(arr)}, max|x|={mx}); rescale value"
                )
            c1 = np.concatenate([[0], np.cumsum(arr)])
            c2 = np.concatenate([[0], np.cumsum(arr * arr)])
            idx = np.arange(len(xs)) + m
            lo = np.maximum(0, idx - 24)
            n = idx - lo
            su = c1[idx] - c1[lo]
            sq = c2[idx] - c2[lo]
            dev = xs * n - su
            ns.append(n)
            flags.append(
                (n >= 12) & (dev * dev > 9 * (n * sq - su * su))
            )
            buf = arr[-24:].tolist()
        yield pd.DataFrame(
            {
                "event_id": pdf["event_id"].to_numpy(),
                "event_type": etype,
                "n_window": np.concatenate(ns).astype("int32"),
                "is_anomaly": np.concatenate(flags),
            }
        )
    state.update((buf,))


def apply_anomaly_screen(stream: DataFrame) -> DataFrame:
    """Attach the stateful anomaly screen to any events-shaped stream."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return stream.groupBy("event_type").applyInPandasWithState(
        _anomaly_screen,
        outputStructType=(
            "event_id long, event_type string, n_window int, is_anomaly boolean"
        ),
        stateStructType="buf array<long>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@query(
    "stream_anomaly",
    oracle="""
    WITH u AS (
      SELECT event_id, event_type, ts,
             CAST(FLOOR(value * 10000 + 0.5) AS BIGINT) AS x
      FROM events
    ),
    win AS (
      SELECT event_id, event_type, x,
             COUNT(x) OVER w AS n,
             CAST(COALESCE(SUM(x) OVER w, 0) AS BIGINT) AS su,
             CAST(COALESCE(SUM(x * x) OVER w, 0) AS BIGINT) AS sq
      FROM u
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, event_type,
           CAST(n AS INT) AS n_window,
           (n >= 12 AND
            (x * n - su) * (x * n - su) > 9 * (n * sq - su * su))
             AS is_anomaly
    FROM win
    """,
)
def stream_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming 3σ anomaly screen: the stateful twin of the batch
    ``ext_ts_anomaly`` — per series, applyInPandasWithState keeps the
    trailing-24 ring buffer of integer-quantized values; every arriving
    event is flagged against the window of events BEFORE it, then
    enters the buffer.

    Oracle = the batch trailing-window SQL over the full fixture:
    because the replay is ordered and the state hand-off is exact
    integer arithmetic, the stream's per-event verdicts equal the
    batch window's bit-for-bit — the strongest stream≍batch statement
    in the suite (per-ROW stateful output, not an aggregate).

    In-batch math is vectorized (prefix sums over buffer+batch, no
    per-row Python); state per key is exactly 24 longs. The prefix
    sums run in 2^16-row SEGMENTS seeded by the trailing-24 carry
    (exact — the window never looks further back), so Σx² stays
    within int64 for any micro-batch size; the sf10 sweep's ~1M-row
    batches tripped the global-cumsum bound and motivated the
    segmentation. A loud per-segment guard remains for absurd value
    scales (|value| beyond ~3.7e4 full units).
    """
    stream = events_stream(spark, sf_dir, "ordered", files_per_trigger=4)
    flags = apply_anomaly_screen(stream)
    # update mode, but each event_id is emitted exactly once (each row
    # is screened in the micro-batch it arrives) — the memory table IS
    # the per-event verdict set, no reduction needed.
    return run_to_memory(flags, output_mode="update")


@query(
    "snk_stream_parquet",
    oracle="""
    SELECT event_id, user_id, event_type, value,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
    FROM events
    """,
)
def snk_stream_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming parquet FILE sink with checkpointed exactly-once
    semantics — the durable-output half the memory-sink keys don't
    exercise: each micro-batch commits its files through the sink's
    ``_spark_metadata`` transaction log, and a reader of the output
    directory sees only committed files, so a crashed/restarted query
    can never double-expose a batch (the reference's HDFS-output
    analogue, done the Structured Streaming way).

    Oracle-checked end-to-end: replay → stream projection → file sink
    → batch read-back equals the batch SQL over the fixture. At scale,
    partition the sink path (``partitionBy``) and size
    ``files_per_trigger`` so each commit is a few well-sized files,
    not thousands of small ones.
    """
    stream = events_stream(spark, sf_dir, "ordered", files_per_trigger=4)
    proj = stream.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.date_trunc("day", F.col("ts")).alias("day"),
    )
    out = scratch_dir(prefix="snk_stream_parquet_")
    replay(proj.writeStream.format("parquet").option("path", out), spark)
    return spark.read.parquet(out)


def _has_tws_protobuf() -> bool:
    """transformWithState's Python state protocol speaks protobuf; the
    driver-side schema worker dies with an ImportError without it
    (observed: google.protobuf.descriptor missing in this container).
    Gate the key so it registers only where it can actually run —
    same capability-gating convention as the PIL-less multimodal
    decode."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def _make_tws_processor():
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState(
                "totals", "n long, cents long"
            )

        def handleInputRows(self, key, rows, timerValues):
            prev = self._totals.get() if self._totals.exists() else (0, 0)
            n, cents = prev
            for pdf in rows:
                n += len(pdf)
                cents += int(
                    (pdf["value"] * 10_000).round().astype("int64").sum()
                )
            self._totals.update((n, cents))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "val_sum": [cents / 10_000.0],
                }
            )

        def close(self) -> None:
            pass

    return RunningTotals()


def _register_tws():
    if not _has_tws_protobuf():  # pragma: no cover - env-dependent
        return None
    return query(
        "stream_tws_custom",
        oracle=f"""
        SELECT user_id, COUNT(*) AS n_events, {osum("value", 4)} AS val_sum
        FROM events GROUP BY user_id
        """,
    )


_tws_decorator = _register_tws()


def stream_tws_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key running totals via ``transformWithStateInPandas`` —
    Spark 4's successor to applyInPandasWithState: a StatefulProcessor
    CLASS with an explicit lifecycle (init/handleInputRows/close) and
    NAMED, individually-typed state primitives (value/list/map state,
    timers, TTL) instead of one monolithic state tuple. Same semantics
    as ``stream_stateful_custom`` (exact scaled-int totals per user),
    same oracle — so the two APIs are pinned equivalent on identical
    input, and a migration between them is provably behavior-neutral.

    Why it matters at 100 TB: named state composes (add a list-state
    event buffer without repacking the tuple), and TTL/timers are
    first-class — the production knobs for unbounded key spaces. State
    here is one 2-long struct per user, bounded by key cardinality.
    """
    stream = events_stream(spark, sf_dir, "ordered", files_per_trigger=4)
    updates = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_make_tws_processor(),
        outputStructType="user_id long, n_events long, val_sum double",
        outputMode="Update",
        timeMode="None",
    )
    # transformWithState requires the RocksDB state store (the 100 TB
    # state backend — spillable, incremental-checkpoint); scope it to
    # this query and restore the session default after.
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(prov_key, None)
    spark.conf.set(
        prov_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        mem = run_to_memory(updates, output_mode="update")
    finally:
        if prev is None:
            spark.conf.unset(prov_key)
        else:
            spark.conf.set(prov_key, prev)
    last = F.max(F.struct("n_events", "val_sum")).alias("s")
    return (
        mem.groupBy("user_id")
        .agg(last)
        .select(
            "user_id",
            F.col("s.n_events").alias("n_events"),
            F.col("s.val_sum").alias("val_sum"),
        )
    )


if _tws_decorator is not None:  # pragma: no cover - env-dependent
    stream_tws_custom = _tws_decorator(stream_tws_custom)


# test introspection: the last run's (source, partials, checkpoint)
# dirs, so tests can assert the second run really was incremental
_LAST_INCREMENTAL: dict[str, str] = {}


@query(
    "stream_incremental_agg",
    oracle=f"""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
           {osum("value", 4)} AS total_value
    FROM events GROUP BY event_type
    """,
)
def stream_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance: a foreachBatch
    stream appends per-epoch PARTIAL aggregates (count + integer-unit
    sum per event_type) to a target table, across TWO separate
    ``availableNow`` runs sharing one checkpoint — run 1 sees half the
    source files, new files land, run 2 resumes from the checkpoint
    and processes ONLY the new files. The read-back folds the partials
    into the final aggregate, which must hash-equal the batch
    aggregate over the full events table.

    This is the nightly-refresh pattern for aggregate tables at
    100 TB: never re-scan history — each refresh appends
    group-cardinality-sized partials for the new data only (counts and
    integer-unit sums are mergeable, the same algebra as map-side
    partial combine), and compaction of the partial log is a
    group-sized batch job. Restart safety comes from the checkpoint
    (consumed files are never re-aggregated) plus per-epoch
    idempotence (an epoch re-run overwrites its own partials, keyed by
    epoch id — same discipline as ``stream_foreach_batch``'s merge).
    """
    import os

    from streamingdemo_spark.streaming.sources import (
        EVENTS_SCHEMA,
        replay_in_two_arrivals,
    )

    target = os.path.join(scratch_dir(prefix="inc_tgt_"), "partials")
    ckpt = scratch_dir(prefix="ckpt_inc_", dir=CHECKPOINT_ROOT)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("partial_n"),
                F.sum(
                    F.floor(F.col("value") * 10000 + F.lit(0.5))
                ).alias("partial_units"),
            )
            .withColumn("epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            # epoch-partitioned overwrite = per-epoch idempotence on
            # re-delivery after a crash between sink and commit
            .partitionBy("epoch")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(target)
        )

    def run(src: str) -> None:
        stream = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        replay(stream.writeStream.foreachBatch(sink), spark, checkpoint=ckpt)

    src = replay_in_two_arrivals(spark, sf_dir, 4, run)
    _LAST_INCREMENTAL.update(source=src, partials=target, checkpoint=ckpt)
    partials = spark.read.parquet(target)
    return partials.groupBy("event_type").agg(
        F.sum("partial_n").alias("n_events"),
        (F.sum("partial_units").cast("double") / F.lit(10000.0)).alias(
            "total_value"
        ),
    )


@query(
    "stream_trending",
    oracle="""
    WITH counts AS (
      SELECT date_trunc('hour', ts) AS ws, event_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT ws, event_type, n, rnk FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY ws
                     ORDER BY n DESC, event_type) AS INT) AS rnk
      FROM counts)
    WHERE rnk <= 3
    """,
)
def stream_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming trending query: top-3 event types per hourly window —
    the 'what's hot right now' product query. Ranking over a streaming
    aggregate is unsupported inside the stream (windows-on-aggregates
    need a second stateful stage), so this uses the production
    two-stage shape: the STREAM maintains the per-(window, type)
    counts (complete-mode state, bounded by windows × types); the
    RANKING runs as a batch window over the emitted result table each
    refresh — exactly how serving layers read a continuously-updated
    aggregate. After the deterministic full replay, the ranked output
    must hash-equal the all-batch computation.
    files_per_trigger=4 → 2 micro-batches, per the ``stream_tumbling``
    trigger-sizing note (complete mode is chunk-count-independent).
    """
    stream = events_stream(spark, sf_dir, "ordered", files_per_trigger=4)
    counts = (
        stream.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
    )
    table = run_to_memory(counts, output_mode="complete")
    from pyspark.sql.window import Window

    rank_w = Window.partitionBy("ws").orderBy(
        F.desc("n"), F.asc("event_type")
    )
    return (
        table.withColumn("rnk", F.row_number().over(rank_w))
        .filter(F.col("rnk") <= 3)
    )


@query(
    "stream_windowed_distinct",
    oracle="""
    SELECT date_trunc('hour', ts) AS ws,
           COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY 1
    """,
)
def stream_windowed_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct users per hourly window, as a real stream — the
    per-window cardinality question (hourly active users) that
    ``approx_count_distinct`` only estimates. The distinct set is
    carried as aggregation state (``collect_set`` per window), so one
    stateful operator does the whole job — no dropDuplicates→aggregate
    chain, which would stack two stateful operators and hit the
    multi-stateful-operator restrictions.

    State bound: windows × distinct-users-per-window. That is the
    honest cost of EXACT streaming cardinality — at 100 TB with
    unbounded key domains, cap it with a watermark (evicts closed
    windows' sets) or fall back to the mergeable sketches
    (``agg_hll_mergeable``) when estimates suffice; the fixture's
    150-user domain keeps the set trivially small here.

    Oracle-checked: after the deterministic availableNow replay the
    complete-mode table equals the batch COUNT(DISTINCT) per hour,
    value-for-value.
    files_per_trigger=4 → 2 micro-batches, per the ``stream_tumbling``
    trigger-sizing note (complete mode is chunk-count-independent).
    """
    stream = events_stream(spark, sf_dir, "ordered", files_per_trigger=4)
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.size(F.collect_set("user_id")).cast("long").alias("n_users"))
        .select(F.col("w.start").alias("ws"), "n_users")
    )
    return run_to_memory(agg, output_mode="complete")


@query(
    "stream_update_mode",
    oracle="""
    SELECT date_trunc('hour', ts) AS ws, COUNT(*) AS n
    FROM events GROUP BY 1
    """,
)
def stream_update_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE output mode — the third output-mode semantics next to
    append (``stream_watermark_late``) and complete
    (``stream_tumbling``): each micro-batch emits ONLY the window
    rows whose state CHANGED in that batch, so a downstream upsert
    sink (foreachBatch MERGE) receives deltas instead of the full
    table — the bandwidth-correct mode when the window set is large
    and each batch touches few windows.

    The memory sink therefore accumulates SEVERAL versions of each
    window (one per batch that touched it). The key reconciles them
    the way a real upsert consumer would — keep the latest version
    per key — exploiting that a count under replay is MONOTONE: the
    maximum emitted count per window IS its final value. After the
    deterministic availableNow replay that reconciliation must equal
    the batch aggregate exactly; it also implicitly proves update
    mode re-emitted every window's final state (a missing final
    emission would leave a stale smaller count and fail the hash).
    files_per_trigger=4 → 2 micro-batches: the max-per-window
    reconciliation is chunk-count-independent (counts are monotone
    under replay, so the max emitted version is the final value at
    ANY batching), and per-batch fixed cost dominates this replay.
    """
    stream = events_stream(spark, sf_dir, "ordered", files_per_trigger=4)
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    emitted = run_to_memory(agg, output_mode="update")
    return emitted.groupBy("ws").agg(F.max("n").alias("n"))


@query(
    "stream_timeout_sessions",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN epoch_us(ts)
                    - LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id)
                  > 3600000000 OR
                  LAG(ts) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sess AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id
                                    ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
             / 10000.0 AS val_sum
    FROM sess GROUP BY user_id, sid
    """,
)
def stream_timeout_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via GroupState EVENT-TIME TIMEOUT — the state-
    expiry semantics the other stateful keys don't exercise: a user's
    open session lives in state with a timeout set to last_event +
    gap, and when the WATERMARK passes that point Spark invokes the
    function with hasTimedOut (no new data needed) so the session
    emits exactly when it provably cannot be extended. This is how
    production sessionizers emit promptly for idle users instead of
    waiting for their next visit; gap here is 1 hour.

    In-batch gaps split sessions inside the function (sorted scan);
    only the batch's LAST open session rides state. The availableNow
    subtlety from stream_stream_outer_join applies: the final
    sessions' timeouts only fire if the watermark advances past them,
    so the 'flush' replay appends far-future sentinel rows in their
    own trailing triggers (skipped by the function, but they advance
    the watermark) — and the sentinels must NOT be filtered before
    the watermark node, or Catalyst pushes the filter below it and
    blinds the watermark.

    Oracle-checked against the batch lag-gap sessionization: every
    session (start, end, count, exact integer-unit value sum) equals
    the batch construction — the timeout path emits precisely the
    sessions the gap definition implies, no extras, none missing.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = 3600 * 1_000_000
    # files_per_trigger=1 keeps the two flush sentinels in SEPARATE
    # trailing triggers: the first advances the watermark at its
    # batch's end, the second gives Spark a batch in which to invoke
    # the now-expired timeouts. Grouping them into one final batch
    # (e.g. 2/trigger over 8+2 files) leaves the last watermark
    # advance with no following batch -- the final 1 h of sessions
    # never time out (caught by the oracle on first run).
    # n_chunks=4 (2 real chunks + the 2 sentinels): the emitted set is
    # chunk-count-independent (in-batch gaps split inside the
    # function, cross-batch sessions merge through state, and the
    # sentinels time out EVERY remaining session — the oracle has no
    # watermark cutoff), while per-batch cost here is dominated by the
    # fixed Arrow/python-state plumbing of applyInPandasWithState per
    # state partition (measured 6-18 s/batch at sf0.01 with 1-row
    # batches under the old 8+2 chunks x 32 partitions). Two real
    # batches still exercise the cross-batch session merge.
    stream = events_stream(
        spark, sf_dir, "flush", n_chunks=4, files_per_trigger=1
    ).withWatermark("ts", "1 minute")

    def sessionize(key, pdf_iter, state: GroupState):
        (user_id,) = key
        out = []
        if state.hasTimedOut:
            s0, last, n, cents = state.get
            out.append((user_id, s0, last, n, cents))
            state.remove()
        else:
            cur = state.get if state.exists else None
            rows = []
            for pdf in pdf_iter:
                real = pdf[pdf["event_type"] != "__flush__"]
                if len(real):
                    rows.append(real[["ts", "value"]])
            if rows:
                batch = pd.concat(rows).sort_values("ts")
                for ts, value in zip(batch["ts"], batch["value"]):
                    us = int(pd.Timestamp(ts).value // 1000)
                    cents = int(round(float(value) * 10_000))
                    if cur is None:
                        cur = (us, us, 1, cents)
                    elif us - cur[1] > gap_us:
                        out.append((user_id, *cur))
                        cur = (us, us, 1, cents)
                    else:
                        cur = (cur[0], us, cur[2] + 1, cur[3] + cents)
            if cur is not None:
                state.update(cur)
                # emit when the watermark proves no extension possible
                state.setTimeoutTimestamp((cur[1] + gap_us) // 1000)
        if out:
            yield pd.DataFrame(
                {
                    "user_id": [o[0] for o in out],
                    "start_us": [o[1] for o in out],
                    "end_us": [o[2] for o in out],
                    "n_events": [o[3] for o in out],
                    "cents": [o[4] for o in out],
                }
            )

    sessions = stream.groupBy("user_id").applyInPandasWithState(
        sessionize,
        outputStructType=(
            "user_id long, start_us long, end_us long, "
            "n_events long, cents long"
        ),
        stateStructType="start_us long, last_us long, n long, cents long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    # no_data_batches=False: every real session's timeout fires during
    # sentinel 2's DATA batch (watermark is already max_ts + 2 h − 1 min
    # there, past any real last_event + 1 h gap) and sentinel rows never
    # create state (filtered inside sessionize), so the trailing
    # no-data batch can only scan empty state partitions — pure
    # applyInPandasWithState plumbing. Oracle re-verified at 3 sfs.
    mem = run_to_memory(sessions, output_mode="append", no_data_batches=False)
    return mem.select(
        "user_id",
        F.timestamp_micros(F.col("start_us")).alias("session_start"),
        F.timestamp_micros(F.col("end_us")).alias("session_end"),
        "n_events",
        (F.col("cents").cast("double") / F.lit(10000.0)).alias("val_sum"),
    )


@query(
    "stream_chained_windows",
    oracle="""
    WITH wmf AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS w FROM events),
    b AS (
      SELECT event_type,
             time_bucket(INTERVAL '10 minutes', ts) AS bs,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT date_trunc('hour', bs) AS hs, event_type,
           COUNT(*) AS n_buckets,
           CAST(SUM(n) AS BIGINT) AS total_n,
           CAST(MAX(n) AS BIGINT) AS max_bucket_n
    FROM b GROUP BY 1, 2
    HAVING date_trunc('hour', bs) + INTERVAL 1 HOUR <= (SELECT w FROM wmf)
    """,
)
def stream_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful operators in one streaming query — the
    multi-stateful pipeline Spark supports since 3.4 (and the shape
    every metrics rollup wants): a 10-minute tumbling per-type count
    feeding an hourly rollup (bucket count / total / max bucket) in
    the SAME query, no intermediate sink. Before multi-stateful
    support this required two jobs glued by a Kafka topic or a Delta
    table; here the inner aggregate's finalized windows flow straight
    into the outer aggregate, and BOTH states are watermark-GC'd.

    Mechanics: the inner aggregate emits a 10-min window only once
    the 10-minute watermark passes its end; the emitted row carries
    the window struct as its event-time column, so the outer
    ``window(col('w'), '1 hour')`` aggregate treats finalized buckets
    as timestamped events and finalizes each hour when the SAME
    watermark passes hour end. Spark's no-data final micro-batch
    advances the watermark to max(ts) - 10 min after the last file,
    flushing both levels without sentinels (the availableNow subtlety
    the two-operator keys like stream_stream_outer_join need
    sentinels for does not arise here: one watermark drives both
    evictions in the same batch).

    Oracle-checked (the only chained-stateful key with a value-exact
    oracle): the replay is deterministic, so the emitted set is the
    batch two-level rollup cut at the final watermark — hours whose
    end exceeds max(ts) - 10 min stay in state and must NOT appear.
    Pure integer counts; no floats anywhere.

    100 TB: state is windows x event_types at each level (the inner
    level dominates: 6 buckets/hour/type), both GC'd; the chained
    form halves end-to-end latency and removes the intermediate
    topic's storage and its at-least-once dedup burden.

    files_per_trigger=4 → 2 micro-batches: the emitted set is the
    two-level rollup cut at the FINAL watermark (which the no-data
    final batch applies to both levels in one batch, per above), so
    it is chunk-count-independent; fewer batches only cut the
    per-batch fixed cost.
    """
    stream = events_stream(spark, sf_dir, "ordered", files_per_trigger=4)
    inner = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    outer = (
        inner.groupBy(F.window(F.col("w"), "1 hour").alias("h"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum("n").alias("total_n"),
            F.max("n").alias("max_bucket_n"),
        )
        .select(
            F.col("h.start").alias("hs"),
            "event_type",
            "n_buckets",
            "total_n",
            "max_bucket_n",
        )
    )
    return run_to_memory(outer, output_mode="append")


def _stream_dedup_substring_oracle() -> str:
    from streamingdemo_spark.extensions.dedup import _winnow_sql
    from streamingdemo_spark.registry import opoly

    return f"""
    WITH {_winnow_sql()}
    SELECT {opoly("gram")} AS span_hash,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_occ
    FROM grams
    GROUP BY gram
    HAVING COUNT(DISTINCT doc_id) >= 2
    """


@query("stream_dedup_substring", oracle=_stream_dedup_substring_oracle())
def stream_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level substring dedup in the continuous-ingest shape
    the reference's container implies (OpContainer.java:47-49's
    always-on micro-batch loop): documents arrive as a stream, each
    micro-batch fingerprints its documents MAP-SIDE with the same
    winnowed 40-grams as the batch key (``ext_dedup_substring`` —
    the r6 Arrow-UDF selection, stateless, so it runs unchanged on an
    unbounded relation), and ONE stateful aggregate carries
    gram -> (doc_id set, occurrence count) across batches. After the
    deterministic availableNow replay the complete-mode table equals
    the batch key exactly, so the SAME DuckDB oracle hash-checks a
    real multi-batch streaming execution.

    State bound: one entry per distinct winnowed gram (~0.18 per
    corpus char) with its doc_id set — the honest cost of EXACT
    streaming substring dedup. At 100 TB, bound it the way the
    document-level sibling does: swap the doc_id set for the
    carried Bloom/count sketch of ``ext_dedup_incremental_bloom``
    (reports new-vs-seen per batch instead of exact doc lists) or
    age gram state out with a watermark on ingest time; the map-side
    winnowing stage is identical in all three variants.
    """
    from streamingdemo_spark.streaming.sources import documents_stream

    # files_per_trigger=2 → 2 micro-batches: complete mode makes the
    # final gram table chunk-count-independent, and the replay wall is
    # per-batch fixed cost + full-state re-emission per batch
    # (measured ~1.1 s/batch after the first), so two batches keep the
    # cross-batch gram-state merge at half the overhead.
    stream = documents_stream(spark, sf_dir, n_chunks=4, files_per_trigger=2)
    return run_to_memory(
        substring_dedup_agg(stream), output_mode="complete"
    )


def substring_dedup_agg(stream: DataFrame) -> DataFrame:
    """The unbounded dedup relation behind ``stream_dedup_substring``:
    map-side winnowing (stateless Arrow UDF + explode, below the
    shuffle) feeding ONE stateful gram aggregate. Map-side winnowing
    is the whole 100 TB story — a refactor that shuffles raw
    per-position rows would still pass the value hash — so
    tests/test_plans.py pins the executed plan shape (streaming plans
    can't be explained pre-start; the test replays the key and asserts
    on ``runner.LAST_STREAM_PLAN``). Factored out so a caller can
    compose the same relation over any (doc_id, text) stream."""
    from streamingdemo_spark.extensions.dedup import _winnowed_grams
    from streamingdemo_spark.registry import poly_hash

    return (
        _winnowed_grams(stream)
        .groupBy("gram")
        .agg(
            F.size(F.collect_set("doc_id")).cast("long").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .filter(F.col("n_docs") >= 2)
        .select(
            poly_hash(F.col("gram")).alias("span_hash"), "n_docs", "n_occ"
        )
    )


def _stream_dedup_embedding_oracle() -> str:
    from streamingdemo_spark.extensions.dedup import (
        _EMB_BUCKET_CAP,
        _EMB_DEEP_LEVELS,
        _refine_col,
        _sub_col,
        emb_banded_cte,
    )

    lv = _EMB_DEEP_LEVELS
    cap = _EMB_BUCKET_CAP
    rcols = ", ".join(_refine_col(k) for k in range(lv))
    n_wins = ",\n        ".join(
        f"SUM(n_vecs) OVER (PARTITION BY band_no, band_val"
        + "".join(f", {_refine_col(i)}" for i in range(k))
        + f") AS n{k}"
        for k in range(lv + 1)
    )
    over_all = " AND ".join(f"n{k} > {cap}" for k in range(lv + 1))
    sub_cases = []
    stopped = f"n0 <= {cap}"
    for k in range(lv):
        sub_cases.append(
            f"CASE WHEN {stopped} THEN CAST(-1 AS BIGINT)\n"
            f"                  ELSE {_refine_col(k)} END AS {_sub_col(k)}"
        )
        stopped = f"{stopped} OR n{k + 1} <= {cap}"
    subs_sql = ",\n             ".join(sub_cases)
    all_subs = ", ".join(_sub_col(k) for k in range(lv))
    group_nums = ", ".join(str(i + 1) for i in range(2 + lv))
    return f"""
    WITH corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    {emb_banded_cte(levels=lv)},
    fin AS (
      SELECT band_no, band_val, {rcols},
             COUNT(*) AS n_vecs,
             MIN(vec_id) AS lo_vec, MAX(vec_id) AS hi_vec
      FROM bands GROUP BY ALL
    ),
    g AS (
      SELECT *,
        {n_wins}
      FROM fin
    ),
    graded AS (
      SELECT band_no, band_val,
             {subs_sql},
             n_vecs, lo_vec, hi_vec
      FROM g
      WHERE NOT ({over_all})
    )
    SELECT band_no, band_val, {all_subs},
           CAST(SUM(n_vecs) AS BIGINT) AS n_vecs,
           MIN(lo_vec) AS lo_vec, MAX(hi_vec) AS hi_vec
    FROM graded GROUP BY {group_nums}
    HAVING SUM(n_vecs) >= 2
    """


@query("stream_dedup_embedding", oracle=_stream_dedup_embedding_oracle())
def stream_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming LSH INDEX MAINTENANCE — the semantic member of the
    streaming-dedup family (exact ids → ``stream_dedup``, substring
    grams → ``stream_dedup_substring``, embeddings → this key):
    vectors arrive as a stream, each micro-batch computes the
    data-derived banded sign sketch of ``ext_dedup_embedding``
    MAP-SIDE (the sketch is stateless integer-exact arithmetic, so it
    runs unchanged on an unbounded relation), and ONE stateful
    aggregate carries band-bucket occupancy across batches. The
    complete-mode table after the deterministic availableNow replay
    equals the batch bucket histogram exactly, so DuckDB hash-checks
    a real multi-batch streaming execution of the index build.

    Output: every candidate bucket of the GRADUATED index — (band_no,
    band_val, sub, sub2) with occupancy and id span, where sub/sub2
    are the refine-split coordinates an over-cap bucket graduates
    into (−1 at levels a bucket never needed — exactly the key the
    batch candidate join hashes on). The live state a production
    near-dup service probes on insert (a new vector pairs against
    only its buckets' members) carries the refine structure, so a
    prober applies the batch key's graduated cap discipline instead
    of dropping an over-cap bucket whole: a crowd-dense batch that
    pushes a bucket past the cap splits by the next level's refine
    value, level by level up to _EMB_DEEP_LEVELS, and only a bucket
    dense at EVERY level is dropped (the r12 batch fix extended here
    per the r12 verdict, deepened to four levels with the batch side
    after the r13 x1600 probe's drop-whole decomposition). The
    verify stage is deliberately
    NOT in the stream: at 100 TB it is a point lookup against this
    index per arrival (and the batch family certifies its math);
    folding all historical embeddings into stream state to verify
    in-stream would make state corpus-sized, the one thing an index
    build must never do. State here is one row per NON-EMPTY finest
    (band, band_val, refine_1..refine_levels) bucket — bounded by
    nb·corpus, never pair-sized; the graduated rollup
    (:func:`graduated_occupancy`, the weighted twin of the batch
    key's refine_capped_bands) runs AFTER the replay on the
    state-sized table, because chaining a second stateful windowed
    count onto a streaming aggregate is exactly the multi-stateful
    plan Structured Streaming forbids.

    Band width and count are fixed per index generation (derived from
    the corpus-size metadata count at plan time, the same [12, 28] /
    2-3 band ladders as the batch key): a production deployment
    re-indexes with a wider dial when the corpus outgrows it — the
    streaming query IS the re-index job.
    """
    from streamingdemo_spark.extensions.dedup import (
        _EMB_DEEP_LEVELS,
        _emb_band_bits,
        _emb_band_count,
        _refine_col,
        emb_bands_udf,
        graduated_occupancy,
    )
    from streamingdemo_spark.streaming.sources import embeddings_stream

    n = parquet_rows(sf_dir, "embeddings")  # footer metadata, no job
    bits = _emb_band_bits(n)
    nb = _emb_band_count(bits)
    lv = _EMB_DEEP_LEVELS
    # files_per_trigger=2 → 2 micro-batches: complete mode makes the
    # final bucket table chunk-count-independent; two batches keep the
    # cross-batch occupancy merge at half the per-batch fixed cost.
    stream = embeddings_stream(
        spark, sf_dir, n_chunks=4, files_per_trigger=2
    ).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    # the shared integer-exact matmul sketch (emb_bands_udf) is a
    # stateless scalar pandas UDF, so it runs unchanged per
    # micro-batch on the unbounded relation; refine values for every
    # graduated level ride along (r13: the batch side's deep levels —
    # the x1600 probe's drop-whole fix — carry through to the index,
    # so an insert-time prober can split a crowd-dense bucket as deep
    # as the batch candidate generator does)
    sk = stream.withColumn(
        "bvals", emb_bands_udf(bits, n_bands=nb, levels=lv)("embedding")
    )
    bands = sk.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    F.struct(
                        F.col("bvals")[b].alias("band_val"),
                        *[
                            F.col("bvals")[(1 + k) * nb + b].alias(
                                _refine_col(k)
                            )
                            for k in range(lv)
                        ],
                    )
                    for b in range(nb)
                ]
            )
        ).alias("band_no", "bv"),
    ).select("vec_id", "band_no", "bv.*")
    fin = bands.groupBy(
        "band_no", "band_val", *[_refine_col(k) for k in range(lv)]
    ).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min("vec_id").alias("lo_vec"),
        F.max("vec_id").alias("hi_vec"),
    )
    state = run_to_memory(fin, output_mode="complete")
    return graduated_occupancy(state, levels=lv)


_BOTTOMK_STREAM_K = 20


@query(
    "stream_sample_bottomk",
    oracle=f"""
    WITH hashed AS (
      SELECT event_id,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(
                 string_split(CAST(event_id AS VARCHAR) || '|bottomk', ''),
                 c -> CAST(ascii(c) AS BIGINT))),
               (a, b) -> (a * 31 + b) % 1000000007) AS h
      FROM events
    ),
    bot AS (SELECT * FROM hashed
            ORDER BY h, event_id LIMIT {_BOTTOMK_STREAM_K}),
    kth AS (SELECT MAX(h) AS hk FROM bot)
    SELECT event_id, h,
           ROW_NUMBER() OVER (ORDER BY h, event_id) AS rk,
           CAST(({_BOTTOMK_STREAM_K} - 1) AS BIGINT) * 1000000007 // hk
             AS n_est
    FROM bot CROSS JOIN kth
    """,
)
def stream_sample_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bottom-k sketch of ``agg_sample_bottomk`` maintained over a
    STREAM: each micro-batch's hashed rows merge with the persisted
    ≤ k-row sketch and the bottom-k survives — run across TWO separate
    ``availableNow`` runs sharing one checkpoint (run 2 consumes only
    files that landed after run 1), after which the sketch must
    hash-equal the batch bottom-k over the full events table.

    Why this shape matters at 100 TB: the sketch is a uniform
    reservoir-equivalent sample of EVERYTHING ever streamed, in k
    rows of state, with no watermark and no state-store growth — and
    the merge is IDEMPOTENT (merging the same batch twice is a no-op,
    since duplicate hashes collapse in the bottom-k), so at-least-once
    delivery after a crash needs no epoch bookkeeping at all — a
    strictly simpler recovery story than ``stream_incremental_agg``'s
    epoch-keyed overwrite. Sketch state rides through the driver
    (k rows — sketch state IS metadata); row data only ever moves
    through the per-batch aggregation.
    """
    import os
    import shutil

    from streamingdemo_spark.registry import poly_hash
    from streamingdemo_spark.streaming.sources import (
        EVENTS_SCHEMA,
        replay_in_two_arrivals,
    )

    sketch_dir = os.path.join(scratch_dir(prefix="botk_tgt_"), "sketch")
    ckpt = scratch_dir(prefix="ckpt_botk_", dir=CHECKPOINT_ROOT)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        batch_bot = (
            batch_df.select(
                "event_id",
                poly_hash(
                    F.concat(F.col("event_id").cast("string"),
                             F.lit("|bottomk"))
                ).alias("h"),
            )
            .orderBy("h", "event_id")
            .limit(_BOTTOMK_STREAM_K)
        )
        if os.path.isdir(sketch_dir):
            # previous sketch is <= k driver-sized rows: merge via
            # union + re-take; collect-free would re-read the dir we
            # are about to overwrite, so the k rows hop the driver
            prev = spark.read.parquet(sketch_dir).collect()
            merged = spark.createDataFrame(
                prev, "event_id bigint, h bigint"
            ).unionAll(batch_bot)
        else:
            merged = batch_bot
        (
            # dropDuplicates BEFORE the take: without it, re-delivery
            # of an already-merged batch would double its rows and
            # evict genuine tail entries — the dedup is precisely what
            # makes the merge idempotent under at-least-once delivery
            merged.dropDuplicates(["event_id"])
            .orderBy("h", "event_id")
            .limit(_BOTTOMK_STREAM_K)
            .write.mode("overwrite")
            .parquet(sketch_dir + "_next")
        )
        shutil.rmtree(sketch_dir, ignore_errors=True)
        os.rename(sketch_dir + "_next", sketch_dir)

    def run(src: str) -> None:
        stream = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        replay(stream.writeStream.foreachBatch(sink), spark, checkpoint=ckpt)

    replay_in_two_arrivals(spark, sf_dir, 4, run)
    bot = spark.read.parquet(sketch_dir)
    kth = bot.agg(F.max("h").alias("hk"))
    from pyspark.sql.window import Window

    w = Window.orderBy("h", "event_id")
    return (
        bot.crossJoin(F.broadcast(kth))
        .withColumn("rk", F.row_number().over(w))
        .select(
            "event_id",
            "h",
            "rk",
            F.expr(
                f"CAST({_BOTTOMK_STREAM_K} - 1 AS BIGINT) * 1000000007 DIV hk"
            ).alias("n_est"),
        )
    )


def _holt_oracle() -> str:
    from streamingdemo_spark.plans.behavior import HOLT_ORACLE_SQL

    return HOLT_ORACLE_SQL


@query("stream_ts_holt", oracle=_holt_oracle())
def stream_ts_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend smoothing maintained INCREMENTALLY over the
    event stream: per-user (level, trend) state carried across
    micro-batches via ``applyInPandasWithState`` — the continuous
    forecasting shape of ``plans.behavior.ext_ts_holt`` (same
    recursion, same init, same oracle).

    Unlike ``stream_stateful_custom``'s commutative count/sum state,
    Holt state is ORDER-SENSITIVE: correctness relies on the replay
    source's contract that chunks are (ts, event_id)-sorted and the
    file source processes them in order, so each user's points arrive
    in global time order; within a batch the UDF re-sorts its slice.
    The state machine handles the init straddle (a user's first two
    points may land in different batches): n=0 holds x1 only, n=1
    seeds (l, b) = (x2, x2 - x1), n>=2 applies the coupled update.
    The recursion runs on plain Python floats — IEEE doubles with the
    same literals and op order as the batch fold and the oracle's
    recursive CTE, so the final state is bit-identical and the
    STREAMING key hash-certifies against the same SQL. (The final
    ROUND(…, 6) presentation carries the engines' known midpoint
    divergence — see ext_ts_resample's r7 note — but unlike that
    key's small-denominator rational averages, a 50-step smoothing
    recursion lands within an ulp of an exact 1e-6 midpoint with
    ~2^-32 probability per value; the integer-grid rewrite is not
    worth replacing the documented plain-float recursion here.)

    At 100 TB: state is one 4-field struct per active series (add a
    ProcessingTimeTimeout to retire idle series); each micro-batch
    touches only arriving keys. The update-mode emission log reduces
    to the final state per key by the monotone n_obs max — the same
    atomic struct-max trick as ``stream_stateful_custom``.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from streamingdemo_spark.plans.behavior import HOLT_ALPHA, HOLT_BETA

    stream = events_stream(spark, sf_dir, "ordered", files_per_trigger=4)

    def track(key, pdf_iter, state: GroupState):
        (user_id,) = key
        n, l, b, x1 = state.get if state.exists else (0, 0.0, 0.0, 0.0)
        # Concatenate ALL Arrow chunks before sorting (the
        # _anomaly_screen rule): a group whose micro-batch slice
        # exceeds arrow.maxRecordsPerBatch arrives as several chunks
        # in arbitrary post-shuffle order, and a per-chunk sort feeds
        # the ORDER-SENSITIVE Holt fold out of time order. Caught by
        # the sf1 differential probe (87/15000 users straddled the
        # 10k-row chunk boundary and diverged); invisible at sf0.1
        # where no group slice spans a chunk.
        chunks = list(pdf_iter)
        if chunks:
            pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
            for x in pdf["value"].tolist():
                if n == 0:
                    x1 = x
                elif n == 1:
                    l = x
                    b = x - x1
                else:
                    l_new = HOLT_ALPHA * x + (1 - HOLT_ALPHA) * (l + b)
                    b = HOLT_BETA * (l_new - l) + (1 - HOLT_BETA) * b
                    l = l_new
                n += 1
        state.update((n, l, b, x1))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_obs": [n],
                "level": [l],
                "trend": [b],
            }
        )

    updates = stream.groupBy("user_id").applyInPandasWithState(
        track,
        outputStructType="user_id long, n_obs long, level double, trend double",
        stateStructType="n long, l double, b double, x1 double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    mem = run_to_memory(updates, output_mode="update")
    last = F.max(F.struct("n_obs", "level", "trend")).alias("s")
    rnd = lambda c: F.round(c, 6) + F.lit(0.0)  # noqa: E731
    return (
        mem.groupBy("user_id")
        .agg(last)
        .select(
            "user_id",
            F.col("s.n_obs").alias("n_obs"),
            rnd(F.col("s.level")).alias("level"),
            rnd(F.col("s.trend")).alias("trend"),
            rnd(F.col("s.level") + F.col("s.trend")).alias("forecast"),
        )
    )


from streamingdemo_spark.extensions.corpus import (  # noqa: E402
    BOOT_ORACLE_SQL,
    boot_ci,
    boot_weight_partials,
)


@query("stream_bootstrap_ci", oracle=BOOT_ORACLE_SQL)
def stream_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming leg of ``ext_bootstrap_ci``: Poisson-bootstrap
    replicate counters maintained over a live document feed. Each
    micro-batch contributes per-replicate PARTIAL sums (sum of Poisson
    weights, sum of weight * length) — the weights are row-local and
    additive across ANY partitioning of the corpus, so the partials
    fold to exactly the batch key's per-replicate totals and the SAME
    oracle hash-certifies both legs. This is continuous uncertainty
    monitoring: a curation feed keeps B live counters and can report a
    fresh CI for the corpus mean after every batch, never re-scanning
    history.

    Mechanics mirror ``stream_incremental_agg``: a ``foreachBatch``
    sink appends epoch-partitioned partials (dynamic partition
    overwrite = per-epoch idempotence on re-delivery) with one
    checkpointed ``availableNow`` run over the chunked document
    replay; the read-back folds partials and closes the CI with the
    batch key's interpolated percentile. State is B counters per
    epoch — O(B), never corpus-sized. The stream computes
    ``length(text)`` (== the fixture's n_chars, asserted in pytest),
    so both legs score the identical statistic.
    """
    import os

    from streamingdemo_spark.streaming.sources import documents_stream

    target = os.path.join(scratch_dir(prefix="boot_tgt_"), "partials")

    def partials(batch_df: DataFrame, epoch_id: int) -> None:
        (
            boot_weight_partials(
                batch_df.select(
                    "doc_id", F.length("text").alias("n_chars")
                )
            )
            .withColumn("epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .partitionBy("epoch")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(target)
        )

    replay(documents_stream(spark, sf_dir).writeStream.foreachBatch(partials), spark)

    per_rep = (
        spark.read.parquet(target)
        .groupBy("r")
        .agg(F.sum("p_n").alias("n_w"), F.sum("p_sum").alias("sum_w"))
        .select(
            "r",
            "n_w",
            "sum_w",
            (F.col("sum_w").cast("double") / F.col("n_w")).alias("mean_rep"),
        )
    )
    return boot_ci(per_rep)


from streamingdemo_spark.extensions.text import (  # noqa: E402
    GOPHER_ORACLE,
    gopher_rules_projection,
)


@query("stream_quality_gopher_gate", oracle=GOPHER_ORACLE)
def stream_quality_gopher_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality ruleset (``ext_quality_gopher_rules``,
    text.py) as a CONTINUOUS-INGEST micro-batch screen — the place a
    crawl pipeline actually runs it: documents arrive as a stream and
    each micro-batch evaluates the full rule battery map-side (the
    projection is stateless, so it runs unchanged on an unbounded
    relation — Structured Streaming's batch/stream unification),
    emitting the per-document keep/drop verdicts in append mode.

    The twin discipline (``stream_ts_holt`` pattern): the SAME
    expression tree (``gopher_rules_projection``) and the SAME DuckDB
    oracle certify both legs, so after the deterministic availableNow
    replay this key's multi-batch output must hash-equal the batch
    key — a real streaming execution earning a full value-hash row,
    not a rows-only smoke.

    100 TB/continuous shape: zero state, zero shuffle — the gate runs
    at ingest speed on each micro-batch and composes upstream of the
    stateful dedup stages (``stream_dedup_substring``), exactly where
    the published pipelines place their quality filters (filter before
    you fingerprint: the gate is O(chars) and cuts the dedup state for
    every document it drops).
    """
    from streamingdemo_spark.streaming.sources import documents_stream

    # files_per_trigger=2 → 2 micro-batches: the gate is stateless
    # append (every doc emits exactly once at any batching), so the
    # only thing chunk count buys is per-batch fixed cost.
    stream = documents_stream(spark, sf_dir, n_chunks=4, files_per_trigger=2)
    return run_to_memory(gopher_rules_projection(stream), output_mode="append")
