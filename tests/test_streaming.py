"""Streaming-layer assertions beyond rows-only (SURVEY §5.2):
stream results equal batch results on the same data; dedup removes the
injected duplicates; watermark drops the held-back late rows."""

from __future__ import annotations

import pyspark.sql.functions as F

from streamingdemo_spark.registry import QUERIES


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


class TestStreamBatchEquivalence:
    def test_stream_tumbling_equals_batch(self, spark, sf_dir):
        stream = QUERIES["stream_tumbling"](spark, sf_dir)
        batch = QUERIES["win_time_tumbling"](spark, sf_dir)
        s = _rows(stream, "ws", "n", "val_sum")
        b = _rows(batch.drop("we"), "ws", "n", "val_sum")
        assert s == b and len(s) > 0

    def test_stream_outer_join_equals_batch_left_join(self, spark, sf_dir):
        """The watermarked left-outer stream-stream join must emit
        every view exactly once — matched rows with their purchase,
        unmatched rows null-extended once the flush sentinels push the
        watermark past their window — and equal the batch LEFT JOIN."""
        out = QUERIES["stream_stream_outer_join"](spark, sf_dir)
        got = _rows(out, "view_id", "purchase_id")
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        ev = ev.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)")) \
            if dict(ev.dtypes).get("ts") == "bigint" else ev
        v = ev.filter("event_type = 'view'").select(
            F.col("event_id").alias("view_id"), "user_id",
            F.col("ts").alias("view_ts"))
        p = ev.filter("event_type = 'purchase'").select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"))
        want = _rows(
            v.join(p, F.expr(
                "user_id = p_user_id AND purchase_ts >= view_ts "
                "AND purchase_ts <= view_ts + INTERVAL 60 MINUTES"),
                "leftOuter"),
            "view_id", "purchase_id")
        assert got == want and len(got) > 0
        # the abandonment signal must actually be present
        assert any(p is None for _, p in got)

    def test_stream_static_join_preserves_rows(self, spark, sf_dir):
        joined = QUERIES["stream_stream_static_join"](spark, sf_dir)
        n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
        assert joined.count() == n_events
        assert joined.filter(F.col("cohort").isNull()).count() == 0


class TestStatefulStreams:
    def test_stream_dedup_removes_duplicates(self, spark, sf_dir):
        out = QUERIES["stream_dedup"](spark, sf_dir)
        n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
        assert out.count() == n_events  # 10% re-delivered, all dropped
        assert out.select("event_id").distinct().count() == n_events

    def test_stream_watermark_drops_late_rows(self, spark, sf_dir):
        out = QUERIES["stream_watermark_late"](spark, sf_dir)
        n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
        kept = out.agg(F.sum("n")).collect()[0][0]
        # the ~2% held-back rows are late beyond the watermark: most are
        # dropped, so kept < total but the vast majority survives
        assert kept < n_events
        assert kept > n_events * 0.9

    def test_stream_stateful_totals_match_batch(self, spark, sf_dir):
        out = QUERIES["stream_stateful_custom"](spark, sf_dir)
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        batch = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
        got = _rows(out, "user_id", "n_events")
        want = _rows(batch, "user_id", "n_events")
        assert got == want

    def test_stream_session_windows_have_gap_property(self, spark, sf_dir):
        out = QUERIES["stream_session"](spark, sf_dir)
        rows = out.collect()
        assert len(rows) > 0
        for r in rows:
            assert r["session_end"] > r["session_start"]

    def test_stream_session_equals_batch_sessionize(self, spark, sf_dir):
        """Stream ≍ batch equivalence: every session append-mode emits
        must be one of the lag-gap batch sessions, with the same event
        count and the session_window end = last event + 30 min gap.
        Append only emits sessions the final watermark closed, so the
        streamed set is a non-empty subset of the batch set."""
        import datetime as dt

        streamed = QUERIES["stream_session"](spark, sf_dir).collect()
        batch = {
            (r["user_id"], r["session_start"]): r
            for r in QUERIES["win_sessionize"](spark, sf_dir).collect()
        }
        assert 0 < len(streamed) <= len(batch)
        gap = dt.timedelta(minutes=30)
        for s in streamed:
            b = batch.get((s["user_id"], s["session_start"]))
            assert b is not None, f"streamed session not in batch: {s}"
            assert s["n_events"] == b["n_events"], (s, b)
            assert s["session_end"] == b["session_end"] + gap, (s, b)


class TestRunLogListener:
    def test_listener_records_stream_lifecycle(self, spark, sf_dir):
        """A8 streaming run-log: started -> progress(batches) ->
        terminated(success) captured for a real micro-batched query."""
        import json

        from streamingdemo_spark.streaming.listener import (
            attach_run_log,
            detach_run_log,
        )

        listener = attach_run_log(spark)
        try:
            QUERIES["stream_tumbling"](spark, sf_dir).count()
            import time

            for _ in range(20):  # listener bus is async; wait for drain
                kinds = {e["event"] for e in listener.entries}
                if {"started", "progress", "terminated"} <= kinds:
                    break
                time.sleep(0.5)
        finally:
            detach_run_log(spark, listener)
        kinds = [e["event"] for e in listener.entries]
        assert "started" in kinds and "terminated" in kinds
        progress = [e for e in listener.entries if e["event"] == "progress"]
        assert any(e["numInputRows"] > 0 for e in progress)
        # the full progress dict: batch phases and state-store timings
        assert all("triggerExecution" in e["durationMs"] for e in progress)
        assert any(
            "commitTimeMs" in op and "allUpdatesTimeMs" in op
            for e in progress
            for op in e["stateOperators"]
        )
        terminated = [e for e in listener.entries if e["event"] == "terminated"]
        assert all(e["status"] == "success" for e in terminated)
        json.loads("[" + ",".join(listener.to_json_lines().splitlines()) + "]")


class TestCheckpointResume:
    def test_checkpoint_resume_is_exactly_once(self, spark, sf_dir, tmp_path):
        """Stop a stream mid-input, restart from the same checkpoint
        with new files present: phase-1 files are not reprocessed and
        the final sink equals the full input exactly — the
        exactly-once resume guarantee a 100 TB pipeline leans on when
        an executor/driver dies mid-run."""
        from streamingdemo_spark.streaming.runner import replay
        from streamingdemo_spark.streaming.sources import (
            EVENTS_SCHEMA,
            replay_in_two_arrivals,
        )

        ckpt = str(tmp_path / "ckpt")
        out = str(tmp_path / "out")
        phase_rows = []

        def run_phase(staged):
            stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(staged)
            writer = stream.select("event_id", "user_id").writeStream
            replay(writer.format("parquet").option("path", out), spark,
                   checkpoint=ckpt, timeout_sec=120)
            phase_rows.append(spark.read.parquet(out).count())

        staged = replay_in_two_arrivals(spark, sf_dir, 8, run_phase)
        n_phase1 = phase_rows[0]

        total = spark.read.schema(EVENTS_SCHEMA).parquet(staged).count()
        got = spark.read.parquet(out)
        assert 0 < n_phase1 < total
        assert got.count() == total  # nothing dropped, nothing doubled
        assert got.select("event_id").distinct().count() == total


def test_anomaly_state_survives_checkpoint_resume(spark, sf_dir, tmp_path):
    """Stop the stateful anomaly screen mid-replay, restart from the
    same checkpoint with the rest of the input staged: the per-key
    ring buffers must restore exactly — the union of phase-1 and
    phase-2 verdicts equals the batch trailing-window computation over
    the full input, each event emitted exactly once. A lost or
    corrupted buffer would flip verdicts for the first 24
    post-resume events of every series."""
    from streamingdemo_spark.registry import QUERIES
    from streamingdemo_spark.streaming.queries import apply_anomaly_screen
    from streamingdemo_spark.streaming.runner import replay
    from streamingdemo_spark.streaming.sources import (
        EVENTS_SCHEMA,
        replay_in_two_arrivals,
    )

    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "verdicts")

    # memory sink can't recover from a checkpoint; foreachBatch can —
    # each micro-batch's verdicts append as plain parquet
    def sink(batch_df, _batch_id):
        batch_df.write.mode("append").parquet(out)

    phase_rows = []

    def run_phase(staged):
        stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(staged)
        writer = apply_anomaly_screen(stream).writeStream.foreachBatch(sink)
        replay(writer.outputMode("update"), spark, checkpoint=ckpt,
               timeout_sec=180)
        phase_rows.append(spark.read.parquet(out).count())

    replay_in_two_arrivals(spark, sf_dir, 8, run_phase)
    n_phase1 = phase_rows[0]

    rows = spark.read.parquet(out).collect()
    got = {}
    for r in rows:
        assert r["event_id"] not in got, "event emitted twice across phases"
        got[r["event_id"]] = (r["n_window"], r["is_anomaly"])

    expected = {
        r["event_id"]: (r["n_window"], r["is_anomaly"])
        for r in QUERIES["ext_ts_anomaly"](spark, sf_dir).collect()
    }
    assert 0 < n_phase1 < len(rows)
    assert got == expected


def test_anomaly_screen_as_container_operator(spark, sf_dir):
    """The registered anomaly_screen operator, driven through a
    source→screen pipeline spec, must produce the exact batch verdict
    set — the container integration of the stateful monitor."""
    from streamingdemo_spark.operators import run_pipeline
    from streamingdemo_spark.registry import QUERIES
    from streamingdemo_spark.streaming.runner import run_to_memory
    from streamingdemo_spark.streaming.sources import EVENTS_SCHEMA, _build

    src_dir = _build(spark, sf_dir, "ordered", 8)
    ports = run_pipeline(
        spark,
        {
            "operators": [
                {
                    "name": "events",
                    "op": "stream_parquet_source",
                    "params": {
                        "path": src_dir,
                        "schema": EVENTS_SCHEMA,
                        "max_files_per_trigger": 4,
                    },
                },
                {
                    "name": "screen",
                    "op": "anomaly_screen",
                    "inputs": {"in": "events.out"},
                },
            ]
        },
    )
    got = {
        r["event_id"]: (r["n_window"], r["is_anomaly"])
        for r in run_to_memory(ports["screen.out"], output_mode="update").collect()
    }
    expected = {
        r["event_id"]: (r["n_window"], r["is_anomaly"])
        for r in QUERIES["ext_ts_anomaly"](spark, sf_dir).collect()
    }
    assert got == expected


def test_stateful_stream_runs_on_rocksdb_state_store(spark, sf_dir):
    """The 100 TB state backend: the same applyInPandasWithState
    totals must produce identical results under the RocksDB state
    store provider (spillable, incremental-checkpoint) as under the
    default HDFS-backed provider — state logic must not depend on
    provider semantics. Setting the session's ``providerClass`` must
    actually engage the backend — pinned through the listener's
    state-operator metrics, not just equal results: the RocksDB
    provider reports rocksdb* custom metrics, the default reports
    none, and both hold the SAME number of state rows for the same
    replay (state CONTENT is provider-independent)."""
    import time

    from streamingdemo_spark.streaming.listener import (
        attach_run_log,
        detach_run_log,
    )

    key = "stream_stateful_custom"

    def run():
        listener = attach_run_log(spark)
        try:
            rows = _rows(
                QUERIES[key](spark, sf_dir), "user_id", "n_events", "val_sum"
            )
            # the listener bus is async: progress events can trail the
            # query's stop by a beat
            deadline = time.monotonic() + 15
            while time.monotonic() < deadline:
                ops = [
                    op
                    for e in listener.entries
                    for op in e.get("stateOperators", [])
                ]
                if ops and any(
                    e["event"] == "terminated" for e in listener.entries
                ):
                    break
                time.sleep(0.2)
        finally:
            detach_run_log(spark, listener)
        assert ops, "no state-operator metrics recorded"
        return rows, ops

    baseline, ops_hdfs = run()
    prov = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(prov, None)
    spark.conf.set(
        prov,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        got, ops_rocks = run()
    finally:
        if prev is None:
            spark.conf.unset(prov)
        else:
            spark.conf.set(prov, prev)
    assert got == baseline and len(got) > 0

    def metric_names(ops):
        return {m for op in ops for m in op["customMetrics"]}

    hdfs_metrics = metric_names(ops_hdfs)
    rocks_metrics = metric_names(ops_rocks)
    assert not any(m.startswith("rocksdb") for m in hdfs_metrics), (
        f"default provider unexpectedly reported rocksdb metrics: "
        f"{sorted(hdfs_metrics)[:5]}"
    )
    assert any(m.startswith("rocksdb") for m in rocks_metrics), (
        f"rocksdb run reported no rocksdb metrics — providerClass did "
        f"not engage: {sorted(rocks_metrics)[:5]}"
    )
    # same replay -> same final state volume, backend-independent
    assert max(op["numRowsTotal"] for op in ops_hdfs) == max(
        op["numRowsTotal"] for op in ops_rocks
    )


def test_incremental_agg_resumes_and_equals_batch(spark, sf_dir):
    """The second availableNow run must RESUME the checkpoint (epoch
    ids continue, only the newly-landed files are aggregated — each
    epoch holds exactly one file's rows), and the folded partials must
    equal the batch aggregate over the full events table."""
    import streamingdemo_spark.streaming.queries as sq

    out = {
        r["event_type"]: (r["n_events"], r["total_value"])
        for r in QUERIES["stream_incremental_agg"](spark, sf_dir).collect()
    }
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_total = ev.count()
    batch = {
        r["event_type"]: (r["n"], r["v"])
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.floor(F.col("value") * 10000 + F.lit(0.5))).cast(
                    "double"
                )
                / 10000.0
            ).alias("v"),
        )
        .collect()
    }
    assert out == batch
    partials = spark.read.parquet(sq._LAST_INCREMENTAL["partials"])
    per_epoch = {
        r["epoch"]: r["n"]
        for r in partials.groupBy("epoch")
        .agg(F.sum("partial_n").alias("n"))
        .collect()
    }
    # 4 source files -> 4 epochs at maxFilesPerTrigger=1, ids
    # CONTINUING across the two runs (0,1 then 2,3), one file each
    assert sorted(per_epoch) == [0, 1, 2, 3]
    assert all(abs(n - n_total / 4) <= n_total / 4 for n in per_epoch.values())
    assert sum(per_epoch.values()) == n_total


def test_stream_dedup_substring_equals_batch(spark, sf_dir):
    """The streaming winnowed-substring dedup must emit exactly the
    batch key's rows after its deterministic multi-batch replay — the
    stream/batch unification contract for the character-level dedup
    modality (same map-side winnow UDF, state carried across 4
    micro-batches)."""
    from streamingdemo_spark.registry import QUERIES

    stream_rows = sorted(
        map(tuple, QUERIES["stream_dedup_substring"](spark, sf_dir).collect())
    )
    batch_rows = sorted(
        map(tuple, QUERIES["ext_dedup_substring"](spark, sf_dir).collect())
    )
    assert stream_rows == batch_rows
    assert len(stream_rows) > 0  # fixture plants shared boilerplate


def test_stream_bottomk_equals_batch_and_remerge_is_noop(spark, sf_dir):
    """The sketch maintained across two checkpointed availableNow runs
    must equal the batch bottom-k of the full events table, and
    re-merging the final sketch into itself must change nothing (the
    idempotence that makes at-least-once delivery safe)."""
    import pyspark.sql.functions as F

    from streamingdemo_spark.registry import QUERIES, poly_hash

    got = QUERIES["stream_sample_bottomk"](spark, sf_dir).collect()
    assert len(got) == 20
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    want = (
        ev.select(
            "event_id",
            poly_hash(
                F.concat(F.col("event_id").cast("string"), F.lit("|bottomk"))
            ).alias("h"),
        )
        .orderBy("h", "event_id")
        .limit(20)
        .collect()
    )
    assert sorted((r["event_id"], r["h"]) for r in got) == sorted(
        (r["event_id"], r["h"]) for r in want
    )
    # idempotence: re-merging the sketch into itself (at-least-once
    # re-delivery) must reproduce the sketch exactly — dedup on
    # event_id collapses the duplicates before the take
    pairs = sorted((r["h"], r["event_id"]) for r in got)
    remerged = sorted(set(pairs + pairs))[:20]
    assert remerged == pairs


class TestStreamTsHolt:
    """stream_ts_holt: incremental Holt state across micro-batches
    converges to exactly the batch fold's final state."""

    def test_stream_equals_batch(self, spark, sf_dir):
        batch = {
            r["user_id"]: r
            for r in QUERIES["ext_ts_holt"](spark, sf_dir).collect()
        }
        stream = {
            r["user_id"]: r
            for r in QUERIES["stream_ts_holt"](spark, sf_dir).collect()
        }
        assert set(stream) == set(batch)
        for uid, s in stream.items():
            bt = batch[uid]
            assert (
                s["n_obs"],
                s["level"],
                s["trend"],
                s["forecast"],
            ) == (bt["n_obs"], bt["level"], bt["trend"], bt["forecast"]), uid


class TestStreamBootstrapCI:
    """stream_bootstrap_ci: per-batch Poisson-weight partials fold to
    exactly the batch key's replicate totals and CI (the weights are
    row-local, so additivity across micro-batches is exact)."""

    def test_stream_equals_batch(self, spark, sf_dir):
        batch = {
            r["replicate"]: r
            for r in QUERIES["ext_bootstrap_ci"](spark, sf_dir).collect()
        }
        stream = {
            r["replicate"]: r
            for r in QUERIES["stream_bootstrap_ci"](spark, sf_dir).collect()
        }
        assert set(stream) == set(batch)
        for rep, s in stream.items():
            bt = batch[rep]
            assert tuple(s) == tuple(bt), rep
        # the stream scored length(text); the batch scored n_chars —
        # their equality above proves the fixture invariant holds


def test_stream_gopher_gate_equals_batch(spark, sf_dir):
    """The streaming quality gate's multi-batch append output must
    equal the batch ruleset row-for-row (same expression tree on both
    legs — the twin discipline), and the replay must have executed
    more than one micro-batch so the equality is a real multi-batch
    claim."""
    batch = {
        r["doc_id"]: tuple(r)
        for r in QUERIES["ext_quality_gopher_rules"](spark, sf_dir).collect()
    }
    stream = {
        r["doc_id"]: tuple(r)
        for r in QUERIES["stream_quality_gopher_gate"](spark, sf_dir).collect()
    }
    assert stream == batch


def test_txn_log_incremental_reconciles_with_snapshot(spark, sf_dir):
    """The incremental read's running net_rows must end at EXACTLY the
    current snapshot's row count (the incremental-equals-full-resolve
    contract), each version's delta must match the per-part row
    counts, and versions must arrive complete and ordered."""
    import pyspark.sql.functions as F

    from streamingdemo_spark.io import load_tables

    rows = QUERIES["src_txn_log_incremental"](spark, sf_dir).collect()
    assert [r["version"] for r in rows] == [0, 1, 2]
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    per_part = {
        r["part"]: r["n"]
        for r in orders.groupBy(
            (F.col("o_orderkey") % 4).alias("part")
        ).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert rows[0]["n_added"] == per_part[0] + per_part[1]
    assert rows[0]["n_removed"] == 0
    assert rows[1]["n_added"] == per_part[2]
    assert rows[1]["n_removed"] == per_part[0]
    assert rows[2]["n_added"] == per_part[3]
    assert rows[2]["n_removed"] == per_part[1]
    # final net == the latest snapshot (parts 2 and 3 live)
    assert rows[-1]["net_rows"] == per_part[2] + per_part[3]


def test_timeout_sessions_state_bounded_and_drained(spark, sf_dir):
    """State-size gate for the EventTimeTimeout sessionizer: at every
    batch the state store holds exactly the OPEN sessions (bounded by
    distinct users — one open session per user by construction), and
    after the flush sentinels advance the watermark past every
    timeout, the state store must be fully drained (rows parked
    forever = an eviction leak, the failure mode that turns a 10M-event
    sweep into a state-spill crawl)."""
    from streamingdemo_spark.registry import QUERIES
    from streamingdemo_spark.streaming import runner
    import pyspark.sql.functions as F

    out = QUERIES["stream_timeout_sessions"](spark, sf_dir)
    n_sessions = out.count()
    assert n_sessions > 0
    progress = runner.LAST_STREAM_PROGRESS
    assert progress, "replay recorded no progress"
    totals = [
        op["numRowsTotal"]
        for p in progress
        for op in p.get("stateOperators", [])
    ]
    assert totals and max(totals) > 0
    n_users = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id")
        .distinct()
        .count()
    )
    assert max(totals) <= n_users, (
        f"state rows {max(totals)} exceed live-session bound {n_users}"
    )
    assert totals[-1] == 0, (
        f"state not drained after watermark flush: {totals[-1]} rows"
    )


def test_stream_dedup_embedding_is_multibatch_and_consistent(spark, sf_dir):
    """The streaming LSH index build must (a) actually run as a
    multi-batch replay (not one degenerate batch — 4 chunk files, two
    per trigger since the r13 trigger-sizing pass: complete mode makes
    the final table chunk-count-independent, so two batches keep the
    cross-batch occupancy merge at half the per-batch fixed cost), and
    (b) produce bucket occupancies that reconcile with the corpus:
    each vector lands in exactly 2 bands, so total band-slots across
    ALL buckets (including singletons the output filters) bound the
    emitted mass, and every bucket's id span must be ordered with
    occupancy >= 2."""
    from streamingdemo_spark.registry import QUERIES
    from streamingdemo_spark.streaming import runner

    out = QUERIES["stream_dedup_embedding"](spark, sf_dir).collect()
    progress = [
        p for p in runner.LAST_STREAM_PROGRESS
        if p.get("numInputRows", 0) > 0
    ]
    assert len(progress) >= 2, "expected a real multi-batch replay"
    n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert sum(r["n_vecs"] for r in out) <= 2 * n
    for r in out:
        assert r["n_vecs"] >= 2
        assert r["lo_vec"] < r["hi_vec"]
        assert 0 <= r["band_no"] <= 1
        # no fixture bucket exceeds the cap below sf10, so the
        # graduated index must leave every bucket unsplit here; the
        # crowd-dense refine path is unit-witnessed on crafted
        # occupancies (test_extensions.test_graduated_occupancy_*)
        assert r["sub"] == -1 and r["sub2"] == -1
    assert out  # jittered fixtures always share some sign buckets


def test_progress_dict_accepts_both_shapes():
    """r12 ADVICE: the cadence poll loop assumed StreamingQueryProgress
    objects while the capture path defended dict-shaped progress
    (older PySpark). Both now share _progress_dict — pin the contract
    on both shapes."""
    from streamingdemo_spark.streaming.runner import _progress_dict

    assert _progress_dict({"batchId": 7})["batchId"] == 7

    class _Obj:  # StreamingQueryProgress look-alike: .json payload
        json = '{"batchId": 9}'

    assert _progress_dict(_Obj())["batchId"] == 9


def _session_partitions(spark, n):
    """Set the session's shuffle partitions; returns the undo."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    return lambda: spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_processing_time_replay_is_live_and_keeps_session_conf(spark):
    """B4's wall-clock cadence (the reference's one hard performance
    fact: a fixed batch interval, OpContainer.java:47-49) has a RUNTIME
    witness: a processingTime='1 second' replay over the rate source
    completes min_batches DISTINCT micro-batches. The runner's state
    partitions must not leak into the session while that query runs,
    where a concurrent query would plan with them: another thread
    polls the session conf once the replay is past its first batch."""
    import threading
    import time

    from streamingdemo_spark.streaming import runner

    stream = spark.readStream.format("rate").option("rowsPerSecond", 20)
    done = []
    t = threading.Thread(target=lambda: done.append(runner.run_to_memory(
        stream.load(), timeout_sec=30, processing_time="1 second",
        min_batches=3,
    )))
    undo, seen = _session_partitions(spark, 32), []
    try:
        t.start()
        while t.is_alive():
            if any(
                (q.lastProgress or {}).get("batchId", 0) >= 1
                for q in spark.streams.active
            ):
                seen.append(spark.conf.get("spark.sql.shuffle.partitions"))
            time.sleep(0.05)
    finally:
        t.join(60)
        undo()
    assert done, "replay raised or hung"
    batch_ids = {p.get("batchId") for p in runner.LAST_STREAM_PROGRESS}
    assert len(batch_ids - {None}) >= 3, runner.LAST_STREAM_PROGRESS
    assert seen and set(seen) == {"32"}, seen


def test_state_partitions_reach_the_query_not_the_session(spark, sf_dir):
    """A replay's state partitions are ``io.tasks_for`` the on-disk
    bytes of its source, and restoring the conf straight after start()
    keeps them: the query plans on a clone of the session."""
    import os

    from streamingdemo_spark.io import tasks_for
    from streamingdemo_spark.streaming import runner
    from streamingdemo_spark.streaming.sources import _build

    sf001 = os.path.join(os.path.dirname(os.path.normpath(sf_dir)), "sf0.01")
    src = _build(spark, sf001, "ordered", 8)  # stream_tumbling's source
    want = tasks_for(
        spark, sum(os.path.getsize(os.path.join(src, f)) for f in os.listdir(src))
    )
    undo = _session_partitions(spark, 32)
    try:
        QUERIES["stream_tumbling"](spark, sf001).count()
        assert spark.conf.get("spark.sql.shuffle.partitions") == "32"
    finally:
        undo()
    ops = [p["stateOperators"][0] for p in runner.LAST_STREAM_PROGRESS]
    assert ops and all(op["numShufflePartitions"] == want for op in ops), ops


def test_run_to_memory_leaves_no_table(spark, sf_dir):
    """The memory sink's view is dropped once the result frame is
    bound: a replay adds no table to the session, and the frame still
    reads the sink's rows."""
    from streamingdemo_spark.streaming import runner
    from streamingdemo_spark.streaming.sources import EVENTS_SCHEMA, _build

    src = _build(spark, sf_dir, "ordered", 4)
    n_tables = len(spark.catalog.listTables())
    out = runner.run_to_memory(
        spark.readStream.schema(EVENTS_SCHEMA).parquet(src).select("event_id")
    )
    assert len(spark.catalog.listTables()) == n_tables
    want = _rows(spark.read.schema(EVENTS_SCHEMA).parquet(src), "event_id")
    assert _rows(out, "event_id") == want and want


def test_replay_timeout_raises_and_stops_the_query(spark, sf_dir):
    """A replay that outruns its bound raises instead of handing back
    a partly written sink, and stops its query on the way out."""
    import time

    import pytest

    from streamingdemo_spark.streaming import runner
    from streamingdemo_spark.streaming.sources import events_stream

    writer = events_stream(spark, sf_dir, n_chunks=2).writeStream
    with pytest.raises(TimeoutError):
        runner.replay(
            writer.foreachBatch(lambda df, epoch: time.sleep(5)),
            spark,
            timeout_sec=1,
        )
    assert spark.streams.active == []


def test_replays_stage_once_per_session_under_the_temp_dir(
    spark, sf_dir, monkeypatch, tmp_path
):
    """A replay's chunks are staged under the temp dir (removed at
    exit), once per session and fixture: a second call writes no file,
    and a fixture rewritten in place restages with its new rows."""
    import os
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from streamingdemo_spark.streaming.sources import documents_stream

    temp = tmp_path / "temp"
    temp.mkdir()
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(temp))
    fixture = tmp_path / "fixture"
    fixture.mkdir()
    shutil.copy(os.path.join(sf_dir, "documents.parquet"), fixture)

    def staged():
        return {p: p.stat().st_mtime_ns for p in temp.rglob("*")}

    documents_stream(spark, str(fixture))
    first = staged()
    assert first, "replay chunks staged under the temp dir"
    documents_stream(spark, str(fixture))
    assert staged() == first, "a second call writes no file"

    docs = pq.read_table(fixture / "documents.parquet").slice(0, 5)
    pq.write_table(docs, fixture / "documents.parquet")
    documents_stream(spark, str(fixture))
    new = [p for p in staged().keys() - first.keys() if p.suffix == ".parquet"]
    assert new, "a rewritten fixture restages"
    got = pa.concat_tables([pq.read_table(p) for p in new])
    assert sorted(got["doc_id"].to_pylist()) == sorted(docs["doc_id"].to_pylist())
