"""Deterministic replayable stream sources over the events fixture.

The events table is replayed as a chronologically-chunked parquet file
stream (FIXTURES.md usage note): files are written in ts order with
increasing mod-times, so ``maxFilesPerTrigger=1`` yields a
deterministic sequence of micro-batches and deterministic watermark
advancement. Variants inject late rows / duplicate rows (again
deterministically) to exercise watermark drops and stateful dedup.

At 100 TB the file stream is replaced by Kafka partitions; everything
downstream (watermarks, windows, state) is source-agnostic — that is
the point of Structured Streaming's unbounded-relation model.
"""

from __future__ import annotations

import datetime
import os
import shutil
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession

from streamingdemo_spark.io import fixture_fp

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)

_CACHE_ROOT = os.environ.get(
    "STREAMINGDEMO_STREAM_CACHE", "/tmp/streamingdemo_stream_src"
)
# Bump when chunking/variant semantics change: the version participates
# in the cache path, so stale replay directories are never reused.
_CACHE_VERSION = 2


def _events_sorted(sf_dir: str) -> pa.Table:
    t = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    # Spark's TimestampType is microseconds; truncate ns up front so the
    # streaming schema is plain `timestamp`.
    # The fixture carries sub-microsecond precision; truncate exactly as
    # the batch path (`ts DIV 1000`) and DuckDB's parquet reader do.
    ts_us = pc.cast(
        t["ts"],
        options=pc.CastOptions(
            target_type=pa.timestamp("us"), allow_time_truncate=True
        ),
    )
    t = t.set_column(t.schema.get_field_index("ts"), "ts", ts_us)
    return t.sort_by([("ts", "ascending"), ("event_id", "ascending")])


def _write_chunks(table: pa.Table, out_dir: str, n_chunks: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    n = table.num_rows
    per = (n + n_chunks - 1) // n_chunks
    for i in range(n_chunks):
        chunk = table.slice(i * per, per)
        if chunk.num_rows == 0:
            break
        pq.write_table(chunk, os.path.join(out_dir, f"part-{i:04d}.parquet"))
        # Distinct mod-times keep the file-source processing order
        # deterministic.
        time.sleep(0.01)


def _cache_dir(sf_dir: str, source_file: str, leaf: str) -> str:
    tag = os.path.basename(os.path.normpath(sf_dir))
    src = os.path.splitext(os.path.basename(source_file))[0]
    # the fingerprint keeps same-basename sf dirs in different parents,
    # and a fixture regenerated in place, off each other's chunks
    fp = fixture_fp(sf_dir, src)
    root = os.path.join(_CACHE_ROOT, f"v{_CACHE_VERSION}")
    # The cache key (and the GC sweep prefix below) must include the
    # SOURCE FILE, not just the sf-dir tag: the fingerprint is
    # per-file, so a tag-only sweep would let each stream build wipe
    # the OTHER sources' live chunk caches for the same fixture
    # (documents vs embeddings vs events), causing perpetual rebuild
    # thrash and deleting an active file-stream's source dir
    # mid-replay in a concurrent session.
    cur = f"{tag}-{src}-{fp}"
    # GC stale fingerprints of the SAME (sf-dir tag, source file):
    # every fixture regeneration changes the fingerprint, and without
    # this sweep the superseded chunk dirs strand under /tmp forever
    # on long-lived hosts. Only sibling generations of this exact
    # source are touched, so concurrent sessions on other fixtures or
    # other sources of this fixture are unaffected; a concurrent
    # reader of the stale generation would be replaying a fixture that
    # no longer exists — removing it converts silent staleness into a
    # rebuild.
    try:
        for d in os.listdir(root):
            if d.startswith(f"{tag}-{src}-") and d != cur and ".tmp-" not in d:
                shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    except OSError:
        pass
    return os.path.join(root, cur, leaf)


def _publish(sf_dir: str, source_file: str, leaf: str, write) -> str:
    """Return the chunk dir of ``source_file`` cached under ``leaf``,
    building it on first use: ``write(tmp_dir)`` fills a private
    ``.tmp-<pid>`` dir, and one rename publishes it. A crash mid-build
    leaves only a .tmp dir (rebuilt next time), never a half-full
    cache that os.listdir() would mistake for complete."""
    out_dir = _cache_dir(sf_dir, source_file, leaf)
    if os.path.isdir(out_dir):
        return out_dir
    tmp = f"{out_dir}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    write(tmp)
    try:
        os.rename(tmp, out_dir)
    except OSError:
        # another process published first; a lost race with no winner
        # on disk is an error, not an empty replay
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isdir(out_dir):
            raise RuntimeError(f"chunk cache build raced and lost: {out_dir}")
    return out_dir


def _reader(
    spark: SparkSession, schema: str, path: str, files_per_trigger: int | None
) -> DataFrame:
    """The file-stream reader over a published chunk dir: one trigger
    per ``files_per_trigger`` files, or everything in one micro-batch
    when None."""
    reader = spark.readStream.schema(schema)
    if files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", files_per_trigger)
    return reader.parquet(path)


def _write_sorted(
    sf_dir: str, source_file: str, columns: list[str], n_chunks: int, out_dir: str
) -> None:
    """``columns`` of a fixture, sorted by the first (the stable id),
    as mod-time-ordered chunks."""
    t = pq.read_table(os.path.join(sf_dir, source_file), columns=columns)
    _write_chunks(t.sort_by([(columns[0], "ascending")]), out_dir, n_chunks)


def _write_events(sf_dir: str, variant: str, n_chunks: int, out_dir: str) -> None:
    """The events fixture in ts order as the replay ``variant``."""
    t = _events_sorted(sf_dir)
    if variant == "ordered":
        _write_chunks(t, out_dir, n_chunks)
    elif variant == "late":
        # Rows with event_id % 50 == 0 are held back and appended as the
        # final file — they arrive "late" relative to the watermark the
        # earlier chunks advanced.
        ids = t["event_id"].to_numpy()
        hold = pa.array(ids % 50 == 0)
        main, held = t.filter(pc.invert(hold)), t.filter(hold)
        _write_chunks(main, out_dir, n_chunks - 1)
        pq.write_table(held, os.path.join(out_dir, f"part-{n_chunks - 1:04d}.parquet"))
    elif variant == "dups":
        # Every 10th event is re-appended as a duplicate in a final
        # chunk: exactly-once consumers must drop them by event_id.
        dup = t.filter(pa.array(t["event_id"].to_numpy() % 10 == 0))
        _write_chunks(t, out_dir, n_chunks - 1)
        pq.write_table(dup, os.path.join(out_dir, f"part-{n_chunks - 1:04d}.parquet"))
    elif variant == "flush":
        # Ordered chunks plus TWO trailing watermark-flush sentinels
        # (events 2 h and 4 h after the last real one, event_id -1/-2,
        # type '__flush__'). Outer joins / late aggregates only emit
        # their null-extended or final rows once the watermark PASSES
        # the window bound — and the watermark a batch COMPUTES only
        # takes effect in the NEXT batch, which availableNow never
        # runs after the last file. Sentinel 1 advances the watermark
        # past every open window; sentinel 2 forces one more
        # micro-batch in which that watermark evicts + emits. The two
        # sentinels must land in separate triggers (consumers use
        # files_per_trigger=1), and consumers filter them out by
        # event_type — but only AFTER their withWatermark node has
        # seen them.
        _write_chunks(t, out_dir, n_chunks - 2)
        max_ts = pc.max(t["ts"]).as_py()
        for i, hours in enumerate((2, 4)):
            sentinel = pa.table(
                {
                    "event_id": pa.array([-1 - i], pa.int64()),
                    "ts": pa.array(
                        [max_ts + datetime.timedelta(hours=hours)],
                        pa.timestamp("us"),
                    ),
                    "user_id": pa.array([-1], pa.int64()),
                    "event_type": pa.array(["__flush__"], pa.string()),
                    "value": pa.array([0.0], pa.float64()),
                    "props": pa.array(["{}"], pa.string()),
                }
            ).select(t.column_names)
            pq.write_table(
                sentinel.cast(t.schema),
                os.path.join(out_dir, f"part-{n_chunks - 2 + i:04d}.parquet"),
            )
            time.sleep(0.01)
    else:
        raise ValueError(f"unknown variant {variant!r}")


def _build(sf_dir: str, variant: str, n_chunks: int) -> str:
    """Publish the events replay ``variant`` as ``n_chunks`` chunk
    files and return its dir."""
    return _publish(
        sf_dir,
        "events.parquet",
        f"{variant}-{n_chunks}",
        lambda out_dir: _write_events(sf_dir, variant, n_chunks, out_dir),
    )


DOCS_SCHEMA = "doc_id long, text string"


def documents_stream(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int = 4,
    files_per_trigger: int | None = 1,
) -> DataFrame:
    """A streaming DataFrame replaying the documents fixture in doc_id
    order — the continuous-ingest shape of a crawl feed. Only
    (doc_id, text) stream: the dedup/fingerprint consumers are
    content-driven, and a narrow replay keeps the chunk files small.
    Same deterministic chunked-parquet mechanism as
    :func:`events_stream` (mod-time-ordered files, one trigger per
    file by default)."""
    cols = ["doc_id", "text"]
    path = _publish(
        sf_dir,
        "documents.parquet",
        f"docs-{n_chunks}",
        lambda out: _write_sorted(sf_dir, "documents.parquet", cols, n_chunks, out),
    )
    return _reader(spark, DOCS_SCHEMA, path, files_per_trigger)


EMB_STREAM_SCHEMA = "vec_id long, embedding array<float>"


def embeddings_stream(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int = 4,
    files_per_trigger: int | None = 1,
) -> DataFrame:
    """A streaming DataFrame replaying the embeddings fixture in
    vec_id order — the continuous-ingest shape of a vector pipeline
    feeding an index build. Same deterministic chunked-parquet
    mechanism as :func:`events_stream` (mod-time-ordered files, one
    trigger per file by default)."""
    cols = ["vec_id", "embedding"]
    path = _publish(
        sf_dir,
        "embeddings.parquet",
        f"emb-{n_chunks}",
        lambda out: _write_sorted(sf_dir, "embeddings.parquet", cols, n_chunks, out),
    )
    return _reader(spark, EMB_STREAM_SCHEMA, path, files_per_trigger)


def events_stream(
    spark: SparkSession,
    sf_dir: str,
    variant: str = "ordered",
    n_chunks: int = 8,
    files_per_trigger: int | None = 1,
) -> DataFrame:
    """A streaming DataFrame replaying the events fixture.

    variant: 'ordered' (chronological), 'late' (held-back old rows in
    the final batch), 'dups' (duplicate event_ids in the final batch).
    ``files_per_trigger=None`` processes everything in one micro-batch.
    """
    path = _build(sf_dir, variant, n_chunks)
    return _reader(spark, EVENTS_SCHEMA, path, files_per_trigger)
