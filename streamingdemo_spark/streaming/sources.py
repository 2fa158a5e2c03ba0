"""Deterministic replayable stream sources over the fixtures.

Each replay is a chunked parquet file stream (FIXTURES.md usage note),
staged once per session and fixture in a scratch dir (``_staged``):
files are written in order with increasing mod-times, so
``maxFilesPerTrigger=1`` yields a deterministic sequence of
micro-batches and deterministic watermark advancement. Event variants
inject late / duplicate rows to exercise watermark drops and dedup.

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

from streamingdemo_spark.io import reuse, table_path
from streamingdemo_spark.scratch import scratch_dir

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _events_sorted(sf_dir: str) -> pa.Table:
    t = pq.read_table(table_path(sf_dir, "events"))
    # Spark's TimestampType is microseconds, and the fixture carries
    # sub-microsecond precision: truncate ns up front, exactly as the
    # batch path (`ts DIV 1000`) and DuckDB's parquet reader do, so the
    # streaming schema is plain `timestamp`.
    to_us = pc.CastOptions(pa.timestamp("us"), allow_time_truncate=True)
    ts_us = pc.cast(t["ts"], options=to_us)
    t = t.set_column(t.schema.get_field_index("ts"), "ts", ts_us)
    return t.sort_by([("ts", "ascending"), ("event_id", "ascending")])


def _write_chunks(table: pa.Table, out_dir: str, n_chunks: int) -> None:
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


def _staged(spark: SparkSession, sf_dir: str, table: str, leaf: str, write) -> str:
    """The chunk dir of fixture ``table``'s replay ``leaf``, staged once
    per session and fixture (``io.reuse``): ``write(dir)`` fills a
    scratch dir. The fixture's real path is in the name, so a session
    that alternates fixtures does not restage either's chunks. Not
    released: lazy frames of earlier calls may still read it, and
    ``scratch_dir`` removes it at exit."""

    def build() -> str:
        out_dir = scratch_dir(prefix=f"stream_{table}_{leaf}_")
        write(out_dir)
        return out_dir

    name = f"replay:{os.path.realpath(sf_dir)}:{table}:{leaf}"
    return reuse(spark, name, sf_dir, table, build)


def _reader(
    spark: SparkSession, schema: str, path: str, files_per_trigger: int | None
) -> DataFrame:
    """The file-stream reader over a staged chunk dir: one trigger
    per ``files_per_trigger`` files, or everything in one micro-batch
    when None."""
    reader = spark.readStream.schema(schema)
    if files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", files_per_trigger)
    return reader.parquet(path)


def _sorted_stream(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    schema: str,
    n_chunks: int,
    files_per_trigger: int | None,
) -> DataFrame:
    """A replay of ``schema``'s columns of fixture ``table``, sorted by
    the first (the stable id), as mod-time-ordered chunks."""
    cols = [c.split()[0] for c in schema.split(", ")]

    def write(out_dir: str) -> None:
        t = pq.read_table(table_path(sf_dir, table), columns=cols)
        _write_chunks(t.sort_by([(cols[0], "ascending")]), out_dir, n_chunks)

    path = _staged(spark, sf_dir, table, f"sorted-{n_chunks}", write)
    return _reader(spark, schema, path, files_per_trigger)


def _write_events(sf_dir: str, variant: str, n_chunks: int, out_dir: str) -> None:
    """The events fixture in ts order as the replay ``variant``."""
    t = _events_sorted(sf_dir)
    if variant == "ordered":
        _write_chunks(t, out_dir, n_chunks)
    elif variant == "late":
        # Rows with event_id % 50 == 0 are held back and appended as the
        # final file — they arrive "late" relative to the watermark the
        # earlier chunks advanced.
        hold = pa.array(t["event_id"].to_numpy() % 50 == 0)
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
                    "event_id": [-1 - i],
                    "ts": [max_ts + datetime.timedelta(hours=hours)],
                    "user_id": [-1],
                    "event_type": ["__flush__"],
                    "value": [0.0],
                    "props": ["{}"],
                }
            )
            pq.write_table(
                sentinel.select(t.column_names).cast(t.schema),
                os.path.join(out_dir, f"part-{n_chunks - 2 + i:04d}.parquet"),
            )
            time.sleep(0.01)
    else:
        raise ValueError(f"unknown variant {variant!r}")


def _build(spark: SparkSession, sf_dir: str, variant: str, n_chunks: int) -> str:
    """The chunk dir of the events replay ``variant`` in ``n_chunks``."""

    def write(out_dir: str) -> None:
        _write_events(sf_dir, variant, n_chunks, out_dir)

    return _staged(spark, sf_dir, "events", f"{variant}-{n_chunks}", write)


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
    return _sorted_stream(
        spark, sf_dir, "documents", DOCS_SCHEMA, n_chunks, files_per_trigger
    )


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
    return _sorted_stream(
        spark, sf_dir, "embeddings", EMB_STREAM_SCHEMA, n_chunks, files_per_trigger
    )


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
    path = _build(spark, sf_dir, variant, n_chunks)
    return _reader(spark, EVENTS_SCHEMA, path, files_per_trigger)


def replay_in_two_arrivals(spark: SparkSession, sf_dir: str, n_chunks: int, run) -> str:
    """A stream stopped mid-input and resumed once new files land: the
    first half of the ordered events replay's ``n_chunks`` chunk files
    lands in a fresh scratch dir and ``run(dir)`` is called, then the
    rest lands and ``run(dir)`` is called again. Returns the dir."""
    built = _build(spark, sf_dir, "ordered", n_chunks)
    files = sorted(os.listdir(built))
    src = scratch_dir(prefix="arrivals_")
    for part in (files[: len(files) // 2], files[len(files) // 2 :]):
        for f in part:
            shutil.copy(os.path.join(built, f), src)
        run(src)
    return src
