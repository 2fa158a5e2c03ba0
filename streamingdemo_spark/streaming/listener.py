"""Streaming run-status log (SURVEY §2.A8, streaming side).

The reference accumulates per-operator success/failure lines into a
startLog XML (``OpContainer.java:71-90,152-179``). For streams, the
engine's equivalent is a ``StreamingQueryListener`` that records query
lifecycle + per-batch progress as structured entries — queryable while
running, JSON-serializable for the run log.
"""

from __future__ import annotations

import json
import threading

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener


class RunLogListener(StreamingQueryListener):
    """Collects started/progress/terminated events for every streaming
    query on the session. Thread-safe: listener callbacks arrive on
    Spark's listener bus thread."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.entries: list[dict] = []

    def _record(self, entry: dict) -> None:
        with self._lock:
            self.entries.append(entry)

    def onQueryStarted(self, event) -> None:
        self._record({"event": "started", "id": str(event.id), "name": event.name})

    def onQueryProgress(self, event) -> None:
        # the full StreamingQueryProgress, in the shape the runner's
        # LAST_STREAM_PROGRESS holds: batch phases (durationMs) and,
        # per stateful operator, row counts, commit/update times and
        # the provider's custom metrics (RocksDB emits rocksdb*)
        self._record({"event": "progress", **json.loads(event.progress.json)})

    def onQueryTerminated(self, event) -> None:
        self._record(
            {
                "event": "terminated",
                "id": str(event.id),
                "status": "failed" if event.exception else "success",
                "error": event.exception or "",
            }
        )

    def onQueryIdle(self, event) -> None:  # pragma: no cover - timing-dependent
        pass

    def to_json_lines(self) -> str:
        with self._lock:
            return "\n".join(json.dumps(e) for e in self.entries)


def attach_run_log(spark: SparkSession) -> RunLogListener:
    listener = RunLogListener()
    spark.streams.addListener(listener)
    return listener


def detach_run_log(spark: SparkSession, listener: RunLogListener) -> None:
    spark.streams.removeListener(listener)
