"""Python worker daemon for the engine's sessions: pyspark's own daemon
(``pyspark.daemon.manager``), started after one fix to the import system
that every worker it forks inherits.

Before each task a pyspark worker calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py``, ``setup_spark_files``). Before Python 3.13,
that makes every ``zipimport.zipimporter`` on the worker's import path
re-parse its whole archive's central directory in pure Python, even when
nothing changed. Spark puts ``pyspark.zip``, the py4j zip and the
spark-core jar at the head of every worker's ``sys.path``, and a reused
worker holds 16 importers over them, so it re-parsed 16 directories per
task (session.py gives the cost). Here an importer re-reads its archive
only when the archive's ``io.path_stamp`` (size + mtime) moved since the
last read in this process, and an archive that cannot be stat'ed goes through the stock
re-read, so a rewritten zip is still seen. From Python 3.13
``invalidate_caches`` only drops the archive's cached directory, which
is read again, once, on the next lookup that needs it, so this module
changes nothing there.

Run as ``python -m streamingdemo_spark.worker_daemon``; the session
names it in ``spark.python.daemon.module``.
"""

from __future__ import annotations

import importlib
import sys
import zipimport

from streamingdemo_spark.io import path_stamp

_stock_invalidate = zipimport.zipimporter.invalidate_caches

# archive path -> its path_stamp when this process last read the
# archive's directory into zipimport._zip_directory_cache
_DIRECTORY_STAMPS: dict[str, str] = {}


def _invalidate_if_changed(importer) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only
    when its stamp moved since the last read (module docstring)."""
    archive = importer.archive
    try:
        stamp = path_stamp(archive)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(archive)
    unchanged = stamp is not None and _DIRECTORY_STAMPS.get(archive) == stamp
    if unchanged and files is not None:
        importer._files = files
        return
    # stamp taken before the read: a write during it shows up next call
    _DIRECTORY_STAMPS.pop(archive, None)
    _stock_invalidate(importer)
    if stamp is not None and archive in zipimport._zip_directory_cache:
        _DIRECTORY_STAMPS[archive] = stamp


def install() -> None:
    """Swap in the stamp-checked re-read (Python < 3.13 only) and read
    each archive once here, so forked workers start with every stamp."""
    if sys.version_info >= (3, 13):
        return
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    importlib.invalidate_caches()


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
