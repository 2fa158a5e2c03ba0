"""The engine's Python worker daemon (``streamingdemo_spark.worker_daemon``)
and the worker path the session gives it.

The zip tests need no Spark: they drive ``importlib.invalidate_caches``
against an archive on ``sys.path`` and count ``zipimport._read_directory``
calls. The last two run Python stages on workers.
"""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from streamingdemo_spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, text in members.items():
            z.writestr(name, text)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on ``sys.path`` holding module ``wd_probe_a``, with the stock
    ``invalidate_caches`` restored and the archive's modules dropped at
    teardown, and ``reads``, the archive paths ``_read_directory`` read."""
    path = str(tmp_path / "probe.zip")
    _write_zip(path, {"wd_probe_a.py": "VALUE = 'a'\n"})
    monkeypatch.syspath_prepend(path)
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    reads = []
    read_directory = zipimport._read_directory

    def counting(p):
        reads.append(p)
        return read_directory(p)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield path, reads
    for name in ("wd_probe_a", "wd_probe_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="zipimport is lazy")
def test_unchanged_archive_is_not_reread(archive):
    """The stock ``invalidate_caches`` re-parses the archive on every call;
    once installed, calls on an unchanged archive read it 0 times."""
    path, reads = archive
    assert importlib.import_module("wd_probe_a").VALUE == "a"
    importlib.invalidate_caches()
    assert reads.count(path) == 2  # the import, then the stock re-read
    worker_daemon.install()
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(path) == 0


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="zipimport is lazy")
def test_rewritten_archive_is_reread_once(archive):
    """An archive rewritten with a new member is re-read exactly once, and
    the new member imports."""
    path, reads = archive
    importlib.import_module("wd_probe_a")
    worker_daemon.install()
    _write_zip(
        path, {"wd_probe_a.py": "VALUE = 'a'\n", "wd_probe_b.py": "VALUE = 'b'\n"}
    )
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(path) == 1
    assert importlib.import_module("wd_probe_b").VALUE == "b"


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="zipimport is lazy")
def test_archive_that_fails_to_stat_takes_the_stock_reread(archive):
    """A vanished archive goes through the stock re-read, which empties the
    importer's directory, as without the daemon."""
    path, reads = archive
    importlib.import_module("wd_probe_a")
    worker_daemon.install()
    os.remove(path)
    importlib.invalidate_caches()
    assert sys.path_importer_cache[path]._files == {}
    assert path not in zipimport._zip_directory_cache


def test_python_313_leaves_zipimport_untouched(archive, monkeypatch):
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    stock = zipimport.zipimporter.invalidate_caches
    worker_daemon.install()
    assert zipimport.zipimporter.invalidate_caches is stock


def test_session_workers_run_the_daemon_fix(spark):
    """Every worker of the session forks from the engine's daemon, so its
    ``zipimporter.invalidate_caches`` is the daemon's."""
    import pandas as pd
    from pyspark.sql import functions as F

    @F.pandas_udf("string")
    def code_file(x: pd.Series) -> pd.Series:
        import zipimport

        f = zipimport.zipimporter.invalidate_caches
        return pd.Series([f.__code__.co_filename] * len(x))

    rows = spark.range(8).repartition(4).select(code_file("id").alias("f"))
    files = {r.f for r in rows.distinct().collect()}
    if sys.version_info >= (3, 13):
        assert worker_daemon.__file__ not in files
    else:
        assert files == {worker_daemon.__file__}


def test_workers_import_the_engine_from_any_driver_cwd(tmp_path):
    """A driver started outside the repo, with the repo on its own
    ``sys.path`` only (as ``tools/*.py`` do), runs a by-reference engine
    kernel: its workers find ``streamingdemo_spark`` without the driver's
    cwd or ``PYTHONPATH``."""
    script = f"""
import sys
sys.path.insert(0, {REPO!r})
from streamingdemo_spark.extensions.dedup import _verify_runs
from streamingdemo_spark.session import get_spark

spark = get_spark(app_name="worker-path-probe")
rows = spark.createDataFrame(
    [(1, [5, 7, 9], 0, 3), (2, [5, 7, 8], 0, 3)],
    "doc_id long, sh array<long>, band int, bucket long",
).coalesce(1)
out = rows.mapInArrow(_verify_runs, "doc_a long, doc_b long, inter int, uni int")
print("PAIRS", sorted(tuple(r) for r in out.collect()))
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "1"
    res = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "PAIRS [(1, 2, 2, 4)]" in res.stdout, res.stderr[-3000:]
