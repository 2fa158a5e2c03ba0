"""Measurements taken from outside the program: process memory from
``/proc``, Spark job/stage counts from the public status tracker,
micro-batch progress from a streaming query listener, scratch bytes on
disk, and a fixed CPU calibration loop."""

from __future__ import annotations

import json
import os
import platform
import subprocess
import threading
import time

def _proc_tree(root: int) -> list[tuple[int, str]]:
    """``(pid, comm)`` of ``root`` and all its descendants."""
    parent: dict[int, int] = {}
    comm: dict[int, str] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # comm sits in parentheses and may hold spaces; fields follow it
        lp, rp = stat.index("("), stat.rindex(")")
        pid = int(d)
        comm[pid] = stat[lp + 1 : rp]
        parent[pid] = int(stat[rp + 2 :].split()[1])
    tree, todo = [], [root]
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    while todo:
        pid = todo.pop()
        if pid in comm:
            tree.append((pid, comm[pid]))
        todo.extend(children.get(pid, ()))
    return tree


def _pss_mb(pid: int) -> float:
    """Proportional set size: resident memory with each shared page split
    between the processes that map it, so forked workers sharing their
    parent's pages are not counted once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024
    except (OSError, ValueError):
        pass
    return 0.0


class RssSampler:
    """Samples the resident memory (as PSS) of this process (driver), the
    JVM and every other descendant (the ``pyspark.daemon`` workers) on a
    background thread and keeps the peak of each and of their sum, over
    the whole run and since the last :meth:`lap`."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = {"driver": 0.0, "jvm": 0.0, "workers": 0.0, "total": 0.0}
        self.lap_peak = 0.0
        self._lock = threading.Lock()  # lap() resets what sample() raises
        self.pids: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        now = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
        for pid, comm in _proc_tree(me):
            kind = "driver" if pid == me else "jvm" if comm == "java" else "workers"
            now[kind] += _pss_mb(pid)
            if pid != me:
                self.pids.add(pid)
        now["total"] = sum(now.values())
        with self._lock:
            for k, v in now.items():
                self.peak[k] = max(self.peak[k], v)
            self.lap_peak = max(self.lap_peak, now["total"])

    def lap(self) -> float:
        """Peak total since the previous lap (or the start); starts a new
        lap."""
        with self._lock:
            peak, self.lap_peak = self.lap_peak, 0.0
        return peak

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class JobScanner:
    """Job, stage and task counts from ``SparkContext.statusTracker()``.

    Job ids are consecutive, so :meth:`mark` scans from the last id it
    saw up to the first id the tracker does not know; that also catches
    micro-batch jobs that run under a streaming query's own job group.
    """

    def __init__(self, sc):
        self.tracker = sc.statusTracker()
        self.next_id = 0
        self.mark()

    def mark(self) -> int:
        while self.tracker.getJobInfo(self.next_id) is not None:
            self.next_id += 1
        return self.next_id

    def settle(self, timeout_s: float = 1.0) -> int:
        """Wait until the status store has caught up with the last job
        (its events are delivered asynchronously), then mark."""
        deadline = time.perf_counter() + timeout_s
        while True:
            time.sleep(0.005)
            hi = self.mark()
            last = self.tracker.getJobInfo(hi - 1) if hi else None
            if last is None or last.status != "RUNNING":
                return hi
            if time.perf_counter() > deadline:
                return hi

    def tasks(self, job_id: int) -> tuple[int, int]:
        """(completed tasks, failed tasks) over the job's stages."""
        info = self.tracker.getJobInfo(job_id)
        done = failed = 0
        for sid in info.stageIds if info is not None else ():
            st = self.tracker.getStageInfo(sid)
            if st is not None:
                done += st.numCompletedTasks
                failed += st.numFailedTasks
        return done, failed


def progress_listener():
    """A ``StreamingQueryListener`` that keeps every progress report as
    a dict, grouped by query name."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.by_name: dict[str, list[dict]] = {}
            self.lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = json.loads(event.progress.json)
            with self.lock:
                self.by_name.setdefault(p.get("name") or "", []).append(p)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def take(self, name: str, n: int, timeout_s: float = 2.0) -> list[dict]:
            """The reports of query ``name`` once ``n`` have arrived
            (or the timeout passed), removed from the listener."""
            deadline = time.perf_counter() + timeout_s
            while time.perf_counter() < deadline:
                with self.lock:
                    if len(self.by_name.get(name, ())) >= n:
                        break
                time.sleep(0.005)
            with self.lock:
                return self.by_name.pop(name, [])

    return ProgressListener()


def disk_usage(roots: list[str]) -> tuple[int, int]:
    """(bytes, files) of regular files under ``roots``."""
    nbytes = nfiles = 0
    for root in roots:
        for dirpath, _, files in os.walk(root):
            for f in files:
                try:
                    nbytes += os.lstat(os.path.join(dirpath, f)).st_size
                    nfiles += 1
                except OSError:
                    pass
    return nbytes, nfiles


def calibrate_ms() -> float:
    """Wall of a fixed pure-Python loop: a box-speed probe that moves
    only when the machine does."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc = (acc * 31 + i) % 1_000_003
    return (time.perf_counter() - t0) * 1e3


def box_info(root: str) -> dict:
    import numpy
    import pyarrow
    import pyspark

    commit = "unknown"
    try:
        if os.path.isdir(os.path.join(root, ".git")):
            commit = subprocess.run(
                ["git", "-C", root, "rev-parse", "HEAD"],
                capture_output=True,
                text=True,
                timeout=10,
            ).stdout.strip() or commit
    except (OSError, subprocess.SubprocessError):
        pass
    return {
        "cores": len(os.sched_getaffinity(0)),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "platform": platform.platform(),
        "commit": commit,
    }
