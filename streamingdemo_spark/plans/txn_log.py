"""The transactional table format, and the only code that reads or
writes its log.

A table is a directory of immutable data files plus a log directory
(``_txn_log``). The registered txn-log keys live in ``plans/scans.py``,
``plans/lakehouse.py`` and ``plans/storage.py``: they stage data with
Spark and go through this module for every log read and write. All of
it is driver-side metadata; no row data passes through here.

Format:

- Commit ``N`` is the file ``NNNNNNNN.json`` (the version, zero-padded
  to eight digits), one JSON action per line. A commit file is never
  rewritten.
- Action kinds:

  - ``{"add": path, ...}`` makes a data file (a path under the table
    dir) live. Whatever else the writer records in it (per-file stats
    ``min_key``/``max_key``/``min_ck``/``max_ck``, a partition spec and
    values ``spec``/``pv``, a bloom index ``bloom_ck``/``m``) is kept
    verbatim through replays, checkpoints and RESTOREs.
  - ``{"remove": path}`` drops a file from the live set. The file stays
    on disk for older snapshots until :func:`vacuum` deletes it.
  - ``{"txn": {"appId": ..., "version": ...}}`` records a streaming
    writer's committed epoch: the idempotent-writer ledger.
  - ``{"metaData": {"schemaString": ...}}`` sets the table schema; the
    last one wins.
  - ``{"commitInfo": {"timestamp": ms}}`` carries the writer's clock,
    for timestamp time travel.

- Checkpoint ``NNNNNNNN.checkpoint.json`` holds the live add actions
  as of version ``N``, then one ``txn`` row per appId with its highest
  version. ``_last_checkpoint`` (``{"version": N}``) points at the
  newest checkpoint and is replaced atomically, so a reader opens the
  checkpoint plus the commits after it instead of the whole log. A
  checkpoint is a pure function of the log prefix, so writing one needs
  no coordination with committers. Full replays never read it.
- Claim: a writer takes version ``N`` by creating its commit file with
  ``O_CREAT|O_EXCL``; exactly one writer can. On an object store this
  is the conditional create (S3 ``PutObject`` with ``If-None-Match: *``,
  GCS ``x-goog-if-generation-match: 0``, Azure ``If-None-Match: *``)
  or, on a store without one, an external commit coordinator (a
  DynamoDB conditional write, as in the S3A committers and Delta's S3
  LogStore). A loser re-reads the log, validates its read set, and
  retries at the next version.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from typing import Callable, Iterator

_COMMIT = re.compile(r"(\d{8})\.json")
_VERSIONED = re.compile(r"(\d{8})\.(?:checkpoint\.)?json")
_POINTER = "_last_checkpoint"

Plan = tuple[int, set[str], list[dict]]


class TxnConflictError(RuntimeError):
    """A concurrent commit invalidated this transaction's read set —
    the loser must abort or rebase, never blind-retry (a blind retry
    of a COW MERGE planned against a stale snapshot re-removes files
    a rival already rewrote and commits a rewrite computed from
    pre-rival data: the rival's update is silently lost — the classic
    lakehouse serializability bug)."""


def commit_name(version: int) -> str:
    return f"{version:08d}.json"


def checkpoint_name(version: int) -> str:
    return f"{version:08d}.checkpoint.json"


def _read(log_dir: str, name: str) -> list[dict]:
    with open(os.path.join(log_dir, name)) as f:
        return [json.loads(line) for line in f]


def _lines(actions: list[dict]) -> list[str]:
    return [json.dumps(a) + "\n" for a in actions]


def try_commit(log_dir: str, version: int, actions: list[dict]) -> bool:
    """Claim ``version`` with ``actions``; False if another writer
    already holds it."""
    path = os.path.join(log_dir, commit_name(version))
    try:
        fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
    except FileExistsError:
        return False
    with os.fdopen(fd, "w") as f:
        f.writelines(_lines(actions))
    return True


def create(log_dir: str, commits: list[list[dict]]) -> str:
    """Make a new log dir holding ``commits`` as versions 0..n-1 (the
    staged history of a fixture table). Returns ``log_dir``."""
    os.makedirs(log_dir)
    for version, actions in enumerate(commits):
        if not try_commit(log_dir, version, actions):
            raise RuntimeError(f"staging commit {version} failed")
    return log_dir


def next_version(log_dir: str) -> int:
    """The version the next commit claims: 1 + the highest commit or
    checkpoint version. Commits before a checkpoint may have been
    cleaned up, so a count of commit files can point below it."""
    return 1 + max(
        (
            int(m.group(1))
            for n in os.listdir(log_dir)
            if (m := _VERSIONED.fullmatch(n))
        ),
        default=-1,
    )


def commits(
    log_dir: str, after: int = -1, upto: int | None = None
) -> Iterator[tuple[int, list[dict]]]:
    """Yield ``(version, actions)`` for every commit with
    ``after < version <= upto``, in version order."""
    versions = sorted(
        int(m.group(1))
        for n in os.listdir(log_dir)
        if (m := _COMMIT.fullmatch(n))
    )
    for v in versions:
        if v > after and (upto is None or v <= upto):
            yield v, _read(log_dir, commit_name(v))


def _apply(live: dict[str, dict], actions: list[dict]) -> None:
    for a in actions:
        if "add" in a:
            live[a["add"]] = a
        if "remove" in a:
            live.pop(a["remove"], None)


def _fold_txns(ledger: dict[str, int], actions: list[dict]) -> None:
    for a in actions:
        t = a.get("txn")
        if t:
            ledger[t["appId"]] = max(
                ledger.get(t["appId"], -1), int(t["version"])
            )


def snapshot(log_dir: str, as_of: int | None = None) -> dict[str, dict]:
    """Full replay: the live ``{path: add action}`` as of version
    ``as_of`` (latest when None). Time travel cuts the LOG, never
    filters files by mtime."""
    live: dict[str, dict] = {}
    for _, actions in commits(log_dir, upto=as_of):
        _apply(live, actions)
    return live


def _since_checkpoint(log_dir: str) -> Iterator[tuple[str, list[dict]]]:
    """``(file name, actions)`` of the newest checkpoint, if any, then
    of each commit after it."""
    after = -1
    pointer = os.path.join(log_dir, _POINTER)
    if os.path.exists(pointer):
        with open(pointer) as f:
            after = int(json.load(f)["version"])
        yield checkpoint_name(after), _read(log_dir, checkpoint_name(after))
    for v, actions in commits(log_dir, after=after):
        yield commit_name(v), actions


def resolve(log_dir: str) -> tuple[dict[str, dict], list[str]]:
    """The latest snapshot from the checkpoint plus the commit suffix:
    ``(live {path: add action}, log files opened)``. The opened list is
    the O(suffix) contract; with no checkpoint it is every commit."""
    live: dict[str, dict] = {}
    opened: list[str] = []
    for name, actions in _since_checkpoint(log_dir):
        opened.append(name)
        _apply(live, actions)
    return live, opened


def write_checkpoint(log_dir: str, version: int) -> None:
    """Checkpoint commits 0..``version`` and point ``_last_checkpoint``
    at it."""
    live: dict[str, dict] = {}
    ledger: dict[str, int] = {}
    for _, actions in commits(log_dir, upto=version):
        _apply(live, actions)
        _fold_txns(ledger, actions)
    rows = [live[p] for p in sorted(live)] + [
        {"txn": {"appId": app, "version": ledger[app]}}
        for app in sorted(ledger)
    ]
    with open(os.path.join(log_dir, checkpoint_name(version)), "w") as f:
        f.writelines(_lines(rows))
    # os.replace is atomic: a reader never sees a partial pointer
    tmp = os.path.join(log_dir, _POINTER + ".tmp")
    with open(tmp, "w") as f:
        f.write(json.dumps({"version": version}))
    os.replace(tmp, os.path.join(log_dir, _POINTER))


def last_txn_version(log_dir: str, app_id: str) -> int:
    """Highest epoch the ``txn`` ledger holds for ``app_id``, or -1.
    Reads the checkpoint plus the suffix only."""
    ledger: dict[str, int] = {}
    for _, actions in _since_checkpoint(log_dir):
        _fold_txns(ledger, actions)
    return ledger.get(app_id, -1)


def commit_files(log_dir: str, version: int) -> tuple[list[str], list[str]]:
    """``(removed, added)`` paths of one commit — the preimage and
    postimage files of a copy-on-write change."""
    actions = _read(log_dir, commit_name(version))
    return (
        [a["remove"] for a in actions if "remove" in a],
        [a["add"] for a in actions if "add" in a],
    )


def validate_read_set(
    log_dir: str, base_version: int, planned_removes: set[str]
) -> None:
    """Read-set/write-set validation between losing a commit race and
    retrying: raise :class:`TxnConflictError` if any commit at or after
    ``base_version`` removed OR re-added a file this transaction planned
    to rewrite (remove-vs-remove). Blind appends that touch none of its
    files commute and validate clean."""
    for version, actions in commits(log_dir, after=base_version - 1):
        for a in actions:
            # remove and add are tested INDEPENDENTLY: coalescing with
            # `or` would validate only the remove of an action that
            # carried both keys, and an empty-string remove (falsy)
            # would shadow a conflicting add
            for field in ("remove", "add"):
                touched = a.get(field)
                if touched in planned_removes:
                    raise TxnConflictError(
                        f"commit {version} {field}d {touched!r}, which "
                        f"this transaction read at base version "
                        f"{base_version} and planned to rewrite"
                    )


def commit_with_retry(
    log_dir: str,
    plan: Plan,
    replan: Callable[[], Plan],
    max_attempts: int = 8,
    after_rebase: Callable[[int], None] | None = None,
) -> int:
    """The optimistic-commit loop for N contending writers. ``plan`` is
    ``(base_version, planned_removes, actions)``. Claim the base
    version; on losing, validate the read set against what landed
    since: if it commutes (blind appends), retry the SAME actions at
    the next version; if it conflicts, REBASE via ``replan()`` and
    retry. Returns the number of rebases. ``after_rebase(n)`` is a test
    seam: a staged race lands a rival's commit between a re-plan and
    its claim. ``max_attempts`` turns livelock into a loud error."""
    base_version, removes, actions = plan
    rebases = 0
    for _ in range(max_attempts):
        if try_commit(log_dir, base_version, actions):
            return rebases
        try:
            validate_read_set(log_dir, base_version, removes)
            base_version = next_version(log_dir)
        except TxnConflictError:
            rebases += 1
            base_version, removes, actions = replan()
            if after_rebase is not None:
                after_rebase(rebases)
    raise RuntimeError(
        f"commit retry budget exhausted after {max_attempts} attempts"
    )


def version_at_ts(log_dir: str, cutoff_ms: int) -> int:
    """The latest version whose commit timestamp is at or before
    ``cutoff_ms`` (``TIMESTAMP AS OF``). Writer clocks are not monotone
    across writers, so each commit's effective timestamp is clamped to
    ``max(raw, previous effective + 1)``, the Delta convention; without
    the clamp a clock-skewed later commit would be included by a cutoff
    that predates it, resolving to a snapshot that never existed in
    commit order."""
    best: int | None = None
    prev_eff: int | None = None
    for version, actions in commits(log_dir):
        ts: int | None = None
        for a in actions:
            if "commitInfo" in a:
                ts = int(a["commitInfo"]["timestamp"])
        if ts is None:
            raise RuntimeError(
                f"commit {version} carries no commitInfo timestamp — "
                f"timestamp time travel is undefined on this log"
            )
        eff = ts if prev_eff is None else max(ts, prev_eff + 1)
        prev_eff = eff
        if eff <= cutoff_ms:
            best = version
    if best is None:
        raise ValueError(
            f"cutoff {cutoff_ms} predates the first commit — no "
            f"snapshot existed yet (Delta raises the same way)"
        )
    return best


def vacuum(
    base: str, log_dir: str, retain_from_version: int
) -> tuple[set[str], set[str]]:
    """Delete the data files under ``base`` that no retained snapshot
    (versions >= ``retain_from_version``) references. Candidates are
    every file any commit ever added; survivors are the union of the
    retained live sets, so a reader of any retained version is
    unaffected and time travel before the horizon is the documented
    casualty. The log itself is never touched. Returns
    ``(deleted, kept)``."""
    live: dict[str, dict] = {}
    ever_added: set[str] = set()
    referenced: set[str] = set()
    for version, actions in commits(log_dir):
        _apply(live, actions)
        ever_added.update(a["add"] for a in actions if "add" in a)
        if version >= retain_from_version:
            referenced |= live.keys()
    dead = ever_added - referenced
    for p in sorted(dead):
        target = os.path.join(base, p)
        if os.path.exists(target):
            shutil.rmtree(target)
    return dead, referenced
