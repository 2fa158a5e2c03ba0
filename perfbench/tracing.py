"""Spans recorded from the benchmark's own files, and their reduction
to per-layer metrics.

A span covers one call across a layer boundary: the op, the builder
call, the drain, or a call into a public layer function that
:func:`install` wrapped. Each span keeps its parent, the op it belongs
to and the half-open range of Spark job ids launched while it was open.
Spans stay in memory; the caller writes them out once at the end.
"""

from __future__ import annotations

import functools
import sys
import time
from collections.abc import Callable, Iterable
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int = -1
    jobs: tuple[int, int] = (0, 0)
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Records spans while ``active``; when inactive, wrapped functions
    call straight through, so one process can alternate traced and
    untraced passes.

    ``mark`` returns the id the next Spark job will get; it brackets
    each span's job range.
    """

    def __init__(self, mark: Callable[[], int] = lambda: 0):
        self.spans: list[Span] = []
        self.active = False
        self.op = -1
        self._mark = mark
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        lo = self._mark()
        s = Span(
            name,
            time.perf_counter(),
            parent=self._stack[-1] if self._stack else None,
            op=self.op,
            jobs=(lo, lo),
        )
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()
            s.jobs = (lo, self._mark())

    def wrap(self, fn: Callable, name: str, after: Callable | None = None):
        """``fn`` inside a span named ``name``; ``after(span, args,
        result)`` may annotate the span once the call returns."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name) as s:
                result = fn(*args, **kwargs)
                if after is not None:
                    after(s, args, result)
                return result

        return traced

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def install(replacements: dict[Callable, Callable], prefix: str) -> int:
    """Rebind every module attribute under ``prefix`` that holds a key
    of ``replacements`` to its value: the defining module and every
    module that imported the name. Returns the number of bindings."""
    by_id = {id(k): v for k, v in replacements.items()}
    n = 0
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(prefix):
            continue
        for attr, val in list(vars(mod).items()):
            new = by_id.get(id(val))
            if new is not None:
                setattr(mod, attr, new)
                n += 1
    return n


def _covered(intervals: Iterable[tuple[float, float]]) -> float:
    total, hi = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= hi:
            continue
        total += b - max(a, hi)
        hi = b
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(i)
    out = []
    for i, s in enumerate(spans):
        clipped = [
            (max(spans[c].start, s.start), min(spans[c].end, s.end))
            for c in kids.get(i, ())
        ]
        out.append(
            (s.end - s.start) - _covered((a, b) for a, b in clipped if b > a)
        )
    return out


def job_owners(spans: list[Span], keep: Callable[[Span], bool]) -> dict[int, int]:
    """Map each job id to the innermost kept span whose range covers
    it. Ranges nest in stack order, so the innermost is the covering
    span that started last."""
    owner: dict[int, int] = {}
    for i, s in enumerate(spans):
        if keep(s):
            for j in range(*s.jobs):
                owner[j] = i  # later (inner) spans overwrite outer ones
    return owner
