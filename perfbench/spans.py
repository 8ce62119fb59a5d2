"""Spans around the engine's public callables, and the statistics on them.

A traced run installs wrappers on public functions and methods of the
engine from outside (``install``); no engine file is edited. Each span
records its name, start, end, parent, the batch it belongs to, the
Spark jobs submitted while it was open, and the bytes it wrote into a
watched directory. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import math
import os
import time
from collections.abc import Callable
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    batch: int | None = None
    jobs: int = 0
    bytes_written: int = 0
    failed: bool = False
    children: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


def dir_state(path: str | None) -> dict[str, tuple[int, int, int]]:
    """``relative path -> (inode, size, mtime_ns)`` of the files under ``path``."""
    state: dict[str, tuple[int, int, int]] = {}
    if not path:
        return state
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            state[os.path.relpath(p, path)] = (st.st_ino, st.st_size, st.st_mtime_ns)
    return state


def bytes_written(before: dict, after: dict) -> int:
    """Bytes of the files that are new or changed between two ``dir_state``s."""
    return sum(v[1] for k, v in after.items() if before.get(k) != v)


def dir_bytes(path: str) -> int:
    return sum(v[1] for v in dir_state(path).values())


class Tracer:
    """Collects spans; the wrappers record only while ``enabled`` is set."""

    def __init__(self, job_counter: Callable[[], int],
                 clock: Callable[[], float] = time.perf_counter):
        self.job_counter = job_counter
        self.clock = clock
        self.enabled = False
        self.batch: int | None = None
        self.spans: list[Span] = []
        #: seconds spent in the wrappers outside the spans they record
        self.cost_s = 0.0
        self._stack: list[int] = []
        self._originals: list[tuple[object, str, object]] = []

    def open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, self.clock(), parent=parent, batch=self.batch,
                               jobs=self.job_counter()))
        i = len(self.spans) - 1
        if parent is not None:
            self.spans[parent].children.append(i)
        self._stack.append(i)
        return i

    def close(self, i: int, failed: bool = False) -> None:
        s = self.spans[i]
        s.end = self.clock()
        s.jobs = self.job_counter() - s.jobs
        s.failed = failed
        self._stack.remove(i)

    def call(self, name: str, fn: Callable, args: tuple, kwargs: dict,
             watch: str | None = None):
        """Run ``fn`` inside a span; ``watch`` is a directory to diff."""
        t0 = self.clock()
        before = dir_state(watch) if watch else None
        i = self.open(name)
        try:
            out = fn(*args, **kwargs)
        except BaseException:
            self.close(i, failed=True)
            raise
        self.close(i)
        if watch:
            self.spans[i].bytes_written = bytes_written(before, dir_state(watch))
        self.cost_s += self.clock() - t0 - self.spans[i].duration
        return out

    def install(self, owner: object, attr: str, name: str,
                watch: Callable[[tuple], str | None] | None = None) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span per call."""
        orig = getattr(owner, attr)
        self._originals.append((owner, attr, orig))
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            return tracer.call(name, orig, args, kwargs, watch(args) if watch else None)

        wrapper.__name__ = getattr(orig, "__name__", attr)
        wrapper.__doc__ = getattr(orig, "__doc__", None)
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._originals):
            setattr(owner, attr, orig)
        self._originals.clear()

    def self_time(self, i: int) -> float:
        """Span duration minus the part of it that its children cover."""
        return self_time(self.spans[i], [self.spans[c] for c in self.spans[i].children])

    def self_jobs(self, i: int) -> int:
        s = self.spans[i]
        return s.jobs - sum(self.spans[c].jobs for c in s.children)

    def named(self, name: str) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.name == name]

    def dump(self) -> list[dict]:
        return [{**asdict(s), "self_s": self.self_time(i)} for i, s in enumerate(self.spans)]


def self_time(span: Span, children: list[Span]) -> float:
    """``span``'s duration minus the union of its children's intervals."""
    covered = 0.0
    lo = hi = None
    for c in sorted(children, key=lambda c: c.start):
        a, b = max(c.start, span.start), min(c.end, span.end)
        if b <= a:
            continue
        if hi is None or a > hi:
            if hi is not None:
                covered += hi - lo
            lo, hi = a, b
        else:
            hi = max(hi, b)
    if hi is not None:
        covered += hi - lo
    return span.duration - covered


def median(values: list[float]) -> float:
    if not values:
        return 0.0
    s = sorted(values)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail_percentile(values: list[float], beyond: int = 10) -> tuple[int, float] | None:
    """The highest whole percentile with at least ``beyond`` samples above it.

    Nearest-rank: percentile ``p`` is the ``ceil(p * n / 100)``-th
    smallest sample. Returns ``(p, value)``, or ``None`` when ``n`` is
    too small for any percentile to leave ``beyond`` samples above it.
    """
    n = len(values)
    if n <= beyond:
        return None
    p = (100 * (n - beyond)) // n
    k = max(1, math.ceil(p * n / 100))
    return p, sorted(values)[k - 1]
