"""Span recording, counter attribution and summary statistics.

Everything here is plain Python so that it can be tested without a Spark
session. The Spark side (``counters.py``) only supplies the next job id at
span boundaries and, after the timed calls, the job records to attribute.

Attribution is by job-id window: a span owns the jobs whose ids were handed
out between its start and its end. Job ids come from one counter in the
driver, so jobs that a call submits from worker threads land in its window
too, which a thread-local job group would miss.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable, Iterable, Sequence


@dataclass
class Span:
    name: str
    start: float  # wall clock, seconds since the epoch
    end: float
    parent: int | None  # index into Tracer.spans
    pass_id: int
    job_lo: int  # first job id the span may own
    job_hi: int  # first job id handed out after the span ended

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass(frozen=True)
class Job:
    job_id: int
    submitted: float  # seconds since the epoch
    completed: float
    tasks: int
    stage_ids: tuple[int, ...] = ()


class Tracer:
    """Records spans in memory. With ``enabled`` false, ``span`` is a no-op
    context manager, so untraced runs pay one attribute check per call."""

    def __init__(self, next_job_id: Callable[[], int], enabled: bool = True):
        self.next_job_id = next_job_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.pass_id = 0
        self.cost = 0.0  # seconds spent recording spans, inside the spans' callers
        self._stack = threading.local()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        stack = self._stack.__dict__.setdefault("open", [])
        parent = stack[-1] if stack else None
        job_lo = self.next_job_id()
        start = time.time()
        idx = len(self.spans)
        self.spans.append(Span(name, start, start, parent, self.pass_id, job_lo, job_lo))
        stack.append(idx)
        self.cost += time.perf_counter() - t0
        try:
            yield self.spans[idx]
        finally:
            t1 = time.perf_counter()
            stack.pop()
            s = self.spans[idx]
            s.end = time.time()
            s.job_hi = self.next_job_id()
            self.cost += time.perf_counter() - t1


def union_seconds(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_seconds(spans: Sequence[Span]) -> list[float]:
    """Each span's duration minus the part of it its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        s.seconds - union_seconds(children.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]


def jobs_in_window(span: Span, jobs: Iterable[Job]) -> list[Job]:
    """The jobs whose ids were handed out while ``span`` was open."""
    return [j for j in jobs if span.job_lo <= j.job_id < span.job_hi]


def stage_owners(jobs: Iterable[Job]) -> dict[int, int]:
    """Stage id -> the lowest id of the jobs that list it, i.e. the job that
    created the stage. A later job that lists the same stage reuses its
    output, so the stage's work is charged to its creator alone."""
    owners: dict[int, int] = {}
    for j in sorted(jobs, key=lambda j: j.job_id):
        for s in j.stage_ids:
            owners.setdefault(s, j.job_id)
    return owners


def stages_in_window(span: Span, owners: dict[int, int]) -> list[int]:
    """The stages created by jobs in ``span``'s window."""
    return sorted(s for s, j in owners.items() if span.job_lo <= j < span.job_hi)


def driver_seconds(span: Span, jobs: Iterable[Job]) -> float:
    """Span time during which none of its jobs was running."""
    return span.seconds - union_seconds(
        ((j.submitted, j.completed) for j in jobs), span.start, span.end
    )


def median(values: Sequence[float]) -> float:
    v = sorted(values)
    if not v:
        raise ValueError("median of no values")
    mid = len(v) // 2
    return v[mid] if len(v) % 2 else (v[mid - 1] + v[mid]) / 2


def percentile(values: Sequence[float], q: float) -> float:
    """Linear interpolation between closest ranks (numpy's default)."""
    v = sorted(values)
    if not v:
        raise ValueError("percentile of no values")
    pos = (len(v) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def latency_by_type(samples: Iterable[tuple[str, float]]) -> dict[str, dict]:
    """Per request type: sample count, p50, and p90 once at least ten
    samples lie above it (n >= 100). Types are never pooled, because a
    percentile over a mix lands between the types' modes."""
    by: dict[str, list[float]] = {}
    for kind, value in samples:
        by.setdefault(kind, []).append(value)
    out = {}
    for k, v in sorted(by.items()):
        out[k] = {"n": len(v), "p50": percentile(v, 50)}
        if len(v) >= 100:
            out[k]["p90"] = percentile(v, 90)
    return out


@dataclass
class Clock:
    """Wall and CPU seconds summed over the timed parts of a pass, so that
    both leave out the same untimed work (output checks)."""

    cpu_now: Callable[[], float]
    wall: float = 0.0
    cpu: float = 0.0

    @contextmanager
    def timed(self):
        c0 = self.cpu_now()
        w0 = time.perf_counter()
        try:
            yield
        finally:
            self.wall += time.perf_counter() - w0
            self.cpu += self.cpu_now() - c0


@dataclass
class Ledger:
    """Counts attempted operations and the ones that failed, where an
    operation fails if it raised or if any output check on it failed."""

    attempted: int = 0
    failures: list[tuple[int, str]] = field(default_factory=list)

    def begin(self) -> int:
        self.attempted += 1
        return self.attempted

    def fail(self, op: int, what: str) -> None:
        self.failures.append((op, what))

    def check(self, op: int, ok: bool, what: str) -> bool:
        if not ok:
            self.fail(op, what)
        return ok

    @property
    def failed(self) -> int:
        return len({op for op, _ in self.failures})

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0
