"""Spans and Spark counters for the traced (``--trace 1``) benchmark run.

Spans are recorded around calls into the engine's public functions by
patching those names for the duration of a run (``Tracer.patch``); the
engine itself is not edited. Spans stay in memory and are written once when
the run ends.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    """Collects spans for one run. A disabled tracer records nothing and
    patches nothing, so untraced runs execute the engine unmodified."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.root: int | None = None  # parent for spans opened on pool threads
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._restore: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self.root
        sid = next(self._ids)
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(
                    Span(sid, name, layer, start, end, parent, self.run_id)
                )

    @contextmanager
    def phase(self, name: str, layer: str = "bench"):
        """A span whose id parents the spans opened on other threads while
        it is open (the ETL's writer pool)."""
        with self.span(name, layer):
            prev = self.root
            if self.enabled:
                self.root = self._local.stack[-1]
            try:
                yield
            finally:
                self.root = prev

    def patch(self, owner, attr: str, layer: str, name: str | None = None,
              root: bool = False):
        """Replace ``owner.attr`` with a wrapper that records a span per
        call (a ``phase`` span when ``root``); ``unpatch`` restores every
        original."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        label = name or attr
        opener = self.phase if root else self.span

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with opener(label, layer):
                return orig(*args, **kwargs)

        self._restore.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unpatch(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    def total(self, name: str | None = None, layer: str | None = None) -> float:
        """Summed wall time of the spans matching ``name``/``layer``."""
        return sum(
            s.end - s.start
            for s in self.spans
            if (name is None or s.name == name)
            and (layer is None or s.layer == layer)
        )

    def self_times(self) -> dict[str, float]:
        """Per-layer self time: each span's duration minus the part of its
        interval that its children (on any thread) cover."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = 0.0
            cursor = s.start
            for c in sorted(kids.get(s.id, ()), key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - covered
        return out

    def dump(self) -> list[dict]:
        return [asdict(s) for s in sorted(self.spans, key=lambda s: s.start)]


class SparkCounters:
    """Cumulative counters read from Spark's own status store: jobs
    started, and the task time, shuffle bytes and spilled bytes of every
    stage since the session started."""

    FIELDS = (("executor_busy_s", "executorRunTime", 1e-3),
              ("shuffle_read_bytes", "shuffleReadBytes", 1),
              ("shuffle_write_bytes", "shuffleWriteBytes", 1),
              ("spill_bytes", "diskBytesSpilled", 1))

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._stage_args = [
            getattr(self._store, f"stageList$default${i}")() for i in range(2, 6)
        ]
        self._last_stage = -1
        self._sums = {name: 0 for name, _, _ in self.FIELDS}

    def snapshot(self) -> dict[str, float]:
        # the status store is fed asynchronously; let it catch up first
        self._bus.waitUntilEmpty(60_000)
        jobs = self._store.jobsList(None)
        stages = self._store.stageList(None, *self._stage_args)
        newest = self._last_stage
        for i in range(stages.size()):  # newest first
            st = stages.apply(i)
            if st.stageId() <= self._last_stage:
                break
            newest = max(newest, st.stageId())
            for name, getter, scale in self.FIELDS:
                self._sums[name] += getattr(st, getter)() * scale
        self._last_stage = newest
        return {"jobs": jobs.apply(0).jobId() + 1 if jobs.size() else 0,
                **self._sums}

    @staticmethod
    def delta(before: dict, after: dict, wall_s: float, cores: int) -> dict:
        d = {k: after[k] - before[k] for k in before}
        d["core_util"] = d["executor_busy_s"] / (wall_s * cores) if wall_s else 0.0
        return d
