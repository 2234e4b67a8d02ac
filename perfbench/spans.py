"""In-memory spans for the traced run, with Spark status-store deltas.

A span records a name, its parent, start and end (``perf_counter``
seconds) and the stages Spark completed while it was open. Spans stay
in memory and are written as JSON when the run ends. A span's self
time is its duration minus the part of its interval its children
cover; its self stages are its stages minus its children's.
"""

from __future__ import annotations

import json
import threading
import time
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

STAGE_FIELDS = (
    "numTasks", "executorRunTime", "inputBytes", "inputRecords",
    "shuffleWriteBytes", "diskBytesSpilled",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int
    start: float
    end: float = 0.0
    stages: dict[int, dict] = field(default_factory=dict)
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class StageReader:
    """Completed-stage metrics from the SparkContext's status store.

    ``stageList`` returns stages newest first, so a read walks only the
    stages submitted since the previous read."""

    def __init__(self, sc) -> None:
        jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._args = (jvm.java.util.ArrayList(), False, False,
                      sc._gateway.new_array(jvm.double, 0),
                      jvm.java.util.ArrayList())

    def since(self, last_id: int) -> dict[int, dict]:
        """Stages with id > ``last_id``, after the listener bus has
        delivered every event posted so far."""
        self._bus.waitUntilEmpty()
        seq = self._store.stageList(*self._args)
        out: dict[int, dict] = {}
        for i in range(seq.size()):
            s = seq.apply(i)
            sid = s.stageId()
            if sid <= last_id:
                break
            if sid in out:  # keep the first attempt seen (the newest)
                continue
            out[sid] = {f: getattr(s, f)() for f in STAGE_FIELDS}
        return out


class Tracer:
    """Collects spans; ``None`` stage reader records wall time only.

    One stack serves every thread: the streaming sink calls back on
    a py4j thread while the main thread waits on the query, so spans
    still nest in time."""

    def __init__(self, stages: StageReader | None, last_stage: int = -1) -> None:
        self.stages = stages
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._lock = threading.Lock()
        self._last_stage = last_stage  # stages up to this id belong to no span
        self.op = -1

    def _sync_stages(self) -> dict[int, dict]:
        if self.stages is None:
            return {}
        new = self.stages.since(self._last_stage)
        if new:
            self._last_stage = max(new)
        return new

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        with self._lock:
            self._sync_stages()
            parent = self._stack[-1].id if self._stack else None
            sp = Span(len(self.spans), name, parent, self.op, time.perf_counter())
            self.spans.append(sp)
            self._stack.append(sp)
        try:
            yield sp
        finally:
            with self._lock:
                sp.end = time.perf_counter()
                new = self._sync_stages()
                for open_span in self._stack:
                    open_span.stages.update(new)
                self._stack.remove(sp)

    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.id]

    def self_time(self, sp: Span) -> float:
        kids = [(c.start, c.end) for c in self.children(sp)]
        return sp.duration - covered(kids, sp.start, sp.end)

    def self_stages(self, sp: Span) -> dict[int, dict]:
        inner: set[int] = set()
        for c in self.children(sp):
            inner.update(c.stages)
        return {k: v for k, v in sp.stages.items() if k not in inner}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([
                {"id": s.id, "name": s.name, "parent": s.parent, "op": s.op,
                 "start": s.start, "end": s.end,
                 "self_s": self.self_time(s), "counts": s.counts,
                 "stages": sorted(s.stages)}
                for s in self.spans
            ], f)
