"""In-memory span recorder and the statistics the benchmark reports.

A span is (id, name, start, end, parent, op). Its layer is the part of
the name before the first dot (``operators.build`` belongs to
``operators``). Spans are kept in a list while the benchmark runs and
written out as JSON lines once, when the run ends.

A span's self time is its duration minus the part of it that its
child spans cover; a layer's self time is the sum over its spans.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    """Records spans when enabled; with ``enabled=False`` every call is
    a no-op, so untraced runs pay nothing but the method call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self.op: int | None = None
        # time the tracer itself spends on bookkeeping beyond the
        # clock reads: reading job and stream status, sizing checkpoints
        self.bookkeeping_s = 0.0

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None):
        """Time the enclosed block. ``parent`` overrides the enclosing
        span on this thread (for callbacks that run on another thread)."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        with self._lock:
            sid = len(self.spans)
            self.spans.append(Span(sid, name, time.perf_counter(), 0.0, parent, self.op))
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            self.spans[sid].end = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Self time summed per layer."""
        covered = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                covered[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for s in self.spans:
            own = max(0.0, (s.end - s.start) - covered[s.id])
            out[s.layer] = out.get(s.layer, 0.0) + own
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def percentile(values: list[float], q: int) -> float:
    """The q-th percentile (q in 1..99) as ``statistics.quantiles``
    gives it, exclusive method; the median for a single value."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100)[q - 1]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def mean(values: list[float]) -> float:
    return statistics.fmean(values) if values else 0.0
