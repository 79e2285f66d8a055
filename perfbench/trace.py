"""In-memory spans recorded around calls into the engine's layers.

A span is ``(name, start, end, parent, batch)``; spans of one batch share
the batch id. Nothing is written while a run measures: ``dump`` writes the
spans out once at the end. ``self_times`` reduces a span list to each
layer's self time (its duration minus the part its children cover).
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    batch: int | None


class Tracer:
    """Span recorder.

    ``traced`` decides once whether wrappers are installed at all; ``enabled``
    switches recording on and off between batches, so one traced run also
    times untraced batches. The open-span stack is per thread, so spans
    recorded on a streaming query's callback thread nest under that
    thread's batch span.
    """

    def __init__(self, traced: bool):
        self.traced = traced
        self.enabled = traced
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open(self, name: str, batch: int | None, start: float) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else None
        if batch is None and parent is not None:
            batch = parent.batch
        with self._lock:
            span = Span(len(self.spans), name, start, start,
                        parent.sid if parent else None, batch)
            self.spans.append(span)
        stack.append(span)
        return span

    @contextmanager
    def span(self, name: str, batch: int | None = None, start: float | None = None):
        """Time the body; ``start`` backdates the span to an earlier instant."""
        if not self.enabled:
            yield
            return
        span = self._open(name, batch, time.perf_counter() if start is None else start)
        try:
            yield
        finally:
            span.end = time.perf_counter()
            self._stack().pop()

    def record(self, name: str, start: float, end: float, batch: int | None = None) -> None:
        """Add an already-finished span (e.g. time measured by the engine)."""
        if not self.enabled:
            return
        span = self._open(name, batch, start)
        span.end = end
        self._stack().pop()

    def wrap(self, name: str, fn):
        """``fn`` timed as a span named ``name`` on every call."""
        if not self.traced:
            return fn

        def timed(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        timed.__wrapped__ = fn
        return timed

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
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


def self_times(spans: list[Span]) -> dict[tuple[int | None, str], float]:
    """Self time summed per ``(batch, span name)``."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[tuple[int | None, str], float] = {}
    for s in spans:
        own = (s.end - s.start) - _covered(children.get(s.sid, []), s.start, s.end)
        key = (s.batch, s.name)
        out[key] = out.get(key, 0.0) + own
    return out


def per_batch_table(spans: list[Span], batches: list[int]) -> dict[str, float]:
    """Mean self seconds per batch of every span name, over ``batches``."""
    st = self_times(spans)
    wanted = set(batches)
    table: dict[str, float] = {}
    for (b, name), v in st.items():
        if b in wanted:
            table[name] = table.get(name, 0.0) + v
    n = max(len(wanted), 1)
    return {name: v / n for name, v in sorted(table.items())}
