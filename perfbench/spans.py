"""In-memory spans around calls into the program's layers.

A span records a name, the layer (module) it belongs to, start and end,
and the span that was open when it started. Spans are kept in memory and
written out when the run ends. While a span is open, the Spark job group is
set to the span's name, so the event log attributes every job to the
innermost span that launched it.

Self time of a span is its duration minus the part of its interval that its
child spans cover.
"""

from __future__ import annotations

import contextlib
import dataclasses
import functools
import time
from typing import Callable, Iterator

# the program's modules, as layers
LAYERS = (
    "session",
    "operators.parse",
    "operators.enrich",
    "operators.route",
    "operators.aggregate",
    "sources.catalog",
    "streaming.microbatch",
    "operators.search",
)


@dataclasses.dataclass
class Span:
    span_id: int
    name: str
    layer: str
    start: float  # epoch seconds
    end: float
    parent: int | None

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, each clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total = 0.0
    cur_a = cur_b = None
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id -> duration minus the union of its children's intervals."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.span_id: s.duration - union_length(children.get(s.span_id, []), s.start, s.end)
        for s in spans
    }


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    """Sum of span self times per layer."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.layer] = out.get(s.layer, 0.0) + st[s.span_id]
    return out


class Tracer:
    """Span recorder. ``set_group`` is called with the innermost open span's
    name (or None when the outermost span closes) to tag Spark jobs."""

    def __init__(self, set_group: Callable[[str | None], None] | None = None):
        self.spans: list[Span] = []
        # seconds spent in the tracer's own bookkeeping and job-group calls:
        # the instrumentation's cost on the driver
        self.cost_s = 0.0
        self._stack: list[Span] = []
        self._set_group = set_group or (lambda _g: None)
        # epoch anchor for the monotonic clock, so span times line up with
        # the event log's epoch-millisecond stamps
        self._epoch = time.time() - time.perf_counter()

    def now(self) -> float:
        return self._epoch + time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, layer: str) -> Iterator[Span]:
        t0 = time.perf_counter()
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(len(self.spans), name, layer, self.now(), 0.0, parent)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(name)
        self.cost_s += time.perf_counter() - t0
        try:
            yield s
        finally:
            t1 = time.perf_counter()
            s.end = self.now()
            self._stack.pop()
            self._set_group(self._stack[-1].name if self._stack else None)
            self.cost_s += time.perf_counter() - t1

    def wrap(self, fn: Callable, name: str | Callable[..., str], layer: str) -> Callable:
        """``fn`` wrapped in a span; ``name`` may compute the span name from
        the call's arguments."""

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(label, layer):
                return fn(*args, **kwargs)

        return wrapped

    def named(self, prefix: str) -> list[Span]:
        return [s for s in self.spans if s.name.startswith(prefix)]


@contextlib.contextmanager
def patched(targets: list[tuple[object, str, Callable]]) -> Iterator[None]:
    """Temporarily replace ``owner.attr`` with ``make(original)`` for each
    (owner, attr, make) target; originals are restored on exit."""
    saved = []
    try:
        for owner, attr, make in targets:
            orig = getattr(owner, attr)
            saved.append((owner, attr, orig))
            setattr(owner, attr, make(orig))
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)
