"""In-memory spans for the traced run.

One span per call the benchmark makes into a layer, parented to the op
that made it. Spans stay in memory and are written out once, at the end;
a span's self time is its duration minus the part of it that its
children cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict | None = None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. ``enabled=False`` records nothing and costs one
    attribute test per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str, parent: Span | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(
            len(self.spans),
            name,
            None if parent is None else parent.sid,
            time.time(),
            attrs=attrs or None,
        )
        self.spans.append(s)
        try:
            yield s
        finally:
            s.end = time.time()

    def add(self, name: str, start: float, end: float, parent: Span | None = None, **attrs) -> None:
        """Record a span measured elsewhere (e.g. by an executable)."""
        if self.enabled:
            self.spans.append(
                Span(len(self.spans), name, None if parent is None else parent.sid,
                     start, end, attrs or None)
            )

    def write(self, path: str) -> None:
        """Write every span, with its self time, as one JSON list."""
        own = self_times(self.spans)
        with open(path, "w") as f:
            json.dump([asdict(s) | {"self_s": own[s.sid]} for s in self.spans], f)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: s.duration - _covered(children.get(s.sid, []), s.start, s.end)
        for s in spans
    }
