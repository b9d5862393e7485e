"""In-memory span recording for the traced run.

One span per wrapped call: name, start, end, parent span and op id.
Spans stay in memory and are written out once, at exit. A span's self
time is its duration minus the part of its interval that its child
spans cover.
"""

from __future__ import annotations

import json
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    n: int = 0  # a count the wrapper attaches: rows fetched, bytes rendered

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total = 0.0
    cur_lo = cur_hi = None
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
    """Self time per span id: duration minus child coverage."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: s.duration - covered(children.get(s.sid, []), s.start, s.end)
        for s in spans
    }


class Recorder:
    """Collects spans; ``op`` tags every span opened while it is set."""

    def __init__(self, clock=time.perf_counter) -> None:
        self.clock = clock
        self.spans: list[Span] = []
        self.op: int | None = None
        self.enabled = True
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def begin(self, name: str) -> Span | None:
        if not self.enabled:
            return None
        stack = self._stack()
        span = Span(
            len(self.spans), name, self.clock(), 0.0,
            stack[-1].sid if stack else None, self.op,
        )
        self.spans.append(span)
        stack.append(span)
        return span

    def end(self, span: Span | None) -> None:
        if span is None:
            return
        span.end = self.clock()
        stack = self._stack()
        # pop through spans a raising callee left open
        while stack:
            if stack.pop() is span:
                break

    def write(self, path: str, header: dict) -> None:
        """One JSON line of ``header``, then one line per span."""
        with open(path, "w") as f:
            f.write(json.dumps(header) + "\n")
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
