"""In-memory spans with parent links, and the self-time arithmetic.

A span's self time is its duration minus the part of its interval that
its child spans cover.  Top-level spans have no parent; the share of a
run's wall time that no top-level span covers is its unattributed share.
"""

from __future__ import annotations

import functools
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float | None = None
    error: str | None = None


class Tracer:
    def __init__(self, clock=time.time) -> None:
        self.clock = clock
        self.spans: list[Span] = []
        self.own_s = 0.0                    # time spent in begin/end
        self._stack: list[Span] = []       # open nested spans, innermost last
        self._interval: Span | None = None  # open top-level interval span

    def begin(self, name: str) -> Span:
        t = time.perf_counter()
        if not self._stack:
            self.end_interval()
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), parent, name, self.clock())
        self.spans.append(s)
        self._stack.append(s)
        self.own_s += time.perf_counter() - t
        return s

    def end(self, span: Span, error: str | None = None) -> None:
        """Close ``span`` and any span opened inside it still open."""
        t = time.perf_counter()
        if span in self._stack:
            now = self.clock()
            while self._stack:
                top = self._stack.pop()
                top.end = now
                if top is span:
                    top.error = error
                    break
                top.error = "parent ended"
        self.own_s += time.perf_counter() - t

    def begin_interval(self, name: str) -> None:
        """A top-level span that stays open until the next top-level span
        begins (or ``finish``): for calls that only build a lazy plan whose
        work runs in the caller right after they return."""
        s = self.begin(name)
        self._stack.remove(s)
        self._interval = s

    def end_interval(self) -> None:
        if self._interval is not None:
            self._interval.end = self.clock()
            self._interval = None

    def wrap(self, fn, name: str, interval: bool = False):
        @functools.wraps(fn)
        def traced(*a, **kw):
            if interval:
                self.begin_interval(name)
                return fn(*a, **kw)
            s = self.begin(name)
            try:
                out = fn(*a, **kw)
            except BaseException as e:
                self.end(s, error=type(e).__name__)
                raise
            self.end(s)
            return out
        return traced

    def finish(self) -> list[dict]:
        self.end_interval()
        while self._stack:
            self.end(self._stack[0], error="unclosed")
        return [asdict(s) for s in self.spans]


def union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = union_length(
            (max(lo, c["start"]), min(hi, c["end"]))
            for c in kids.get(s["id"], ()) if c["end"] > lo and c["start"] < hi
        )
        out[s["name"]] = out.get(s["name"], 0.0) + (hi - lo) - covered
    return out


def totals(spans: list[dict]) -> dict[str, float]:
    """Total duration per span name."""
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
    return out


def top_level_covered(spans: list[dict], t0: float, t1: float) -> float:
    """Seconds of [t0, t1] that some top-level span covers."""
    return union_length(
        (max(t0, s["start"]), min(t1, s["end"]))
        for s in spans
        if s["parent"] is None and s["end"] > t0 and s["start"] < t1
    )
