"""Span recorder for the traced run.

A span is (name, start, end, parent) plus the run id shared by every span
of one run. Spans are kept in memory and written once, as JSON lines, when
the run ends. The recorder wraps the engine's public functions at the
places the benchmark and the engine call them (``instrument``), so the
engine's own sources stay untouched; the untraced run installs nothing.

A layer's self time is its span's duration minus the part of that interval
that its child spans cover (``self_times``). Summed over every span under
one root, self times add up to the root's duration exactly.
"""

from __future__ import annotations

import json
import threading
import time
from collections import Counter
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the parent span in Tracer.spans
    run_id: str


class Tracer:
    """In-memory span and counter store for one run."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []
        self.counts: Counter[str] = Counter()
        self._stacks: dict[int, list[int]] = {}
        self._lock = threading.Lock()
        self._main = threading.main_thread().ident

    def _parent(self, tid: int) -> int | None:
        stack = self._stacks.get(tid)
        if stack:
            return stack[-1]
        # a worker thread (run_steered executes its query on one) hangs
        # its spans under the span its spawning main thread is inside
        main = self._stacks.get(self._main)
        return main[-1] if main else None

    @contextmanager
    def span(self, name: str) -> Iterator[int]:
        tid = threading.get_ident()
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, time.perf_counter(), float("nan"), self._parent(tid), self.run_id))
            self._stacks.setdefault(tid, []).append(idx)
        try:
            yield idx
        finally:
            end = time.perf_counter()
            with self._lock:
                self.spans[idx].end = end
                self._stacks[tid].pop()

    def wrap(self, fn: Callable, name: str, after: Callable | None = None) -> Callable:
        """``fn`` timed as a span ``name``; ``after(result, span)`` runs
        after the span closes, to count what the call returned."""

        def traced(*args, **kwargs):
            with self.span(name) as idx:
                result = fn(*args, **kwargs)
            self.count(name)
            if after is not None:
                after(result, self.spans[idx])
            return result

        traced.__wrapped__ = fn
        return traced

    def count(self, name: str, n: int = 1) -> None:
        with self._lock:
            self.counts[name] += n

    def current(self) -> str | None:
        """Name of the innermost open span of the calling thread."""
        stack = self._stacks.get(threading.get_ident())
        return self.spans[stack[-1]].name if stack else None

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
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


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the union of its children's intervals,
    each clipped to the span's own interval."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                children.setdefault(s.parent, []).append((lo, hi))
    return [
        (s.end - s.start) - _covered(children.get(i, [])) for i, s in enumerate(spans)
    ]


def descendants(spans: list[Span], root: int) -> list[int]:
    """Indices of every span below ``root`` (spans are appended in start
    order, so a parent always precedes its children)."""
    inside = {root}
    out = []
    for i in range(root + 1, len(spans)):
        if spans[i].parent in inside:
            inside.add(i)
            out.append(i)
    return out


def self_by_name(spans: list[Span], root: int) -> dict[str, float]:
    """Self time summed per span name over ``root`` and its descendants."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for i in [root, *descendants(spans, root)]:
        out[spans[i].name] = out.get(spans[i].name, 0.0) + st[i]
    return out
