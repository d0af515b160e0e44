"""In-memory spans around the benchmark's calls into each layer.

A span has a name, a start and end (``perf_counter`` seconds), the
index of its parent span, the op it belongs to and, in a traced run,
the counters measured over it.  Spans are kept in memory and written
out once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover.

    Children may overlap one another (the package runs some writes from
    a thread pool), so covered time is the length of the union of the
    children's intervals, clipped to the parent."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in sorted(kids.get(i, ())):
            a, b = max(a, s.start), min(b, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out.append(s.wall_s - covered)
    return out


class Tracer:
    """Records spans.  While ``probe`` is set, also the probe's counters
    per span: any object with ``mark()`` and ``since(mark, wall_s)``
    (see probes.SparkProbe)."""

    def __init__(self):
        self.probe = None
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        idx = len(self.spans)
        s = Span(name, 0.0, parent=parent, op=op)
        self.spans.append(s)
        self._stack.append(idx)
        counted = self.probe is not None
        mark = self.probe.mark() if counted else None
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if counted:
                s.counters = self.probe.since(mark, s.wall_s)

    def dump(self, path: str, extra: dict) -> None:
        selfs = self_times(self.spans)
        rows = [dict(asdict(s), wall_s=s.wall_s, self_s=t) for s, t in zip(self.spans, selfs)]
        with open(path, "w") as fh:
            json.dump(dict(extra, spans=rows), fh, indent=1)
