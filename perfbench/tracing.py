"""In-memory spans recorded from the benchmark side.

A span has a name, a layer (a package module: ``streaming``, ``sinks``,
``functions``, ``sources``, ``operators``), start and end times, the id
of the span that caused it and the id of the workload run. Spans are
recorded around calls into the package's public functions, either
directly (``span``) or by swapping a module attribute for a timing
wrapper for the length of a ``with`` block (``patch``). Nothing inside
the package is changed.

Callbacks that Spark runs on its own threads (``foreachBatch``) start
with an empty span stack; their spans take the tracer's ``adopt``
parent, so self time still nets them out of the span that waits for
them.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    run: str


class Tracer:
    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.adopt: int | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else self.adopt
        sid = next(self._ids)
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, layer, start, end, parent, self.run_id))

    @contextlib.contextmanager
    def adopting(self, sid: int | None):
        """Make ``sid`` the parent of spans opened on threads that have
        no span of their own (Spark callback threads)."""
        prev, self.adopt = self.adopt, sid
        try:
            yield
        finally:
            self.adopt = prev

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return timed

    @contextlib.contextmanager
    def patch(self, owner, attr: str, name: str, layer: str):
        """Time every call of ``owner.attr`` inside the block."""
        if not self.enabled:
            yield
            return
        original = getattr(owner, attr)
        setattr(owner, attr, self.wrap(original, name, layer))
        try:
            yield
        finally:
            setattr(owner, attr, original)

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def self_time_by_layer(self) -> dict[str, float]:
        """Per layer: the sum over its spans of duration minus the part
        of the span covered by its children."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _union_length(
                (max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.id, [])
            )
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def _union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
