"""In-memory spans around calls into the program's layers.

The tracer wraps public functions of the program from the outside
(module attributes and class methods), records one span per call
(name, start, end, parent) and restores the originals on exit. Spans stay
in memory; ``dump`` writes them once the run ends.

Self time of a span is its duration minus the part of its interval that
its child spans cover.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.spans: list = []      # [name, start, end, parent index]
        self.counts: dict = defaultdict(int)
        self._stack: list = []
        self._patched: list = []

    def span(self, name: str):
        return _SpanCtx(self, name)

    def _open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter(), None, parent])
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx][2] = time.perf_counter()
        self._stack.pop()

    def wrap(self, owner, attr: str, name: str, count=None) -> bool:
        """Replace ``owner.attr`` by a spanning wrapper. ``count`` maps the
        call's result to {counter: increment}. Returns False, and wraps
        nothing, when the attribute does not exist."""
        orig = owner.__dict__.get(attr) if isinstance(owner, type) \
            else getattr(owner, attr, None)
        if orig is None:
            return False
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            idx = tracer._open(name)
            try:
                res = orig(*a, **kw)
            finally:
                tracer._close(idx)
            if count is not None:
                for k, v in count(res).items():
                    tracer.counts[k] += v
            tracer.counts[name + ".calls"] += 1
            return res

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))
        return True

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def self_times(self) -> dict:
        return self_times(self.spans)

    def totals(self) -> dict:
        out: dict = defaultdict(float)
        for name, start, end, _ in self.spans:
            out[name] += end - start
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": dict(self.counts)}, f)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        self.idx = self.tracer._open(self.name)
        return self

    def __exit__(self, *exc):
        self.tracer._close(self.idx)
        return False


def _covered(intervals: list) -> float:
    """Length of the union of [start, end] intervals."""
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


def self_times(spans: list) -> dict:
    """name -> summed self time over spans given as
    [name, start, end, parent index] (parent -1 for a root)."""
    children: dict = defaultdict(list)
    for name, s, e, parent in spans:
        if parent >= 0:
            children[parent].append((s, e))
    out: dict = defaultdict(float)
    for i, (name, s, e, _) in enumerate(spans):
        kids = [(max(cs, s), min(ce, e)) for cs, ce in children.get(i, ())
                if ce > s and cs < e]
        out[name] += (e - s) - _covered(kids)
    return dict(out)
