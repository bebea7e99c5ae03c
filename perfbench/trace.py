"""In-memory span recording, function wrapping and self-time arithmetic.

A span is ``(id, parent, name, start, end, request id, attrs)``. Spans
nest per thread; ``attrs`` carries counts measured at the same boundary.
Nothing here imports the engine: callers name what to wrap.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self.enabled = True
        self._local = threading.local()
        self._ids = itertools.count(1)

    @property
    def request(self):
        return getattr(self._local, "req", None)

    @request.setter
    def request(self, req) -> None:
        self._local.req = req

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield attrs
        finally:
            t1 = time.perf_counter()
            stack.pop()
            # list.append is atomic under the GIL: no lock on the hot path
            self.spans.append((sid, parent, name, t0, t1, self.request, attrs or None))

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` (a module function, method or classmethod)
        by a wrapper that records span ``name``. ``after(attrs, args,
        kwargs, result)`` may add counts to the span."""
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        is_cm = isinstance(raw, classmethod)
        fn = raw.__func__ if is_cm else raw

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name) as attrs:
                try:
                    out = fn(*args, **kwargs)
                except BaseException as e:
                    attrs["error"] = type(e).__name__
                    raise
                if after is not None and self.enabled:
                    after(attrs, args, kwargs, out)
                return out

        setattr(owner, attr, classmethod(wrapper) if is_cm else wrapper)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def load_spans(path: str) -> list[tuple]:
    with open(path) as f:
        return [tuple(json.loads(line)) for line in f if line.strip()]


def covered(start: float, end: float, intervals) -> float:
    """Length of ``[start, end]`` covered by the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> dict[int, float]:
    """Span id -> its duration minus the part its children cover."""
    kids = defaultdict(list)
    for sid, parent, _n, s, e, *_ in spans:
        if parent is not None:
            kids[parent].append((s, e))
    return {sid: (e - s) - covered(s, e, kids[sid]) for sid, _p, _n, s, e, *_ in spans}


def layer_of(name: str) -> str:
    return name.split(".", 1)[0]


def self_by_layer(spans) -> dict[str, float]:
    """Layer -> summed self time in seconds."""
    st = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for sp in spans:
        out[layer_of(sp[2])] += st[sp[0]]
    return dict(out)
