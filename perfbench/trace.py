"""Spans for the traced run, recorded from the benchmark's own code.

A span is ``(name, start, end, parent, trace_id, attrs)``.  Spans are
kept in memory and written once, at exit.  ``hook`` wraps a public
function of a library module or class so that every call records one
span; the untraced run installs no hook.  A layer's self time is its
span minus the part of it its child spans cover.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[list] = []
        self._local = threading.local()
        self.trace_id = "run"
        self._hooks: list[tuple[object, str, object, object]] = []
        self._lock = threading.Lock()

    # -- recording ------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, **attrs) -> int:
        st = self._stack()
        parent = st[-1] if st else -1
        with self._lock:
            idx = len(self.spans)
            self.spans.append([name, time.monotonic(), None, parent, self.trace_id, attrs])
        st.append(idx)
        return idx

    def end(self, idx: int, **attrs) -> None:
        span = self.spans[idx]
        span[2] = time.monotonic()
        if attrs:
            span[5].update(attrs)
        self._stack().pop()

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    # -- hooks ------------------------------------------------------------

    def hook(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` by a wrapper recording a span ``name``
        per call; ``after(result, args, kwargs)`` may return attrs to
        store on the span.  ``unhook_all`` restores every original."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            idx = tracer.begin(name)
            try:
                out = orig(*args, **kwargs)
            except BaseException:
                tracer.end(idx, error=True)
                raise
            tracer.end(idx, **(after(out, args, kwargs) or {}) if after else {})
            return out

        self._hooks.append((owner, attr, orig, wrapper))
        setattr(owner, attr, wrapper)

    def pause(self) -> None:
        """Restore every original, keeping the hooks for ``resume``:
        the traced run times some work untraced to measure overhead."""
        for owner, attr, orig, _ in self._hooks:
            setattr(owner, attr, orig)

    def resume(self) -> None:
        for owner, attr, _, wrapper in self._hooks:
            setattr(owner, attr, wrapper)

    def unhook_all(self) -> None:
        self.pause()
        self._hooks.clear()

    # -- analysis ---------------------------------------------------------

    def closed(self, name: str) -> list[list]:
        return [s for s in self.spans if s[0] == name and s[2] is not None]

    def durations(self, name: str) -> list[float]:
        return [s[2] - s[1] for s in self.closed(name)]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name, in seconds."""
        child = defaultdict(float)
        for s in self.spans:
            if s[2] is not None and s[3] >= 0:
                child[s[3]] += s[2] - s[1]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s[2] is not None:
                out[s[0]] += (s[2] - s[1]) - child.get(i, 0.0)
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for name, start, end, parent, tid, attrs in self.spans:
                fh.write(json.dumps({"name": name, "start": start, "end": end, "parent": parent,
                                     "id": tid, **attrs}, default=str) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict) -> None:
        self.t, self.name, self.attrs = tracer, name, attrs

    def __enter__(self):
        self.idx = self.t.begin(self.name, **self.attrs)
        return self

    def __exit__(self, *exc) -> None:
        self.t.end(self.idx)
