"""In-memory span tracer for the benchmark's traced run.

A span records (id, name, start, end, parent). Spans open on the calling
thread and nest under that thread's innermost open span, so a sink write
issued from a ``foreachBatch`` callback nests under the operator span of
the same callback. Spans stay in memory and are written out once, when the
run ends. With tracing off, ``span`` returns one shared no-op context and
no program function is wrapped.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple[int, str, float, float, int | None]] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def _span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append((sid, name, t0, t1, parent))

    def span(self, name: str):
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name)

    def wrap(self, owner: object, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper (traced run only).
        ``after(args, kwargs, seconds)`` runs once the call returns, to
        record counts at the same boundary."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            t0 = time.perf_counter()
            with self._span(name):
                out = fn(*args, **kwargs)
            if after is not None:
                after(args, kwargs, time.perf_counter() - t0)
            return out

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def durations(self, name: str) -> list[float]:
        """Durations in seconds of every span called ``name``."""
        return [t1 - t0 for _, n, t0, t1, _ in self.spans if n == name]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        part of its interval that its child spans cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for _, _, t0, t1, parent in self.spans:
            if parent is not None:
                kids.setdefault(parent, []).append((t0, t1))
        out: dict[str, float] = {}
        for sid, name, t0, t1, _ in self.spans:
            covered, end = 0.0, t0
            for c0, c1 in sorted(kids.get(sid, ())):
                c0, c1 = max(c0, end), min(c1, t1)
                if c1 > c0:
                    covered += c1 - c0
                    end = c1
            out[name] = out.get(name, 0.0) + (t1 - t0) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, name, t0, t1, parent in sorted(self.spans):
                f.write(json.dumps(
                    {"id": sid, "name": name, "start": t0, "end": t1,
                     "parent": parent}
                ) + "\n")
