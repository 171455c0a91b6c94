"""Benchmark-side spans around the calls into each engine layer.

The spans live in the benchmark, not the engine: ``Tracer.wrap`` swaps a
module attribute for a wrapper that records a span around each call.
Entry points that import a stage function at call time (``__main__.main``,
``streaming.requests.serve_request``) pick the wrapper up. Spans are
kept in memory and written out once, when the process ends.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        st = self._stack()
        rec = {"id": next(self._ids), "name": name, "parent": st[-1] if st else None,
               "start": time.time(), "end": None, **attrs}
        st.append(rec["id"])
        try:
            yield rec
        finally:
            st.pop()
            rec["end"] = time.time()
            with self._lock:
                self.spans.append(rec)

    def add(self, name: str, start: float, end: float, **attrs) -> dict:
        """Record a span measured by the caller (e.g. a gap between two
        wrapped calls), as a child of the current span."""
        st = self._stack()
        rec = {"id": next(self._ids), "name": name, "parent": st[-1] if st else None,
               "start": start, "end": end, **attrs}
        with self._lock:
            self.spans.append(rec)
        return rec

    def patch(self, module: str, attr: str, make) -> None:
        """Replace ``module.attr`` with ``make(original)`` for the rest of
        the process."""
        mod = importlib.import_module(module)
        fn = getattr(mod, attr)
        setattr(mod, attr, functools.wraps(fn)(make(fn)))

    def wrap(self, module: str, attr: str, name: str, before=None, after=None) -> None:
        """Record a span named ``name`` around every call of
        ``module.attr``. ``before(span, args)`` and ``after(span,
        result)`` run inside the span."""

        def make(fn):
            def traced(*args, **kwargs):
                with self.span(name) as rec:
                    if before is not None:
                        before(rec, args)
                    result = fn(*args, **kwargs)
                    if after is not None:
                        after(rec, result)
                    return result

            return traced

        self.patch(module, attr, make)
