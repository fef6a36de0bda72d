"""In-memory span recorder for the traced benchmark run.

A span is one call across a layer boundary: name, start, end (seconds
on the ``time.perf_counter`` clock), the id of the span that caused it,
and the id of the operation it belongs to. Spans stay in a list and are
written out once, when the run ends, so tracing adds no file I/O to the
timed region. With tracing off every call is a no-op.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []
        self._op: int | None = None

    @contextlib.contextmanager
    def op(self, name: str, **attrs):
        """A root span that starts a new operation id for its children."""
        outer, self._op = self._op, next(self._ids) if self.enabled else None
        try:
            with self.span(name, **attrs) as sid:
                yield sid
        finally:
            self._op = outer

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            self._stack.pop()
            self.add(name, start, time.perf_counter(), parent=parent, sid=sid, **attrs)

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            sid: int | None = None, **attrs) -> int | None:
        """Record a span measured elsewhere, e.g. rebuilt from Spark progress."""
        if not self.enabled:
            return None
        sid = sid if sid is not None else next(self._ids)
        self.spans.append({
            "id": sid, "parent": parent, "op": self._op if self._op is not None else sid,
            "name": name, "start": start, "end": end, **attrs,
        })
        return sid

    def dump(self, path: str, meta: dict) -> None:
        with open(path, "w") as out:
            json.dump({"meta": meta, "spans": self.spans}, out)
