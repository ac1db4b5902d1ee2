"""Benchmark-side tracing: spans around each call into a layer.

A span records name, start, end, parent and trace id. Spans stay in memory
and are written once, at the end of the run. ``Spans(enabled=False)`` makes
every call a no-op, so the untraced run pays nothing but the ``with``.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager


class Spans:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.rows: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, trace: str | None = None, **attrs):
        """Time the body as one span, child of the innermost open span on
        this thread; the trace id is inherited unless given."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        row = {"id": next(self._ids), "name": name,
               "parent": parent["id"] if parent else None,
               "trace": trace or (parent["trace"] if parent else name),
               "start": time.time(), "end": None, **attrs}
        stack.append(row)
        try:
            yield row
        finally:
            row["end"] = time.time()
            stack.pop()
            with self._lock:
                self.rows.append(row)

    def add(self, name: str, start: float, end: float, parent: dict | None, trace: str, **attrs) -> None:
        """Record a span measured elsewhere (a micro-batch, from its progress event)."""
        if not self.enabled:
            return
        with self._lock:
            self.rows.append({"id": next(self._ids), "name": name,
                              "parent": parent["id"] if parent else None, "trace": trace,
                              "start": start, "end": end, **attrs})

    def self_times(self) -> dict[str, float]:
        """Seconds per span name not covered by that span's children."""
        children: dict[int, list[tuple[float, float]]] = {}
        for r in self.rows:
            if r["parent"] is not None:
                children.setdefault(r["parent"], []).append((r["start"], r["end"]))
        out: dict[str, float] = {}
        for r in self.rows:
            covered, cur_s, cur_e = 0.0, None, None
            for s, e in sorted(children.get(r["id"], [])):
                s, e = max(s, r["start"]), min(e, r["end"])
                if e <= s:
                    continue
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[r["name"]] = out.get(r["name"], 0.0) + (r["end"] - r["start"]) - covered
        return out
