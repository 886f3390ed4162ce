"""Trace spans kept in memory and written out when a run ends."""

from __future__ import annotations

import time

_clock = time.perf_counter


class Spans:
    """In-memory trace spans (name, start, end, parent, id), written out
    when the run ends. Disabled instances record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.rows: list[dict] = []
        self._stack: list[int] = []
        self.origin = _clock()

    def span(self, name: str, ident: str | None = None):
        return _Span(self, name, ident)


class _Span:
    def __init__(self, spans: Spans, name: str, ident: str | None):
        self.spans, self.name, self.ident = spans, name, ident
        self.seconds = 0.0

    def __enter__(self):
        self.t0 = _clock()
        if self.spans.enabled:
            self.idx = len(self.spans.rows)
            parent = self.spans._stack[-1] if self.spans._stack else None
            self.spans.rows.append({"name": self.name, "parent": parent, "id": self.ident})
            self.spans._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        t1 = _clock()
        self.seconds = t1 - self.t0
        if self.spans.enabled:
            self.spans._stack.pop()
            row = self.spans.rows[self.idx]
            row["start"] = self.t0 - self.spans.origin
            row["end"] = t1 - self.spans.origin
        return False
