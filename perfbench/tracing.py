"""In-memory spans for the traced run.

A span is (id, parent id, name, start, end) in seconds since the tracer
started; every span of one run shares the run's trace id. Spans are kept in
a list and written as JSON once, when the run ends. With tracing off,
``span`` is a no-op context manager, so the untraced run pays nothing.
"""
from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self, enabled: bool, trace_id: str):
        self.enabled = enabled
        self.trace_id = trace_id
        self.spans: list = []
        self._stack: list = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        rec = {'id': len(self.spans), 'name': name,
               'parent': self._stack[-1]['id'] if self._stack else None,
               'start': time.perf_counter() - self._t0, 'end': None}
        if attrs:
            rec['attrs'] = attrs
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield
        finally:
            rec['end'] = time.perf_counter() - self._t0
            self._stack.pop()

    def self_times(self) -> dict:
        """seconds per span name, minus the time its child spans cover
        (children of one span never overlap: the benchmark is sequential)"""
        child = {}
        for s in self.spans:
            if s['parent'] is not None:
                child[s['parent']] = (child.get(s['parent'], 0.0)
                                      + s['end'] - s['start'])
        out: dict = {}
        for s in self.spans:
            own = s['end'] - s['start'] - child.get(s['id'], 0.0)
            out[s['name']] = out.get(s['name'], 0.0) + own
        return out

    def dump(self, path: str, **extra):
        with open(path, 'w') as fh:
            json.dump({'trace_id': self.trace_id, 'spans': self.spans,
                       'self_s': self.self_times(), **extra}, fh, indent=1)
