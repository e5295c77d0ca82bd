"""Spans and Spark job groups around the benchmark's calls into each layer.

Inert unless enabled, so timed runs pay one attribute check per span.
Spans are kept in memory and written once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._next_id = 0

    @contextmanager
    def span(self, name: str, op_id: str, job_group: bool = False):
        """Record ``name`` for ``op_id``; with ``job_group`` also tag the
        Spark jobs started inside as ``<op_id>:<name>``."""
        if not self.enabled:
            yield
            return
        sid, self._next_id = self._next_id, self._next_id + 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        if job_group:
            self.sc.setJobGroup(f"{op_id}:{name}", name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            if job_group:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._stack.pop()
            self.spans.append({
                "id": sid, "name": name, "op": op_id, "parent": parent,
                "start": start, "end": end,
            })

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in sorted(self.spans, key=lambda s: s["id"]):
                fh.write(json.dumps(s) + "\n")
