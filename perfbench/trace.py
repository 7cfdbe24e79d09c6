"""Spans around the benchmark's calls into the engine.

Each span records its name, start, end, parent span and run id, and is set
as the Spark job group (and job description) while it is open, so the
stages and SQL executions it starts can be attributed to it afterwards.
Spans stay in memory and are written out once, at exit.  A disabled tracer
sets no job group and records nothing.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc, run_id: str, enabled: bool) -> None:
        self._sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        """Yield the span record (``None`` when disabled); callers may add
        counts to it.  ``wall_s`` is the span's duration."""
        if not self.enabled:
            yield None
            return
        rec = {"run_id": self.run_id, "span_id": len(self.spans),
               "parent": self._stack[-1]["span_id"] if self._stack else None,
               "name": name, "start": time.time()}
        rec["group"] = f"{self.run_id}/{rec['span_id']}/{name}"
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec["group"])
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1]["group"] if self._stack else None)

    def _set_group(self, group: str | None) -> None:
        self._sc.setLocalProperty("spark.jobGroup.id", group)
        self._sc.setLocalProperty("spark.job.description", group)

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["span_id"]]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)
