"""In-memory span recorder for traced runs.

A span has a name, start and end (seconds since the epoch), a parent
span id and the run id. Spans are written as one JSON file when the run
ends; ``self_times`` gives each layer's time minus its children's.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.bookkeeping_s = 0.0

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> int:
        t0 = time.perf_counter()
        sid = len(self.spans)
        self.spans.append(
            {"id": sid, "name": name, "start": start, "end": end,
             "parent": parent, "run_id": self.run_id}
        )
        self.bookkeeping_s += time.perf_counter() - t0
        return sid

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = self.add(name, time.time(), 0.0, self._stack[-1] if self._stack else None)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, excluding time covered by child spans."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) - child[s["id"]]
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)
