"""In-memory spans for the traced run, written out when the run ends.

A span has a name, a start and end (epoch seconds), a parent and the run
id every span of one run shares. A layer's self time is its span's
duration minus the part of that interval its child spans cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list = []
        self._stack: list = []

    def add(self, name: str, start: float, end: float, parent: int | None,
            **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({"id": sid, "run": self.run_id, "name": name,
                           "parent": parent, "start": start, "end": end,
                           **attrs})
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sid = self.add(name, time.time(), None, parent, **attrs)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def children(self, sid: int) -> list:
        return [s for s in self.spans if s["parent"] == sid]

    def self_time(self, sid: int) -> float:
        span = self.spans[sid]
        lo, hi = span["start"], span["end"]
        covered, edge = 0.0, lo
        for c in sorted(self.children(sid), key=lambda s: s["start"]):
            start, end = max(c["start"], edge), min(c["end"], hi)
            if end > start:
                covered += end - start
                edge = end
        return (hi - lo) - covered

    def self_times(self, root: int) -> dict:
        """Self time summed by span name over ``root``'s subtree."""
        out: dict = {}
        todo = [root]
        while todo:
            sid = todo.pop()
            name = self.spans[sid]["name"]
            out[name] = out.get(name, 0.0) + self.self_time(sid)
            todo.extend(c["id"] for c in self.children(sid))
        return out

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
