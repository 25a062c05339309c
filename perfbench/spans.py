"""In-memory spans and the self-time arithmetic over cumulative prefixes.

A span records name, start, end, parent and operation id. Spans are kept
in memory and written out once, when the benchmark ends.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str, op: int):
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "op": op}
        self._stack.append(name)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            self.spans.append(rec)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def prefix_deltas(walls: list[tuple[str, float]]) -> dict[str, float]:
    """Self time of each cumulative prefix: its wall minus the previous
    prefix's. The deltas telescope to the last prefix's wall."""
    out, prev = {}, 0.0
    for name, wall in walls:
        out[name] = wall - prev
        prev = wall
    return out
