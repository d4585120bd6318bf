"""In-memory span recorder for the traced benchmark run.

Spans are recorded from the benchmark's own files, around calls into the
package's public functions; nothing inside ``ib_tool_spark`` is
instrumented.  Spans stay in memory and are written out once, as JSON
lines, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import time


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record ``name`` around the body; the enclosing open span is
        its parent.  Yields the span dict so the body can add counts."""
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @staticmethod
    def dur(rec: dict) -> float:
        return rec["end"] - rec["start"]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")
