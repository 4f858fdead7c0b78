"""In-memory span recorder for the traced run.

Spans are recorded only around calls the benchmark makes into the
engine; nothing inside the engine is instrumented."""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    """Records ``{id, name, start, end, parent, item}`` spans while
    ``enabled``; when disabled, ``span`` only runs its body."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, item: str | None = None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if item is None and parent is not None:
            item = self.spans[parent]["item"]
        rec = {"id": sid, "name": name, "start": time.perf_counter(),
               "end": None, "parent": parent, "item": item}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")
