"""In-memory spans around the benchmark's calls into each layer.

A span records its name, start, end and the span that was open on
the same thread when it began. Spans stay in memory and are written
out once, when the run ends. A disabled tracer records nothing, so
the untraced run pays only for the `with` statement.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            rec = {
                "id": len(self.spans),
                "name": name,
                "parent": stack[-1] if stack else None,
                "start": time.time(),
                "end": None,
                **attrs,
            }
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
