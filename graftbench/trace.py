"""In-memory spans around public package calls (traced runs only)."""

from __future__ import annotations

import contextlib
import threading
import time
from collections import defaultdict


class Tracer:
    """Records (name, start, end, parent) spans when enabled; a no-op
    context manager otherwise, so untraced runs pay nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()  # spans also close on stream threads
        self.bookkeeping_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, parent: str | None = None):
        if not self.enabled:
            yield
            return
        b0 = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"name": name, "parent": stack[-1]["name"] if stack else parent,
               "start": time.time(), "end": None}
        stack.append(rec)
        opened = time.perf_counter() - b0
        try:
            yield
        finally:
            b1 = time.perf_counter()
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)
                self.bookkeeping_s += opened + time.perf_counter() - b1

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus direct children."""
        total: dict[str, float] = defaultdict(float)
        kids: dict[str, float] = defaultdict(float)
        for s in self.spans:
            d = s["end"] - s["start"]
            total[s["name"]] += d
            if s["parent"] is not None:
                kids[s["parent"]] += d
        return {k: total[k] - kids.get(k, 0.0) for k in total}
