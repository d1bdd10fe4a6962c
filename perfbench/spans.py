"""In-memory spans around the benchmark's calls into each package layer.

A span is ``(name, start, end, parent, op_id)`` with wall-clock epoch
seconds. Spans are only recorded while a tracer is active; the untimed
bookkeeping is a no-op otherwise, so the same workload code serves both
the timed and the traced run.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span named ``name``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch(self, name: str, attr: str, original, prefix: str = "review_engine_spark") -> int:
        """Replace ``original`` wherever a loaded package module binds it as
        ``attr`` (modules import layer functions by name), so calls made
        inside the program are spanned too. Returns the number of
        bindings replaced."""
        wrapped = self.wrap(name, original)
        n = 0
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith(prefix) and getattr(mod, attr, None) is original:
                setattr(mod, attr, wrapped)
                n += 1
        return n

    def durations(self, name: str) -> dict[str, float]:
        """Total seconds of the spans named ``name``, per operation id."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s["name"] == name and s["end"] is not None:
                out[s["op"]] = out.get(s["op"], 0.0) + s["end"] - s["start"]
        return out

    def coverage(self, op_name: str = "op") -> list[float]:
        """Per operation: share of the root span's wall time covered by its
        direct child spans."""
        shares = []
        for i, s in enumerate(self.spans):
            if s["name"] != op_name or s["end"] is None:
                continue
            wall = s["end"] - s["start"]
            kids = sum(c["end"] - c["start"] for c in self.spans if c["parent"] == i and c["end"] is not None)
            shares.append(kids / wall if wall > 0 else 1.0)
        return shares

    def to_json(self) -> str:
        return json.dumps(self.spans, separators=(",", ":"))
