"""In-memory spans recorded around the benchmark's calls into the engine."""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager

from perfbench.stats import self_times


class Tracer:
    """Spans with a name, a layer, start/end (``perf_counter`` seconds),
    the span that caused them and free-form attributes. Disabled
    tracers record nothing and cost one branch per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        # maps wall-clock stamps (streaming progress events) onto perf_counter
        self._wall0, self._perf0 = time.time(), time.perf_counter()

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = self._open(name, layer, time.perf_counter(), attrs)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, layer: str, wall_start: float, duration_s: float, **attrs) -> None:
        """A finished span known only by its wall-clock start, child of
        the innermost open span."""
        if self.enabled:
            start = self._perf0 + (wall_start - self._wall0)
            self._open(name, layer, start, attrs)["end"] = start + duration_s

    def _open(self, name, layer, start, attrs) -> dict:
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "layer": layer,
            "start": start,
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        return rec

    def layer_self_times(self) -> dict[str, float]:
        """Total self time of each layer's spans."""
        own = self_times([s for s in self.spans if s["end"] is not None])
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["id"] in own:
                out[s["layer"]] += own[s["id"]]
        return dict(out)
