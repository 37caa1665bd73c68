"""In-memory spans for the traced run, and per-layer self time.

A span records one call the benchmark makes into a layer: its name
(the layer boundary: run, pass, step, config, resolve, build, action,
release), the step key it belongs to, start and end on the
``perf_counter`` clock, its parent span, and optional counter deltas
read at its boundaries. Spans stay in memory and are written out once,
when the run ends.
"""

from __future__ import annotations

import time
from collections import defaultdict
from collections.abc import Callable, Iterator
from contextlib import contextmanager

# Spans that get Spark counter deltas: the plan call and the action.
COUNTED = frozenset({"build", "action"})


class Tracer:
    """Collects spans; a disabled tracer records nothing.

    Args:
        enabled: record spans when true.
        counters: optional callable returning a dict of cumulative
            counters; read at the start and end of ``COUNTED`` spans and
            stored on the span as deltas.
    """

    def __init__(
        self, enabled: bool, counters: Callable[[], dict[str, float]] | None = None
    ) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._counters = counters
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, key: str | None = None) -> Iterator[dict | None]:
        if not self.enabled:
            yield None
            return
        before = (
            self._counters() if self._counters and name in COUNTED else None
        )
        rec = {
            "id": len(self.spans),
            "name": name,
            "key": key,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            if before is not None:
                after = self._counters()
                rec["counters"] = {k: after[k] - before[k] for k in after}


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the time its child spans cover.

    Children of one span never overlap (the benchmark drives one call at
    a time), so the covered time is the sum of child durations.
    """
    covered: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            covered[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - covered[s["id"]] for s in spans}


def children(spans: list[dict], parent_id: int) -> list[dict]:
    """Direct child spans of ``parent_id`` in start order."""
    return [s for s in spans if s["parent"] == parent_id]
