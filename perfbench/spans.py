"""Spans around the calls into each layer of the engine, for the traced run.

``Tracer.install()`` wraps the layer entry points in every loaded module
of the package that holds them, so a name imported with ``from ... import``
into a ``queries`` module is wrapped as well as the defining module's own.
Each span sets the Spark job description to its layer name while it is
open, so the stages it launches can be attributed to it. Spans are kept
in memory and summarised per pass; ``Tracer.uninstall()`` puts the
original functions back.
"""

from __future__ import annotations

import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql.streaming import StreamingQueryListener

PACKAGE = "data_engineer_project_spark"

# (defining module, function name, layer) for each wrapped entry point.
LAYER_CALLS = (
    ("operators.graph", "connected_components", "graph.cc"),
    ("operators.graph", "connected_components_from_edges", "graph.cc"),
    ("operators.dedup", "skew_guarded_self_pairs", "dedup.guard"),
    ("plans.star", "build_star", "plans.build_star"),
    ("plans.star", "write_star", "plans.write_star"),
)


@dataclass
class Span:
    layer: str
    start: float
    end: float
    parent: int | None


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._spark = spark
        self._lock = threading.Lock()
        self._stack: list[int] = []
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self._patched: list[tuple[object, str, object]] = []
        self._listener = None
        self.enabled = True

    # ----------------------------------------------------------- spans

    @contextmanager
    def span(self, layer: str):
        prev_desc = self._sc.getLocalProperty("spark.job.description")
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(layer, time.perf_counter(), 0.0, parent))
        self._stack.append(idx)
        self._sc.setLocalProperty("spark.job.description", layer)
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()
            self._sc.setLocalProperty("spark.job.description", prev_desc)

    def inside(self, layer: str) -> bool:
        return any(self.spans[i].layer == layer for i in self._stack)

    def count(self, key: str, n: float = 1) -> None:
        with self._lock:
            self.counts[key] = self.counts.get(key, 0) + n

    def drain(self) -> tuple[list[Span], dict[str, float]]:
        """Spans and counts since the last drain (no span may be open)."""
        with self._lock:
            spans, counts = self.spans, self.counts
            self.spans, self.counts = [], {}
        return spans, counts

    # --------------------------------------------------------- patches

    def _wrap(self, fn, layer: str):
        from data_engineer_project_spark.operators import dedup, graph

        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.enabled or tracer.inside(layer):  # off, or nested
                return fn(*args, **kwargs)
            with tracer.span(layer):
                out = fn(*args, **kwargs)
            tracer.count(f"{layer}.calls")
            if layer == "graph.cc":
                tracer.count("graph.cc.rounds", graph.LAST_RUN_STATS.get("rounds", 0))
            elif layer == "dedup.guard":
                tracer.count("dedup.guard.cached", bool(dedup.LAST_GUARD_STATS.get("cached")))
            return out

        wrapper.__wrapped__ = fn
        return wrapper

    def _count_only(self, fn, key: str):
        tracer = self

        def wrapper(*args, **kwargs):
            if tracer.enabled:
                tracer.count(key)
            return fn(*args, **kwargs)

        wrapper.__wrapped__ = fn
        return wrapper

    def _replace_everywhere(self, original, replacement) -> None:
        for name, mod in list(sys.modules.items()):
            if mod is None or not name.startswith(PACKAGE):
                continue
            for attr, val in list(vars(mod).items()):
                if val is original:
                    setattr(mod, attr, replacement)
                    self._patched.append((mod, attr, original))

    def install(self) -> None:
        import importlib

        from data_engineer_project_spark.operators import cache

        for module, name, layer in LAYER_CALLS:
            mod = importlib.import_module(f"{PACKAGE}.{module}")
            original = getattr(mod, name)
            self._replace_everywhere(original, self._wrap(original, layer))
        self._replace_everywhere(
            cache.tracked_persist, self._count_only(cache.tracked_persist, "cache.persists")
        )
        self._listener = _BatchListener(self)
        self._spark.streams.addListener(self._listener)

    def uninstall(self) -> None:
        for mod, attr, original in reversed(self._patched):
            setattr(mod, attr, original)
        self._patched.clear()
        if self._listener is not None:
            self._spark.streams.removeListener(self._listener)
            self._listener = None


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per layer: span time minus the part covered by its child spans."""
    child_time = [0.0] * len(spans)
    for s in spans:
        if s.parent is not None:
            child_time[s.parent] += s.end - s.start
    out: dict[str, float] = {}
    for s, kids in zip(spans, child_time):
        out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - kids
    return out


class _BatchListener(StreamingQueryListener):
    """Counts streaming micro-batches and their duration."""

    def __init__(self, tracer: Tracer):
        self._tracer = tracer

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        if not self._tracer.enabled:
            return
        p = event.progress
        self._tracer.count("streaming.batches")
        self._tracer.count("streaming.batch_s", (p.batchDuration or 0) / 1e3)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass
