"""Spans around the library's layer boundaries, recorded from outside.

The benchmark wraps every public function of each layer module; a wrapped
call records one span (name, layer, start, end, parent, request id) in
memory. Self time is a span's duration minus the time its direct children
cover, so the self times of all spans in a pass add up to the pass's wall
time and nothing is counted twice.

Spark jobs are tagged with the span that was innermost when they started:
the wrapper sets the ``perfbench.span`` local property on entry and restores
the previous value on exit, and the event log records it with each job.
The property is only pushed to the JVM when the layer changes, since job
counts are reported per layer.
"""

from __future__ import annotations

import functools
import inspect
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

SPAN_PROPERTY = "perfbench.span"

# The layers of the library, by module; every public function defined in
# one of these modules is wrapped.
LAYER_MODULES = {
    "queries": "espkinesis_spark.queries",
    "tables": "espkinesis_spark.tables",
    "operators.core": "espkinesis_spark.operators.core",
    "functions.dedup": "espkinesis_spark.functions.dedup",
    "functions.similarity": "espkinesis_spark.functions.similarity",
    "functions.text": "espkinesis_spark.functions.text",
    "streaming.sources": "espkinesis_spark.streaming.sources",
    "streaming.pipeline": "espkinesis_spark.streaming.pipeline",
    "streaming.state": "espkinesis_spark.streaming.state",
    "streaming.jobs": "espkinesis_spark.streaming.jobs",
    "streaming.sinks": "espkinesis_spark.streaming.sinks",
}


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    request: str | None


class Tracer:
    """In-memory span recorder for the thread that created it (the
    benchmark's driver thread); calls from other threads pass through."""

    def __init__(self) -> None:
        self.enabled = False
        self._thread = threading.get_ident()
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None
        self._pushed: str | None = None
        self._next_id = 1

    def __getstate__(self) -> dict:
        # a wrapper pickled into a Python worker carries a disabled tracer
        return {}

    def __setstate__(self, state: dict) -> None:
        self.__init__()

    def attach(self, spark_context) -> None:
        self._sc = spark_context

    def _push(self, value: str | None) -> None:
        if self._sc is not None and value != self._pushed:
            self._sc.setLocalProperty(SPAN_PROPERTY, value)
            self._pushed = value

    @contextmanager
    def span(self, name: str, layer: str, request: str | None = None):
        if not self.enabled or threading.get_ident() != self._thread:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = parent.request
        s = Span(self._next_id, name, layer, time.time(), 0.0,
                 parent.id if parent else None, request)
        self._next_id += 1
        self._stack.append(s)
        outer = self._pushed
        if parent is None or parent.layer != layer:
            self._push(str(s.id))
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._push(outer)
            self.spans.append(s)


def _wrap(fn, layer: str, tracer: Tracer):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        if not tracer.enabled:
            return fn(*args, **kwargs)
        with tracer.span(fn.__name__, layer):
            return fn(*args, **kwargs)

    traced.__perfbench_layer__ = layer
    return traced


def install(tracer: Tracer) -> int:
    """Wrap the public functions of every layer module so that calls record
    spans in ``tracer``, and rebind every reference to them inside the
    package (``from x import f`` copies too). Returns the number of
    functions wrapped; functions already wrapped are left alone."""
    import importlib

    originals: dict[int, object] = {}
    for layer, modname in LAYER_MODULES.items():
        mod = importlib.import_module(modname)
        for name, obj in list(vars(mod).items()):
            if (
                name.startswith("_")
                or not inspect.isfunction(obj)
                or obj.__module__ != modname
                or hasattr(obj, "__perfbench_layer__")
            ):
                continue
            originals[id(obj)] = _wrap(obj, layer, tracer)
    for modname, mod in list(sys.modules.items()):
        if mod is None or not modname.startswith("espkinesis_spark"):
            continue
        for name, obj in list(vars(mod).items()):
            wrapper = originals.get(id(obj))
            if wrapper is not None:
                setattr(mod, name, wrapper)
    return len(originals)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part covered by its direct children."""
    child_time: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_time[s.parent] = child_time.get(s.parent, 0.0) + (s.end - s.start)
    return {s.id: (s.end - s.start) - child_time.get(s.id, 0.0) for s in spans}


def layer_totals(spans: list[Span]) -> dict[str, dict[str, float]]:
    """layer -> {"calls": n, "self_s": seconds} over the given spans."""
    own = self_times(spans)
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        row = out.setdefault(s.layer, {"calls": 0, "self_s": 0.0})
        row["calls"] += 1
        row["self_s"] += own[s.id]
    return out


def innermost_at(spans: list[Span], t: float) -> Span | None:
    """The deepest span whose interval holds time ``t`` (spans nest)."""
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.start >= best.start):
            best = s
    return best


def dump(spans: list[Span], path: str) -> None:
    import json

    with open(path, "w") as f:
        for s in spans:
            f.write(json.dumps(s.__dict__) + "\n")
