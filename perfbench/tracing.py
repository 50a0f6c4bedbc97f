"""In-memory spans recorded around the benchmark's calls into each layer.

A span has a name, a start, an end and a parent. ``install`` wraps the
public functions of ``mapreducefw_spark.operators.*`` and
``mapreducefw_spark.plans.*`` so that every call from the benchmark's own
process records a span. It must run before the query modules are imported,
because they bind those functions by name at import time. Workers unpickle
the functions by reference and so run the unwrapped originals.

A layer's self time is its spans' durations minus the part of each interval
that its child spans cover.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass
from types import ModuleType


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    pass_no: int


class Tracer:
    """Records spans while ``active``; ``pass_no`` tags each span with the
    workload pass it belongs to."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.active = False
        self.pass_no = -1
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        span = Span(len(self.spans), name, time.perf_counter(), 0.0, parent, self.pass_no)
        self.spans.append(span)
        self._stack.append(span.id)
        try:
            yield
        finally:
            self._stack.pop()
            span.end = time.perf_counter()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the union of its children's intervals,
    clipped to the span."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children[s.id], key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = (s.end - s.start) - covered
    return out


def _public_functions(mod: ModuleType):
    for attr, obj in vars(mod).items():
        if (
            not attr.startswith("_")
            and inspect.isfunction(obj)
            and obj.__module__ == mod.__name__
            # pandas/python UDF wrappers build Columns; they are not calls
            # into a layer
            and not hasattr(obj, "evalType")
        ):
            yield attr, obj


def _submodules(package: str) -> list[ModuleType]:
    pkg = importlib.import_module(package)
    mods = [pkg]
    for info in pkgutil.iter_modules(pkg.__path__, package + "."):
        mods.append(importlib.import_module(info.name))
    return mods


def install(tracer: Tracer) -> list[str]:
    """Wrap every public function of the operators and plans modules, in the
    defining module and wherever another of these modules re-exports it.
    Span names are ``operators.<module>.<fn>`` and ``plans.<fn>``. Returns
    the wrapped names."""
    mods = _submodules("mapreducefw_spark.operators") + _submodules(
        "mapreducefw_spark.plans"
    )
    wrapped: dict[int, object] = {}
    names = []
    for mod in mods:
        short = mod.__name__.split(".")
        for attr, fn in list(_public_functions(mod)):
            if short[1] == "operators":
                name = f"operators.{short[2]}.{attr}"
            else:
                name = f"plans.{attr}"
            wrapped[id(fn)] = tracer.wrap(name, fn)
            names.append(name)
    for mod in mods:
        for attr, obj in list(vars(mod).items()):
            if id(obj) in wrapped:
                setattr(mod, attr, wrapped[id(obj)])
    return sorted(names)
