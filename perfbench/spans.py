"""Spans around the public functions of `stockpulse_spark`, recorded from
outside the program.

`Tracer.install()` wraps every public function defined in a traced
module and rebinds each module attribute that refers to it, so calls
made through `from x import f` bindings are traced too. Spans are kept
in memory (name, start, end, parent) and written out by `dump`.
"""

from __future__ import annotations

import functools
import json
import sys
import time
import types
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass

PACKAGE = "stockpulse_spark"


def layer_of(module: str) -> str | None:
    """Layer name for a `stockpulse_spark` module, or None if untraced.
    Layers are the package's subpackages and top-level modules; the
    `operators` modules `dedup` and `maintenance` are layers of their own."""
    parts = module.split(".")
    if parts[0] != PACKAGE or len(parts) < 2:
        return None
    top = parts[1]
    if top == "operators" and len(parts) > 2 and parts[2] in ("dedup", "maintenance"):
        return f"operators.{parts[2]}"
    if top in ("plans", "functions", "operators", "llmdata", "sources",
               "streaming", "jobs", "session"):
        return top
    return None


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[types.ModuleType, str, object]] = []

    @contextmanager
    def span(self, name: str, layer: str = "bench"):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, layer, time.perf_counter(), 0.0, parent))
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def _wrap(self, fn, layer: str):
        name = f"{layer}.{fn.__name__}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Wrap the public functions of every loaded traced module."""
        modules = [
            m for n, m in list(sys.modules.items())
            if n.startswith(PACKAGE + ".") and m is not None
        ]
        wrappers: dict[int, object] = {}
        for mod in modules:
            layer = layer_of(mod.__name__)
            if layer is None:
                continue
            for attr, val in vars(mod).items():
                if (isinstance(val, types.FunctionType) and not attr.startswith("_")
                        and val.__module__ == mod.__name__):
                    wrappers[id(val)] = self._wrap(val, layer)
        for mod in modules:
            for attr, val in list(vars(mod).items()):
                wrapped = wrappers.get(id(val))
                if wrapped is not None:
                    self._patched.append((mod, attr, val))
                    setattr(mod, attr, wrapped)

    def uninstall(self) -> None:
        for mod, attr, val in reversed(self._patched):
            setattr(mod, attr, val)
        self._patched.clear()

    def _self_seconds(self) -> list[float]:
        """Each span's duration minus the time its child spans cover."""
        out = [s.end - s.start for s in self.spans]
        for s in self.spans:
            if s.parent is not None:
                out[s.parent] -= s.end - s.start
        return out

    def self_times(self) -> dict[str, float]:
        """Self seconds per span name."""
        out: dict[str, float] = defaultdict(float)
        for s, own in zip(self.spans, self._self_seconds()):
            out[s.name] += own
        return dict(out)

    def layer_self(self, layer: str) -> float:
        """Self seconds of every span in `layer`."""
        return sum(own for s, own in zip(self.spans, self._self_seconds()) if s.layer == layer)

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def covered(self, idx: int) -> float:
        """Share of span `idx` covered by its direct children."""
        root = self.spans[idx]
        inner = sum(s.end - s.start for s in self.spans[idx + 1:] if s.parent == idx)
        return inner / (root.end - root.start)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "name": s.name, "layer": s.layer, "start": s.start,
                    "end": s.end, "parent": s.parent,
                }) + "\n")


class JobCounter:
    """Spark jobs per operation, from a job group set around it."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self._n = 0

    @contextmanager
    def group(self):
        self._n += 1
        gid = f"perfbench-{self._n}"
        self.sc.setJobGroup(gid, gid)
        box = [0]
        try:
            yield box
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            box[0] = len(self.sc.statusTracker().getJobIdsForGroup(gid))


def span(tracer: Tracer | None, name: str, layer: str = "bench"):
    """`tracer.span(...)`, or a no-op context when tracing is off."""
    return tracer.span(name, layer) if tracer is not None else nullcontext()


def job_group(jobs: JobCounter | None):
    """`jobs.group()`, or a context yielding a zero count when off."""
    return jobs.group() if jobs is not None else nullcontext([0])
