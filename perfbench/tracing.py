"""Spans around the calls into the program's modules, for traced runs.

A :class:`Tracer` keeps spans in memory (name, start, end, parent, run
id) and writes them out once, when the run ends. :func:`instrument`
wraps public functions of the program for the length of a ``with``
block by rebinding the module attributes that point at them; no program
file is edited. A layer that only builds a lazy plan has its output
persisted and forced to the ``noop`` sink inside a ``<layer>.force``
child span, so its execution is charged to it and not to the sink that
consumes it. Counters computed from a layer's inputs and outputs run in
``bench.observe`` child spans, which no layer is charged for.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any

FORCE = ".force"
OBSERVE = "bench.observe"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run: str
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    run: str = ""
    spans: list[Span] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)
    persisted: list[Any] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        sp = Span(len(self.spans), name, self._stack[-1] if self._stack else None,
                  self.run, time.time())
        self.spans.append(sp)
        self._stack.append(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    def count(self, name: str, value: float) -> None:
        self.counters[name] = self.counters.get(name, 0.0) + value

    def release(self) -> None:
        """Unpersist the outputs forced during the current run."""
        for df in self.persisted:
            df.unpersist()
        self.persisted.clear()

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the time its direct
        children cover."""
        child = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.dur
        out: dict[str, float] = {}
        for sp in self.spans:
            out[sp.name] = out.get(sp.name, 0.0) + sp.dur - child[sp.id]
        return out

    def layer_times(self) -> dict[str, float]:
        """Per layer: its self time plus the time its own forced output
        took. ``bench.observe`` children are excluded."""
        own = self.self_times()
        out = {n: t for n, t in own.items() if not n.endswith(FORCE) and n != OBSERVE}
        for sp in self.spans:
            if sp.name.endswith(FORCE):
                layer = sp.name[: -len(FORCE)]
                out[layer] = out.get(layer, 0.0) + sp.dur
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({"id": sp.id, "name": sp.name, "parent": sp.parent,
                                    "run": sp.run, "start": sp.start, "end": sp.end}) + "\n")


Observer = Callable[[Tracer, tuple, dict, Any], None]


@dataclass(frozen=True)
class Target:
    """One public function to wrap: ``module.attr``, recorded as span
    ``name``. ``lazy``: the result is a DataFrame to force to the noop sink;
    ``observe`` computes counters from (args, kwargs, result)."""

    module: str
    attr: str
    name: str
    lazy: bool = False
    observe: Observer | None = None


def _wrap(tracer: Tracer, t: Target, fn: Callable) -> Callable:
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(t.name):
            out = fn(*args, **kwargs)
            if t.lazy:
                out = out.persist()
                tracer.persisted.append(out)
                with tracer.span(t.name + FORCE):
                    out.write.format("noop").mode("overwrite").save()
            if t.observe is not None:
                with tracer.span(OBSERVE):
                    t.observe(tracer, args, kwargs, out)
        return out

    return wrapper


@contextmanager
def instrument(tracer: Tracer, targets: list[Target], package: str) -> Iterator[None]:
    """Wrap every target in its defining module and in every module of
    ``package`` that imported it by name; restore the originals on exit."""
    patched: list[tuple[object, str, Callable]] = []
    try:
        for t in targets:
            orig = getattr(sys.modules[t.module], t.attr)
            wrapped = _wrap(tracer, t, orig)
            for name, mod in list(sys.modules.items()):
                if name.startswith(package) and getattr(mod, t.attr, None) is orig:
                    setattr(mod, t.attr, wrapped)
                    patched.append((mod, t.attr, orig))
        yield
    finally:
        for mod, attr, orig in reversed(patched):
            setattr(mod, attr, orig)
