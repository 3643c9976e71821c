"""In-memory spans for the traced run.

A span has a name, a layer, start and end (perf_counter seconds), the
id of its parent span and a trace id (a query id, a pipeline name or a
batch number). Spans are appended to a list while the run goes and
written out once when it ends; nothing is aggregated on the hot path.

Layers are traced from outside the program: `wrap_module_functions`
replaces a module's public functions with timing wrappers and rebinds
every alias the program's other modules imported by name, so a caller
that did `from ..cluster import connected_components` is traced too.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    trace: str
    parent: int | None
    start: float
    end: float = 0.0
    note: str = ""

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans. Parent links follow a per-thread stack, so
    concurrent callers (the serving clients) each get their own tree."""

    def __init__(self):
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        self.overhead_s = 0.0  # wall spent in the wrappers themselves

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, layer: str, trace: str | None = None) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = self._next
            self._next += 1
        span = Span(
            sid=sid,
            name=name,
            layer=layer,
            trace=trace if trace is not None else (parent.trace if parent else ""),
            parent=parent.sid if parent else None,
            start=time.perf_counter(),
        )
        stack.append(span)
        return span

    def end(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self._stack()
        if not stack or stack[-1] is not span:
            raise RuntimeError(f"span {span.name} closed out of order")
        stack.pop()
        with self._lock:
            self.spans.append(span)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its
    interval covered by its children. Children that overlap each other
    (concurrent work under one parent) are counted once, as the union
    of their intervals clipped to the parent."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s.sid, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.sid] = max(0.0, s.dur - covered)
    return out


def wrap(
    tracer: Tracer, fn, layer: str, name: str | None = None,
    annotate=None, enter=None,
):
    """`fn` inside a span. `enter(span)` runs once the span is open;
    `annotate(span, args, result)` runs before it closes and may set
    its trace id or note."""
    label = name or fn.__name__

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        t0 = time.perf_counter()
        s = tracer.begin(label, layer)
        if enter is not None:
            enter(s)
        result = None
        t1 = time.perf_counter()
        try:
            result = fn(*args, **kwargs)
            return result
        finally:
            t2 = time.perf_counter()
            if annotate is not None:
                annotate(s, args, result)
            tracer.end(s)
            with tracer._lock:
                tracer.overhead_s += (t1 - t0) + (time.perf_counter() - t2)

    traced.__wrapped_original__ = fn
    return traced


def wrap_module_functions(
    tracer: Tracer, module, layer: str, names: list[str], package: str,
    annotate=None, enter=None,
) -> int:
    """Wrap `module.<name>` for each name, and rebind every attribute of
    every loaded module under `package` that still points at the
    original function object. Returns the number of bindings replaced."""
    replaced = 0
    for name in names:
        orig = getattr(module, name)
        traced = wrap(tracer, orig, layer, name, annotate, enter)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (
                mod_name == package or mod_name.startswith(package + ".")
            ):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, traced)
                    replaced += 1
    return replaced


def wrap_method(
    tracer: Tracer, cls, method: str, layer: str, name: str,
    annotate=None, enter=None,
) -> None:
    raw = vars(cls)[method]
    if isinstance(raw, staticmethod):
        setattr(cls, method, staticmethod(
            wrap(tracer, raw.__func__, layer, name, annotate, enter)
        ))
    else:
        setattr(cls, method, wrap(tracer, raw, layer, name, annotate, enter))
