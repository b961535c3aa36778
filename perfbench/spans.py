"""Spans recorded from outside the package, and the wrappers that make them.

A span is one call into a layer: its layer name, start and end, the span
that caused it, and counts gathered at the boundary (bytes and files a
write produced, rows a read returned). Spans live in memory and are
summarised once the timed ops are over.

Every span also tags the Spark jobs it submits: the wrapper sets the
job description of the calling thread to ``pb:<span id>`` and restores
the previous one on exit, so the event log (``eventlog.py``) can charge
each job to the innermost span that was open when it was submitted.
The pipeline runs its chains in driver threads; the table wrappers run
in those threads, so the jobs of a chain's writes are tagged too.
"""

from __future__ import annotations

import os
import threading
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field

DESC_PREFIX = "pb:"

# Table written -> the operator layer that produced its rows. The first
# matching prefix wins, so tier_1m (rollup) is tested before tier_.
WRITE_LAYERS = [
    ("tier_1m", "operators.rollup"),
    ("tier_", "operators.cascade"),
    ("fold_", "operators.fold"),
    ("sketch_", "operators.sketches"),
    ("hist_", "operators.histogram"),
    ("cold_", "operators.cold_store"),
    ("checkpoints", "plans.checkpoint"),
]


def write_layer(table: str) -> str | None:
    """Operator layer a write into ``table`` is charged to."""
    for prefix, layer in WRITE_LAYERS:
        if table.startswith(prefix):
            return layer
    return None


@dataclass
class Span:
    id: int
    layer: str
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. ``sc`` is the SparkContext whose job
    description is set per span; ``None`` records spans only (tests)."""

    def __init__(self, sc=None, clock=time.perf_counter):
        self.sc = sc
        self.clock = clock
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root_stack: list[Span] | None = None
        self._op: int | None = None

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def op(self, index: int, layer: str = "session", name: str = "op"):
        """Root span of one timed op. A thread that opens a span while
        its own stack is empty (a pipeline chain thread) hangs it under
        the innermost span open in the thread that opened the op."""
        self._op = index
        with self.span(layer, name) as root:
            self._root_stack = self._stack()
            try:
                yield root
            finally:
                self._root_stack = None
                self._op = None

    @contextmanager
    def span(self, layer: str, name: str, **attrs):
        stack = self._stack()
        if stack:
            parent = stack[-1].id
        elif self._root_stack:
            parent = self._root_stack[-1].id
        else:
            parent = None
        with self._lock:
            s = Span(len(self.spans), layer, name, parent, self._op, self.clock(), attrs=dict(attrs))
            self.spans.append(s)
        prev = self._set_desc(f"{DESC_PREFIX}{s.id}")
        stack.append(s)
        try:
            yield s
        finally:
            stack.pop()
            s.end = self.clock()
            self._set_desc(prev)

    def inside(self, layer: str) -> bool:
        """Whether the calling thread has a span of ``layer`` open."""
        return any(s.layer == layer for s in self._stack())

    def _set_desc(self, value):
        if self.sc is None:
            return None
        prev = self.sc.getLocalProperty("spark.job.description")
        self.sc.setLocalProperty("spark.job.description", value)
        return prev


class _NullTracer:
    """Stand-in for untraced runs: spans cost one context manager and
    record nothing."""

    @contextmanager
    def op(self, index: int, layer: str = "session", name: str = "op"):
        yield Span(-1, layer, name, None, index, 0.0)

    @contextmanager
    def span(self, layer: str, name: str, **attrs):
        yield Span(-1, layer, name, None, None, 0.0, attrs=dict(attrs))


NULL_TRACER = _NullTracer()


# ---------------------------------------------------------------- intervals

def union(intervals) -> list[tuple[float, float]]:
    """Merge possibly overlapping [a, b) intervals."""
    out: list[list[float]] = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def measure(intervals) -> float:
    return sum(b - a for a, b in union(intervals))


def subtract(interval, covered) -> list[tuple[float, float]]:
    """``interval`` minus the union of ``covered``."""
    a, b = interval
    out = []
    cur = a
    for c0, c1 in union(covered):
        if c1 <= cur or c0 >= b:
            continue
        if c0 > cur:
            out.append((cur, c0))
        cur = max(cur, c1)
    if cur < b:
        out.append((cur, b))
    return out


def self_intervals(spans: list[Span]) -> dict[int, list[tuple[float, float]]]:
    """Per span: the parts of its interval no child span covers. Child
    spans may overlap each other (concurrent chain threads), so the
    covered part is their union, clipped to the parent."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    return {
        s.id: subtract((s.start, s.end), [(c.start, c.end) for c in children.get(s.id, [])])
        for s in spans
    }


def layer_times(spans: list[Span]) -> dict[str, dict[str, float]]:
    """{layer: {"wall_s", "self_s"}}: the wall-clock time during which
    any span of the layer was open, and during which one was open and
    not inside a child span. Unions, so concurrent spans of one layer
    are not counted twice."""
    selfs = self_intervals(spans)
    walls: dict[str, list] = {}
    own: dict[str, list] = {}
    for s in spans:
        walls.setdefault(s.layer, []).append((s.start, s.end))
        own.setdefault(s.layer, []).extend(selfs[s.id])
    return {
        layer: {"wall_s": measure(walls[layer]), "self_s": measure(own[layer])}
        for layer in walls
    }


# ----------------------------------------------------------------- wrappers

def new_files(root: str, since_ns: int) -> tuple[int, int]:
    """(files, bytes) of parquet files under ``root`` modified at or
    after ``since_ns``: what one write call produced."""
    n = size = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            st = os.stat(os.path.join(dirpath, f))
            if st.st_mtime_ns >= since_ns:
                n += 1
                size += st.st_size
    return n, size


_WRITE_METHODS = ("write", "append", "overwrite_partitions", "merge_upsert")
_FILE_WRITERS = ("write", "overwrite_partitions")


def install(tracer: Tracer, pipeline_mod, table_store_cls) -> Callable[[], None]:
    """Wrap the package's public entry points so each call opens a span.
    Returns a function that puts the originals back."""
    saved = []

    def patch(owner, attr, wrapper):
        orig = getattr(owner, attr)
        saved.append((owner, attr, orig))
        setattr(owner, attr, wrapper(orig))

    def plain(layer, name):
        def wrap(fn):
            def run(*a, **kw):
                with tracer.span(layer, name):
                    return fn(*a, **kw)
            return run
        return wrap

    patch(pipeline_mod, "run_pipeline", plain("plans.pipeline", "run_pipeline"))
    for fn in ("pending_days", "committed_days", "append_entries"):
        patch(pipeline_mod, fn, plain("plans.checkpoint", fn))

    def read_wrap(fn):
        def run(self, name, *a, **kw):
            with tracer.span("tables", "read", table=name):
                return fn(self, name, *a, **kw)
        return run

    patch(table_store_cls, "read", read_wrap)

    def write_wrap(method):
        def wrap(fn):
            def run(self, df, name, *a, **kw):
                t_ns = time.time_ns()
                layer = write_layer(name)
                with tracer.span("tables", method, table=name) as s:
                    if layer is None or tracer.inside(layer):
                        out = fn(self, df, name, *a, **kw)
                    else:
                        with tracer.span(layer, f"write:{name}", table=name):
                            out = fn(self, df, name, *a, **kw)
                # append and merge_upsert write through write and
                # overwrite_partitions, which count the files
                if method in _FILE_WRITERS:
                    s.attrs["files"], s.attrs["bytes"] = new_files(self.path(name), t_ns)
                return out
            return run
        return wrap

    for m in _WRITE_METHODS:
        patch(table_store_cls, m, write_wrap(m))

    def restore():
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)

    return restore
