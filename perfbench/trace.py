"""Span tracing for the benchmark's traced mode.

The tracer wraps the public functions of the engine's layers from the
benchmark's side: it replaces module attributes at start-up, including
every name another engine module bound with ``from ... import``, so the
workloads keep calling the engine exactly as users do. Each span sets a
Spark job group on its calling thread (only when the layer changes, so
nested calls within one layer cost no JVM round trip), which lets the
event-log parser charge every job to the span that launched it. A
``ThreadPoolExecutor.submit`` hook carries the submitting span into the
pool's worker threads, so work an engine op fans out to a driver thread
pool is charged to that op's layer.

Spans live in memory; :func:`self_times` turns them into per-layer self
time after the run.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import itertools
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

PACKAGE = "predicting_hospital_readmission_using_mimic_database_spark"

#: layer name -> engine modules whose public functions it owns
LAYERS: dict[str, tuple[str, ...]] = {
    "session": ("session",),
    "sources.io": ("sources.io", "sources.table", "sources.pydatasource"),
    "sources.delta": (
        "sources.delta", "sources.delta_dml", "sources.delta_constraints",
        "sources.delta_optimize", "sources.dv",
    ),
    "sources.iceberg": (
        "sources.iceberg", "sources.iceberg_dml", "sources.iceberg_partitioned",
        "sources.iceberg_rewrite", "sources.avro_ocf", "sources.puffin",
    ),
    "sources.hudi": (
        "sources.hudi", "sources.hudi_export", "sources.hudi_log", "sources.bloom",
    ),
    "sources.stream": (
        "sources.delta_stream", "sources.iceberg_stream", "sources.hudi_stream",
    ),
    "plans": ("plans.full_pipeline", "plans.readmission"),
    "operators.sampling": ("operators.sampling",),
    "operators.dedup": ("operators.dedup",),
    "operators.textstats": ("operators.textstats",),
    "ml.features": ("ml.features",),
    "ml.models": ("ml.models",),
    "ml.metrics": ("ml.metrics",),
}

#: pseudo-layer for the benchmark's own output checks and inputs
BENCH = "bench"
ALL_LAYERS = tuple(LAYERS) + (BENCH,)


@dataclass
class Span:
    sid: int
    layer: str
    name: str
    thread: int
    parent: int | None
    group: str
    t0: float
    t1: float | None = None
    #: job groups Spark itself set for work this span started (a
    #: streaming query runs its batches under its own run id)
    aliases: list = field(default_factory=list)


class Tracer:
    """Records spans and sets one Spark job group per layer change.

    ``set_group(group_or_None)`` sets the calling thread's job group;
    pass ``None`` for a tracer that only records time (unit tests)."""

    def __init__(self, set_group=None, clock=time.time):
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stacks: dict[int, list] = {}  # thread id -> open spans
        self._set_group = set_group
        self._clock = clock
        self._patched: list[tuple[object, str, object]] = []

    # ---------------------------------------------------------------- spans
    def _stack(self, tid: int | None = None) -> list:
        return self._stacks.setdefault(threading.get_ident() if tid is None else tid, [])

    def current(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else None

    def open(self, layer: str, name: str, parent: Span | None = None) -> Span:
        stack = self._stack()
        if parent is None:
            parent = stack[-1] if stack else None
            if parent is None and threading.current_thread() is not threading.main_thread():
                # a thread with no span of its own works for whatever
                # the driver thread is inside
                main = self._stack(threading.main_thread().ident)
                parent = main[-1] if main else None
        sid = next(self._ids)
        inherit = bool(stack) and stack[-1].layer == layer
        group = stack[-1].group if inherit else f"pb-{sid}"
        span = Span(sid, layer, name, threading.get_ident(),
                    parent.sid if parent else None, group, self._clock())
        if not inherit and self._set_group is not None:
            self._set_group(group)
        stack.append(span)
        self.spans.append(span)
        return span

    def close(self, span: Span) -> None:
        span.t1 = self._clock()
        stack = self._stack()
        stack.pop()
        outer = stack[-1].group if stack else None
        if self._set_group is not None and outer != span.group:
            self._set_group(outer)

    @contextlib.contextmanager
    def span(self, layer: str, name: str, parent: Span | None = None):
        span = self.open(layer, name, parent)
        try:
            yield span
        finally:
            self.close(span)

    # ------------------------------------------------------------- patching
    def wrap(self, layer: str, fn):
        tracer = self
        name = f"{fn.__module__.rsplit('.', 1)[-1]}.{fn.__qualname__}"
        if inspect.isgeneratorfunction(getattr(fn, "__wrapped__", None)):
            # @contextmanager factory: the layer's cost is entering and
            # leaving the context, not the body the caller runs inside
            @functools.wraps(fn)
            def cm_wrapper(*args, **kwargs):
                return _TracedCM(tracer, layer, name, fn(*args, **kwargs))

            return cm_wrapper

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            span = tracer.open(layer, name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(span)

        return wrapper

    def install(self) -> int:
        """Wrap every public function (and public method of the
        engine's own non-DataSource classes) of every layer module, then
        rebind each name any loaded engine module holds for it. Returns
        the number of wrapped callables."""
        from pyspark.sql.datasource import (
            DataSource,
            DataSourceReader,
            DataSourceStreamReader,
            InputPartition,
        )

        skip = (DataSource, DataSourceReader, DataSourceStreamReader,
                InputPartition, BaseException)
        originals: dict[int, object] = {}
        for layer, mods in LAYERS.items():
            for short in mods:
                mod = importlib.import_module(f"{PACKAGE}.{short}")
                for attr, obj in list(vars(mod).items()):
                    if attr.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                        continue
                    if inspect.isfunction(obj):
                        originals[id(obj)] = self.wrap(layer, obj)
                    elif inspect.isclass(obj) and not issubclass(obj, skip):
                        for mname, meth in list(vars(obj).items()):
                            if mname.startswith("_"):
                                continue
                            if isinstance(meth, staticmethod):
                                new = staticmethod(self.wrap(layer, meth.__func__))
                            elif isinstance(meth, classmethod):
                                new = classmethod(self.wrap(layer, meth.__func__))
                            elif inspect.isfunction(meth):
                                new = self.wrap(layer, meth)
                            else:
                                continue
                            self._patched.append((obj, mname, meth))
                            setattr(obj, mname, new)
        # rebind: the defining module plus every `from x import f` copy
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname == PACKAGE or modname.startswith(PACKAGE + ".")):
                continue
            for attr, obj in list(vars(mod).items()):
                new = originals.get(id(obj))
                if new is not None:
                    self._patched.append((mod, attr, obj))
                    setattr(mod, attr, new)
        self._hook_pools()
        return len(originals)

    def _hook_pools(self) -> None:
        tracer = self
        orig_submit = ThreadPoolExecutor.submit

        def submit(pool, fn, /, *args, **kwargs):
            parent = tracer.current()
            if parent is None:
                return orig_submit(pool, fn, *args, **kwargs)

            def task(*a, **k):
                with tracer.span(parent.layer, f"{parent.name}/task", parent=parent):
                    return fn(*a, **k)

            return orig_submit(pool, task, *args, **kwargs)

        self._patched.append((ThreadPoolExecutor, "submit", orig_submit))
        ThreadPoolExecutor.submit = submit

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()


class _TracedCM:
    """Context-manager proxy whose enter and exit are each a span."""

    def __init__(self, tracer, layer, name, cm):
        self._t, self._layer, self._name, self._cm = tracer, layer, name, cm

    def __enter__(self):
        with self._t.span(self._layer, f"{self._name}.enter"):
            return self._cm.__enter__()

    def __exit__(self, *exc):
        with self._t.span(self._layer, f"{self._name}.exit"):
            return self._cm.__exit__(*exc)


def self_times(spans, t0: float, t1: float, jobs=()) -> dict:
    """Per-layer self and driver time over the window ``[t0, t1]``.

    At every instant the time goes to the open spans that have no open
    child ("leaves"), split evenly between them when several threads
    are inside spans at once; time with no open span is
    ``unattributed``. Hence the layer self times plus ``unattributed``
    sum to the window length, nested spans give their parent only the
    time they do not cover, and concurrent spans never double count.

    ``jobs`` are ``(start, end, group)`` Spark job intervals; a leaf's
    share is driver time (Python plus planning) while no job of its
    span's job group (or of a group it aliases) runs. Returns
    ``{"self": {layer: s}, "driver": {layer: s}, "unattributed": s}``.
    """
    events = []
    for sp in spans:
        a = max(sp.t0, t0)
        b = min(sp.t1 if sp.t1 is not None else t1, t1)
        if b > a:
            events.append((a, 1, sp))
            events.append((b, 0, sp))
    events.sort(key=lambda e: (e[0], e[1]))
    alias = {a: sp.group for sp in spans for a in sp.aliases}
    jobs = [(max(a, t0), min(b, t1), alias.get(g, g))
            for a, b, g in jobs if min(b, t1) > max(a, t0)]
    cuts = sorted({t0, t1, *(e[0] for e in events),
                   *(j[0] for j in jobs), *(j[1] for j in jobs)})
    self_s: dict[str, float] = {}
    driver_s: dict[str, float] = {}
    unattributed = 0.0
    open_: dict[int, Span] = {}
    i = 0
    for a, b in zip(cuts, cuts[1:]):
        while i < len(events) and events[i][0] <= a:
            _t, kind, sp = events[i]
            if kind:
                open_[sp.sid] = sp
            else:
                open_.pop(sp.sid, None)
            i += 1
        dt = b - a
        if not open_:
            unattributed += dt
            continue
        parents = {sp.parent for sp in open_.values()}
        leaves = [sp for sid, sp in open_.items() if sid not in parents]
        share = dt / len(leaves)
        busy = {g for ja, jb, g in jobs if ja <= a and jb >= b}
        for sp in leaves:
            self_s[sp.layer] = self_s.get(sp.layer, 0.0) + share
            if sp.group not in busy:
                driver_s[sp.layer] = driver_s.get(sp.layer, 0.0) + share
    return {"self": self_s, "driver": driver_s, "unattributed": unattributed}
