"""Spans around sketchlib's public functions, recorded from outside.

``Tracer.install()`` replaces every public function of the traced modules
(and the public methods of the sketch classes that carry serialisation
and the Count-Min kernel) with a recording wrapper, both at the module
attribute and at every name another sketchlib module imported it under.
Library code is not edited; ``uninstall()`` puts the originals back.

A span is ``(id, parent, op, layer, name, t0, t1)``. Spans of one
benchmark operation share the op id; the op itself is the root span, so
a layer's *self* time is its span's duration minus its children's, and
the op's own self time is the ``unattributed`` remainder. By
construction the per-layer self times plus the remainder add up to the
op's wall time.

Spark attribution: each op runs under its own job group ``op-<id>``, and
every span of a layer that can launch Spark jobs sets the job
description to ``<op>/<span>`` while it is innermost. The event log then
names, for every job, the innermost span that submitted it
(``eventlog.py``).
"""

from __future__ import annotations

import contextlib
import inspect
import sys
import time
import types
from dataclasses import dataclass, field

# (module, layer): every public function of the module. Serialisation
# functions and methods (_SERDE_*) go to the serde layer wherever they live.
_MODULE_LAYERS = (
    ("sketchlib.spark_build", "spark_build"),
    ("sketchlib.incremental", "incremental"),
    ("sketchlib.store", "store"),
    ("sketchlib.serde", "serde"),
    ("sketchlib.catalog_sql", "catalog_sql"),
)
# (module, class, layer of its other public methods; None: serde only)
_CLASS_LAYERS = (
    ("sketchlib.catalog", "SketchCatalog", "catalog"),
    ("sketchlib.countmin", "CountMinSketch", "countmin"),
    ("sketchlib.multi", "MultiSketch", None),
)
_SERDE_METHODS = {"to_bytes": "dumps", "to_bytes_auto": "dumps",
                  "to_bytes_sparse": "dumps", "from_bytes": "loads"}
_SERDE_FUNCS = {"loads": "loads", "dumps_partial": "dumps"}
# layers whose code can submit Spark jobs: their spans name the jobs
SPARK_LAYERS = frozenset({"spark_build", "incremental", "store", "catalog",
                          "catalog_sql"})
STORE_WRITES = frozenset({"save_sketch", "save_sketches_bulk", "one_part_df",
                          "compact_store"})
OP_LAYER = "unattributed"


@dataclass
class Span:
    id: int
    parent: int | None
    op: int
    layer: str
    name: str
    t0: float
    t1: float = 0.0
    info: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1e3


class _Traced:
    """Recording stand-in for one library function or method (driver
    side only: Spark workers import the library afresh)."""

    def __init__(self, fn, qualname: str, layer: str, kind: str,
                 tracer: "Tracer") -> None:
        self.fn, self.qualname = fn, qualname
        self.layer, self.kind, self.tracer = layer, kind, tracer
        self.__name__ = fn.__name__
        self.__doc__ = fn.__doc__
        self.__wrapped__ = fn

    def __call__(self, *args, **kwargs):
        return self.tracer.call(self, args, kwargs)

    def __get__(self, obj, cls=None):
        return self if obj is None else types.MethodType(self, obj)


class Tracer:
    def __init__(self, sc, clock=time.perf_counter) -> None:
        self.sc = sc
        self.clock = clock
        self.spans: list[Span] = []
        self.ops: list[dict] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        # wall-clock anchor: event-log times are epoch milliseconds
        self._anchor = (time.time(), clock())

    # -- installation ----------------------------------------------------

    def install(self) -> None:
        import importlib
        targets = []   # (owner, attr, original, wrapper)
        for modname, layer in _MODULE_LAYERS:
            mod = importlib.import_module(modname)
            for name, fn in list(vars(mod).items()):
                if (name.startswith("_") or not inspect.isfunction(fn)
                        or fn.__module__ != modname):
                    continue
                kind = _SERDE_FUNCS.get(name, "call")
                if layer == "store":
                    kind = "write" if name in STORE_WRITES else "read"
                targets.append((mod, name, fn, _Traced(
                    fn, name, layer, kind, self)))
        for modname, clsname, layer in _CLASS_LAYERS:
            mod = importlib.import_module(modname)
            cls = getattr(mod, clsname)
            for name, raw in list(vars(cls).items()):
                if name.startswith("_"):
                    continue
                static = isinstance(raw, staticmethod)
                fn = raw.__func__ if static else raw
                if not inspect.isfunction(fn):
                    continue
                if name in _SERDE_METHODS:
                    lyr, kind = "serde", _SERDE_METHODS[name]
                elif layer is None:
                    continue
                else:
                    lyr, kind = layer, "call"
                w = _Traced(fn, f"{clsname}.{name}", lyr, kind, self)
                targets.append((cls, name, raw,
                                staticmethod(w) if static else w))
        originals = {id(orig): wrapper for _, _, orig, wrapper in targets
                     if inspect.isfunction(orig)}
        for owner, attr, orig, wrapper in targets:
            self._patch(owner, attr, wrapper)
        # names other sketchlib modules imported (``from .x import f``)
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith("sketchlib") or mod is None:
                continue
            for name, val in list(vars(mod).items()):
                w = originals.get(id(val))
                if w is not None and getattr(mod, name) is not w:
                    self._patch(mod, name, w)

    def _patch(self, owner, attr, new) -> None:
        self._patches.append((owner, attr, vars(owner)[attr]))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, old = self._patches.pop()
            setattr(owner, attr, old)

    # -- recording -------------------------------------------------------

    def wall_ms(self, t: float) -> float:
        """perf-counter time -> epoch milliseconds (event-log clock)."""
        return (self._anchor[0] + (t - self._anchor[1])) * 1e3

    def _describe(self, span: Span) -> None:
        self.sc.setLocalProperty("spark.job.description",
                                 f"{span.op}/{span.id}")

    def begin_op(self, op_type: str) -> Span:
        op = len(self.ops)
        self.sc.setJobGroup(f"op-{op}", op_type)
        root = Span(len(self.spans), None, op, OP_LAYER, op_type,
                    self.clock())
        self.spans.append(root)
        self._stack = [root]
        self._describe(root)
        self.ops.append({"op": op, "type": op_type, "root": root.id})
        root.t0 = self.clock()
        return root

    def end_op(self, root: Span) -> None:
        root.t1 = self.clock()
        self._stack = []
        op = self.ops[root.op]
        op["group_jobs"] = len(
            self.sc.statusTracker().getJobIdsForGroup(f"op-{root.op}"))
        self.sc.setLocalProperty("spark.job.description", None)
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def record_span(self, layer: str, name: str):
        """A span the benchmark opens itself: the SQL twin runs inside
        ``spark.sql(...).collect()``, not in a library function."""
        span = self._push(layer, name, "call")
        try:
            yield span
        finally:
            self._pop(span)

    def _push(self, layer: str, name: str, kind: str) -> Span:
        parent = self._stack[-1]
        span = Span(len(self.spans), parent.id, parent.op, layer, name, 0.0,
                    info={"kind": kind})
        self.spans.append(span)
        self._stack.append(span)
        if layer in SPARK_LAYERS:
            self._describe(span)
        span.t0 = self.clock()
        return span

    def _pop(self, span: Span) -> None:
        span.t1 = self.clock()
        self._stack.pop()
        if span.layer in SPARK_LAYERS:
            for up in reversed(self._stack):
                if up.layer in SPARK_LAYERS or up.parent is None:
                    self._describe(up)
                    break

    def call(self, w: _Traced, args, kwargs):
        if not self._stack:
            return w.fn(*args, **kwargs)
        span = self._push(w.layer, w.qualname, w.kind)
        try:
            out = w.fn(*args, **kwargs)
        finally:
            self._pop(span)
        if w.layer == "serde":
            blob = out if w.kind == "dumps" else args[0]
            if isinstance(blob, (bytes, bytearray, memoryview)):
                span.info["bytes"] = len(blob)
        lineage = getattr(out, "lineage", None)
        if w.layer == "spark_build" and lineage is not None \
                and "build_ms" in getattr(lineage, "columns", ()):
            span.info["build_ms"] = [float(x) for x in lineage["build_ms"]]
        return out


# -- self time ------------------------------------------------------------

def op_breakdown(spans: list[Span], root: Span) -> dict[str, float]:
    """{layer: self ms} for one op, with the root's self time under
    ``unattributed``. Children of one span never overlap (one client
    thread), so self time is duration minus the children's durations."""
    child_ms: dict[int, float] = {}
    mine = [s for s in spans if s.op == root.op]
    for s in mine:
        if s.parent is not None:
            child_ms[s.parent] = child_ms.get(s.parent, 0.0) + s.ms
    out: dict[str, float] = {}
    for s in mine:
        out[s.layer] = out.get(s.layer, 0.0) + s.ms - child_ms.get(s.id, 0.0)
    return out
