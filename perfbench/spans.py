"""Span recorder for the traced run.

Spans are recorded from outside the program: :func:`install` wraps
public functions and methods of the program's modules, each wrapper
opening a span named after its layer.  Spans stay in memory and are
written out as JSON lines when the run ends.

Parents are tracked per thread.  A span opened on a thread with no
open span of its own (a pool thread of ``process_batch``) takes as
parent the innermost span open on the thread that began the op, so
the per-collection work hangs under the epoch that caused it.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    op: int | None
    thread: int
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.op: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._root_stack: list[Span] = []

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin_op(self, op: int) -> None:
        """Record spans, which belong to ``op``, until :meth:`end_op`;
        the calling thread's stack is the one pool threads attach to."""
        self.op = op
        self._root_stack = self._stack()
        self.enabled = True

    def end_op(self) -> None:
        self.enabled = False
        self.op = None

    def open(self, name: str) -> Span | None:
        if not self.enabled:
            return None
        stack = self._stack()
        if stack:
            parent = stack[-1].id
        elif self._root_stack:
            parent = self._root_stack[-1].id
        else:
            parent = None
        with self._lock:
            span = Span(len(self.spans), name, time.perf_counter(), None, parent,
                        self.op, threading.get_ident())
            self.spans.append(span)
        stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack().pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


# --- analysis ---------------------------------------------------------------


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time per span: its duration minus the part of it covered by
    its children.  Children may run on other threads (``process_batch``
    ingests collections on a pool), where they overlap each other, so
    the union of their intervals is subtracted, never their sum: self
    time stays between zero and the duration, while busy time summed
    over threads may exceed the op's wall time."""
    kids: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.id: s for s in spans}
    for s in spans:
        p = by_id.get(s.parent)
        if p is None:
            continue
        lo, hi = max(s.start, p.start), min(s.end, p.end)
        if hi > lo:
            kids.setdefault(p.id, []).append((lo, hi))
    return {s.id: s.duration - union_length(kids.get(s.id, [])) for s in spans}


# --- installing wrappers ----------------------------------------------------


def _wrap(tracer: Tracer, name: str, fn, on_call=None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        span = tracer.open(name)
        if span is None:
            return fn(*args, **kwargs)
        try:
            if on_call is not None:
                on_call(span, args, kwargs)
            return fn(*args, **kwargs)
        finally:
            tracer.close(span)

    return wrapper


def _replace_everywhere(original, wrapper) -> None:
    """Rebind every module-level name bound to ``original`` — modules
    that did ``from x import f`` hold their own reference."""
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(("rakam_api_spark", "__spark_entry__")):
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, wrapper)


def install(tracer: Tracer) -> None:
    """Wrap each layer's public entry points.  The layer is the span
    name's prefix; the per-layer metrics in ``run.py`` are named the
    same way."""
    from rakam_api_spark import catalog, query_service, store, tables, txnlog
    from rakam_api_spark.ingest import infer
    from rakam_api_spark.streaming import job

    def count_new_fields(span, args, kwargs):
        new = kwargs.get("new_fields", args[3] if len(args) > 3 else {})
        span.counts["new_fields"] = len(new or {})

    _replace_everywhere(infer.infer_new_fields, _wrap(tracer, "ingest.infer", infer.infer_new_fields))
    _replace_everywhere(tables.load_table, _wrap(tracer, "tables.load_table", tables.load_table))
    methods = [
        (catalog.Metastore, "get_or_create_collection_fields", "catalog.evolve", count_new_fields),
        (store.EventStore, "write_batch", "store.write_batch", None),
        (store.EventStore, "write_dead_letter", "store.write_dead_letter", None),
        (txnlog.TxnTable, "append", "txnlog.append", None),
        (txnlog.TxnTable, "commit", "txnlog.commit", None),
        (txnlog.TxnTable, "live_files", "txnlog.live_files", None),
        (job.StreamingIngest, "process_batch", "streaming.process_batch", None),
        (query_service.QueryService, "execute", "query_service.execute", None),
    ]
    for cls, attr, name, hook in methods:
        setattr(cls, attr, _wrap(tracer, name, getattr(cls, attr), hook))
