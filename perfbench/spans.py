"""In-memory span tracer installed from outside the program.

The benchmark wraps the program's public entry points where their
callers look them up (module globals, class attributes) and records one
span per call: layer, name, start, end, the statement it belongs to and
its parent span. Counters (file-system operations, bytes, rows, jobs)
are kept per statement beside the spans. Nothing is written until the
run ends.

A layer's self time is the duration of its spans minus the part of each
span that its child spans cover; children are first clipped to their
parent, and overlapping children are counted once.
"""

from __future__ import annotations

import functools
import gzip
import itertools
import json
import os
import sys
import threading
import time
from collections import Counter, defaultdict

PACKAGE = "lightning_metastore_spark"
_MISSING = object()


class Span:
    __slots__ = ("sid", "parent", "stmt", "layer", "name", "t0", "t1", "err")

    def __init__(self, sid, parent, stmt, layer, name, t0, t1=None,
                 err=False):
        self.sid, self.parent, self.stmt = sid, parent, stmt
        self.layer, self.name = layer, name
        self.t0, self.t1, self.err = t0, t1, err

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """sid -> self time for the spans of ONE statement (exactly one root,
    the span whose parent is None). A child's interval is clipped to its
    parent's before it is subtracted, so self times never go negative
    and, without concurrent siblings, sum to the root's duration."""
    kids = defaultdict(list)
    root = None
    for s in spans:
        if s.parent is None:
            root = s
        else:
            kids[s.parent].append(s)
    if root is None:
        raise ValueError("statement has no root span")
    out = {}
    todo = [(root, root.t0, root.t1)]
    while todo:
        s, lo, hi = todo.pop()
        covered = []
        for c in kids.get(s.sid, ()):
            c_hi = hi if c.t1 is None else c.t1
            clo, chi = max(c.t0, lo), min(c_hi, hi)
            chi = max(chi, clo)
            covered.append((clo, chi))
            todo.append((c, clo, chi))
        out[s.sid] = (hi - lo) - union_length(covered)
    return out


class Tracer:
    """Spans and counters of the statements run while it is installed.
    Only one statement is open at a time (a closed loop with one
    client); spans opened on other threads — the REST handler — hang
    off that statement's root span."""

    def __init__(self):
        self.spans: list[Span] = []
        self.counters: dict[int, Counter] = defaultdict(Counter)
        self.stmt = None
        self._root = None
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple] = []

    # -- statements, spans, counters ----------------------------------

    def begin(self, stmt_id: int) -> Span:
        self._root = Span(next(self._ids), None, stmt_id, "stmt", "stmt",
                          time.perf_counter())
        self.spans.append(self._root)
        self.stmt = stmt_id
        return self._root

    def end(self, err: bool = False) -> Span:
        root = self._root
        root.t1, root.err = time.perf_counter(), err
        self.stmt, self._root = None, None
        return root

    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def open(self, layer: str, name: str):
        root = self._root
        if root is None:
            return None
        st = self._stack()
        parent = st[-1].sid if st else root.sid
        sp = Span(next(self._ids), parent, root.stmt, layer, name,
                  time.perf_counter())
        st.append(sp)
        self.spans.append(sp)
        return sp

    def close(self, sp, err: bool = False) -> None:
        """End ``sp``; None (``open`` outside a statement) is ignored."""
        if sp is None:
            return
        sp.t1, sp.err = time.perf_counter(), err
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()
        elif sp in st:
            st.remove(sp)

    @property
    def active(self) -> bool:
        return self._root is not None

    def add(self, key: str, n: float = 1.0) -> None:
        stmt = self.stmt
        if stmt is None:
            return
        with self._lock:
            self.counters[stmt][key] += n

    def overhead(self):
        """Context manager for the tracer's own work inside a statement
        (directory listings, job-group switches): its time is charged
        to the `trace` layer instead of the span it interrupts."""
        return _SpanCtx(self, "trace", "overhead")

    # -- wrapping -------------------------------------------------------

    def wrap(self, fn, layer: str, name: str, before=None, after=None):
        """Traced version of ``fn``. ``before(args, kwargs)`` runs ahead
        of the call and returns a state; ``after(state, result, ok)``
        runs once it returns (or raises) and returns the result the
        caller sees. Both run as tracer overhead."""
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            state = None
            if before is not None:
                with tracer.overhead():
                    state = before(args, kwargs)
            sp = tracer.open(layer, name)
            ok = False
            try:
                out = fn(*args, **kwargs)
                ok = True
            finally:
                tracer.close(sp, err=not ok)
                if after is not None and not ok:
                    with tracer.overhead():
                        after(state, None, False)
            if after is not None:
                with tracer.overhead():
                    out = after(state, out, True)
            return out

        return traced

    def replace(self, owner, attr: str, value) -> None:
        """Set ``owner.attr`` until ``uninstall``."""
        self._patches.append((owner, attr, vars(owner).get(attr, _MISSING)))
        setattr(owner, attr, value)

    def patch_function(self, module, attr: str, layer: str, **hooks):
        """Replace ``module.attr`` and every module-level alias of it in
        the program's modules (``from x import f`` copies)."""
        orig = getattr(module, attr)
        short = module.__name__.rsplit(".", 1)[-1]
        wrapped = self.wrap(orig, layer, f"{short}.{attr}", **hooks)
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith(PACKAGE):
                continue
            for k, v in list(vars(mod).items()):
                if v is orig:
                    self.replace(mod, k, wrapped)
        return wrapped

    def patch_method(self, cls, attr: str, layer: str, name: str | None = None,
                     **hooks):
        raw = vars(cls).get(attr, _MISSING)
        if isinstance(raw, staticmethod):
            fn = self.wrap(raw.__func__, layer, name or f"{cls.__name__}.{attr}",
                           **hooks)
            self.replace(cls, attr, staticmethod(fn))
            return
        fn = getattr(cls, attr)
        self.replace(cls, attr, self.wrap(fn, layer,
                                       name or f"{cls.__name__}.{attr}",
                                       **hooks))

    def patch_counter(self, cls, attr: str, count) -> None:
        """Count calls of ``cls.attr`` without a span: ``count(tracer,
        args, kwargs, result)`` adds to the statement's counters."""
        fn = getattr(cls, attr)
        tracer = self

        @functools.wraps(fn)
        def counted(*args, **kwargs):
            out = fn(*args, **kwargs)
            if tracer.active:
                count(tracer, args, kwargs, out)
            return out

        self.replace(cls, attr, counted)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            if orig is _MISSING:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._patches.clear()

    # -- output -----------------------------------------------------------

    def by_statement(self) -> dict[int, list[Span]]:
        out = defaultdict(list)
        for s in self.spans:
            out[s.stmt].append(s)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with gzip.open(path, "wt") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.as_dict()) + "\n")
            for stmt, c in sorted(self.counters.items()):
                fh.write(json.dumps({"stmt": stmt, "counters": c}) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, layer: str, name: str):
        self.tracer, self.layer, self.name = tracer, layer, name
        self.sp = None

    def __enter__(self):
        self.sp = self.tracer.open(self.layer, self.name)
        return self.sp

    def __exit__(self, exc_type, exc, tb):
        self.tracer.close(self.sp, err=exc_type is not None)
        return False


def layer_self_ms(tracer: Tracer) -> tuple[dict[int, Counter], list[int]]:
    """Per statement: {layer: self ms}, and the ids of statements whose
    non-root self times add up to more than the statement's latency."""
    per_stmt, over = {}, []
    for stmt, spans in tracer.by_statement().items():
        st = self_times(spans)
        c = Counter()
        root_ms = 0.0
        for s in spans:
            c[s.layer] += st[s.sid] * 1000.0
            if s.parent is None:
                root_ms = (s.t1 - s.t0) * 1000.0
        per_stmt[stmt] = c
        if sum(v for k, v in c.items() if k != "stmt") > root_ms + 1e-6:
            over.append(stmt)
    return per_stmt, over
