"""In-memory span tracer that wraps the program's public functions.

:meth:`Tracer.install` rebinds every module attribute that refers to a
wrapped function object — the defining module, re-exporting packages
such as ``operators/__init__`` and the names ``__spark_entry__``
imported — so calls by any of those names open a span. Spans record
name, layer, start, end, parent and thread, and stay in memory until
the run writes them out.

Work that the program hands to a ``concurrent.futures`` thread pool
keeps its parent span and its Spark job group: while installed, the
tracer wraps ``ThreadPoolExecutor.submit`` so the pool thread starts
from the submitting thread's span and local properties.
"""

from __future__ import annotations

import concurrent.futures
import contextlib
import functools
import inspect
import itertools
import threading
import time
from dataclasses import dataclass

from eventlog import GROUP_KEY, SPAN_KEY

PKG = "bht_etl_app_spark"


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float
    end: float | None
    parent: int | None
    thread: int
    tag: object = None


# measured modules outside operators.* and plans.*, by trace layer
MEASURED = {"io.readers": "io", "io.sinks": "io", "functions.lifecycle": "functions.lifecycle"}


def layer_of(module_name: str) -> str | None:
    """Trace layer for a defining module, or None if it is unmeasured."""
    if not module_name.startswith(PKG + "."):
        return None
    rel = module_name[len(PKG) + 1:]
    parts = rel.split(".")
    if len(parts) == 2 and parts[0] in ("operators", "plans"):
        return rel
    return MEASURED.get(rel)


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.tag = None
        self.group: str | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    # --- spans ----------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> Span | None:
        st = self._stack()
        return st[-1] if st else None

    def _set_span_property(self, span: Span | None):
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_KEY, str(span.sid) if span else None)

    def open(self, name: str, layer: str) -> Span:
        parent = self.current()
        span = Span(
            next(self._ids), name, layer, time.perf_counter(), None,
            parent.sid if parent else None, threading.get_ident(),
            parent.tag if parent else self.tag,
        )
        self.spans.append(span)     # list.append is atomic under the GIL
        self._stack().append(span)
        self._set_span_property(span)
        return span

    def close(self, span: Span):
        span.end = time.perf_counter()
        st = self._stack()
        st.pop()
        self._set_span_property(st[-1] if st else None)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        s = self.open(name, layer)
        try:
            yield s
        finally:
            self.close(s)

    def set_group(self, group: str | None):
        """Job group for the calling thread's next Spark jobs."""
        self.group = group
        if self.sc is not None:
            if group is None:
                self.sc.setLocalProperty(GROUP_KEY, None)
            else:
                self.sc.setJobGroup(group, group)

    # --- wrapping -------------------------------------------------------
    def wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = tracer.open(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(span)

        return traced

    def rebind(self, modules, original, replacement):
        """Point every attribute of ``modules`` that is ``original`` at
        ``replacement``; :meth:`uninstall` restores them."""
        for mod in modules:
            for attr, val in list(vars(mod).items()):
                if val is original:
                    self._patches.append((mod, attr, val))
                    setattr(mod, attr, replacement)

    def install(self, modules, extra=()):
        """Wrap public functions defined in measured modules, plus
        ``extra`` (owner, attribute, span name, layer) entries such as
        class methods. ``modules`` is every module whose attributes may
        refer to those functions."""
        modules = list(modules)
        seen = set()
        for mod in modules:
            layer = layer_of(mod.__name__)
            if layer is None:
                continue
            for attr, fn in list(vars(mod).items()):
                if (
                    attr.startswith("_") or not inspect.isfunction(fn)
                    or fn.__module__ != mod.__name__ or id(fn) in seen
                ):
                    continue
                seen.add(id(fn))
                self.rebind(modules, fn, self.wrap(fn, f"{layer}.{attr}", layer))
        for owner, attr, name, layer in extra:
            fn = getattr(owner, attr)
            self.rebind(modules + [owner], fn, self.wrap(fn, name, layer))
        self._patch_pool()

    def _patch_pool(self):
        tracer = self
        pool_cls = concurrent.futures.ThreadPoolExecutor
        orig_submit = pool_cls.submit

        def submit(pool, fn, /, *args, **kwargs):
            parent, group = tracer.current(), tracer.group

            def run():
                st = tracer._stack()
                base = len(st)
                if parent is not None:
                    st.append(parent)
                if tracer.sc is not None:
                    if group is not None:
                        tracer.sc.setJobGroup(group, group)
                    tracer._set_span_property(parent)
                try:
                    return fn(*args, **kwargs)
                finally:
                    del st[base:]

            return orig_submit(pool, run)

        self._patches.append((pool_cls, "submit", orig_submit))
        pool_cls.submit = submit

    def uninstall(self):
        for owner, attr, val in reversed(self._patches):
            setattr(owner, attr, val)
        self._patches.clear()


def self_times(spans: list[Span]) -> dict[int, float]:
    """Per span: duration minus the part of its interval that its child
    spans cover (children may overlap each other, e.g. pool threads)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        end = s.end if s.end is not None else s.start
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(
            (max(c.start, s.start), min(c.end if c.end is not None else c.start, end))
            for c in children.get(s.sid, ())
        ):
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
        out[s.sid] = (end - s.start) - covered
    return out
