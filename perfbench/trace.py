"""Timing spans around the program's public layer entry points.

The wrappers live here and are installed at run time onto the program's
classes and module functions; no program source changes. A span records
its name, start, end, parent span and request id. A request id is opened
by a root span: a served request (on its serving thread) or a client-side
operation. Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time


class Tracer:
    def __init__(self):
        self.spans: list[tuple] = []  # (id, name, start, end, parent, rid)
        self._ids = itertools.count()
        self._rids = itertools.count(1)
        self._local = threading.local()
        self._mu = threading.Lock()
        self._undo: list[tuple] = []

    # -- recording ---------------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, root: bool = False):
        st = self._stack()
        sid = next(self._ids)
        if root or not st:
            parent, rid = None, next(self._rids)
        else:
            parent, rid = st[-1][0], st[-1][1]
        st.append((sid, rid))
        return sid, name, time.perf_counter(), parent, rid

    def close(self, token, failed: bool = False) -> None:
        sid, name, start, parent, rid = token
        end = time.perf_counter()
        st = self._stack()
        if st and st[-1][0] == sid:
            st.pop()
        with self._mu:
            self.spans.append((sid, name + ("!" if failed else ""), start,
                               end, parent, rid))

    def span(self, name: str, root: bool = False):
        tracer = self

        class _Span:
            def __enter__(self):
                self.tok = tracer.open(name, root)
                return self

            def __exit__(self, et, ev, tb):
                tracer.close(self.tok, failed=et is not None)

        return _Span()

    # -- installing wrappers ----------------------------------------------

    def wrap(self, owner, attr: str, name, root: bool = False) -> None:
        """Replace ``owner.attr`` by a timing wrapper. ``name`` is a span
        name or a callable(tracer) -> name chosen at call time."""
        fn = owner.__dict__[attr] if isinstance(owner, type) \
            else getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **k):
            tok = tracer.open(name(tracer) if callable(name) else name, root)
            failed = True
            try:
                out = fn(*a, **k)
                failed = False
                return out
            finally:
                tracer.close(tok, failed)

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, fn))

    def wrap_generator(self, owner, attr: str, name: str) -> None:
        """A generator's span runs from the call to exhaustion (the time
        the consumer spends pulling parsed elements out of it)."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **k):
            st = tracer._stack()
            sid = next(tracer._ids)
            parent, rid = (st[-1][0], st[-1][1]) if st else (None, 0)
            start = time.perf_counter()
            try:
                yield from fn(*a, **k)
            finally:
                with tracer._mu:
                    tracer.spans.append((sid, name, start, time.perf_counter(),
                                         parent, rid))

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, fn))

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._undo):
            setattr(owner, attr, fn)
        self._undo.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, name, start, end, parent, rid in self.spans:
                f.write(json.dumps({"id": sid, "name": name, "start": start,
                                    "end": end, "parent": parent,
                                    "rid": rid}) + "\n")


def install(tracer: Tracer) -> None:
    """Wrap every layer entry point named in the benchmark's doc."""
    from datahub_spark import jobs, script, server, store

    for cls, layer in ((store.EntityStore, "store"),
                       (store.WalIngest, "store.wal")):
        for attr, val in list(cls.__dict__.items()):
            if attr.startswith("_") or not callable(val):
                continue
            tracer.wrap(cls, attr, f"{layer}.{attr}")

    # served requests: root spans on the serving thread
    def serving(fn_name):
        def name(tr):
            tr._local.serving = True
            return f"server.{fn_name}"
        return name

    for attr in ("_route_get", "_route_post", "_route_put",
                 "_route_delete", "_route_patch"):
        tracer.wrap(server.UdaServer, attr, serving(attr[7:]), root=True)
    tracer.wrap_generator(server, "iter_json_array", "server.parse")

    # the /query index and the script index share one function; the span
    # name says which layer called it
    tracer.wrap(script, "build_lookup_index",
                lambda tr: "query.index" if getattr(tr._local, "serving", False)
                and tr._stack() else "script.index")
    tracer.wrap(script, "compile_script", "script.compile")

    tracer.wrap(jobs.Job, "run", "jobs.run")
    for attr in ("read", "current_watermark", "watermark_of"):
        tracer.wrap(jobs.DatasetSource, attr, f"jobs.source.{attr}")
    tracer.wrap(jobs.DatasetSink, "write", "jobs.sink.write")
    for attr, val in list(jobs.JobState.__dict__.items()):
        if not attr.startswith("_") and callable(val):
            tracer.wrap(jobs.JobState, attr, f"jobs.state.{attr}")


# -- analysis ----------------------------------------------------------------

def covered(start: float, end: float, intervals) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> dict[int, float]:
    """Span id -> its duration minus the part its children cover."""
    kids: dict[int, list] = {}
    for sid, _n, s, e, parent, _r in spans:
        if parent is not None:
            kids.setdefault(parent, []).append((s, e))
    return {sid: (e - s) - covered(s, e, kids.get(sid, ()))
            for sid, _n, s, e, _p, _r in spans}


def layer_of(name: str) -> str:
    return name.split(".", 1)[0]


def summarize(spans) -> dict:
    """Per span name: calls, total ms, self ms; per layer: self ms."""
    selfs = self_times(spans)
    by_name: dict[str, dict] = {}
    by_layer: dict[str, float] = {}
    for sid, name, s, e, _p, _r in spans:
        agg = by_name.setdefault(name.rstrip("!"), {
            "calls": 0, "failed": 0, "ms": 0.0, "self_ms": 0.0})
        agg["calls"] += 1
        agg["failed"] += name.endswith("!")
        agg["ms"] += (e - s) * 1000
        agg["self_ms"] += selfs[sid] * 1000
        lay = layer_of(name)
        by_layer[lay] = by_layer.get(lay, 0.0) + selfs[sid] * 1000
    return {"names": by_name, "layers": by_layer}


def span_cost_us(n: int = 20000) -> float:
    """Cost of recording one span, measured on a scratch tracer."""
    tr = Tracer()
    t0 = time.perf_counter()
    for _ in range(n):
        tr.close(tr.open("x"))
    return (time.perf_counter() - t0) / n * 1e6
