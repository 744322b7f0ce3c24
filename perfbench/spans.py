"""Out-of-program tracing: spans recorded by wrapping the public functions each
layer exposes, at the names its callers import them under.

A span is (request id, span id, parent span id, name, start, end). A root
span opens a request; every span opened on the same thread while it runs is
its descendant and shares its request id. Spans stay in memory until the
benchmark reads them. Wrappers are installed only in traced runs; while
`enabled` is False no new request is traced.
"""
from __future__ import annotations

import itertools
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[tuple] = []
        #: request id -> request kind ("read", "write", ...)
        self.kinds: dict[int, str] = {}
        #: request id -> what a `note` wrapper recorded (the statement)
        self.notes: dict[int, str] = {}
        self.on_root_start = None  # callable(rid) or None
        self.on_root_end = None
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def wrap(self, owner, attr: str, name: str, root=None, note=None) -> None:
        """Replace owner.attr with a span-recording wrapper. `root(args)`,
        when given, makes the span a request root and returns the request
        kind (None: not a request, record nothing); `note(args)` labels
        the request. Spans outside any request, and a span directly inside
        one of the same name, are not recorded."""
        original = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            stack = tracer._stack()
            if stack:
                # inside a traced request: record even if tracing was
                # switched off since the request began
                if stack[-1][2] == name:
                    return original(*args, **kwargs)
                rid, parent = stack[-1][0], stack[-1][1]
            else:
                kind = root(args) if tracer.enabled and root is not None else None
                if kind is None:
                    return original(*args, **kwargs)
                rid = parent = 0
            sid = next(tracer._ids)
            if not parent:
                rid = sid
                with tracer._lock:
                    tracer.kinds[rid] = kind
                if tracer.on_root_start is not None:
                    tracer.on_root_start(rid)
            stack.append((rid, sid, name))
            if note is not None:
                with tracer._lock:
                    tracer.notes[rid] = note(args)
            t0 = time.perf_counter()
            try:
                return original(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                stack.pop()
                with tracer._lock:
                    tracer.spans.append((rid, sid, parent, name, t0, t1))
                if not parent and tracer.on_root_end is not None:
                    tracer.on_root_end(rid)

        wrapper.__wrapped__ = original
        setattr(owner, attr, wrapper)

    def take(self) -> tuple[list[tuple], dict[int, str], dict[int, str]]:
        with self._lock:
            spans, self.spans = self.spans, []
            kinds, self.kinds = self.kinds, {}
            notes, self.notes = self.notes, {}
        return spans, kinds, notes


def layer_times(spans: list[tuple]) -> dict[int, dict]:
    """Per request: {"self": name -> self ms, "incl": name -> inclusive ms,
    "calls": name -> count, "under": name -> {ancestor names}}. A span's
    self time is its duration minus the time its direct children cover
    (children of one span run one after another on its thread)."""
    child_ms: dict[int, float] = defaultdict(float)
    names = {sid: (name, parent) for _r, sid, parent, name, _a, _b in spans}
    for _rid, _sid, parent, _name, t0, t1 in spans:
        if parent:
            child_ms[parent] += (t1 - t0) * 1000
    out: dict[int, dict] = {}
    for rid, sid, parent, name, t0, t1 in spans:
        r = out.setdefault(rid, {
            "self": defaultdict(float), "incl": defaultdict(float),
            "calls": defaultdict(int), "root_ms": 0.0,
        })
        ms = (t1 - t0) * 1000
        r["self"][name] += ms - child_ms[sid]
        r["incl"][name] += ms
        r["calls"][name] += 1
        if not parent:
            r["root_ms"] = ms
            r["root_span"] = (t0, t1)
        # inclusive time keyed by "<name>@<ancestor>" for every ancestor,
        # so a layer can be split by the caller it ran under
        p = parent
        while p:
            pname, p = names.get(p, (None, 0))
            if pname is not None:
                r["incl"][f"{name}@{pname}"] += ms
    return out
