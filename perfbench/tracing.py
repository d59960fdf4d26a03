"""In-memory span tracer for the traced benchmark run.

Spans are recorded around calls into the program's public functions by
wrapping them from the benchmark's own files (``Tracer.wrap``); the program
itself is not edited. Each span carries a name, start and end (perf_counter
seconds, CLOCK_MONOTONIC, so comparable across processes), its parent span
and the operation id that caused it. The catalog server's root spans name
the client span that sent the request as their parent. Spans stay in
memory until the run ends and are then written out as JSON.

Self time of a span is its duration minus the part of its interval that its
child spans cover; ``summarize`` aggregates that per span name.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from collections import defaultdict

OP_HEADER = "X-Perfbench-Op"
CHECK_OP = "check"


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[tuple] = []  # (id, parent, name, start, end, op)
        self.counts: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._count_lock = threading.Lock()
        self._local = threading.local()

    # --- context -----------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @property
    def op_id(self):
        return getattr(self._local, "op", None)

    @property
    def active(self) -> bool:
        """Recording on this thread: tracing enabled and not inside a
        correctness check."""
        return self.enabled and getattr(self._local, "op", None) != CHECK_OP

    def set_op(self, op_id) -> None:
        self._local.op = op_id

    def context_header(self) -> str:
        """``<op id>|<current span id>``: sent with each catalog request so
        the server's spans join this operation under the calling span."""
        st = self._stack()
        return f"{self.op_id}|{st[-1] if st else ''}"

    def adopt(self, header: str | None) -> None:
        """Server side: take op id and remote parent from the header. A root
        span's parent is stored negated to mark it as the client's id."""
        op, _, parent = (header or "").partition("|")
        self._local.op = op or None
        self._local.remote = -int(parent) if parent else None

    def _parent(self):
        st = self._stack()
        return st[-1] if st else getattr(self._local, "remote", None)

    def add(self, key: str, n: float = 1) -> None:
        if self.active:
            with self._count_lock:
                self.counts[key] += n

    def record(self, name: str, start: float, end: float) -> None:
        """A span measured by the caller (no children)."""
        if self.active:
            self.spans.append(
                (next(self._ids), self._parent(), name, start, end, self.op_id)
            )

    def span(self, name: str):
        return _Span(self, name)

    @contextlib.contextmanager
    def paused(self):
        """Run correctness checks untraced; their catalog requests carry the
        op id ``check`` so the server leaves them out too."""
        op = self.op_id
        self.set_op(CHECK_OP)
        try:
            yield
        finally:
            self.set_op(op)

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a spanned version. ``after(result,
        args, kwargs)`` runs inside the span for counters."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return original(*args, **kwargs)
            with _Span(tracer, name):
                result = original(*args, **kwargs)
                if after is not None:
                    after(result, args, kwargs)
                return result

        setattr(owner, attr, wrapper)

    # --- output ------------------------------------------------------------

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": dict(self.counts)}, f)


class _Span:
    __slots__ = ("tracer", "name", "sid", "parent", "start")

    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        self.parent = self.tracer._parent()
        self.sid = next(self.tracer._ids)
        self.tracer._stack().append(self.sid)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        t = self.tracer
        t._stack().pop()
        if t.active:
            t.spans.append((self.sid, self.parent, self.name, self.start, end, t.op_id))
        return False


def summarize(spans: list) -> dict[str, dict]:
    """{name: {calls, total_ms, self_ms}}; self time subtracts the union of
    child intervals clipped to the parent's interval."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for sid, parent, _name, start, end, _op in spans:
        if parent is not None:
            children[parent].append((start, end))
    out: dict[str, dict] = {}
    for sid, _parent, name, start, end, _op in spans:
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in sorted(children.get(sid, ())):
            s, e = max(s, start), min(e, end)
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        agg = out.setdefault(name, {"calls": 0, "total_ms": 0.0, "self_ms": 0.0})
        agg["calls"] += 1
        agg["total_ms"] += (end - start) * 1e3
        agg["self_ms"] += (end - start - covered) * 1e3
    return out
