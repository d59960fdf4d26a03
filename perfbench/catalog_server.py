"""Traced catalog server launcher.

Wraps the catalog service's route handlers and response writes,
``catalog.metadata`` reads and writes, the ``catalog.store`` object calls
and the commit lock with spans,
then starts serving exactly as ``python -m denali_spark.catalog start``
does. Tracing starts disabled; SIGUSR1 enables it, SIGUSR2 disables it and
SIGTERM writes the spans to ``--spans`` and exits.

    python perfbench/catalog_server.py --spans OUT.json start --port N \
        --warehouse DIR --db FILE
"""

from __future__ import annotations

import os
import signal
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tracing import OP_HEADER, Tracer  # noqa: E402


class _TimedLock:
    """Stands in for State.commit_lock: records the wait for the lock as
    ``catalog.commit_lock.wait`` before the holder's work begins."""

    def __init__(self, tracer: Tracer) -> None:
        self._lock = threading.Lock()
        self._tracer = tracer

    def acquire(self, *args, **kwargs):
        t0 = time.perf_counter()
        got = self._lock.acquire(*args, **kwargs)
        self._tracer.record("catalog.commit_lock.wait", t0, time.perf_counter())
        self._tracer.add("catalog.commit_lock.acquisitions")
        return got

    def release(self) -> None:
        self._lock.release()

    def __enter__(self):
        self.acquire()
        return self

    def __exit__(self, *exc):
        self.release()
        return False


def instrument(tracer: Tracer) -> None:
    from denali_spark.catalog import metadata as meta
    from denali_spark.catalog import service, store
    from denali_spark.catalog.errors import CatalogError

    def route(handler):
        name = handler.__name__

        def traced(state, m, q, body):
            if not tracer.active:
                return handler(state, m, q, body)
            conditional = bool(q.get("__if-none-match"))
            with tracer.span(f"catalog.http.{name}"):
                tracer.add(f"catalog.http.{name}.calls")
                try:
                    out = handler(state, m, q, body)
                except CatalogError as exc:
                    tracer.add(f"catalog.http.{name}.status.{exc.http_code}")
                    raise
            tracer.add(f"catalog.http.{name}.status.{out[0]}")
            if name == "load_table" and conditional:
                tracer.add("catalog.etag.conditional_loads")
                if out[0] == 304:
                    tracer.add("catalog.etag.not_modified")
            return out

        traced.__name__ = name
        return traced

    service.ROUTES[:] = [(meth, pat, route(h)) for meth, pat, h in service.ROUTES]

    dispatch = service._Handler._dispatch

    def traced_dispatch(self, method):
        tracer.adopt(self.headers.get(OP_HEADER))
        return dispatch(self, method)

    service._Handler._dispatch = traced_dispatch
    # response encoding + socket write, outside the route handler
    tracer.wrap(service._Handler, "_send", "catalog.http.send")

    def count_read(data, args, kwargs):
        if str(args[0]).endswith(".metadata.json"):
            tracer.add("catalog.metadata.read_bytes", len(data))

    def count_write(_result, args, kwargs):
        if str(args[0]).endswith(".metadata.json"):
            tracer.add("catalog.metadata.write_bytes", len(args[1]))

    tracer.wrap(meta, "read_table_metadata", "catalog.metadata.read")
    tracer.wrap(meta, "write_table_metadata", "catalog.metadata.write")
    tracer.wrap(meta, "read_blob", "catalog.metadata.read_blob", after=count_read)
    tracer.wrap(
        meta, "write_blob_atomic", "catalog.metadata.write_blob", after=count_write
    )
    tracer.wrap(store._BaseStore, "get_object", "catalog.store.get_object")
    tracer.wrap(store._BaseStore, "cas_update_object", "catalog.store.cas_update_object")

    state_init = service.State.__init__

    def traced_state_init(self, *args, **kwargs):
        state_init(self, *args, **kwargs)
        self.commit_lock = _TimedLock(tracer)

    service.State.__init__ = traced_state_init


def main(argv: list[str]) -> int:
    if len(argv) < 2 or argv[0] != "--spans":
        print(__doc__, file=sys.stderr)
        return 2
    spans_path, rest = argv[1], argv[2:]
    tracer = Tracer()
    instrument(tracer)

    def enable(_sig, _frm):
        tracer.enabled = True

    def disable(_sig, _frm):
        tracer.enabled = False

    def finish(_sig, _frm):
        tracer.enabled = False
        tracer.dump(spans_path)
        raise SystemExit(0)

    signal.signal(signal.SIGUSR1, enable)
    signal.signal(signal.SIGUSR2, disable)
    signal.signal(signal.SIGTERM, finish)
    from denali_spark.catalog.__main__ import main as catalog_main

    return catalog_main(rest)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
