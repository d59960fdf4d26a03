"""Shared benchmark plumbing: latency recording and percentiles, the catalog
server subprocess, the Spark session lifecycle and per-layer tracing hooks
for the client process."""

from __future__ import annotations

import json
import math
import os
import signal
import socket
import subprocess
import sys
import threading
import time
import urllib.request
from collections import defaultdict

from tracing import OP_HEADER, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
CLASSES = ("lookup", "query", "commit")


def percentile(values: list[float], p: float) -> float:
    """Linear interpolation between closest ranks (numpy's default)."""
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


class Recorder:
    """Per-class latencies of completed operations, plus attempt and
    failure counts. Thread-safe."""

    def __init__(self) -> None:
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self._lock = threading.Lock()

    def ok(self, cls: str, seconds: float) -> None:
        with self._lock:
            self.attempted += 1
            self.lat[cls].append(seconds * 1e3)

    def fail(self, what: str) -> None:
        with self._lock:
            self.attempted += 1
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)

    def mismatch(self, what: str) -> None:
        """A correctness-check mismatch on an operation already counted."""
        with self._lock:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)

    def summary(self, elapsed_s: float, tails: dict[str, float]) -> dict:
        """Per class: median and the workload's fixed tail percentile
        (``tails``), with the sample count and how many samples lie
        beyond the tail."""
        out = {
            "ops_per_s": sum(len(v) for v in self.lat.values()) / elapsed_s,
            "elapsed_s": elapsed_s,
            "attempted": self.attempted,
            "failed": self.failed,
            "error_rate": self.failed / max(self.attempted, 1),
        }
        for cls in CLASSES:
            xs = self.lat.get(cls, [])
            if not xs:
                continue
            tp = tails[cls]
            out[f"{cls}_samples"] = len(xs)
            out[f"{cls}_p50_ms"] = percentile(xs, 50)
            out[f"{cls}_tail_ms"] = percentile(xs, tp)
            out[f"{cls}_tail_percentile"] = tp
            out[f"{cls}_beyond_tail"] = sum(x > out[f"{cls}_tail_ms"] for x in xs)
            out[f"{cls}_ms"] = [round(x, 3) for x in xs]
        return out


def timed(rec: Recorder, cls: str, what: str, fn, *args, **kwargs):
    """Run one operation; record its latency or its failure. Returns
    (ok, result)."""
    t0 = time.perf_counter()
    try:
        result = fn(*args, **kwargs)
    except Exception as exc:  # noqa: BLE001 - a failed op is a measurement
        rec.fail(f"{what}: {type(exc).__name__}: {str(exc)[:200]}")
        return False, None
    rec.ok(cls, time.perf_counter() - t0)
    return True, result


# --- catalog server subprocess ---------------------------------------------


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _die_with_parent() -> None:
    """Linux: the server gets SIGTERM if the benchmark process dies first."""
    import ctypes

    PR_SET_PDEATHSIG = 1
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_PDEATHSIG, signal.SIGTERM)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


class CatalogProcess:
    """The catalog service in its own process, file-backed SQLite DB and a
    warehouse under ``root``. Traced runs start the benchmark's launcher,
    which wraps the service's layers before serving."""

    def __init__(self, root: str, traced: bool = False) -> None:
        self.root = root
        self.warehouse = os.path.join(root, "warehouse")
        self.db = os.path.join(root, "catalog.db")
        self.spans_path = os.path.join(root, "server-spans.json") if traced else None
        self.port = _free_port()
        self.uri = f"http://127.0.0.1:{self.port}"
        os.makedirs(self.warehouse, exist_ok=True)
        args = ["start", "--port", str(self.port),
                "--warehouse", self.warehouse, "--db", self.db]
        if traced:
            cmd = [sys.executable, os.path.join(HERE, "catalog_server.py"),
                   "--spans", self.spans_path, *args]
        else:
            cmd = [sys.executable, "-m", "denali_spark.catalog", *args]
        self.proc = subprocess.Popen(
            cmd, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
            preexec_fn=_die_with_parent,
        )
        deadline = time.monotonic() + 60
        while True:
            try:
                with urllib.request.urlopen(f"{self.uri}/status", timeout=2):
                    break
            except OSError:
                if self.proc.poll() is not None or time.monotonic() > deadline:
                    err = self.proc.stderr.read().decode(errors="replace")[-2000:]
                    self.stop()
                    raise RuntimeError(f"catalog server did not start: {err}")
                time.sleep(0.02)

    def set_tracing(self, on: bool) -> None:
        if self.spans_path:
            self.proc.send_signal(signal.SIGUSR1 if on else signal.SIGUSR2)

    def cpu_s(self) -> float:
        with open(f"/proc/{self.proc.pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")

    def rss_mb(self) -> float:
        return _rss_mb(f"/proc/{self.proc.pid}/status")

    def warehouse_bytes(self) -> int:
        return _dir_bytes(self.warehouse)

    def stop(self) -> dict | None:
        """Terminate and wait; returns the server's spans when traced."""
        if self.proc.poll() is None:
            self.proc.terminate()
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.proc.stderr.close()
        if self.spans_path and os.path.exists(self.spans_path):
            with open(self.spans_path) as f:
                return json.load(f)
        return None


def _rss_mb(status_path: str) -> float:
    with open(status_path) as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


# --- client-side tracing -----------------------------------------------------


def instrument_client(tracer: Tracer) -> None:
    """Spans around the catalog client and the data-plane layers the
    workloads call. Every catalog request carries the current op id in a
    header so the server's spans join the same operation."""
    from denali_spark.catalog.client import CatalogClient, CatalogHTTPError
    from denali_spark.sources import catalog_io, maintenance, manifests, mor

    request = CatalogClient._request_h

    def request_h(self, method, path, body=None, query="", extra_headers=None):
        headers = dict(extra_headers or {})
        if not tracer.active:
            headers[OP_HEADER] = tracer.context_header()
            return request(self, method, path, body, query, headers)
        with tracer.span("catalog.client.request"):
            tracer.add("catalog.client.calls")
            headers[OP_HEADER] = tracer.context_header()
            return request(self, method, path, body, query, headers)

    CatalogClient._request_h = request_h

    commit = CatalogClient.commit_table

    def commit_table(self, *args, **kwargs):
        try:
            return commit(self, *args, **kwargs)
        except CatalogHTTPError as exc:
            if exc.status == 409 and tracer._stack():  # inside a sources span
                tracer.add("sources.write.commit_retries")
            raise

    CatalogClient.commit_table = commit_table

    def count_manifest(_result, _args, _kwargs):
        tracer.add("sources.manifest.reads")

    tracer.wrap(manifests, "read_manifest_list", "sources.manifest.read",
                after=count_manifest)
    io_cls = catalog_io.SparkCatalogIO
    tracer.wrap(io_cls, "read_table", "sources.read_table")
    tracer.wrap(io_cls, "sql", "sources.sql")
    tracer.wrap(io_cls, "write_table", "sources.write_table")
    tracer.wrap(mor, "delete_where_mor", "sources.mor_delete")
    tracer.wrap(maintenance, "compact_data_files", "sources.compact")


# --- inputs ------------------------------------------------------------------


def fixture_dir(sf: float) -> str:
    """The repository's read-only analytics fixture tables at scale ``sf``
    (one parquet file per table; the tables its tests and oracles read)."""
    from denali_spark.engine.tables import DEFAULT_SF_DIR

    path = os.path.join(os.path.dirname(DEFAULT_SF_DIR), f"sf{sf:g}")
    if not os.path.isfile(os.path.join(path, "lineitem.parquet")):
        raise FileNotFoundError(f"no fixture tables at {path}")
    return path


# --- Spark ---------------------------------------------------------------------


def start_spark(app: str):
    from denali_spark.engine.session import get_spark

    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_rss_mb() -> float:
    """Resident memory of the Spark driver JVM."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return 0.0
    return _rss_mb(f"/proc/{proc.pid}/status")


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class SparkOps:
    """One Spark job group per operation; in traced runs, the status
    tracker gives jobs and tasks per operation. ``end`` clears the group,
    so call it before the operation's correctness checks."""

    def __init__(self, spark, tracer: Tracer) -> None:
        self.sc = spark.sparkContext
        self.tracer = tracer

    def begin(self, op_id: str) -> None:
        self.tracer.set_op(op_id)
        if self.tracer.enabled:
            self.sc.setJobGroup(op_id, op_id)

    def end(self, op_id: str) -> None:
        if not self.tracer.enabled:
            return
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(op_id)
        tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info else ()):
                st = tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numTasks
        self.tracer.add("engine.jobs", len(jobs))
        self.tracer.add("engine.tasks", tasks)
        self.tracer.add("engine.ops")
        self.sc.setLocalProperty("spark.jobGroup.id", None)


# --- operator registry ------------------------------------------------------


def run_registry_query(spark, name: str, corpus: str, tracer: Tracer):
    """One registry query over a parquet corpus, collected to pandas;
    spans ``operators.<name>`` around the build and the Spark action."""
    from denali_spark.operators import REGISTRY

    with tracer.span(f"operators.{name}"):
        df = REGISTRY[name].fn(spark, corpus)
        t = time.perf_counter()
        pdf = df.toPandas()
        tracer.record("engine.exec", t, time.perf_counter())
    return pdf


def check_oracle(corpus: str, results: dict, rec: Recorder) -> None:
    """Compare each query's last result with its DuckDB oracle."""
    from denali_spark.operators import REGISTRY
    from denali_spark.oracle import compare, duck_connection

    con = duck_connection(corpus)
    try:
        for name, pdf in results.items():
            oracle = REGISTRY[name].oracle
            if oracle is None:
                continue
            problems = compare(pdf, con.execute(oracle).df())
            if problems:
                rec.mismatch(f"oracle {name}: {problems[0]}")
    finally:
        con.close()
