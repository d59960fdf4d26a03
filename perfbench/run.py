"""Repository benchmark: catalog REST traffic, Spark reads and writes through
the catalog, and operator pipelines.

    python3 perfbench/run.py --workload catalog_rest|lakehouse_rw|analytics_ops \
        --seed N --seconds S --trace 0|1 [--sf X]

Run from the repository root. Every run gets a fresh temp root under
``.perfbench/`` (TMPDIR, SPARK_LOCAL_DIRS, warehouse, SQLite file), removed
afterwards. With ``--trace 0`` the last stdout line carries the end-to-end
metrics; with ``--trace 1`` the run measures once untraced and once traced
and the last line carries the per-layer metrics (including the tracing
overhead). The line before it is the full report. BENCHMARK.json lists the
metrics, their units and why each workload exists.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

import lakehouse_rw  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOADS = ("catalog_rest", "lakehouse_rw", "analytics_ops")
END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "lookup_p50_ms": "ms",
    "lookup_tail_ms": "ms",
    "query_p50_ms": "ms",
    "query_tail_ms": "ms",
    "commit_p50_ms": "ms",
    "commit_tail_ms": "ms",
}
ROUTES = ("load_table", "list_tables", "update_table", "plan_table_scan")
# Per-layer operator metrics name lakehouse_rw's operators; analytics_ops
# reports its own in the full report.
OPERATOR_QUERIES = tuple(lakehouse_rw.OPERATORS.values())


def per_layer_units() -> dict[str, tuple[str, str]]:
    """Every per-layer metric: (unit, which direction is better)."""
    units: dict[str, tuple[str, str]] = {}
    for r in (*ROUTES, "other"):
        units[f"catalog.http.{r}.busy_ms"] = ("ms", "lower")
        units[f"catalog.http.{r}.calls"] = ("count/op", "lower")
    units.update({
        "catalog.http.send_ms": ("ms", "lower"),
        "catalog.metadata.read_ms": ("ms", "lower"),
        "catalog.metadata.read_bytes": ("bytes", "lower"),
        "catalog.metadata.write_ms": ("ms", "lower"),
        "catalog.metadata.bytes_per_commit": ("bytes", "lower"),
        "catalog.commit_lock.wait_ms": ("ms", "lower"),
        "catalog.store.ms": ("ms", "lower"),
        "catalog.store.calls": ("count/op", "lower"),
        "catalog.commit.conflict_ratio": ("ratio", "lower"),
        "catalog.commit.attempts": ("count", "higher"),
        "catalog.etag.not_modified_ratio": ("ratio", "higher"),
        "catalog.etag.conditional_loads": ("count", "higher"),
        "catalog.server_cpu_ms_per_op": ("ms", "lower"),
        "catalog.server_rss_mb": ("MB", "lower"),
        "catalog.client.calls_per_op": ("count/op", "lower"),
        "catalog.client.ms_per_op": ("ms", "lower"),
        "sources.plan_ms": ("ms", "lower"),
        "sources.manifest.reads_per_op": ("count/op", "lower"),
        "sources.manifest.ms": ("ms", "lower"),
        "sources.files_scanned_per_lookup": ("count", "lower"),
        "sources.prune_ratio": ("ratio", "lower"),
        "sources.live_files_start": ("count", "lower"),
        "sources.write.ms": ("ms", "lower"),
        "sources.write.commit_retries": ("count/op", "lower"),
        "sources.mor_delete.ms": ("ms", "lower"),
        "sources.compact.ms": ("ms", "lower"),
        "sources.compact.bytes_rewritten": ("bytes", "lower"),
        "sources.bytes_written_per_user_byte": ("ratio", "lower"),
        "sources.live_files_end": ("count", "lower"),
        "sources.snapshots_end": ("count", "lower"),
        "engine.exec_ms": ("ms", "lower"),
        "engine.jobs_per_op": ("count/op", "lower"),
        "engine.tasks_per_op": ("count/op", "lower"),
        "engine.session_start_s": ("s", "lower"),
        "engine.index_build_s": ("s", "lower"),
        "engine.driver_rss_mb": ("MB", "lower"),
    })
    for q in OPERATOR_QUERIES:
        units[f"operators.{q}.build_ms"] = ("ms", "lower")
        units[f"operators.{q}.ms"] = ("ms", "lower")
    units["trace.overhead_pct"] = ("%", "lower")
    return units


def isolate(root: str) -> None:
    """Point every temp location of this process and its children at the
    run's own root, and put the repository on the Spark workers' path."""
    tmp = os.path.join(root, "tmp")
    local = os.path.join(root, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = os.environ
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = local
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, HERE, env.get("PYTHONPATH", "")) if p
    )
    env["SPARK_GRAFT_CPUS"] = str(min(4, os.cpu_count() or 4))
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    env["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    env["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
        f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    )
    tempfile.tempdir = None
    sys.path[:0] = [REPO, HERE]
    os.chdir(root)  # stray relative writes (spark-warehouse, logs) stay here


class RunContext:
    def __init__(self, args, root: str, tails: dict[str, float]) -> None:
        from harness import Recorder
        from tracing import Tracer

        self.args = args
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.root = root
        self.tails = tails
        self.t_start = T_START
        self.tracer = Tracer()
        self.rec = Recorder()
        self.layer: dict[str, float] = {}
        self.traced_ops = 1  # operations of the traced half
        if self.traced:
            from harness import instrument_client

            instrument_client(self.tracer)

    def absorb(self, other) -> None:
        """Count another recorder's attempts and failures in the run total."""
        self.rec.attempted += other.attempted
        self.rec.failed += other.failed
        self.rec.failures.extend(other.failures[: 20 - len(self.rec.failures)])

    def measure(self, loop, server) -> dict:
        """Run the timed loop untraced; in traced runs, run it again traced.
        ``loop(recorder, seconds)`` returns the seconds it measured over."""
        from harness import Recorder

        rec = Recorder()
        cpu0 = server.cpu_s()
        elapsed = loop(rec, self.seconds)
        cpu = server.cpu_s() - cpu0
        self.absorb(rec)
        out = {"e2e": rec.summary(elapsed, self.tails)}
        n = max(rec.attempted, 1)
        self.layer["catalog.server_cpu_ms_per_op"] = cpu * 1e3 / n
        self.layer["catalog.server_rss_mb"] = server.rss_mb()
        if self.traced:
            rec_t = Recorder()
            self.tracer.enabled = True
            server.set_tracing(True)
            time.sleep(0.1)  # the server takes the signal asynchronously
            try:
                elapsed_t = loop(rec_t, self.seconds)
            finally:
                self.tracer.enabled = False
                server.set_tracing(False)
            self.absorb(rec_t)
            out["traced"] = rec_t.summary(elapsed_t, self.tails)
            self.traced_ops = max(rec_t.attempted, 1)
            base = out["e2e"]["ops_per_s"]
            self.layer["trace.overhead_pct"] = (
                (base - out["traced"]["ops_per_s"]) / base * 100 if base else 0.0
            )
        return out


def layer_metrics(ctx: RunContext, server_trace: dict | None) -> tuple[dict, dict]:
    """Per-layer metrics from the traced phase, plus the self-time table."""
    from tracing import summarize

    spans = list(ctx.tracer.spans)
    counts = dict(ctx.tracer.counts)
    if server_trace:
        # server span ids are their own id space: offset them; a negative
        # parent is the client span that sent the request
        off = 1 + max((s[0] for s in spans), default=0)
        spans += [
            (sid + off, p if p is None else (-p if p < 0 else p + off), name, s, e, op)
            for sid, p, name, s, e, op in server_trace["spans"]
        ]
        for k, v in server_trace["counts"].items():
            counts[k] = counts.get(k, 0) + v
    table = summarize(spans)
    n = ctx.traced_ops

    def calls(name: str) -> int:
        return table.get(name, {}).get("calls", 0)

    def mean_ms(*names: str) -> float:
        c = sum(calls(x) for x in names)
        return sum(table.get(x, {}).get("total_ms", 0.0) for x in names) / c if c else 0.0

    m = {k: 0.0 for k in per_layer_units()}
    m.update({k: v for k, v in ctx.layer.items() if k in m})
    routes = [k[len("catalog.http."):] for k in table
              if k.startswith("catalog.http.") and k != "catalog.http.send"]
    for r in ROUTES:
        m[f"catalog.http.{r}.busy_ms"] = mean_ms(f"catalog.http.{r}")
        m[f"catalog.http.{r}.calls"] = calls(f"catalog.http.{r}") / n
    other = [f"catalog.http.{r}" for r in routes if r not in ROUTES]
    m["catalog.http.other.busy_ms"] = mean_ms(*other)
    m["catalog.http.other.calls"] = sum(calls(x) for x in other) / n
    m["catalog.http.send_ms"] = mean_ms("catalog.http.send")
    reads, writes = calls("catalog.metadata.read"), calls("catalog.metadata.write")
    m["catalog.metadata.read_ms"] = mean_ms("catalog.metadata.read")
    m["catalog.metadata.read_bytes"] = counts.get("catalog.metadata.read_bytes", 0) / max(reads, 1)
    m["catalog.metadata.write_ms"] = mean_ms("catalog.metadata.write")
    m["catalog.metadata.bytes_per_commit"] = (
        counts.get("catalog.metadata.write_bytes", 0) / max(writes, 1)
    )
    m["catalog.commit_lock.wait_ms"] = mean_ms("catalog.commit_lock.wait")
    store = ("catalog.store.get_object", "catalog.store.cas_update_object")
    m["catalog.store.ms"] = mean_ms(*store)
    m["catalog.store.calls"] = sum(calls(x) for x in store) / n
    attempts = counts.get("catalog.http.update_table.calls", 0)
    m["catalog.commit.attempts"] = attempts
    m["catalog.commit.conflict_ratio"] = (
        counts.get("catalog.http.update_table.status.409", 0) / attempts if attempts else 0.0
    )
    cond = counts.get("catalog.etag.conditional_loads", 0)
    m["catalog.etag.conditional_loads"] = cond
    m["catalog.etag.not_modified_ratio"] = (
        counts.get("catalog.etag.not_modified", 0) / cond if cond else 0.0
    )
    m["catalog.client.calls_per_op"] = counts.get("catalog.client.calls", 0) / n
    m["catalog.client.ms_per_op"] = (
        table.get("catalog.client.request", {}).get("total_ms", 0.0) / n
    )
    m["sources.plan_ms"] = mean_ms("sources.read_table", "sources.sql")
    m["sources.manifest.reads_per_op"] = counts.get("sources.manifest.reads", 0) / n
    m["sources.manifest.ms"] = mean_ms("sources.manifest.read")
    lookups = counts.get("sources.lookups", 0)
    if lookups:
        scanned = counts.get("sources.files_scanned", 0)
        m["sources.files_scanned_per_lookup"] = scanned / lookups
        live = counts.get("sources.live_files_seen", 0)
        m["sources.prune_ratio"] = scanned / live if live else 0.0
    m["sources.write.ms"] = mean_ms("sources.write_table")
    m["sources.write.commit_retries"] = counts.get("sources.write.commit_retries", 0) / n
    m["sources.mor_delete.ms"] = mean_ms("sources.mor_delete")
    m["sources.compact.ms"] = mean_ms("sources.compact")
    m["sources.compact.bytes_rewritten"] = (
        counts.get("sources.compact.bytes_rewritten", 0) / max(calls("sources.compact"), 1)
    )
    m["engine.exec_ms"] = mean_ms("engine.exec")
    ops = counts.get("engine.ops", 0)
    if ops:
        m["engine.jobs_per_op"] = counts.get("engine.jobs", 0) / ops
        m["engine.tasks_per_op"] = counts.get("engine.tasks", 0) / ops
    durs: dict[str, list[float]] = {}
    for _i, _p, name, s, e, _o in spans:
        if name.startswith("operators."):
            durs.setdefault(name, []).append((e - s) * 1e3)
    for name, ds in durs.items():
        m[f"{name}.ms"] = statistics.median(ds)
    m.update({k: v for k, v in ctx.layer.items() if k.startswith("operators.")})
    m["trace.spans"] = len(spans)
    return m, table


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--sf", type=float, default=None,
                        help="read the repository's fixture tables at this scale "
                             "instead of the workload's default (0.01)")
    args = parser.parse_args(argv)

    if not os.path.isdir(os.path.join(REPO, "denali_spark")):
        print(f"perfbench: no denali_spark package under {REPO}", file=sys.stderr)
        return 2
    base = os.path.join(REPO, ".perfbench")
    os.makedirs(base, exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=base)
    try:
        isolate(root)
        import importlib

        module = importlib.import_module(args.workload)
        if args.sf is not None:
            module.SF = args.sf
        ctx = RunContext(args, root, module.TAIL_PERCENTILES)
        result = module.run(ctx)
    except Exception:  # noqa: BLE001 - report and exit non-zero, no result
        traceback.print_exc()
        return 1
    finally:
        os.chdir(REPO)
        shutil.rmtree(root, ignore_errors=True)

    e2e = dict(result["e2e"], setup_s=result["setup_s"])
    rec = ctx.rec
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "attempted": rec.attempted, "failed": rec.failed,
        "error_rate": rec.failed / max(rec.attempted, 1),
        "failures": rec.failures, "end_to_end": e2e,
    }
    if args.trace:
        layer, table = layer_metrics(ctx, result.get("server_spans"))
        report["traced"] = result["traced"]
        report["per_layer"] = layer
        report["self_time"] = {
            k: {kk: round(vv, 3) for kk, vv in v.items()}
            for k, v in sorted(table.items(), key=lambda kv: -kv[1]["self_ms"])
        }
        units = per_layer_units()
        metrics = {k: {"value": layer[k], "unit": units[k][0]} for k in units}
        out_dir = os.path.join(base, "out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace.json"), "w") as f:
            json.dump(report, f, indent=1)
    else:
        missing = [k for k in END_TO_END if k not in e2e]
        if missing:
            print(f"perfbench: no samples for {missing}", file=sys.stderr)
            return 1
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps(report))
    print(json.dumps({
        "correct": rec.failed == 0,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
