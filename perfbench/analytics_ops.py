"""Workload ``analytics_ops``: a fixed rotation of registry queries over the
repository's sf0.01 fixture corpus, read straight from parquet (no catalog on the read
path), repeated over warm indexes the way interactive curation repeats
top-k searches and dedup passes over one corpus.

Each pass runs, in order: the ``QUERIES`` rotation (queries; the top-k
similarity search ``LOOKUP_QUERY`` counts as a lookup), ``DOC_FETCHES``
point fetches of documents by id (lookups), and publishes the pass's
quality scores to the catalog with one append (the commit; the only
catalog work in this workload). Cold index builds run once in set-up. The
timed loop runs whole passes until ``--seconds`` of operation time has
passed.

Correctness, outside the timed part of each operation: once per run every
query's last result is compared with its DuckDB oracle
(``denali_spark.oracle``); document fetches must return the fixture's
text; the published table's row count must equal passes x rows per pass.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.parquet as pq

from harness import (
    CatalogProcess, Recorder, SparkOps, check_oracle, fixture_dir, jvm_rss_mb,
    run_registry_query, start_spark, stop_spark,
)

SF = 0.01
QUERIES = (
    "q1_pricing_summary", "q3_shipping_priority", "q9_product_type_profit",
    "q18_large_volume_customer", "dedup_minhash_lsh_pairs", "sim_lsh_bucket_topk",
    "sem_dedup_pairs", "text_decontaminate", "text_quality_score",
    "mm_image_phash_pairs", "graph_pagerank_parts",
)
LOOKUP_QUERY = "sim_lsh_bucket_topk"
PUBLISH_QUERY = "text_quality_score"
DOC_FETCHES = 4
NS = ["curated"]
# Under 20 samples per class at the default run length: no percentile has
# 10 samples beyond it, so the median stands in for the tail.
TAIL_PERCENTILES = {"lookup": 50.0, "query": 50.0, "commit": 50.0}


class Analytics:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.rng = np.random.default_rng(np.random.SeedSequence([ctx.seed, 3]))
        self.corpus = fixture_dir(SF)
        self.server = self.spark = None
        self.results: dict = {}
        self.cold = False
        self.published = 0
        self.n = 0

    def setup(self) -> None:
        from denali_spark.sources import SparkCatalogIO

        ctx = self.ctx
        self.server = CatalogProcess(os.path.join(ctx.root, "catalog"), traced=ctx.traced)
        t0 = time.perf_counter()
        self.spark = start_spark("perfbench-analytics")
        ctx.layer["engine.session_start_s"] = time.perf_counter() - t0
        self.ops = SparkOps(self.spark, ctx.tracer)
        self.io = SparkCatalogIO(self.spark, self.server.uri)
        docs = pq.read_table(os.path.join(self.corpus, "documents.parquet"),
                             columns=["doc_id", "text"]).to_pydict()
        self.docs = dict(zip(docs["doc_id"], docs["text"]))
        # The first pass is cold: it builds the materialized indexes.
        self.cold = True
        warm = Recorder()
        t0 = time.perf_counter()
        self.loop(warm, 0.0)
        ctx.layer["engine.index_build_s"] = time.perf_counter() - t0
        ctx.absorb(warm)
        self.cold = False

    def _fetch_doc(self, doc_id: int):
        from pyspark.sql import functions as F

        from denali_spark.engine.tables import load_table

        df = load_table(self.spark, self.corpus, "documents").where(F.col("doc_id") == doc_id)
        t = time.perf_counter()
        rows = df.select("text").collect()
        self.ctx.tracer.record("engine.exec", t, time.perf_counter())
        return rows

    def _op(self, kind: str, arg):
        if kind == "query":
            return run_registry_query(self.spark, arg, self.corpus, self.ctx.tracer)
        if kind == "fetch":
            return self._fetch_doc(arg)
        scores = self.spark.createDataFrame(self.results[PUBLISH_QUERY])
        return self.io.write_table(scores, NS, "quality_scores")

    def check(self, kind: str, arg, out, rec) -> None:
        if kind == "query":
            self.results[arg] = out
        elif kind == "fetch":
            if len(out) != 1 or out[0][0] != self.docs[arg]:
                rec.mismatch(f"document {arg}: {len(out)} rows")
        else:
            self.published += len(self.results[PUBLISH_QUERY])
            got = self.io.read_table(NS, "quality_scores").count()
            if got != self.published:
                rec.mismatch(f"published {got} rows, expected {self.published}")

    def step(self, kind: str, arg, rec) -> float:
        """Run one operation; returns its timed seconds. The op's Spark job
        group ends before its checks run, so checks are charged to no
        operation."""
        self.n += 1
        op_id = f"op{self.n}"
        self.ops.begin(op_id)
        t0 = time.perf_counter()
        try:
            out, err = self._op(kind, arg), None
        except Exception as exc:  # noqa: BLE001 - a failed op is a measurement
            out, err = None, exc
        dt = time.perf_counter() - t0
        self.ops.end(op_id)
        if err is not None:
            rec.fail(f"{kind} {arg}: {type(err).__name__}: {str(err)[:200]}")
            return dt
        cls = {"query": "lookup" if arg == LOOKUP_QUERY else "query",
               "fetch": "lookup", "publish": "commit"}[kind]
        rec.ok(cls, dt)
        if kind == "query" and self.cold:
            self.ctx.layer[f"operators.{arg}.build_ms"] = dt * 1e3
        with self.ctx.tracer.paused():
            try:
                self.check(kind, arg, out, rec)
            except Exception as exc:  # noqa: BLE001 - a failed check is a mismatch
                rec.mismatch(f"check {kind} {arg}: {type(exc).__name__}: {str(exc)[:200]}")
        return dt

    def loop(self, rec, seconds: float) -> float:
        busy = 0.0
        doc_ids = sorted(self.docs)
        while True:
            for name in QUERIES:
                busy += self.step("query", name, rec)
            for _ in range(DOC_FETCHES):
                busy += self.step("fetch", doc_ids[self.rng.integers(0, len(doc_ids))], rec)
            busy += self.step("publish", None, rec)
            if busy >= seconds:
                return busy

    def close(self):
        try:
            if self.spark is not None:
                stop_spark(self.spark)
        finally:
            spans = self.server.stop() if self.server is not None else None
        return spans


def run(ctx) -> dict:
    an = Analytics(ctx)
    result: dict = {}
    try:
        an.setup()
        result["setup_s"] = time.perf_counter() - ctx.t_start
        result.update(ctx.measure(an.loop, server=an.server))
        ctx.layer["engine.driver_rss_mb"] = jvm_rss_mb()
        for name in QUERIES:
            ctx.layer[f"operators.{name}.rows"] = len(an.results.get(name, ()))
        with ctx.tracer.paused():
            check_oracle(an.corpus, an.results, ctx.rec)
    finally:
        result["server_spans"] = an.close()
    return result
