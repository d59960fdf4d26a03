"""Fast smoke check of the benchmark harness: every workload once in traced
mode (which also runs the untraced loop) at a tiny scale, the untraced
result line, and the refusal to run without the program's sources.

    python3 -m pytest perfbench/test_smoke.py -q     (or: python3 perfbench/test_smoke.py)

The Spark workloads read the repository's sf0.001 fixture tables.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import END_TO_END, per_layer_units  # noqa: E402


def _run(workload: str, trace: int, *extra: str, cwd: str = REPO):
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc


def _result(proc) -> tuple[dict, dict]:
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def _check_traced(workload: str, *extra: str) -> dict:
    report, res = _result(_run(workload, 1, *extra))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0, report["failures"]
    assert set(res["metrics"]) == set(per_layer_units())
    for cls in ("lookup", "query", "commit"):
        assert report["end_to_end"][f"{cls}_samples"] > 0
        assert report["traced"][f"{cls}_samples"] > 0
    assert report["self_time"], "traced run recorded no spans"
    return res["metrics"]


def test_catalog_rest_untraced_and_traced():
    _report, res = _result(_run("catalog_rest", 0))
    assert res["correct"] and res["attempted"] >= 1
    assert set(res["metrics"]) == set(END_TO_END)
    assert all(m["value"] > 0 for m in res["metrics"].values())
    m = _check_traced("catalog_rest")
    assert m["catalog.http.load_table.calls"]["value"] > 0
    assert m["catalog.commit.attempts"]["value"] > 0


def test_lakehouse_rw_traced():
    m = _check_traced("lakehouse_rw", "--sf", "0.001")
    assert m["sources.plan_ms"]["value"] > 0
    assert m["engine.exec_ms"]["value"] > 0
    assert m["catalog.http.update_table.calls"]["value"] > 0


def test_analytics_ops_traced():
    m = _check_traced("analytics_ops", "--sf", "0.001")
    assert m["operators.sim_lsh_bucket_topk.ms"]["value"] > 0
    assert m["engine.index_build_s"]["value"] > 0


def test_refuses_without_program_sources():
    with tempfile.TemporaryDirectory() as d:
        shutil.copytree(HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(REPO, "BENCHMARK.json"), d)
        proc = _run("catalog_rest", 0, cwd=d)
        assert proc.returncode != 0
        assert '"metrics"' not in proc.stdout


if __name__ == "__main__":
    import pytest

    sys.exit(pytest.main([__file__, "-q", "-p", "no:cacheprovider"]))
