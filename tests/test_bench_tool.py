"""bench.py with query names times just those queries: one JSON line
whose ``queries`` and ``runs`` hold exactly the named ones, and no
run log under docs/bench_runs/ (that is kept for full-registry runs)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS_DIR = os.path.join(ROOT, "docs", "bench_runs")


def _bench(sf_dir: str, *names: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench.py"), *names],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, timeout=600, cwd=ROOT,
        env={**os.environ, "SPARK_GRAFT_CPUS": "2", "SPARK_GRAFT_SF_DIR": sf_dir},
    )


def test_named_run_times_only_the_named_queries(sf_dir):
    names = ["json_flatten_props", "run_summary_rollup"]
    before = set(os.listdir(RUNS_DIR))
    out = _bench(sf_dir, *names)
    assert out.returncode == 0, out.stderr.decode(errors="replace")[-2000:]
    payload = json.loads(out.stdout.decode().splitlines()[-1])
    assert {"metric", "value", "unit", "queries", "sf", "headline_total_sec",
            "calibration_total_sec", "runs"} <= set(payload)
    assert set(payload["queries"]) == set(names)
    assert {n: len(r) for n, r in payload["runs"].items()} == {n: 2 for n in names}
    assert set(os.listdir(RUNS_DIR)) == before


def test_unknown_name_exits_nonzero_and_names_it(sf_dir):
    out = _bench(sf_dir, "json_flatten_props", "no_such_query")
    assert out.returncode != 0
    assert "no_such_query" in out.stderr.decode(errors="replace")
