"""tools/check_queries.py keeps its verdict lines whole when stdout and
stderr share one log: sessions from ``get_spark`` have the console
progress bar off.  Its ``--json`` file holds one row per query."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_get_spark_turns_off_the_progress_bar_and_origin_capture(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.ui.showConsoleProgress") == "false"
    assert conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_verdict_line_is_whole_with_streams_merged(sf_dir, tmp_path):
    report = tmp_path / "correctness.json"
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "check_queries.py"),
         "json_flatten_props", "--sf", sf_dir, "--json", str(report)],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=600,
        env={**os.environ, "SPARK_GRAFT_CPUS": "2"}, cwd=ROOT,
    )
    text = out.stdout.decode(errors="replace")
    assert out.returncode == 0, text[-2000:]
    assert "ok json_flatten_props" in text.splitlines(), text[-2000:]
    row = json.loads(report.read_text())["json_flatten_props"]
    assert row["err"] is None
    assert row["rows_match"] is row["schema_match"] is row["hash_match"] is True
    assert row["spark_rows"] == row["oracle_rows"] > 0
