"""tools/check_queries.py keeps its verdict lines whole when stdout and
stderr share one log: sessions from ``get_spark`` have the console
progress bar off."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_get_spark_turns_off_the_progress_bar_and_origin_capture(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.ui.showConsoleProgress") == "false"
    assert conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_verdict_line_is_whole_with_streams_merged(sf_dir):
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "check_queries.py"),
         "json_flatten_props", "--sf", sf_dir],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=600,
        env={**os.environ, "SPARK_GRAFT_CPUS": "2"}, cwd=ROOT,
    )
    text = out.stdout.decode(errors="replace")
    assert out.returncode == 0, text[-2000:]
    assert "ok json_flatten_props" in text.splitlines(), text[-2000:]
