#!/usr/bin/env python
"""Dump `.explain("formatted")` for named queries to plans/r10/.

Usage:  python tools/dump_r10_plan.py TAG name [name ...]

Writes plans/r10/<name>_<TAG>.txt (TAG = before | after).  Queries
are built inside ``scope.inspect()`` so the text shows the real
operator tree instead of a checkpoint RDD scan — the
tools/dump_plans.py convention.  For
queries that do eager index builds the dumped plan is the search /
probe stage (the part that HAS a lazy plan); the builds' shapes are
pinned by tests and described in OPTIMIZATION_r10.md.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
OUT_DIR = os.path.join(ROOT, "plans", "r10")


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    from etl_pipe_spark.operators import scope
    from etl_pipe_spark.plans.catalog import queries
    from etl_pipe_spark.session import get_spark

    spark = get_spark("r10-plan-dump", cpus=8)
    qs = queries()
    os.makedirs(OUT_DIR, exist_ok=True)
    for name in names:
        try:
            with scope.inspect():
                df = qs[name](spark, SF_DIR)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
        except Exception as exc:  # keep going; record the failure
            text = f"PLAN DUMP FAILED: {exc!r}\n"
        with open(os.path.join(OUT_DIR, f"{name}_{tag}.txt"), "w") as f:
            f.write(f"# {name} ({tag}) — sf_dir={SF_DIR}, scope.inspect()\n")
            f.write(text)
        print(f"wrote {name}_{tag}.txt", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
