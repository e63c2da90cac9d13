#!/usr/bin/env python
"""Time individual registered queries in isolation (best-of-N, noop
sink — guide §1.4) for optimization before/after evidence.

Usage:  python tools/qtime.py name [name ...] [--runs N]

Prints one line per query: name, all run times, and the minimum.
Same session settings as bench.py (local[$SPARK_GRAFT_CPUS],
$SPARK_GRAFT_SF_DIR), same JIT warm-up convention, so numbers are
comparable to the bench's per-query column.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    ap = argparse.ArgumentParser(
        description="Best-of-N timing of the named queries.", allow_abbrev=False)
    ap.add_argument("names", nargs="*")
    ap.add_argument("--runs", type=int, default=3, metavar="N")
    args = ap.parse_intermixed_args()
    runs = args.runs

    from etl_pipe_spark.plans.catalog import queries
    from etl_pipe_spark.session import get_spark

    spark = get_spark("qtime")
    qs = queries()
    # same warm-up as bench.py: tables + noop + one heavy codegen query
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"]:
        try:
            spark.read.parquet(f"{SF_DIR}/{t}.parquet").count()
        except Exception:
            pass
    spark.range(10).write.mode("overwrite").format("noop").save()
    try:
        qs["dedup_minhash_lsh"](spark, SF_DIR).write.mode(
            "overwrite").format("noop").save()
    except Exception:
        pass

    for name in args.names:
        if name not in qs:
            print(f"{name}: NOT REGISTERED")
            continue
        times = []
        for _ in range(runs):
            spark.sparkContext.setJobDescription(f"qtime:{name}")
            t0 = time.perf_counter()
            qs[name](spark, SF_DIR).write.mode("overwrite").format("noop").save()
            times.append(round(time.perf_counter() - t0, 3))
        print(f"{name}: min={min(times)}  runs={times}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
