#!/usr/bin/env python
"""Targeted oracle re-verification for a named subset of queries.

Usage: python tools/check_queries.py name [name ...] [--sf DIR]

Runs the same Spark-vs-DuckDB comparison as tools/local_correctness.py
(both comparison paths) for just the named queries — the fast loop for
re-proving equivalence after an optimization touches a query.
"""

from __future__ import annotations

import argparse
import os
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tests"))


def main() -> None:
    sf_dir = "/root/testdata/sf0.01"
    ap = argparse.ArgumentParser(
        description="Oracle re-verification of the named queries.", allow_abbrev=False)
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default=sf_dir, metavar="DIR")
    args = ap.parse_intermixed_args()
    sf_dir, names = args.sf, args.names

    import __spark_entry__ as entrymod
    from oracle_utils import compare, compare_pandas, duckdb_connect

    from etl_pipe_spark.session import get_spark

    spark = get_spark("check-queries")
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    con = duckdb_connect(sf_dir)
    n_bad = 0
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            if name in oracles:
                compare(df, con, oracles[name], name=name)
                compare_pandas(df, con, oracles[name], name=name)
                print(f"ok {name}", flush=True)
            else:
                n = df.count()
                print(f"ok {name} (rows-only: {n})", flush=True)
        except Exception:
            n_bad += 1
            print(f"ERR {name}\n{traceback.format_exc(limit=5)}", flush=True)
    spark.stop()
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
