#!/usr/bin/env python
"""Oracle re-verification of registered queries against DuckDB.

Usage: python tools/check_queries.py [name ...] [--sf DIR] [--json PATH]

Each query with an oracle goes through both comparison paths
(``compare`` over collected rows, ``compare_pandas`` over
``toPandas()``); a query without one is only counted.  With no names
every registered query is checked.  ``--json PATH`` also writes one row
per query in the driver's CORRECTNESS shape (``rows_match``,
``schema_match``, ``hash_match``, ``spark_rows``, ``oracle_rows``,
``err``).  Exits 1 when any query fails.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tests"))


def main() -> None:
    ap = argparse.ArgumentParser(
        description="Oracle re-verification of the named queries (default: all).",
        allow_abbrev=False)
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.01", metavar="DIR")
    ap.add_argument("--json", metavar="PATH", help="write per-query results here")
    args = ap.parse_intermixed_args()
    sf_dir = args.sf

    import __spark_entry__ as entrymod
    from oracle_utils import compare, compare_pandas, duckdb_connect

    from etl_pipe_spark.session import get_spark

    spark = get_spark("check-queries")
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    con = duckdb_connect(sf_dir)
    results: dict[str, dict] = {}
    for name in args.names or qs:
        row = {"rows_match": None, "schema_match": None, "hash_match": None,
               "spark_rows": None, "oracle_rows": None, "err": None}
        try:
            df = qs[name](spark, sf_dir)
            n = df.count()
            if name in oracles:
                compare(df, con, oracles[name], name=name)
                # the driver canonicalizes through pandas, which the
                # fetchall-based compare() cannot predict (the r6–r7
                # orc blind spot)
                compare_pandas(df, con, oracles[name], name=name)
                row.update(rows_match=True, schema_match=True, hash_match=True,
                           spark_rows=n, oracle_rows=n)
                print(f"ok {name}", flush=True)
            else:  # rows-only, mirroring the driver's weaker path
                row.update(rows_match=True, spark_rows=n)
                print(f"ok {name} (rows-only: {n})", flush=True)
        except Exception:
            row["err"] = traceback.format_exc(limit=5)
            print(f"ERR {name}\n{row['err']}", flush=True)
        results[name] = row
    spark.stop()
    n_bad = sum(r["err"] is not None for r in results.values())
    if args.json:
        with open(args.json, "w") as f:
            json.dump(results, f, indent=2)
        print(f"wrote {args.json}: {len(results)} queries, {n_bad} errors")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
