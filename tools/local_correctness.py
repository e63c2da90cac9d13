"""Emit a driver-format correctness artifact for the FULL registry.

The round driver hard-checks only the first 50 registered queries;
everything demoted past the window keeps differential coverage in
tests/test_oracle_parity.py, but a pytest pass/fail is not inspectable
row by row.  This tool runs the same Spark-vs-DuckDB comparison for
ALL registered queries at sf0.01 and writes a JSON file in the
driver's CORRECTNESS_r{N}.json shape (rows/schema/hash match flags per
query), so demoted queries retain auditable hard signal every round.

Usage:  python tools/local_correctness.py [out.json] [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tests"))


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        ROOT, "docs", "CORRECTNESS_local.json"
    )
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

    import __spark_entry__ as entrymod
    from oracle_utils import compare, compare_pandas, duckdb_connect

    from etl_pipe_spark.session import get_spark

    spark = get_spark("local-correctness")
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    con = duckdb_connect(sf_dir)

    results: dict[str, dict] = {}
    for name, fn in qs.items():
        row = {
            "rows_match": None, "schema_match": None, "hash_match": None,
            "spark_rows": None, "oracle_rows": None, "err": None,
        }
        try:
            df = fn(spark, sf_dir)
            if name in oracles:
                compare(df, con, oracles[name], name=name)
                # Second path through toPandas()/.df() — predicts the
                # DRIVER's pandas canonicalization, which fetchall-based
                # compare() cannot (the r6–r7 orc blind spot).
                compare_pandas(df, con, oracles[name], name=name)
                n = df.count()
                row.update(rows_match=True, schema_match=True, hash_match=True,
                           spark_rows=n, oracle_rows=n)
            else:  # rows-only, mirroring the driver's weaker path
                n = df.count()
                row.update(rows_match=n >= 0, spark_rows=n)
        except Exception:
            row["err"] = traceback.format_exc(limit=3)
        results[name] = row
        status = "ok" if row["err"] is None else "ERR"
        print(f"{status} {name}")

    with open(out_path, "w") as f:
        json.dump(results, f, indent=2)
    n_err = sum(1 for r in results.values() if r["err"] is not None)
    print(f"\nwrote {out_path}: {len(results)} queries, {n_err} errors")


if __name__ == "__main__":
    main()
