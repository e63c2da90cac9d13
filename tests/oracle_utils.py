"""Local replica of the driver's Spark-vs-DuckDB differential check.

Compares row count, sorted column names, and order-insensitive values
(rows sorted after stringifying) so a failure here predicts a failure
in CORRECTNESS_r{N}.json.
"""

from __future__ import annotations

import datetime
import math

import duckdb

TABLE_NAMES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def duckdb_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm(v):
    if v is None:
        return "<NULL>"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)  # full precision
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def _audit_pandas_types(spark_df, con, sql: str, name: str) -> None:
    """Catch engine-type divergence the fetchall path hides.

    The driver canonicalizes through pandas, where the two engines'
    wide/exact numerics land as DIFFERENT pandas types even when the
    values are equal: DuckDB ``.df()`` renders DECIMAL and HUGEINT as
    float64, while Spark ``toPandas()`` renders DecimalType as
    object-dtype ``decimal.Decimal`` and LongType as int64 — so the
    stringified hashes diverge (``135650.32`` vs
    ``Decimal('135650.3200')``, or ``3.0`` vs ``3``).  fetchall()
    converts both losslessly, so a fetchall-based compare passes while
    the driver fails (this blind spot cost two rounds on
    orc_roundtrip_ingest, r6–r7).  Flag:

    * ANY oracle output column whose DuckDB type is DECIMAL/HUGEINT —
      regardless of the Spark-side type (the r7 lesson: Spark
      DECIMAL vs DuckDB DECIMAL *also* diverges through pandas);
    * ANY Spark output column of DecimalType, symmetrically.

    ``DESCRIBE`` is a metadata-only plan inspection — the oracle
    (already executed once by compare()) is NOT re-run."""
    duck_types = {
        r[0]: r[1] for r in con.execute(f"DESCRIBE {sql}").fetchall()
    }
    bad = [
        c for c, t in duck_types.items()
        if t.upper().startswith(("HUGEINT", "UHUGEINT", "DECIMAL"))
    ]
    if bad:
        raise AssertionError(
            f"[{name}] oracle type divergence: columns {bad} are "
            f"{[duck_types[c] for c in bad]} in DuckDB — the driver's "
            f"pandas conversion renders these float64 while Spark renders "
            f"int64/Decimal; CAST to BIGINT or DOUBLE in the oracle SQL "
            f"(and match on the Spark side)."
        )
    spark_dec_cols = [
        f.name for f in spark_df.schema.fields
        if f.dataType.typeName() == "decimal"
    ]
    if spark_dec_cols:
        raise AssertionError(
            f"[{name}] Spark output columns {spark_dec_cols} are "
            f"DecimalType — toPandas() renders them as decimal.Decimal "
            f"objects, which stringify differently from the float64 the "
            f"driver gets on the DuckDB side; .cast('double') (or bigint) "
            f"before returning."
        )


def _cell_multiset_diff(spark_rows, duck_rows, cols) -> str:
    """Per-column multiset diff: names exactly which cells differ,
    robust to the row misalignment a sorted positional zip can show."""
    from collections import Counter

    out = []
    for j, c in enumerate(cols):
        s = Counter(r[j] for r in spark_rows)
        d = Counter(r[j] for r in duck_rows)
        only_s = s - d
        only_d = d - s
        if only_s or only_d:
            out.append(
                f"  col {c}: {sum(only_s.values())} spark-only / "
                f"{sum(only_d.values())} duck-only cells; "
                f"spark-only sample={list(only_s)[:4]} "
                f"duck-only sample={list(only_d)[:4]}"
            )
    return "\n".join(out) if out else "  (no per-column multiset diff: row composition differs)"


def compare(spark_df, con, sql: str, name: str = "?") -> None:
    spark_cols = sorted(spark_df.columns)
    spark_rows = [tuple(_norm(row[c]) for c in spark_cols) for row in spark_df.collect()]

    res = con.execute(sql)
    duck_cols_raw = [d[0] for d in res.description]
    duck_rows_raw = res.fetchall()
    order = sorted(range(len(duck_cols_raw)), key=lambda i: duck_cols_raw[i])
    duck_cols = sorted(duck_cols_raw)
    duck_rows = [tuple(_norm(r[i]) for i in order) for r in duck_rows_raw]

    assert spark_cols == duck_cols, (
        f"[{name}] column mismatch:\n spark={spark_cols}\n duck ={duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"[{name}] row count mismatch: spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    s_sorted = sorted(spark_rows)
    d_sorted = sorted(duck_rows)
    if s_sorted != d_sorted:
        diffs = [
            (i, a, b) for i, (a, b) in enumerate(zip(s_sorted, d_sorted)) if a != b
        ][:5]
        raise AssertionError(
            f"[{name}] value mismatch ({len(diffs)}+ differing rows shown):\n"
            + "\n".join(f"  row {i}:\n    spark={a}\n    duck ={b}" for i, a, b in diffs)
            + f"\n cell multiset diff by column:\n"
            + _cell_multiset_diff(s_sorted, d_sorted, spark_cols)
            + f"\n  cols={spark_cols}"
        )
    _audit_pandas_types(spark_df, con, sql, name)


def _norm_pandas_cell(v):
    """Stringify one pandas cell the way the driver's canonicalization
    would see it — numpy scalars unwrapped, NaN/NaT as NULL markers,
    arrays recursed.  Type divergence is NOT papered over: a
    ``decimal.Decimal`` stringifies as ``Decimal('…')`` on purpose so
    a Spark-Decimal-vs-DuckDB-float mismatch is caught, not hidden.
    The one deliberate leniency: integral-valued floats render as the
    int (``1.0`` → ``"1"``) because a NULLable int column lands as
    float64 on whichever side lacks a nullable-int dtype — an artifact
    of pandas, not an engine divergence (precision loss past 2**53
    still surfaces, since the float repr then differs digit-wise)."""
    import decimal

    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT:
        return "<NULL>"
    if isinstance(v, (np.ndarray, list, tuple)):
        return "[" + ",".join(_norm_pandas_cell(x) for x in v) + "]"
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float):
        if math.isnan(v):
            return "<NULL>"  # pandas renders SQL NULL in float cols as NaN
        if v.is_integer() and abs(v) < 2**53:
            return str(int(v))
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(v)
    if isinstance(v, datetime.datetime):
        # DuckDB .df() renders DATE as datetime64 midnight Timestamps
        # while Spark toPandas gives datetime.date — driver-green DATE
        # queries (tpch_q3 r02, etc.) prove the driver equates them,
        # so fold tz-naive midnight datetimes to the date.
        if (v.tzinfo is None and v.hour == v.minute == v.second == 0
                and v.microsecond == 0 and getattr(v, "nanosecond", 0) == 0):
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, datetime.timedelta)):
        return repr(v)
    return str(v)


def compare_pandas(spark_df, con, sql: str, name: str = "?") -> None:
    """Second comparison path mirroring the DRIVER's canonicalization:
    Spark ``toPandas()`` vs DuckDB ``.df()``, cells stringified, rows
    sorted.  fetchall-based :func:`compare` converts DuckDB HUGEINT /
    DECIMAL losslessly to Python int/Decimal, which hid the
    orc_roundtrip_ingest driver red for two rounds — this path sees
    the same float64-vs-Decimal divergence the driver hashes.

    Re-executes both sides; intended for tools/check_queries.py, not
    the per-test hot path."""
    spdf = spark_df.toPandas()
    dkdf = con.execute(sql).df()
    s_cols, d_cols = sorted(spdf.columns), sorted(dkdf.columns)
    assert s_cols == d_cols, (
        f"[{name}] pandas-path column mismatch:\n spark={s_cols}\n duck ={d_cols}"
    )
    s_rows = sorted(
        tuple(_norm_pandas_cell(v) for v in row)
        for row in spdf[s_cols].itertuples(index=False, name=None)
    )
    d_rows = sorted(
        tuple(_norm_pandas_cell(v) for v in row)
        for row in dkdf[d_cols].itertuples(index=False, name=None)
    )
    assert len(s_rows) == len(d_rows), (
        f"[{name}] pandas-path row count mismatch: "
        f"spark={len(s_rows)} duck={len(d_rows)}"
    )
    if s_rows != d_rows:
        diffs = [
            (i, a, b) for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b
        ][:5]
        raise AssertionError(
            f"[{name}] pandas-path value mismatch (driver-canonicalization "
            f"divergence; fetchall compare may still be green):\n"
            + "\n".join(f"  row {i}:\n    spark={a}\n    duck ={b}" for i, a, b in diffs)
            + "\n cell multiset diff by column:\n"
            + _cell_multiset_diff(s_rows, d_rows, s_cols)
        )
