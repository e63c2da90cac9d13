"""Oracle-differential test: every registered query with an oracle must
match DuckDB exactly at the test scale factor — the same gate the
driver applies at sf0.01."""

from __future__ import annotations

import pytest

from tests.oracle_utils import compare, duckdb_connect

import __spark_entry__ as entrymod
from etl_pipe_spark.operators import scope


def _specs():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    return [(name, qs[name], oracles.get(name)) for name in sorted(qs)]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb_connect(sf_dir)
    yield con
    con.close()


_COMPLEX_TYPES = ("array", "map", "struct")


@pytest.mark.parametrize("name", [n for n, _, _ in _specs()])
def test_query_matches_oracle(name, spark, sf_dir, duck):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    spark.catalog.clearCache()
    df = qs[name](spark, sf_dir)
    # Driver-compat gate: the round driver canonicalizes results through
    # pandas sort_values, which raises `unhashable type: 'list'` on any
    # array/map/struct cell (the r5 pq_ann_adc red row).  Every
    # registered output column must therefore be scalar — serialize
    # complex values (concat_ws / to_json) before returning them.
    bad = [
        f.name for f in df.schema.fields
        if f.dataType.typeName() in _COMPLEX_TYPES
    ]
    assert not bad, (
        f"[{name}] complex-typed output columns {bad} would crash the "
        f"driver's pandas canonicalizer; serialize them to scalars"
    )
    if name in oracles:
        compare(df, duck, oracles[name], name=name)
    else:
        # rows-only check, mirroring the driver's weaker path
        assert df.count() >= 0
    # this query is fully materialized: releasing its scope must leave
    # nothing in Spark's CacheManager
    scope.release()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        f"[{name}] left a cached frame that scope.release() cannot drop")


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert len(df.schema.fields) > 0
