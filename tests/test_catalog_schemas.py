"""The source-schema memo (sources/catalog.file_schema): a table's plan
is built without a Spark job once its file has been loaded, and the memo
never serves a schema that the file or the session's confs no longer
give."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from etl_pipe_spark.plans.catalog import queries
from etl_pipe_spark.sources.catalog import TABLE_NAMES, load_table

# one registered query per operator family
HEADLINE = ("run_summary_rollup", "json_flatten_props", "session_window_agg",
            "dedup_simhash", "similarity_ann_ivf", "tfidf_top_terms",
            "pandas_group_zscore")


@pytest.mark.parametrize("name", HEADLINE)
def test_query_builds_launch_no_jobs_once_tables_are_loaded(spark, sf_dir,
                                                           jobs_launched, name):
    for table in TABLE_NAMES:
        load_table(spark, sf_dir, table)
    df, n = jobs_launched(queries()[name], spark, sf_dir)
    assert n == 0, f"building {name} launched {n} Spark jobs"
    assert df.columns


def _write(path, columns: dict) -> None:
    pq.write_table(pa.table(columns), path)


def test_in_place_rewrite_with_a_new_type_is_seen(spark, tmp_path):
    path = tmp_path / "region.parquet"
    _write(path, {"r_regionkey": pa.array([1, 2], pa.int32()),
                  "r_name": pa.array(["a", "b"])})
    first = load_table(spark, str(tmp_path), "region")
    assert first.schema["r_regionkey"].dataType.simpleString() == "int"
    inode = path.stat().st_ino
    # same path, same file: the type of one column and the rows change
    _write(path, {"r_regionkey": pa.array([7, 8, 9], pa.int64()),
                  "r_name": pa.array(["x", "y", "z"])})
    assert path.stat().st_ino == inode
    again = load_table(spark, str(tmp_path), "region")
    assert again.schema["r_regionkey"].dataType.simpleString() == "bigint"
    assert sorted(tuple(r) for r in again.collect()) == [(7, "x"), (8, "y"), (9, "z")]


def test_schema_follows_a_conf_change_between_loads(spark, tmp_path):
    _write(tmp_path / "region.parquet", {"r_regionkey": pa.array([1], pa.int32()),
                                         "r_name": pa.array([b"ab"], pa.binary())})
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key)
    try:
        types = []
        for flag in ("false", "true", "false"):
            spark.conf.set(key, flag)
            df = load_table(spark, str(tmp_path), "region")
            types.append(df.schema["r_name"].dataType.simpleString())
        assert df.collect()[0]["r_name"] == bytearray(b"ab")
    finally:
        spark.conf.set(key, before)
    assert types == ["binary", "string", "binary"]


def test_spark_written_directory_is_inferred_on_every_load(spark, sf_dir, tmp_path,
                                                          jobs_launched):
    want = load_table(spark, sf_dir, "orders")
    want.repartition(3).write.parquet(str(tmp_path / "orders.parquet"))
    for _ in range(2):
        got, n = jobs_launched(load_table, spark, str(tmp_path), "orders")
        assert n >= 1  # no footer to key on: inference, as for a remote URI
    assert got.schema == want.schema
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
