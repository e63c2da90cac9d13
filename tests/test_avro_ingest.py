"""Avro round-trip (classpath-optional).

The sandbox ships avro core jars but not the spark-avro data source
module ("built-in but external" since Spark 2.4), so the round-trip
tests skip here and run wherever the module is deployed.  The
availability probe itself is always tested."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_pipe_spark.sources.text_formats import (
    avro_available, read_avro, write_avro)


def test_avro_probe_is_consistent_with_format_resolution(spark, tmp_path):
    """avro_available must agree with what the writer actually does —
    a probe that says False while the source resolves (or vice versa)
    would silently skip live coverage."""
    avail = avro_available(spark)
    try:
        spark.range(3).write.mode("overwrite").format("avro").save(
            str(tmp_path / "probe"))
        resolved = True
    except Exception:
        resolved = False
    assert avail == resolved


def test_avro_roundtrip_when_available(spark, sf_dir, tmp_path):
    if not avro_available(spark):
        pytest.skip("spark-avro module not on the classpath")
    from etl_pipe_spark.sources.catalog import load_table

    src = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars")
    path = str(tmp_path / "docs_avro")
    write_avro(src, path)
    back = read_avro(spark, path)
    a = src.orderBy("doc_id").collect()
    b = back.orderBy("doc_id").collect()
    assert a == b


def test_avro_schema_evolution_read_when_available(spark, tmp_path):
    if not avro_available(spark):
        pytest.skip("spark-avro module not on the classpath")
    df = spark.range(5).select(F.col("id"), F.lit("x").alias("s"))
    path = str(tmp_path / "evolve")
    write_avro(df, path)
    widened = """{"type":"record","name":"topLevelRecord","fields":[
      {"name":"id","type":"long"},
      {"name":"s","type":["string","null"]},
      {"name":"extra","type":["null","long"],"default":null}]}"""
    back = read_avro(spark, path, avro_schema=widened)
    rows = back.orderBy("id").collect()
    assert len(rows) == 5 and rows[0]["extra"] is None
