"""Stateful streaming deduplication (dropDuplicatesWithinWatermark)."""

from __future__ import annotations


def test_dedup_within_watermark_bounds_state(spark, sf_dir, tmp_path):
    """Duplicates inside the lateness window are dropped; state stays
    bounded (the within-watermark variant, not global dropDuplicates).
    Drive a finite stream containing exact duplicate rows and assert
    the drained output carries each key once."""
    import os

    from pyspark.sql import functions as F

    from etl_pipe_spark.streaming.stateful import dedup_within_watermark
    from etl_pipe_spark.streaming.structured import (
        read_events_stream, run_stream_to_table)

    stream = read_events_stream(spark, sf_dir)
    # duplicate the whole source: every event arrives twice in one
    # batch — well inside any lateness bound
    doubled = stream.unionByName(stream)
    deduped = dedup_within_watermark(
        doubled, keys=["event_id"], ts_col="ts")
    got = run_stream_to_table(
        spark, deduped.select("event_id"), output_mode="append")
    n = got.count()
    base = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).count()
    assert n == base, f"expected {base} unique events, got {n}"
