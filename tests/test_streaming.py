"""Structured Streaming variant: windowed aggregation parity with the
batch plan, and foreachBatch merge idempotence across restarts."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipe_spark.operators.merge import ParquetMergeSink, insert_if_absent
from etl_pipe_spark.sources.catalog import load_table
from etl_pipe_spark.streaming.structured import (
    read_events_stream,
    run_stream_to_table,
    stream_into_sink,
    windowed_counts,
)

_EVENT_LOG_DDL = (
    "source_key string, event_time timestamp_ntz, user_id long, "
    "event_type string, amount double"
)


def test_stream_windowed_counts_match_batch(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    assert stream.isStreaming
    got = run_stream_to_table(spark, windowed_counts(stream))

    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").cast("timestamp_ntz").alias("window_start"),
                "event_type", "n_events")
    )
    key = lambda r: (str(r.window_start), r.event_type, r.n_events)  # noqa: E731
    assert sorted(map(key, got.collect())) == sorted(map(key, batch.collect()))


def test_foreach_batch_merge_idempotent_restart(spark, sf_dir, tmp_path):
    sink = ParquetMergeSink(
        spark, str(tmp_path / "event_log"), _EVENT_LOG_DDL,
        resolve=lambda rows: insert_if_absent(None, rows, ["source_key"]))
    n_events = load_table(spark, sf_dir, "events").count()

    stream_into_sink(spark, read_events_stream(spark, sf_dir), sink,
                     str(tmp_path / "ckpt1"))
    assert sink.read().count() == n_events

    # "restart" with a FRESH checkpoint: the whole source is redelivered;
    # the insert-if-absent merge must absorb every duplicate.
    stream_into_sink(spark, read_events_stream(spark, sf_dir), sink,
                     str(tmp_path / "ckpt2"))
    assert sink.read().count() == n_events

    # resume with the ORIGINAL checkpoint: nothing new to process.
    stream_into_sink(spark, read_events_stream(spark, sf_dir), sink,
                     str(tmp_path / "ckpt1"))
    assert sink.read().count() == n_events


def test_stream_into_sink_appends_one_delta_file_per_micro_batch(spark, sf_dir, tmp_path):
    """A micro-batch read as several partitions is still appended as one
    delta file: the events file is rewritten in 50-row row groups and
    read in 8 KB splits."""
    import json

    import pyarrow.parquet as pq

    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(pq.read_table(f"{sf_dir}/events.parquet"), src / "events.parquet",
                   row_group_size=50)
    sink = ParquetMergeSink(
        spark, str(tmp_path / "event_log"), _EVENT_LOG_DDL,
        resolve=lambda rows: insert_if_absent(None, rows, ["source_key"]))
    key = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(key)
    spark.conf.set(key, "8k")
    try:
        assert load_table(spark, str(src), "events").rdd.getNumPartitions() > 1
        for ckpt in ("ckpt1", "ckpt2"):  # the first write folds, the second appends
            stream_into_sink(spark, read_events_stream(spark, str(src)), sink,
                             str(tmp_path / ckpt))
    finally:
        spark.conf.set(key, before)
    snap = sink.current_snapshot()
    own = [e for e in json.loads(sink.current_meta("manifest"))["files"]
           if e["path"].startswith(snap + "/")]
    assert [e.get("delta") for e in own] == [True]
    assert sink.read().count() == load_table(spark, sf_dir, "events").count()


def test_stream_static_dim_join(spark, sf_dir):
    """Stream-static join: streaming events enriched against a static
    user dimension (the streaming image of the broadcast dim join)."""
    from pyspark.sql import functions as F

    dim = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_seen"))
    )
    stream = read_events_stream(spark, sf_dir)
    joined = stream.join(dim, "user_id").select(
        "event_id", "user_id", "ts", "first_seen"
    )
    from etl_pipe_spark.streaming.structured import run_stream_to_table

    got = run_stream_to_table(spark, joined, output_mode="append")
    assert got.count() == load_table(spark, sf_dir, "events").count()
    assert got.filter("first_seen > ts").count() == 0


def test_streaming_dedup_within_watermark(spark, sf_dir, tmp_path):
    """dropDuplicatesWithinWatermark absorbs redelivered events inside
    the lateness window (the reference's overlap dedup, in-stream)."""
    from pyspark.sql import functions as F

    stream = read_events_stream(spark, sf_dir)
    # simulate redelivery: each micro-batch row appears twice
    doubled = stream.unionByName(stream)
    deduped = (
        doubled.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "90 seconds")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    from etl_pipe_spark.streaming.structured import run_stream_to_table

    got = run_stream_to_table(spark, deduped, output_mode="append")
    assert got.count() == load_table(spark, sf_dir, "events").count()


def test_stream_stream_join_with_watermarks(spark, sf_dir):
    """Stream-stream inner join: signups joined to same-user purchases
    within 6h, both sides watermarked (state-bounded at scale)."""
    from pyspark.sql import functions as F

    base = read_events_stream(spark, sf_dir)
    signups = (
        base.filter("event_type = 'signup'")
        .select(F.col("user_id").alias("s_user"), F.col("ts").cast("timestamp").alias("s_ts"),
                F.col("event_id").alias("s_id"))
        .withWatermark("s_ts", "1 hour")
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter("event_type = 'purchase'")
        .select(F.col("user_id").alias("p_user"), F.col("ts").cast("timestamp").alias("p_ts"),
                F.col("event_id").alias("p_id"))
        .withWatermark("p_ts", "1 hour")
    )
    joined = signups.join(
        purchases,
        (F.col("s_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("s_ts"))
        & (F.col("p_ts") < F.col("s_ts") + F.expr("INTERVAL '6' HOUR")),
    )
    from etl_pipe_spark.streaming.structured import run_stream_to_table

    got = run_stream_to_table(spark, joined, output_mode="append")

    ev = load_table(spark, sf_dir, "events")
    s = ev.filter("event_type = 'signup'").select(
        F.col("user_id").alias("s_user"), F.col("ts").alias("s_ts"),
        F.col("event_id").alias("s_id"))
    p = ev.filter("event_type = 'purchase'").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"))
    expected = s.join(
        p,
        (F.col("s_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("s_ts"))
        & (F.col("p_ts") < F.col("s_ts") + F.expr("INTERVAL '6' HOUR")),
    ).count()
    assert got.count() == expected > 0
