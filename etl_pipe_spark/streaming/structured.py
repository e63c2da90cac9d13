"""Structured Streaming variant of the pipeline (SURVEY §2.10 ST1-ST5).

The reference's 30 s polling loop + per-table watermark + 90 s overlap
+ idempotent upsert (scheduler.py:45-69, extract.py:27-30,
load.py:169-187) is exactly the Structured Streaming contract:
micro-batch trigger + event-time watermark + at-least-once delivery
into an idempotent sink.  This module expresses it natively:

* file-source ``readStream`` over the events table,
* ``withWatermark("ts", "90 seconds")`` for stateful ops (ST2),
* windowed aggregations (tumbling/sliding/session — ST5),
* ``foreachBatch`` appending to the same keyed merge sinks as the batch
  layer (ST3), with checkpointing for crash-safe restart (ST4).

Tests run with ``Trigger.AvailableNow`` so a finite parquet table
drives the stream to completion; production would use
``trigger(processingTime="30 seconds")`` to mirror the reference.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import scope
from ..operators.merge import ParquetMergeSink


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of the events table with the same ts/ts_ns
    normalization the batch loader applies (sources/catalog.py).

    The stream source needs an explicit schema; the events file's
    timestamp layout varies (TIMESTAMP(NANOS)-as-int64 vs MICROS), so
    the batch reader's footer-derived schema — a metadata-only read —
    is handed to the stream and the shared normalizer branches on it.
    """
    from ..sources.catalog import _events_normalize, file_schema

    reader = spark.readStream.schema(file_schema(spark, sf_dir, "events"))
    # the file source derives basePath from the non-glob path prefix and
    # requires it to be a directory; the catalog stores one parquet file
    # per table, so glob the filename to keep basePath at the sf dir
    raw = reader.parquet(f"{sf_dir.rstrip('/')}/events.[p]arquet")
    # event-time watermarks require TIMESTAMP, not TIMESTAMP_NTZ; the
    # session tz is pinned UTC so the cast is value-preserving
    return _events_normalize(raw).withColumn("ts", F.col("ts").cast("timestamp"))


def windowed_counts(stream: DataFrame) -> DataFrame:
    """Hourly tumbling-window counts with the reference's 90 s allowed
    lateness."""
    return (
        stream.withWatermark("ts", "90 seconds")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def run_stream_to_table(spark: SparkSession, agg: DataFrame,
                        output_mode: str = "complete") -> DataFrame:
    """Drain a finite stream into an in-memory table and return it.

    ``AvailableNow`` processes everything then stops — the batch-like
    execution mode used by tests and the driver's correctness harness.
    """
    name = f"etl_stream_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def _require_keyed(sink: ParquetMergeSink) -> None:
    """A sink fed micro-batches must declare how its rows resolve: a
    plain sink would replace its table with each batch."""
    if sink.resolve is None:
        raise ValueError(f"sink {sink.path} declares no resolution: give it "
                         "resolve=, e.g. one row per key")


def stream_into_sink(spark: SparkSession, stream: DataFrame, sink: ParquetMergeSink,
                     checkpoint_dir: str, metrics: bool = False) -> None:
    """foreachBatch -> idempotent merge (ST3/ST4).

    Each micro-batch is appended to ``sink``, which must resolve to one
    row per source_key (e.g. ``resolve=lambda rows:
    insert_if_absent(None, rows, ["source_key"])``), so at-least-once
    redelivery after a restart is absorbed — the reference's ON
    CONFLICT DO NOTHING recipe, with the checkpoint replacing the
    watermark table.  A batch appends as it is, without reading the
    table or resolving the batch (a fold every ``merge.COMPACT_AT`` files
    reads the files it merges), as the watermark cycle's flows do.  A
    micro-batch is coalesced to one partition, so an append writes one
    delta file; bound a batch's size with the stream's trigger.
    """

    from .metrics import attach_metrics_listener

    _require_keyed(sink)

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        from .incremental import event_source_key

        updates = batch_df.select(
            event_source_key().alias("source_key"),
            F.col("ts").cast("timestamp_ntz").alias("event_time"),
            "user_id",
            "event_type",
            F.col("value").alias("amount"),
        )
        sink.write(updates.coalesce(1))

    listener = attach_metrics_listener(spark) if metrics else None
    try:
        q = (
            stream.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if listener is not None:
            listener.detach(spark)


def stream_jsonl_ingest(
    spark: SparkSession,
    src_dir: str,
    schema,
    sink: ParquetMergeSink,
    dead_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> None:
    """Streaming JSONL ingestion with a dead-letter quarantine — the
    production landing-zone topology: shards appear in ``src_dir``,
    each micro-batch parses under the explicit schema, malformed lines
    land in ``dead_dir`` and parsed rows are appended to the sink, which
    must declare one row per key as its resolution.  A batch's rows are
    coalesced to one partition, so an append writes one delta file
    whatever the number of files in the batch (``maxFilesPerTrigger``
    bounds that number).

    Exactly-once end to end under at-least-once redelivery:

    * good rows — the sink's per-key resolution absorbs any replayed
      batch (ON CONFLICT DO NOTHING semantics);
    * dead letters — partitioned by a digest of the SOURCE FILE path
      and written with dynamic partition overwrite, so a redelivered
      file rewrites exactly its own partition no matter how redelivery
      re-batches the files.  Epoch ids are NOT a safe key here: a
      fresh-checkpoint re-drive (or a changed ``maxFilesPerTrigger``)
      renumbers epochs, which would duplicate dead letters under one
      key and clobber them under another — files are the immutable
      redelivery unit, so files key the partitions.

    The batch frame is persisted for the two passes (bad + good) so a
    redelivered batch's files are read once, not twice; dead letters
    keep ALL columns — any fields that did parse, the raw line, and
    the full source path — which both aids triage and keeps the
    corrupt-column scan legal (SPARK-21610; see
    sources/text_formats.quarantine).
    """
    from ..sources.text_formats import CORRUPT_COL, _with_corrupt, quarantine

    _require_keyed(sink)
    reader = (
        spark.readStream.schema(_with_corrupt(schema))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.json(src_dir)

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # Partition value is the FULL 160-bit sha1 of the source path.
        # A truncated prefix is not safe here: a collision between two
        # landing files would make one file's dynamic-partition
        # overwrite silently delete the other file's quarantined lines
        # (a 48-bit prefix reaches ~50% birthday collision around 16M
        # files — inside the landing-zone scale this module targets).
        with scope.cached(batch_df.withColumn(
            "src_path", F.input_file_name()
        ).withColumn(
            "src_file", F.sha1(F.input_file_name())
        )) as batch_df:
            good, bad = quarantine(batch_df)
            (
                bad.write.partitionBy("src_file")
                .option("partitionOverwriteMode", "dynamic")
                .mode("overwrite")
                .json(dead_dir)
            )
            sink.write(good.drop("src_path", "src_file").coalesce(1))

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
