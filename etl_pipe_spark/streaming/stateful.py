"""Stateful streaming deduplication with bounded state.

The reference keeps NO cross-batch memory state (duplicates are
absorbed by sink keys — SURVEY §2.10 ST3); the idiomatic-Spark upgrade
drops duplicates inside the stream, holding each key in the state
store only while the watermark's lateness window is open.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def dedup_within_watermark(stream: DataFrame, keys: list[str],
                           ts_col: str = "ts") -> DataFrame:
    """Streaming deduplication with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` keeps each key only until the
    watermark passes its first-seen event time, so state size tracks
    the lateness window x arrival rate instead of growing forever —
    the semantics the reference gets from sink-side ON CONFLICT keys
    (ST3), moved INTO the stream so duplicates never reach the sink
    at all.

    Plain ``dropDuplicates`` on a stream retains every key seen since
    the query started (unbounded state — a leak at 100 TB/day);
    the within-watermark form is the production-safe variant and only
    requires that true duplicates arrive within the lateness bound,
    which is exactly the reference's 90 s overlap contract
    (reference extract.py:27-30).
    """
    return (
        stream.withWatermark(ts_col, "90 seconds")
        .dropDuplicatesWithinWatermark(keys)
    )
