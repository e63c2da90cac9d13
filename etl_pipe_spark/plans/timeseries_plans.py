"""Time-series resampling: gap-filled hourly rollup with forward fill.

The hypertable-style operator the registry still lacked: regularize an
irregular event stream onto a fixed grid (here 1-hour buckets),
*materializing the silent buckets* (gap rows) and carrying the last
observed value forward — the continuous-aggregate + ``locf()`` shape
of time-series stores, re-expressed as pure DataFrame operations.

Plan shape (three narrow shuffles, all on bounded keys):

1. bucket rollup — ``date_trunc('hour')`` + groupBy(user, bucket);
   partial aggregation combines map-side, so the shuffle carries at
   most one row per (user, bucket) per partition.
2. per-user span — min/max bucket per user (a k-row table, k = users).
3. dense spine — ``sequence(lo, hi, INTERVAL 1 HOUR)`` + ``explode``
   per user row: the grid is generated *distributed, map-side* from
   the k-row span table — no driver loop, no cross join against a
   calendar table.  A left join back to the rollup marks gaps, and a
   per-user ordered window (``last(value, ignorenulls=True)``)
   forward-fills.

Scale (100 TB): a single per-user ``sequence(lo, hi)`` array is
span-hours long — multi-year spans at minute grain would buffer a
hundred-thousand-element array in one row — so the spine generator
DAY-CHUNKS the span first (``chunked_hour_spine``: explode into
(user, day) chunks, then hours clamped to the span within each
chunk); every generated array is bounded (<= 24 inner entries) and
both explodes stay map-side, keeping the operator linear with no
skew and no oversized row buffers.  The
forward-fill window partitions by user — the same per-key windows
every SCD-2/session query here uses; no global ordering anywhere.

Float parity: the bucket sum goes through the money/dsum recipe
(exact DECIMAL accumulation, round once, surface DOUBLE), so the
forward-filled value is bit-identical across engines and partitionings.

Reference parity: the reference engine has no resampling operator —
this extends the windowed-aggregation family (plans/windows.py,
reference transform.py's time arithmetic) toward the metrics/telemetry
workload, the way corpus_plans extends it toward training data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.parity import dsum, money
from ..sources.catalog import load_table
from .catalog import register

# A fixed 7-day slice keeps the materialized grid bounded for the
# differential harness (~168 buckets x users); production would run
# the same plan per partition-pruned day/week slice.
_TS_LO = "2024-01-01 00:00:00"
_TS_HI = "2024-01-08 00:00:00"

_GAPFILL_ORACLE = f"""
WITH ev AS (
  SELECT user_id,
         date_trunc('hour', ts) AS bucket,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
           AS value_sum
  FROM events
  WHERE ts >= TIMESTAMP '{_TS_LO}' AND ts < TIMESTAMP '{_TS_HI}'
  GROUP BY 1, 2
), span AS (
  SELECT user_id, min(bucket) AS lo, max(bucket) AS hi FROM ev GROUP BY 1
), spine AS (
  SELECT user_id,
         unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
  FROM span
)
SELECT s.user_id,
       s.bucket,
       CAST(coalesce(e.n_events, 0) AS BIGINT) AS n_events,
       last_value(e.value_sum IGNORE NULLS) OVER (
         PARTITION BY s.user_id ORDER BY s.bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
       e.n_events IS NULL AS is_gap
FROM spine s LEFT JOIN ev e USING (user_id, bucket)
ORDER BY s.user_id, s.bucket
"""


def chunked_hour_spine(span: DataFrame) -> DataFrame:
    """(user_id, lo, hi) -> dense hourly (user_id, bucket) spine via
    DAY-CHUNKED generation (round 7 — the refinement the module
    docstring names): explode the span into 24-hour chunks first, then
    generate hours within each chunk clamped to [lo, hi].

    Identical rows to the single ``sequence(lo, hi, 1 HOUR)`` spine
    (pinned by tests/test_timeseries_ops.py), but every generated array is
    bounded — <= 24 entries per inner row, span-days per outer row —
    so a user spanning years materializes thousands-of-rows, never a
    hundred-thousand-element array in one row buffer.  Both explodes
    are map-side (no shuffle added).

    Chunks are aligned to ``lo``'s OWN offset (``lo + 24k h``), not to
    calendar-day truncation (round 8): the r7 form chunked on
    ``date_trunc('day', ...)`` boundaries, which (a) CRASHED on any
    ``lo`` whose time-of-day is past 23:00 (the first chunk's start
    ``greatest(day, lo)`` overtook its end ``day + 23h`` — inverted
    sequence boundaries), and (b) silently dropped ``lo``'s sub-hour
    offset from every later day's buckets, diverging from the
    single-sequence semantics for minute-grain spans.  The registered
    gap-fill query truncates its span to whole hours, which is why
    neither surfaced until an extreme-span sweep drove the operator's
    general contract (tests/test_timeseries_ops.py pins those spans).
    Offset-aligned chunks make the identity unconditional: chunk k
    covers hours [24k, 24k+23] past ``lo``, every chunk start is
    <= ``hi`` by construction of the chunk count, and the union is
    exactly ``sequence(lo, hi, 1 HOUR)``.
    """
    # timestampdiff works for TIMESTAMP and TIMESTAMP_NTZ alike
    # (a long cast is ntz-rejected); floor(secs/86400) is the chunk
    # count that guarantees every chunk start lo + 24k h <= hi
    n_days = (F.expr("timestampdiff(SECOND, lo, hi)")
              / F.lit(86400)).cast("long")
    chunks = span.select(
        "user_id", "lo", "hi",
        F.explode(F.sequence(F.lit(0).cast("long"), n_days)).alias("k"),
    )
    start = F.col("lo") + F.make_interval(
        hours=(F.col("k") * 24).cast("int"))
    return chunks.select(
        "user_id",
        F.explode(
            F.sequence(
                start,
                F.least(start + F.expr("INTERVAL 23 HOURS"), F.col("hi")),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("bucket"),
    )


@register("timeseries_gapfill", oracle=_GAPFILL_ORACLE)
def timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resample of the event stream with gap rows + LOCF."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(
            (F.col("ts") >= F.lit(_TS_LO).cast("timestamp"))
            & (F.col("ts") < F.lit(_TS_HI).cast("timestamp"))
        )
        .select(
            "user_id",
            F.date_trunc("hour", F.col("ts")).alias("bucket"),
            money(F.col("value")).alias("v"),
        )
    )
    agg = ev.groupBy("user_id", "bucket").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("v")).alias("value_sum"),
    )
    span = agg.groupBy("user_id").agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    )
    spine = chunked_hour_spine(span)
    w = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(agg, ["user_id", "bucket"], "left")
        .select(
            "user_id",
            "bucket",
            F.coalesce(F.col("n_events"), F.lit(0)).cast("bigint").alias("n_events"),
            F.last("value_sum", ignorenulls=True).over(w).alias("filled_value"),
            F.col("n_events").isNull().alias("is_gap"),
        )
        .orderBy("user_id", "bucket")
    )
