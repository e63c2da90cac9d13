"""Day-chunked spine generation (plans/timeseries_plans.py): the
bounded-array generator must produce EXACTLY the rows of the naive
single-sequence spine on every span shape — cross-midnight endpoints,
exact-midnight endpoints, single-bucket spans, multi-week spans.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from etl_pipe_spark.plans.timeseries_plans import chunked_hour_spine


def _span_df(spark, spans):
    return spark.createDataFrame(
        [(u, lo, hi) for u, lo, hi in spans],
        "user_id long, lo timestamp_ntz, hi timestamp_ntz")


_SPANS = [
    # cross-midnight, partial first/last days
    (1, dt.datetime(2024, 1, 1, 7), dt.datetime(2024, 1, 4, 3)),
    # exact-midnight endpoints
    (2, dt.datetime(2024, 2, 1, 0), dt.datetime(2024, 2, 3, 0)),
    # single bucket (lo == hi)
    (3, dt.datetime(2024, 3, 5, 13), dt.datetime(2024, 3, 5, 13)),
    # within one day
    (4, dt.datetime(2024, 3, 5, 9), dt.datetime(2024, 3, 5, 23)),
    # ends at 23:00 (last chunk exactly full)
    (5, dt.datetime(2024, 4, 1, 23), dt.datetime(2024, 4, 9, 23)),
    # multi-week
    (6, dt.datetime(2024, 5, 1, 11), dt.datetime(2024, 6, 2, 2)),
    # MINUTE-GRAIN endpoints (round 8): lo past 23:00 crashed the r7
    # calendar-day-truncated chunking with inverted sequence
    # boundaries (greatest(day, lo) > day + 23h on the first chunk),
    # and any sub-hour lo offset silently mis-aligned later days'
    # buckets — caught by an extreme-span sweep, pinned here
    (7, dt.datetime(2024, 1, 1, 23, 1), dt.datetime(2024, 1, 9, 4, 50)),
    (8, dt.datetime(2024, 1, 1, 0, 37), dt.datetime(2024, 1, 3, 22, 59)),
    # sub-hour total span
    (9, dt.datetime(2024, 1, 1, 23, 59), dt.datetime(2024, 1, 2, 0, 30)),
]


def test_chunked_spine_equals_naive_sequence(spark):
    span = _span_df(spark, _SPANS)
    naive = span.select(
        "user_id",
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 HOUR"))
        ).alias("bucket"),
    )
    got = sorted(map(tuple, chunked_hour_spine(span).collect()))
    want = sorted(map(tuple, naive.collect()))
    assert got == want
    # sanity: the multi-week span really produced span-hours rows
    n6 = sum(1 for u, _ in want if u == 6)
    hours6 = int((_SPANS[5][2] - _SPANS[5][1]).total_seconds() // 3600) + 1
    assert n6 == hours6


def test_chunked_spine_arrays_are_bounded(spark):
    """No generated inner array may exceed 24 entries, however long
    the span — the property the chunking exists for."""
    span = _span_df(
        spark, [(9, dt.datetime(2020, 1, 1, 5), dt.datetime(2024, 12, 31, 22))]
    )
    per_day = (
        chunked_hour_spine(span)
        .groupBy(F.date_trunc("day", "bucket").alias("day"))
        .count()
    )
    assert per_day.agg(F.max("count")).first()[0] <= 24
    # five years of hourly buckets, one row each, no giant array needed
    total = chunked_hour_spine(span).count()
    hours = int((dt.datetime(2024, 12, 31, 22)
                 - dt.datetime(2020, 1, 1, 5)).total_seconds() // 3600) + 1
    assert total == hours
