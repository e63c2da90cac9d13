"""Property test: ``ranked_running_sum`` equals a single-partition
``row_number()`` (and exclusive running sum) over hostile double keys.

NaN, +-inf, -0.0, NULL and duplicate doubles, alone and inside a
composite key.  ``_sorted_sample`` orders boundaries with Python tuple
order, which mis-sorts NaN against Spark's ordering; the bucket search
is monotone in the key whatever the boundary order, so boundaries may
only unbalance buckets, never change a rank.  This pins that.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Window as W, functions as F

from etl_pipe_spark.operators import scope
from etl_pipe_spark.operators.ordering import ranked_running_sum

N_ROWS = 3000
_HOSTILE = [float("nan"), float("inf"), float("-inf"), -0.0, 0.0, None,
            1.5, -2.25, 1e-300]


def _key(rng: random.Random, nan_share: float):
    r = rng.random()
    if r < nan_share:
        return float("nan")
    if r < nan_share + 0.4:
        return rng.choice(_HOSTILE)
    return rng.choice([rng.uniform(-1e3, 1e3), float(rng.randint(-3, 3))])


def _frame(spark, seed: int, nan_share: float):
    rng = random.Random(seed)
    rows = [
        (i, _key(rng, nan_share), rng.choice([None, "a", "b", "", "b"]),
         rng.randint(-1000, 1000))
        for i in range(N_ROWS)
    ]
    rng.shuffle(rows)
    return spark.createDataFrame(rows, "id long, k double, g string, v long")


@pytest.mark.parametrize("seed,nan_share,composite,buckets", [
    (1, 0.3, False, 16),  # NaN-heavy, binary-search bucketing
    (2, 0.05, False, 3),  # linear-fold bucketing
    (3, 0.3, True, 16),
    (4, 0.1, True, None),  # session-default bucket count
])
def test_rank_matches_row_number_over_hostile_keys(spark, seed, nan_share,
                                                   composite, buckets):
    df = _frame(spark, seed, nan_share)
    order = ([F.col("k"), F.col("g"), F.col("id")] if composite
             else [F.col("k"), F.col("id")])
    w = W.orderBy(*order)
    want = {
        r.id: (r.rnk, r.sum_before)
        for r in df.select(
            "id",
            F.row_number().over(w).alias("rnk"),
            F.coalesce(F.sum("v").over(w.rowsBetween(W.unboundedPreceding, -1)),
                       F.lit(0)).alias("sum_before"),
        ).collect()
    }
    try:
        got = {
            r.id: (r.rnk, r.sum_before)
            for r in ranked_running_sum(df, order, "v", buckets=buckets)
            .select("id", "rnk", "sum_before").collect()
        }
    finally:
        scope.release()
    assert len(got) == N_ROWS
    wrong = [i for i in want if got[i] != want[i]]
    assert wrong == [], f"{len(wrong)} wrong ranks, e.g. id {wrong[:5]}"


@pytest.mark.parametrize("name", ["__pid", "__bkey", "__rn_in", "__cnt_off", "__PID"])
def test_reserved_column_names_are_rejected(spark, name):
    """A caller column named like one of the rank path's working columns
    would be overwritten and dropped; the call refuses it by name."""
    df = spark.range(10).withColumn(name, F.col("id") * 2)
    with pytest.raises(ValueError, match=name):
        ranked_running_sum(df, [F.col("id")], "id", buckets=4)
