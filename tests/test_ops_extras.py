"""Scheduler and ordering operator tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipe_spark.streaming.scheduler import CycleScheduler


def test_scheduler_failure_accounting():
    calls = {"n": 0}
    alerts = []

    def flaky_cycle():
        calls["n"] += 1
        if calls["n"] <= 3:
            return {"flow": -1}  # failing flow
        return {"flow": 5}

    sched = CycleScheduler(
        flaky_cycle, interval_sec=0, max_consecutive_failures=3,
        alert=alerts.append, sleep=lambda s: None,
    )
    sched.run_forever(max_cycles=5)
    assert sched.cycles_run == 5
    assert alerts == ["3 consecutive failed cycles"]  # fired once at threshold
    assert sched.consecutive_failures == 0  # reset by later successes


def test_scheduler_exception_isolated():
    def boom():
        raise RuntimeError("cycle died")

    sched = CycleScheduler(boom, interval_sec=0, max_consecutive_failures=2,
                           alert=lambda m: None, sleep=lambda s: None)
    assert sched.run_once() is None
    assert sched.consecutive_failures == 1


def test_ranked_running_sum_equals_global_window(spark):
    """The two-phase range-partition decomposition must reproduce the
    single-task global window exactly, at any shuffle width."""
    from pyspark.sql import Window as W

    from etl_pipe_spark.operators.ordering import ranked_running_sum

    rows = [(i, (i * 37) % 101, (i * 13) % 7 + 1) for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, score long, weight long")
    # two-phase form takes plain ascending value expressions: score
    # DESC is expressed as -score ASC (the negation convention every
    # descending caller uses); the expected global window keeps the
    # native DESC marker, so the test also pins the equivalence.
    order = [(-F.col("score")), F.col("id")]

    w = W.orderBy(F.col("score").desc(), F.col("id"))
    expected = sorted(
        (r.id, r.rnk, r.before)
        for r in df.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .withColumn(
            "before",
            F.coalesce(
                F.sum("weight").over(w.rowsBetween(W.unboundedPreceding, -1)),
                F.lit(0),
            ).cast("bigint"),
        )
        .collect()
    )

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for parts in ("3", "17"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            got = sorted(
                (r.id, r.rnk, r.sum_before)
                for r in ranked_running_sum(df, order, "weight").collect()
            )
            assert got == expected, f"diverged at {parts} partitions"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
