"""Streaming rollup maintenance: exactly-once algebraic merge under
replay and worst-point crash (ST3/ST4 for the aggregate-maintenance
path, composing plans/maintenance_plans partials with the versioned
ParquetMergeSink)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from etl_pipe_spark.functions.parity import money
from etl_pipe_spark.operators.merge import ParquetMergeSink
from etl_pipe_spark.plans.maintenance_plans import COHORTS, _partial_rollup
from etl_pipe_spark.sources.catalog import load_table
from etl_pipe_spark.streaming.rollup import RollupMaintainer
from tests.commit_faults import backdate

SCHEMA = ("cohort bigint, status string, cnt bigint, "
          "sum_dec decimal(28,4), max_dec decimal(18,4)")
MERGES = {"cnt": "sum", "sum_dec": "sum", "max_dec": "max"}


def _expected(orders):
    return sorted(
        map(tuple, orders.groupBy(
            (F.col("o_custkey") % COHORTS).cast("bigint").alias("cohort"),
            F.col("o_orderstatus").alias("status"),
        ).agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum(money(F.col("o_totalprice"))), 2)
            .cast("double").alias("total"),
            F.max(money(F.col("o_totalprice"))).cast("double").alias("mx"),
        ).collect())
    )


def _finalized(sink):
    return sorted(
        map(tuple, sink.read().select(
            "cohort", "status", "cnt",
            F.round(F.col("sum_dec"), 2).cast("double"),
            F.col("max_dec").cast("double"),
        ).collect())
    )


def _batches(orders, n=4):
    return [orders.filter(F.col("o_orderkey") % n == i) for i in range(n)]


def test_streamed_rollup_equals_recompute_with_replay(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders")
    sink = ParquetMergeSink(spark, str(tmp_path / "rollup"), SCHEMA)
    m = RollupMaintainer(sink, ["cohort", "status"], MERGES)
    apply = m.foreach_batch(_partial_rollup)
    for epoch, b in enumerate(_batches(orders)):
        apply(b, epoch)
        if epoch == 1:  # replay: Structured Streaming redelivers after crash
            assert m.apply_batch(_partial_rollup(b), epoch) is False
    assert m.last_epoch() == 3
    assert _finalized(sink) == _expected(orders)


def test_worst_point_crash_reapplies_cleanly(spark, sf_dir, tmp_path):
    """Crash AFTER the snapshot data landed but BEFORE the pointer
    swap: the epoch marker is inside the uncommitted snapshot, so
    last_epoch still reports the previous epoch and the re-delivered
    batch applies (stale-claim reclaim inside the sink)."""
    orders = load_table(spark, sf_dir, "orders")
    sink = ParquetMergeSink(spark, str(tmp_path / "rollup"), SCHEMA)
    m = RollupMaintainer(sink, ["cohort", "status"], MERGES)
    b0, b1 = _batches(orders, n=2)
    m.apply_batch(_partial_rollup(b0), 0)

    # Simulate the torn write: claim the next slot and write data +
    # marker, but never swap the pointer (process "dies" here).
    merged = (
        sink.read().unionByName(_partial_rollup(b1))
        .groupBy("cohort", "status")
        .agg(F.sum("cnt").alias("cnt"), F.sum("sum_dec").alias("sum_dec"),
             F.max("max_dec").alias("max_dec"))
    )
    orphan = os.path.join(sink.path, "snapshot-00000002")
    os.mkdir(orphan)
    merged.write.mode("append").parquet(orphan)
    with open(os.path.join(orphan, "_meta_last_epoch"), "w") as f:
        f.write("1")
    backdate(orphan)  # the dead writer's claim is past the grace window

    # Restart: the pointer never advanced, so epoch 1 is NOT applied.
    m2 = RollupMaintainer(sink, ["cohort", "status"], MERGES)
    assert m2.last_epoch() == 0
    assert m2.apply_batch(_partial_rollup(b1), 1) is True
    assert _finalized(sink) == _expected(orders)
