"""The benchmark's trace hooks resolve against the package.

``perfbench/cycle.py::_install`` wraps public names of the program with
a plain ``getattr``; a renamed or removed one fails here rather than in
a traced benchmark run."""

from __future__ import annotations

import datetime as dt

from perfbench import cycle
from perfbench.spans import Tracer


def _hooked():
    from etl_pipe_spark.operators.merge import ParquetMergeSink
    from etl_pipe_spark.streaming import incremental
    from etl_pipe_spark.streaming.watermark import WatermarkStore

    return {
        (incremental.IncrementalPipeline, "run_cycle"),
        (WatermarkStore, "get"), (WatermarkStore, "advance"),
        (ParquetMergeSink, "read"), (ParquetMergeSink, "write"),
        (incremental, "upsert"), (incremental, "insert_if_absent"),
        (incremental, "scd2_apply_versions"),
    }


def test_install_and_restore_leave_the_package_as_it_was():
    before = {(owner, attr): getattr(owner, attr) for owner, attr in _hooked()}
    tracer = Tracer()
    cycle._install(tracer)
    try:
        assert {(owner, attr) for owner, attr, _ in tracer._patches} == set(before)
        assert all(getattr(owner, attr) is not fn for (owner, attr), fn in before.items())
    finally:
        tracer.restore()
    assert {(owner, attr): getattr(owner, attr) for owner, attr in _hooked()} == before


def test_a_traced_cycle_records_every_layer(spark, sf_dir, tmp_path):
    from etl_pipe_spark.streaming.incremental import IncrementalPipeline

    pipe = IncrementalPipeline(spark, sf_dir, str(tmp_path / "target"))
    pipe.run_cycle(now_ts=dt.datetime(2024, 1, 15))
    tracer = Tracer()
    tracer.op = "cycle-0"
    cycle._install(tracer)
    try:
        counts = pipe.run_cycle(now_ts=dt.datetime(2024, 1, 15, 1))
    finally:
        tracer.restore()
    assert all(v >= 0 for v in counts.values()), counts
    names = {s["name"] for s in tracer.spans}
    assert {"cycle", "watermark.get_s", "watermark.advance_s", "merge.plan_s",
            *(f"merge.write_s.{s}" for s in cycle.SINKS)} <= names, names
    assert tracer.durations("cycle-0")[0] > 0
    for name in cycle.SINKS:
        assert cycle._snapshot_files(pipe.sinks[name])
