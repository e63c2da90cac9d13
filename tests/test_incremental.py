"""End-to-end incremental pipeline cycles (reference pipeline.py S5-S9):
watermark advance, overlap replay idempotence, crash-safe convergence."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from etl_pipe_spark.sources.catalog import load_table
from etl_pipe_spark.streaming.incremental import IncrementalPipeline
from etl_pipe_spark.streaming.watermark import DEFAULT_EPOCH, WatermarkStore

MID = dt.datetime(2024, 1, 15)
END = dt.datetime(2024, 2, 15)


@pytest.fixture()
def pipe(spark, sf_dir, tmp_path):
    return IncrementalPipeline(spark, sf_dir, str(tmp_path / "target"))


def test_watermark_store_roundtrip(spark, tmp_path):
    store = WatermarkStore(spark, str(tmp_path / "wm"), overlap_sec=90)
    assert store.get("t") == DEFAULT_EPOCH - dt.timedelta(seconds=90)
    store.advance("t", dt.datetime(2024, 1, 10, 12, 0, 0), 123)
    assert store.get("t") == dt.datetime(2024, 1, 10, 11, 58, 30)
    assert store.total_rows("t") == 123
    # empty batch: watermark must not move (fixes reference S6)
    store.advance("t", None, 0)
    assert store.get("t") == dt.datetime(2024, 1, 10, 11, 58, 30)
    # regression never moves the watermark backwards
    store.advance("t", dt.datetime(2023, 1, 1), 5)
    assert store.get("t") == dt.datetime(2024, 1, 10, 11, 58, 30)
    assert store.total_rows("t") == 128
    # watermarks round-trip exact to the microsecond
    store.advance("t", dt.datetime(2024, 1, 10, 12, 0, 0, 123456), 1)
    assert store.get("t") == dt.datetime(2024, 1, 10, 11, 58, 30, 123456)
    # a crash after writing state-N but before the pointer swap, and a
    # leftover pointer tmp file, leave readers on the committed state
    wm = tmp_path / "wm"
    committed = (wm / "CURRENT").read_text()
    version = int(committed.rsplit("-", 1)[1])
    (wm / f"state-{version + 1:08d}").write_text('{"tables": {}}')
    (wm / "CURRENT.tmp").write_text(f"state-{version + 1:08d}")
    assert store.get("t") == dt.datetime(2024, 1, 10, 11, 58, 30, 123456)
    assert store.total_rows("t") == 129
    # the next advance overwrites the orphan and keeps the other tables
    store.advance("u", dt.datetime(2024, 1, 11), 7)
    assert store.get("t") == dt.datetime(2024, 1, 10, 11, 58, 30, 123456)
    assert store.get("u") == dt.datetime(2024, 1, 10, 23, 58, 30)
    # one previous state is retained, older ones dropped
    assert sorted(p.name for p in wm.iterdir() if p.name.startswith("state-")) == [
        f"state-{version:08d}", f"state-{version + 1:08d}"]


def test_watermark_store_launches_no_spark_jobs(spark, tmp_path, jobs_launched):
    store = WatermarkStore(spark, str(tmp_path / "wm"))
    _, n = jobs_launched(spark.range(3).count)
    assert n >= 1  # the counter sees jobs
    for call, args in (
        (store.get, ("t",)),
        (store.advance, ("t", dt.datetime(2024, 1, 10), 5)),
        (store.advance, ("t", dt.datetime(2024, 1, 11), 6)),
        (store.get, ("t",)),
        (store.total_rows, ("t",)),
    ):
        _, n = jobs_launched(call, *args)
        assert n == 0, f"{call.__name__}{args} launched {n} Spark jobs"
    assert store.total_rows("t") == 11


def test_watermark_store_rescans_state_of_earlier_parquet_layout(spark, tmp_path):
    """A ``CURRENT`` naming a parquet state directory reads as empty (one
    re-scan from the epoch); the next advance commits JSON state after it
    and retention drops the old directory."""
    wm = tmp_path / "wm"
    (wm / "state-00000003").mkdir(parents=True)
    (wm / "state-00000003" / "part-0.parquet").write_bytes(b"")
    (wm / "CURRENT").write_text("state-00000003")
    store = WatermarkStore(spark, str(wm))
    assert store.get("t") == DEFAULT_EPOCH - dt.timedelta(seconds=90)
    store.advance("t", dt.datetime(2024, 1, 10), 5)
    store.advance("t", dt.datetime(2024, 1, 11), 5)
    assert (wm / "CURRENT").read_text() == "state-00000005"
    assert not (wm / "state-00000003").exists()
    assert store.get("t") == dt.datetime(2024, 1, 10, 23, 58, 30)
    assert store.total_rows("t") == 10


def test_two_cycles_converge_to_full_recompute(spark, sf_dir, pipe):
    c1 = pipe.run_cycle(now_ts=MID)
    c2 = pipe.run_cycle(now_ts=END)
    assert all(v >= 0 for v in (c1 | c2).values()), f"flow failed: {c1} {c2}"

    ev = load_table(spark, sf_dir, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()

    dim = pipe.sinks["dim_users"].read()
    assert dim.count() == n_users
    # dim matches a full-recompute latest-per-user
    expected = {
        (r.user_id, r.event_id)
        for r in ev.withColumn(
            "rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window
                .partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
            ),
        ).filter("rn = 1").collect()
    }
    got = {(r.user_id, r.last_event_id) for r in dim.collect()}
    assert got == expected

    log = pipe.sinks["fact_event_log"].read()
    assert log.count() == n_events  # overlap replays absorbed
    vers = pipe.sinks["user_versions"].read()
    assert vers.count() == n_events
    assert vers.filter("is_current_version").count() == n_users


def test_crash_between_sink_write_and_watermark_advance_converges(
        spark, sf_dir, tmp_path):
    """ST4 restart semantics at the exact worst crash point: the cycle
    dies AFTER the sink write lands but BEFORE the watermark advances.
    On restart the un-advanced watermark makes the next cycle re-read
    the whole window (a superset of the 90 s overlap band); the
    idempotent merges must absorb the duplicate delivery and land in
    exactly the state an uninterrupted run produces."""
    crashed = IncrementalPipeline(spark, sf_dir, str(tmp_path / "crashed"))
    control = IncrementalPipeline(spark, sf_dir, str(tmp_path / "control"))

    crashed.run_cycle(now_ts=MID)
    control.run_cycle(now_ts=MID)

    # cycle 2 "crashes" post-write/pre-advance: run_cycle's per-flow
    # isolation reports the failure and leaves the watermark behind
    real_advance = crashed.store.advance

    def dying_advance(*a, **kw):
        raise RuntimeError("simulated crash before watermark advance")

    crashed.store.advance = dying_advance
    wm_before = {t: crashed.store.get(t) for t in crashed.sinks}
    counts = crashed.run_cycle(now_ts=END)
    assert all(v == -1 for v in counts.values()), "crash was not simulated"
    # the sinks DID move (write preceded the crash)...
    assert (crashed.sinks["fact_event_log"].read().count()
            > control.sinks["fact_event_log"].read().count())
    # ...but every watermark stayed put
    assert {t: crashed.store.get(t) for t in crashed.sinks} == wm_before

    # restart: same cycle reruns from the stale watermark
    crashed.store.advance = real_advance
    counts = crashed.run_cycle(now_ts=END)
    assert all(v >= 0 for v in counts.values())
    control.run_cycle(now_ts=END)

    for name in crashed.sinks:
        got = sorted(map(str, crashed.sinks[name].read().collect()))
        want = sorted(map(str, control.sinks[name].read().collect()))
        assert got == want, f"{name} diverged after crash-restart"
        assert crashed.store.get(name) == control.store.get(name)


def test_replayed_cycle_is_noop(spark, pipe):
    pipe.run_cycle(now_ts=MID)
    snap1 = {k: sorted(map(str, s.read().collect())) for k, s in pipe.sinks.items()}
    # force a full replay of the same window: watermark overlap keeps it safe
    pipe.run_cycle(now_ts=MID)
    snap2 = {k: sorted(map(str, s.read().collect())) for k, s in pipe.sinks.items()}
    assert snap1 == snap2
