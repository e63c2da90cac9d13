"""End-to-end incremental pipeline cycles (reference pipeline.py S5-S9):
watermark advance, overlap replay idempotence, crash-safe convergence."""

from __future__ import annotations

import datetime as dt
import json
import os
import threading
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Window, functions as F

from etl_pipe_spark.sources import catalog
from etl_pipe_spark.sources.catalog import load_table
from etl_pipe_spark.streaming import incremental
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


def test_concurrent_advances_of_different_tables_all_survive(spark, tmp_path):
    """The flows advance their own rows from their own threads: none of
    three simultaneous read-modify-publish cycles may lose another's
    update.  Repeated, because one trial can miss the race."""
    days = {"a": 1, "b": 2, "c": 3}
    for trial in range(20):
        store = WatermarkStore(spark, str(tmp_path / f"wm{trial}"), overlap_sec=0)
        barrier = threading.Barrier(len(days), timeout=30)

        def advance(table):
            barrier.wait()
            store.advance(table, dt.datetime(2024, 1, days[table]), days[table])

        with ThreadPoolExecutor(len(days)) as pool:
            list(pool.map(advance, days))
        for table, day in days.items():
            assert store.get(table) == dt.datetime(2024, 1, day), f"trial {trial}"
            assert store.total_rows(table) == day, f"trial {trial}"


def _assert_matches_full_recompute(spark, sf_dir, pipe):
    ev = load_table(spark, sf_dir, "events")
    latest = Window.partitionBy("user_id").orderBy(F.col("ts").desc(),
                                                   F.col("event_id").desc())
    want_dim = {(r.user_id, r.event_id) for r in ev.withColumn(
        "rn", F.row_number().over(latest)).filter("rn = 1").collect()}
    got_dim = {(r.user_id, r.last_event_id)
               for r in pipe.sinks["dim_users"].read().collect()}
    assert got_dim == want_dim
    want_keys = sorted(f"EV_{r.event_id}" for r in ev.select("event_id").collect())
    got_keys = sorted(r.source_key for r in pipe.sinks["fact_event_log"].read().collect())
    assert got_keys == want_keys
    vers = pipe.sinks["user_versions"].read()
    assert vers.count() == len(want_keys)
    assert {r.event_id for r in vers.filter("is_current_version").collect()} == {
        e for _, e in want_dim}


def test_flows_overlap_in_time(spark, sf_dir, pipe):
    """Every sink write waits until all three flows reach their write:
    only flows that run concurrently get past the barrier."""
    barrier = threading.Barrier(len(pipe.sinks), timeout=60)
    for sink in pipe.sinks.values():
        def write(df, meta=None, horizon=None, read_version=None, _write=sink.write):
            barrier.wait()
            return _write(df, meta, horizon=horizon, read_version=read_version)
        sink.write = write
    counts = pipe.run_cycle(now_ts=END)
    assert list(counts) == ["dim_users", "fact_event_log", "user_versions"]
    assert all(v >= 0 for v in counts.values()), counts
    _assert_matches_full_recompute(spark, sf_dir, pipe)


def test_one_failing_flow_leaves_the_others_committed(spark, sf_dir, tmp_path):
    """Only fact_event_log's write fails: the other two flows commit and
    advance, the failing flow's snapshot and watermark stay put, and the
    next cycle converges to the state of an uninterrupted pipeline."""
    faulty = IncrementalPipeline(spark, sf_dir, str(tmp_path / "faulty"))
    control = IncrementalPipeline(spark, sf_dir, str(tmp_path / "control"))
    faulty.run_cycle(now_ts=MID)
    control.run_cycle(now_ts=MID)

    log = faulty.sinks["fact_event_log"]
    snap_before = {t: s.current_snapshot() for t, s in faulty.sinks.items()}
    wm_before = {t: faulty.store.get(t) for t in faulty.sinks}

    def failing_write(df, meta=None, horizon=None, read_version=None):
        raise RuntimeError("simulated fact_event_log write failure")

    log.write = failing_write
    counts = faulty.run_cycle(now_ts=END)
    assert counts["fact_event_log"] == -1
    assert counts["dim_users"] >= 0 and counts["user_versions"] >= 0, counts
    assert log.current_snapshot() == snap_before["fact_event_log"]
    assert faulty.store.get("fact_event_log") == wm_before["fact_event_log"]
    for name in ("dim_users", "user_versions"):
        assert faulty.sinks[name].current_snapshot() != snap_before[name]
        assert faulty.store.get(name) > wm_before[name]

    del log.write  # the fault is removed: the class's write again
    counts = faulty.run_cycle(now_ts=END)
    assert all(v >= 0 for v in counts.values()), counts
    control.run_cycle(now_ts=END)
    for name in faulty.sinks:
        got = sorted(map(str, faulty.sinks[name].read().collect()))
        want = sorted(map(str, control.sinks[name].read().collect()))
        assert got == want, f"{name} diverged after the failed flow recovered"
        assert faulty.store.get(name) == control.store.get(name)


def test_cycle_jobs_land_in_the_callers_job_group(spark, pipe, jobs_launched):
    """The flows' threads inherit the caller's job group, so a caller
    that labels or counts its jobs by group sees every job of the cycle."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    for now in (MID, END):
        first = dag.numTotalJobs()
        counts, in_group = jobs_launched(pipe.run_cycle, now)
        issued = dag.numTotalJobs() - first
        assert all(v >= 0 for v in counts.values()), counts
        assert issued > 0 and in_group == issued


def _count_inferences(monkeypatch) -> list:
    """Empty the process's schema memo and record each inference."""
    calls = []

    def counting_infer(*args):
        calls.append(args)
        return infer(*args)

    infer = catalog._infer
    monkeypatch.setattr(catalog, "_memo", type(catalog._memo)())
    monkeypatch.setattr(catalog, "_infer", counting_infer)
    return calls


def test_events_schema_is_inferred_once_per_pipeline(spark, pipe, monkeypatch):
    calls = _count_inferences(monkeypatch)
    pipe.run_cycle(now_ts=MID)
    pipe.run_cycle(now_ts=END)
    assert len(calls) == 1


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_events_load_with_file_schema_matches_inference(spark, sf_dir, tmp_path,
                                                        jobs_launched, monkeypatch, unit):
    """Both timestamp layouts, TIMESTAMP(MICROS) and TIMESTAMP(NANOS),
    load the same through the memoized file schema as through
    inference, and the memo saves the inference job."""
    table = pq.read_table(f"{sf_dir}/events.parquet")
    ts = table.schema.get_field_index("ts")
    table = table.set_column(ts, "ts", table.column("ts").cast(pa.timestamp(unit)))
    pq.write_table(table, tmp_path / "events.parquet", coerce_timestamps=None)
    src = str(tmp_path)
    calls = _count_inferences(monkeypatch)

    first, n_first = jobs_launched(load_table, spark, src, "events")
    given, n_given = jobs_launched(load_table, spark, src, "events")
    assert len(calls) == 1
    assert n_first >= 1 and n_given == 0
    # the loader's normalization over a plain inferring read
    inferred = catalog._events_normalize(spark.read.parquet(f"{src}/events.parquet"))
    for df in (first, given):
        assert df.schema == inferred.schema  # field metadata included
        assert sorted(map(str, df.collect())) == sorted(map(str, inferred.collect()))


_SINK_COLS = {
    "dim_users": ["user_id", "last_event_id", "last_event_type", "last_value", "updated_at"],
    "fact_event_log": ["source_key", "event_time", "user_id", "event_type", "amount"],
    "user_versions": ["user_id", "version_started_at", "event_id", "value",
                      "version_ended_at", "is_current_version"],
}


def _assert_equals_full_recompute(spark, src_dir, pipe, now):
    """Every column of every sink equals a recompute over the events
    before ``now``."""
    ev = load_table(spark, src_dir, "events").filter(F.col("ts") < F.lit(now))
    by_user = Window.partitionBy("user_id")
    latest = ev.withColumn("rn", F.row_number().over(
        by_user.orderBy(F.col("ts").desc(), F.col("event_id").desc()))).filter("rn = 1")
    end = F.lead("ts").over(by_user.orderBy("ts", "event_id"))
    want = {
        "dim_users": latest.select("user_id", "event_id", "event_type", "value", "ts"),
        "fact_event_log": ev.select(incremental.event_source_key(), "ts", "user_id",
                                    "event_type", "value"),
        "user_versions": ev.select("user_id", "ts", "event_id", "value",
                                   end.alias("end"), end.isNull()),
    }
    for name, cols in _SINK_COLS.items():
        got = Counter(tuple(r) for r in pipe.sinks[name].read().select(*cols).collect())
        assert got == Counter(tuple(r) for r in want[name].collect()), name


def _events_source(path, events):
    """An events source at ``path`` holding ``events``: rows
    ``(event_id, ts, user_id)``."""
    path.mkdir(exist_ok=True)
    pq.write_table(pa.table({
        "event_id": pa.array([e for e, _, _ in events], pa.int64()),
        "ts": pa.array([t for _, t, _ in events], pa.timestamp("us")),
        "user_id": pa.array([u for _, _, u in events], pa.int64()),
        "event_type": [f"type{e % 3}" for e, _, _ in events],
        "value": [float(e) for e, _, _ in events],
        "props": ["{}"] * len(events),
    }), path / "events.parquet")
    return str(path)


def _manifest(sink, snap=None):
    with open(os.path.join(sink.path, snap or sink.current_snapshot(), "_meta_manifest")) as f:
        return json.load(f)["files"]


_W = dt.datetime(2024, 1, 10, 5)  # the watermark after each test's first cycle


def test_replay_straddling_the_horizon_matches_full_recompute(spark, tmp_path, monkeypatch):
    """The second cycle's batch starts at its horizon, the first cycle's
    watermark minus 90 s, and replays the events between the two.  Every
    commit folds here, so rows just below the horizon go to cold files.
    Every sink equals a full recompute after each cycle and after a
    replay."""
    from etl_pipe_spark.operators import merge

    monkeypatch.setattr(merge, "COMPACT_AT", 1)
    s = dt.timedelta(seconds=1)
    src = _events_source(tmp_path / "src", [
        (1, _W - 4 * 3600 * s, 1), (2, _W - 3 * 3600 * s, 1), (3, _W - 120 * s, 1),
        (4, _W - 60 * s, 1), (5, _W - 90 * s, 3), (6, _W - 91 * s, 2), (7, _W - 30 * s, 2),
        (8, _W, 1), (9, _W + 1800 * s, 1), (10, _W + 2400 * s, 2), (11, _W + 5400 * s, 3),
    ])
    pipe = IncrementalPipeline(spark, src, str(tmp_path / "target"))
    for now in (_W + s, _W + 3600 * s, _W + 7200 * s, _W + 7200 * s):
        counts = pipe.run_cycle(now_ts=now)
        assert all(v >= 0 for v in counts.values()), counts
        _assert_equals_full_recompute(spark, src, pipe, now)
        if now == _W + 3600 * s:  # the straddling cycle froze rows below W - 90 s
            for name in ("fact_event_log", "user_versions"):
                sink = pipe.sinks[name]
                assert any(sink._is_cold(e, _W - 90 * s) for e in _manifest(sink)), name


def test_late_version_inside_the_overlap_closes_a_hot_version(spark, tmp_path):
    """Versions that reach the source after the first cycle, stamped
    inside the overlap, close user 2's current version and split user
    1's chain before its current version — both left hot by the first
    cycle.  The sinks equal a full recompute."""
    s = dt.timedelta(seconds=1)
    early = [(1, _W - 4 * 3600 * s, 1), (2, _W - 600 * s, 1), (3, _W, 1),
             (4, _W - 3 * 3600 * s, 2), (5, _W - 500 * s, 2)]
    src = _events_source(tmp_path / "src", early)
    pipe = IncrementalPipeline(spark, src, str(tmp_path / "target"))
    pipe.run_cycle(now_ts=_W + s)
    _assert_equals_full_recompute(spark, src, pipe, _W + s)
    _events_source(tmp_path / "src", early + [
        (6, _W - 30 * s, 2), (7, _W - 45 * s, 1), (8, _W + 600 * s, 3)])
    counts = pipe.run_cycle(now_ts=_W + 3600 * s)
    assert all(v >= 0 for v in counts.values()), counts
    _assert_equals_full_recompute(spark, src, pipe, _W + 3600 * s)
    versions = {(r.event_id, r.version_ended_at)
                for r in pipe.sinks["user_versions"].read().collect()}
    assert {(5, _W - 30 * s), (6, None), (2, _W - 45 * s), (7, _W)} <= versions


def test_hourly_cycles_append_only_their_batch(spark, sf_dir, pipe):
    """Seven hourly cycles at sf0.001.  After the first, each commit's own
    files hold at most the resolved batch, every earlier file is
    inherited under its path, every sink equals a full recompute, and
    retention keeps exactly the snapshot directories the current and
    previous manifests name."""
    ev = load_table(spark, sf_dir, "events")
    for hour in range(7):
        now = MID + dt.timedelta(hours=hour)
        horizon = {name: pipe.store.get(name) for name in pipe.sinks}
        before = {name: _manifest(s) for name, s in pipe.sinks.items() if s.current_snapshot()}
        counts = pipe.run_cycle(now_ts=now)
        assert all(v >= 0 for v in counts.values()), counts
        _assert_equals_full_recompute(spark, sf_dir, pipe, now)
        if hour == 0:
            continue
        for name, sink in pipe.sinks.items():
            snap = sink.current_snapshot()
            manifest = _manifest(sink)
            batch = ev.filter((F.col("ts") >= F.lit(horizon[name]))
                              & (F.col("ts") < F.lit(now))).count()
            own = [e for e in manifest if e["path"].startswith(snap + "/")]
            assert sum(e["rows"] for e in own) <= batch, (name, hour, own, batch)
            assert all(e.get("delta") for e in own), name
            assert manifest[:len(before[name])] == before[name], name
            # retention: the current and previous snapshots, and the
            # directories of the files their manifests name
            previous = f"snapshot-{int(snap.rsplit('-', 1)[1]) - 1:08d}"
            named = manifest + _manifest(sink, previous)
            assert all(os.path.exists(os.path.join(sink.path, e["path"])) for e in named)
            dirs = {d for d in os.listdir(sink.path) if d.startswith("snapshot-")}
            assert dirs == {snap, previous} | {e["path"].split("/")[0] for e in named}, name


def test_second_cycle_writes_only_its_batch_after_a_large_first_cycle(spark, tmp_path):
    """A first cycle over N rows, far more than an hour's batch, writes
    them all; each commit of the second cycle then writes at most the
    rows of its batch, overlap replays included, not the N rows again."""
    start = dt.datetime(2024, 1, 1)
    n = 3000
    events = [(i, start + dt.timedelta(minutes=i), i % 40) for i in range(n)]
    src = _events_source(tmp_path / "src", events)
    pipe = IncrementalPipeline(spark, src, str(tmp_path / "target"))
    first = start + dt.timedelta(minutes=n - 60)
    assert all(v >= 0 for v in pipe.run_cycle(now_ts=first).values())
    horizon = {name: pipe.store.get(name) for name in pipe.sinks}
    second = first + dt.timedelta(hours=1)
    counts = pipe.run_cycle(now_ts=second)
    for name, sink in pipe.sinks.items():
        batch = sum(1 for _, ts, _ in events if horizon[name] <= ts < second)
        assert counts[name] == batch < n // 10, (name, counts)
        snap = sink.current_snapshot()
        own = sum(e["rows"] for e in _manifest(sink) if e["path"].startswith(snap + "/"))
        assert own <= batch, (name, own, batch)
    _assert_equals_full_recompute(spark, src, pipe, second)


def _batch_rows(spark, src, since, now):
    ev = load_table(spark, src, "events")
    return catalog.events_since(ev, since).filter(F.col("ts") < F.lit(now)).count()


def test_cycle_counts_are_the_rows_each_flow_merged(spark, sf_dir, pipe):
    """run_cycle reports, per flow, the source rows in [horizon, now) it
    merged: the overlap replay included, snapshot sizes not."""
    for now in (MID, END, END, END + dt.timedelta(days=1)):
        want = {name: _batch_rows(spark, sf_dir, pipe.store.get(name), now)
                for name in pipe.sinks}
        assert pipe.run_cycle(now_ts=now) == want, now


def test_rows_since_counts_the_row_groups_the_watermark_cannot_prune(tmp_path):
    """Footer-only count: row groups whose max ts lies below ``since`` are
    pruned, in either timestamp unit; a row group without statistics
    counts whole; a source that is not a local parquet file is unknown."""
    base = dt.datetime(2024, 1, 1)
    ts = [base + dt.timedelta(hours=h) for h in range(10)]
    for unit in ("us", "ns"):
        src = tmp_path / unit
        src.mkdir()
        table = pa.table({"event_id": pa.array(range(10), pa.int64()),
                          "ts": pa.array(ts, pa.timestamp(unit))})
        pq.write_table(table, src / "events.parquet", row_group_size=3,
                       coerce_timestamps=None)
        # row groups [0, 2], [3, 5], [6, 8], [9]
        for since, want in ((base - dt.timedelta(1), 10), (ts[2], 10),
                            (ts[2] + dt.timedelta(microseconds=1), 7),
                            (ts[5], 7), (ts[6], 4), (ts[9], 1),
                            (ts[9] + dt.timedelta(microseconds=1), 0)):
            assert catalog.rows_since(str(src), "events", since) == want, (unit, since)
        pq.write_table(table, src / "events.parquet", row_group_size=3,
                       coerce_timestamps=None, write_statistics=False)
        assert catalog.rows_since(str(src), "events", ts[9]) == 10
    (tmp_path / "dir" / "events.parquet").mkdir(parents=True)
    pq.write_table(table, tmp_path / "dir" / "events.parquet" / "part-0.parquet")
    assert catalog.rows_since(str(tmp_path / "dir"), "events", base) is None
    assert catalog.rows_since(str(tmp_path / "missing"), "events", base) is None
    (tmp_path / "bad").mkdir()
    (tmp_path / "bad" / "events.parquet").write_bytes(b"not parquet")
    assert catalog.rows_since(str(tmp_path / "bad"), "events", base) is None


def _write_plans(pipe, monkeypatch) -> dict[str, str]:
    """Record, per flow, the physical plan (AQE's initial plan, exchanges
    included) of the DataFrame its sink writes."""
    from pyspark.sql.readwriter import DataFrameWriter

    plans = {}
    parquet = DataFrameWriter.parquet

    def record(writer, path, *args, **kwargs):
        for name, sink in pipe.sinks.items():
            if path.startswith(sink.path + os.sep):
                plans[name] = writer._df._jdf.queryExecution().executedPlan().toString()
        return parquet(writer, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", record)
    return plans


def _exchanges(plan: str) -> Counter:
    return Counter(w for w in plan.split() if w in ("Exchange", "BroadcastExchange"))


def test_small_merges_run_as_one_exchange_free_job_per_flow(
        spark, sf_dir, pipe, jobs_launched, monkeypatch):
    """Below ONE_TASK_BELOW each flow's write plan has no Exchange or
    BroadcastExchange and scans only the source, never its sink, and a
    warm cycle launches one job per flow; the size signal launches
    none."""
    pipe.run_cycle(now_ts=MID)
    plans = _write_plans(pipe, monkeypatch)
    for name in pipe.sinks:
        fits, n = jobs_launched(pipe._fits_one_task, pipe.store.get(name))
        assert fits and n == 0, (name, fits, n)
    counts, n = jobs_launched(pipe.run_cycle, MID + dt.timedelta(hours=1))
    assert all(v >= 0 for v in counts.values()), counts
    assert n == len(pipe.sinks)
    assert {name: _exchanges(plan) for name, plan in plans.items()} == {
        name: Counter() for name in pipe.sinks}
    for name, plan in plans.items():
        assert plan.count("FileScan") == 1 and "events.parquet" in plan, name
        assert "snapshot-" not in plan, name


def test_large_merges_keep_the_partitioned_plan(spark, sf_dir, pipe, monkeypatch):
    """At or above ONE_TASK_BELOW (0 here) every flow keeps its
    shuffle."""
    monkeypatch.setattr(incremental, "ONE_TASK_BELOW", 0)
    pipe.run_cycle(now_ts=MID)
    plans = _write_plans(pipe, monkeypatch)
    counts = pipe.run_cycle(now_ts=MID + dt.timedelta(hours=1))
    assert all(v >= 0 for v in counts.values()), counts
    shapes = {name: _exchanges(plan) for name, plan in plans.items()}
    assert set(shapes) == set(pipe.sinks), shapes
    assert all(shape["Exchange"] >= 1 for shape in shapes.values()), shapes


def test_a_source_of_unknown_size_takes_the_partitioned_plan(spark, sf_dir, tmp_path):
    src = tmp_path / "src"
    (src / "events.parquet").mkdir(parents=True)
    pq.write_table(pq.read_table(f"{sf_dir}/events.parquet"),
                   src / "events.parquet" / "part-0.parquet")
    pipe = IncrementalPipeline(spark, str(src), str(tmp_path / "target"))
    assert not pipe._fits_one_task(DEFAULT_EPOCH)


def _failed_flow_catch_up(spark, src, target, fits: list) -> IncrementalPipeline:
    """Cycles with a replay and a failed fact_event_log write, whose
    catch-up merges from an older horizon than the other flows'; each
    plan choice is appended to ``fits``."""
    pipe = IncrementalPipeline(spark, src, target)

    def fits_one_task(*args, _fits=pipe._fits_one_task):
        fits.append(_fits(*args))
        return fits[-1]

    def failing_write(*args, **kwargs):
        raise RuntimeError("simulated fact_event_log write failure")

    pipe._fits_one_task = fits_one_task
    log = pipe.sinks["fact_event_log"]
    for now in (MID, MID + dt.timedelta(days=5), MID + dt.timedelta(days=5)):
        assert all(v >= 0 for v in pipe.run_cycle(now_ts=now).values())
        _assert_equals_full_recompute(spark, src, pipe, now)
    log.write = failing_write
    assert pipe.run_cycle(now_ts=END)["fact_event_log"] == -1
    del log.write
    assert pipe.store.get("fact_event_log") < pipe.store.get("dim_users")
    now = END + dt.timedelta(days=1)
    assert all(v >= 0 for v in pipe.run_cycle(now_ts=now).values())
    _assert_equals_full_recompute(spark, src, pipe, now)
    return pipe


def test_one_task_and_partitioned_plans_give_the_same_tables(
        spark, sf_dir, tmp_path, monkeypatch):
    fits = {"partitioned": [], "one_task": []}
    with monkeypatch.context() as m:
        m.setattr(incremental, "ONE_TASK_BELOW", 0)
        partitioned = _failed_flow_catch_up(spark, sf_dir, str(tmp_path / "p"),
                                            fits["partitioned"])
    one_task = _failed_flow_catch_up(spark, sf_dir, str(tmp_path / "o"), fits["one_task"])
    assert not any(fits["partitioned"]) and all(fits["one_task"]), fits
    for name in one_task.sinks:
        got = sorted(map(str, one_task.sinks[name].read().collect()))
        want = sorted(map(str, partitioned.sinks[name].read().collect()))
        assert got == want, name
