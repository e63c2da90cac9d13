"""Unit tests for the merge/upsert sink semantics (reference load.py L1-L6)."""

from __future__ import annotations

import datetime as dt
import os

from etl_pipe_spark.operators.merge import insert_if_absent, scd2_apply_versions, upsert
from tests.commit_faults import backdate as _backdate


def _t(day, hour=0):
    return dt.datetime(2024, 1, day, hour)


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_upsert_partial_update(spark):
    """L1: matched rows update only the mutable columns; immutable kept."""
    existing = spark.createDataFrame(
        [(1, "a", "created1", 10.0), (2, "b", "created2", 20.0)],
        "id long, status string, created_by string, score double",
    )
    updates = spark.createDataFrame(
        [(2, "b2", "HACKED", 22.0), (3, "c", "created3", 30.0)],
        "id long, status string, created_by string, score double",
    )
    out = upsert(existing, updates, keys=["id"], update_cols=["status", "score"])
    assert _rows(out, "id", "status", "created_by", "score") == [
        (1, "a", "created1", 10.0),
        (2, "b2", "created2", 22.0),  # created_by NOT overwritten
        (3, "c", "created3", 30.0),
    ]


def test_upsert_last_version_wins_within_batch(spark):
    existing = spark.createDataFrame([], "id long, status string, ver long")
    updates = spark.createDataFrame(
        [(1, "old", 1), (1, "new", 2)], "id long, status string, ver long"
    )
    out = upsert(existing, updates, keys=["id"], order_col="ver")
    assert _rows(out, "id", "status") == [(1, "new")]


def test_upsert_replay_idempotent(spark):
    existing = spark.createDataFrame([(1, "x")], "id long, status string")
    updates = spark.createDataFrame([(1, "y"), (2, "z")], "id long, status string")
    once = upsert(existing, updates, keys=["id"])
    twice = upsert(once, updates, keys=["id"])
    assert _rows(once, "id", "status") == _rows(twice, "id", "status")


def test_insert_if_absent(spark):
    """L4/L6: conflicts (incl. within-batch dupes) silently dropped."""
    existing = spark.createDataFrame([("k1", 1)], "source_key string, v long")
    updates = spark.createDataFrame(
        [("k1", 99), ("k2", 2), ("k2", 2), ("k3", 3)], "source_key string, v long"
    )
    out = insert_if_absent(existing, updates, ["source_key"])
    got = _rows(out, "source_key", "v")
    assert got == [("k1", 1), ("k2", 2), ("k3", 3)]  # k1 keeps original value


def test_scd2_close_versions(spark):
    """L2/L5: a new version closes the previous one; replay is a no-op."""
    ddl = ("key string, ts timestamp_ntz, payload string, "
           "version_ended_at timestamp_ntz, is_current_version boolean")
    existing = spark.createDataFrame(
        [("a", _t(1), "v1", None, True)],
        ddl,
    )
    updates = spark.createDataFrame(
        [("a", _t(2), "v2"), ("b", _t(1, 12), "w1")],
        "key string, ts timestamp_ntz, payload string",
    )
    out = scd2_apply_versions(existing, updates, keys=["key"], ts_col="ts")
    got = {(r.key, str(r.ts)): (r.payload, str(r.version_ended_at), r.is_current_version)
           for r in out.collect()}
    assert got[("a", str(_t(1)))] == ("v1", str(_t(2)), False)
    assert got[("a", str(_t(2)))][2] is True
    assert got[("b", str(_t(1, 12)))][2] is True
    # replay the same update batch: identical snapshot
    again = scd2_apply_versions(out, updates, keys=["key"], ts_col="ts")
    assert sorted(map(str, again.collect())) == sorted(map(str, out.collect()))


def test_scd2_out_of_order_late_version(spark):
    """A late-arriving middle version splices into the chain correctly."""
    existing = spark.createDataFrame(
        [("a", _t(1), "v1", _t(3), False),
         ("a", _t(3), "v3", None, True)],
        ("key string, ts timestamp_ntz, payload string, "
         "version_ended_at timestamp_ntz, is_current_version boolean"),
    )
    late = spark.createDataFrame(
        [("a", _t(2), "v2")], "key string, ts timestamp_ntz, payload string"
    )
    out = scd2_apply_versions(existing, late, keys=["key"], ts_col="ts")
    got = {str(r.ts): (r.payload, str(r.version_ended_at), r.is_current_version)
           for r in out.collect()}
    assert got[str(_t(1))] == ("v1", str(_t(2)), False)
    assert got[str(_t(2))] == ("v2", str(_t(3)), False)
    assert got[str(_t(3))][2] is True


def test_upsert_timestamp_tie_deterministic(spark):
    """Two updates sharing order_col must resolve by the tiebreaker."""
    existing = spark.createDataFrame([], "id long, v string, ver long, seq long")
    updates = spark.createDataFrame(
        [(1, "low", 5, 10), (1, "high", 5, 11)], "id long, v string, ver long, seq long"
    )
    out = upsert(existing, updates, keys=["id"], order_col="ver", tiebreakers=["seq"])
    assert _rows(out, "id", "v") == [(1, "high")]


def test_scd2_same_instant_versions_both_survive(spark):
    """Distinct versions sharing a start ts are kept (tiebreaker), while
    an exact replay of one of them is still absorbed."""
    existing = spark.createDataFrame(
        [], "key string, ts timestamp_ntz, seq long, payload string, "
            "version_ended_at timestamp_ntz, is_current_version boolean"
    )
    updates = spark.createDataFrame(
        [("a", _t(1), 1, "v1"), ("a", _t(1), 2, "v2"), ("a", _t(1), 2, "v2")],
        "key string, ts timestamp_ntz, seq long, payload string",
    )
    out = scd2_apply_versions(existing, updates, keys=["key"], ts_col="ts",
                              tiebreakers=["seq"])
    rows = sorted((r.seq, r.payload, r.is_current_version) for r in out.collect())
    assert rows == [(1, "v1", False), (2, "v2", True)]


def test_sink_commit_is_atomic_under_failed_write(spark, tmp_path):
    """A failed write must leave the previous committed snapshot intact."""
    import os

    from etl_pipe_spark.operators.merge import ParquetMergeSink

    sink = ParquetMergeSink(spark, str(tmp_path / "t"), "id long, v string")
    sink.write(spark.createDataFrame([(1, "a")], "id long, v string"))
    assert [(r.id, r.v) for r in sink.read().collect()] == [(1, "a")]

    class Boom(Exception):
        pass

    # simulate a crash between data write and pointer commit by writing
    # a snapshot dir manually and never committing the pointer
    os.makedirs(tmp_path / "t" / "snapshot-00000099")
    assert sink.current_snapshot() == "snapshot-00000001"
    assert [(r.id, r.v) for r in sink.read().collect()] == [(1, "a")]

    # a real failed write (unwritable path) must also keep the old state
    bad = spark.createDataFrame([(2, "b")], "id long, v string")
    try:
        orig = sink.path
        sink.path = "/proc/definitely-not-writable/t"
        try:
            sink.write(bad)
        except Exception:
            pass
    finally:
        sink.path = orig
    assert [(r.id, r.v) for r in sink.read().collect()] == [(1, "a")]


def test_sink_vacuum_retention(spark, tmp_path):
    import os

    from etl_pipe_spark.operators.merge import ParquetMergeSink

    sink = ParquetMergeSink(spark, str(tmp_path / "t"), "id long")
    for i in range(5):
        sink.write(spark.createDataFrame([(i,)], "id long"))
    snaps = sorted(d for d in os.listdir(sink.path) if d.startswith("snapshot-"))
    assert snaps == ["snapshot-00000004", "snapshot-00000005"]
    assert sink.read().collect()[0].id == 4


def test_sink_concurrent_writer_loses_cas_before_writing_data(spark, tmp_path):
    """Two writers that both read snapshot N must not both commit N+1:
    the CAS on the snapshot directory makes the second claimant fail
    with CommitConflict BEFORE any data lands, so its re-derived
    retry sees the winner's rows (lost-update prevention)."""
    import os

    from etl_pipe_spark.operators.commit import CommitConflict
    from etl_pipe_spark.operators.merge import ParquetMergeSink

    sink_a = ParquetMergeSink(spark, str(tmp_path / "t"), "id long, v string")
    sink_b = ParquetMergeSink(spark, str(tmp_path / "t"), "id long, v string")
    sink_a.write(spark.createDataFrame([(1, "a")], "id long, v string"))

    # B claims the v2 slot first (simulating its in-flight write)...
    os.mkdir(tmp_path / "t" / "snapshot-00000002")
    # ...so A's write of v2 must refuse, leaving v1 committed intact.
    import pytest as _pytest
    with _pytest.raises(CommitConflict):
        sink_a.write(spark.createDataFrame([(2, "b")], "id long, v string"))
    assert sink_a.current_snapshot() == "snapshot-00000001"
    assert [(r.id, r.v) for r in sink_a.read().collect()] == [(1, "a")]
    # no data files leaked into the contested slot by the loser
    assert os.listdir(tmp_path / "t" / "snapshot-00000002") == []


def test_sink_stale_orphan_claim_is_reclaimed(spark, tmp_path):
    """A claimant that crashed after mkdir but before commit must not
    block the version slot forever: once the claim is older than
    STALE_AFTER_S and still uncommitted, the next writer reclaims it."""
    import os

    from etl_pipe_spark.operators.merge import ParquetMergeSink

    sink = ParquetMergeSink(spark, str(tmp_path / "t"), "id long, v string")
    sink.write(spark.createDataFrame([(1, "a")], "id long, v string"))
    orphan = tmp_path / "t" / "snapshot-00000002"
    os.mkdir(orphan)
    _backdate(orphan)  # claim goes stale, pointer never advanced to it
    sink.write(spark.createDataFrame([(2, "b")], "id long, v string"))
    assert sink.current_snapshot() == "snapshot-00000002"
    assert sorted((r.id, r.v) for r in sink.read().collect()) == [(2, "b")]


def test_sink_committed_snapshot_is_never_reclaimed(spark, tmp_path):
    """The stale-claim path must only fire for UNCOMMITTED claims: a
    slot the pointer already advanced to is a committed table version
    and raises CommitConflict regardless of age."""
    import os

    from etl_pipe_spark.operators import commit
    from etl_pipe_spark.operators.commit import CommitConflict
    from etl_pipe_spark.operators.merge import ParquetMergeSink

    sink = ParquetMergeSink(spark, str(tmp_path / "t"), "id long, v string")
    sink.write(spark.createDataFrame([(1, "a")], "id long, v string"))
    slot = os.path.join(sink.path, "snapshot-00000001")
    _backdate(slot)
    # a writer whose pre-claim read was stale (table looked empty)
    # targets v1 — the slot the pointer has already advanced to.  The
    # claim re-reads the pointer and must refuse even at age > stale.
    import pytest as _pytest
    with _pytest.raises(CommitConflict):
        commit.claim(slot, 1, sink.committed_version)
    assert [(r.id, r.v) for r in sink.read().collect()] == [(1, "a")]


def test_upsert_no_order_col_collapses_duplicate_keys(spark):
    """Duplicate keys in a batch without order_col must not fan out
    through the full_outer join (one-row-per-key upsert contract)."""
    existing = spark.createDataFrame([(1, "x")], "id long, status string")
    updates = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c")], "id long, status string"
    )
    out = upsert(existing, updates, keys=["id"])
    ids = sorted(r["id"] for r in out.collect())
    assert ids == [1, 2]  # exactly one row per key


def test_scd2_source_end_without_successor_stays_closed(spark):
    """Deletion semantics: a version closed at the source with no
    successor keeps its end timestamp and is_current=false (reference
    load.py:50-83 persists version_ended_at)."""
    schema = (
        "entity_id long, ts timestamp, attr string, "
        "version_ended_at timestamp, is_current_version boolean"
    )
    existing = spark.createDataFrame([], schema)
    updates = spark.createDataFrame(
        [
            (1, _t(1), "v1", _t(2), False),   # closed at source, no successor row
            (2, _t(1), "w1", None, True),     # ordinary open version
        ],
        schema,
    )
    out = scd2_apply_versions(existing, updates, keys=["entity_id"], ts_col="ts")
    got = {r["entity_id"]: (r["version_ended_at"], r["is_current_version"])
           for r in out.collect()}
    assert got[1] == (_t(2), False)
    assert got[2] == (None, True)
    # and the closure survives a replay merge
    again = scd2_apply_versions(out, updates, keys=["entity_id"], ts_col="ts")
    got2 = {r["entity_id"]: (r["version_ended_at"], r["is_current_version"])
            for r in again.collect()}
    assert got2 == got


def test_scd2_successor_start_overrides_source_end(spark):
    """When a successor exists, its start is the authoritative closure."""
    schema = "entity_id long, ts timestamp, attr string, version_ended_at timestamp"
    existing = spark.createDataFrame([], schema)
    updates = spark.createDataFrame(
        [(1, _t(1), "v1", _t(5)), (1, _t(3), "v2", None)], schema
    )
    out = scd2_apply_versions(existing, updates, keys=["entity_id"], ts_col="ts")
    got = _rows(out, "ts", "version_ended_at", "is_current_version")
    assert got == [(_t(1), _t(3), False), (_t(3), None, True)]


_FIDELITY_DDL = "id long, ts timestamp_ntz, flag boolean, x double"


def test_sink_stores_schema_and_counts_rows_without_spark_jobs(
        spark, tmp_path, jobs_launched):
    """write() keeps the written schema as commit metadata and counts
    rows from the parquet footers; read() of a committed snapshot
    launches no Spark job and returns the written schema."""
    import os

    from etl_pipe_spark.operators.merge import ParquetMergeSink

    df = spark.createDataFrame([
        (1, dt.datetime(2024, 1, 10, 12, 0, 0, 123456), True, 1.5),
        (2, None, False, float("nan")),
        (3, dt.datetime(2024, 1, 11), None, None),
    ], _FIDELITY_DDL)
    sink = ParquetMergeSink(spark, str(tmp_path / "t"), _FIDELITY_DDL)
    assert sink.write(df) == 3
    snap = os.path.join(sink.path, sink.current_snapshot())
    assert "_meta_spark_schema" in os.listdir(snap)

    out, n = jobs_launched(sink.read)
    assert n == 0, f"read() launched {n} Spark jobs"
    assert out.schema == df.schema
    assert sorted(map(str, out.collect())) == sorted(map(str, df.collect()))

    # a snapshot committed without the schema metadata (the earlier
    # layout) still reads, by schema inference
    os.remove(os.path.join(snap, "_meta_spark_schema"))
    out = sink.read()
    assert out.schema == df.schema
    assert sorted(map(str, out.collect())) == sorted(map(str, df.collect()))

    # multi-file and empty snapshots: the footer count is the row count
    many = spark.range(0, 1000, numPartitions=7).selectExpr("id", "id * 0.5 AS x")
    sink2 = ParquetMergeSink(spark, str(tmp_path / "t2"), "id long, x double")
    assert sink2.write(many) == sink2.read().count() == 1000
    assert sink2.write(many.limit(0)) == sink2.read().count() == 0


_LOG_DDL = "k string, t timestamp_ntz, v long"


def _log_sink(spark, path):
    """An event log keyed on ``k`` and frozen on ``t``."""
    from etl_pipe_spark.operators.merge import ParquetMergeSink

    return ParquetMergeSink(spark, path, _LOG_DDL, freeze_col="t",
                            resolve=lambda rows: insert_if_absent(None, rows, ["k"]))


def _log_step(spark, sink, horizon, rows):
    """One cycle of an event log: ``rows`` (all at or after ``horizon``,
    replays included) merged into the sink.  Like the pipeline's small
    batches, the rows are one partition, so an append writes one delta
    file."""
    return sink.write(spark.createDataFrame(rows, _LOG_DDL).coalesce(1), horizon=horizon)


def _log_rows(n):
    """Rows k0..k<n-1>, one an hour from 2024-01-01."""
    return [(f"k{i}", dt.datetime(2024, 1, 1) + dt.timedelta(hours=i), i) for i in range(n)]


def _manifest(sink):
    import json

    return json.loads(sink.current_meta("manifest"))["files"]


def test_footer_classification_never_calls_a_file_cold_that_may_hold_hot_rows(
        spark, tmp_path):
    """A file is cold only when its footer shows no NULL freeze value and
    a max strictly below the horizon: a NULL, a max equal to the horizon
    and a file mixing cold and hot rows each keep the file hot."""
    import glob

    import pyarrow.parquet as pq

    from etl_pipe_spark.operators.merge import ParquetMergeSink, _freeze_max

    horizon = dt.datetime(2024, 1, 10)
    sink = ParquetMergeSink(spark, str(tmp_path / "t"), _LOG_DDL, freeze_col="t")
    cases = {
        "null": [("a", dt.datetime(2024, 1, 1), 1), ("b", None, 2)],
        "at_horizon": [("a", dt.datetime(2024, 1, 1), 1), ("b", horizon, 2)],
        "mixed": [("a", dt.datetime(2024, 1, 1), 1), ("b", dt.datetime(2024, 1, 11), 2)],
        "cold": [("a", dt.datetime(2024, 1, 1), 1),
                 ("b", horizon - dt.timedelta(microseconds=1), 2)],
    }
    cold = {}
    for name, rows in cases.items():
        out = str(tmp_path / name)
        spark.createDataFrame(rows, _LOG_DDL).coalesce(1).write.parquet(out)
        (path,) = glob.glob(f"{out}/*.parquet")
        entry = {"max": _freeze_max(pq.read_metadata(path), "t")}
        cold[name] = sink._is_cold(entry, horizon)
    assert cold == {"null": False, "at_horizon": False, "mixed": False, "cold": True}


def test_sink_crash_before_publish_keeps_cold_files_readable(spark, tmp_path, monkeypatch):
    """A crash after the data write but before the publish leaves readers
    on the previous manifest, whose inherited cold files and deltas all
    stay readable; once the dead writer's claim is stale the retry lands
    the same table as an uninterrupted sink."""
    import pytest

    from etl_pipe_spark.operators import commit, merge

    monkeypatch.setattr(merge, "COMPACT_AT", 3)
    rows = _log_rows(8)
    sinks = [_log_sink(spark, str(tmp_path / name)) for name in ("crashed", "control")]
    for step in range(1, 6):
        for sink in sinks:
            _log_step(spark, sink, rows[step - 1][1], rows[step - 1:step + 1])
    crashed, control = sinks
    before = sorted(crashed.read().collect())
    manifest = _manifest(crashed)
    assert sum(e["path"].split("/")[0] != crashed.current_snapshot() for e in manifest) >= 2
    assert any(crashed._is_cold(e, rows[5][1]) for e in manifest)
    assert any(e.get("delta") for e in manifest)

    def crash(pointer, text):
        raise RuntimeError("simulated crash before the pointer swap")

    monkeypatch.setattr(commit, "publish", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        _log_step(spark, crashed, rows[5][1], rows[5:7])
    monkeypatch.undo()
    monkeypatch.setattr(merge, "COMPACT_AT", 3)

    assert sorted(crashed.read().collect()) == before
    assert _manifest(crashed) == manifest
    for entry in manifest:
        path = os.path.join(crashed.path, entry["path"])
        assert spark.read.parquet(path).count() == entry["rows"]

    _backdate(os.path.join(crashed.path, "snapshot-00000006"))
    for sink in sinks:
        _log_step(spark, sink, rows[5][1], rows[5:7])
    assert sorted(crashed.read().collect()) == sorted(control.read().collect())
    assert len(crashed.read().collect()) == 7


def test_sink_compaction_merges_cold_files_and_its_crash_is_invisible(
        spark, tmp_path, monkeypatch):
    """Once a manifest names COMPACT_AT files, the next commit folds the
    deltas into the base within its own write and splits off the rows
    below its horizon as cold files; a later fold merges the cold files
    of the smallest tier.  A crash of a fold before its publish is
    invisible, and its retry folds."""
    import pytest

    from etl_pipe_spark.operators import commit, merge

    monkeypatch.setattr(merge, "COMPACT_AT", 3)
    rows = _log_rows(12)
    sink = _log_sink(spark, str(tmp_path / "t"))

    def cold(horizon):
        return [e for e in _manifest(sink) if sink._is_cold(e, horizon)]

    for step in (1, 2, 3):  # the first write, then two deltas, each with a replay
        _log_step(spark, sink, rows[step - 1][1], rows[step - 1:step + 1])
    assert [bool(e.get("delta")) for e in _manifest(sink)] == [False, True, True]
    before = sorted(sink.read().collect())
    assert [r.k for r in before] == ["k0", "k1", "k2", "k3"]
    manifest = _manifest(sink)

    def crash(pointer, text):
        raise RuntimeError("simulated crash before the pointer swap")

    with monkeypatch.context() as m:
        m.setattr(commit, "publish", crash)
        with pytest.raises(RuntimeError, match="simulated crash"):
            _log_step(spark, sink, rows[3][1], rows[3:5])
    assert sorted(sink.read().collect()) == before
    assert _manifest(sink) == manifest
    for entry in manifest:
        assert os.path.exists(os.path.join(sink.path, entry["path"]))

    _backdate(os.path.join(sink.path, "snapshot-00000004"))
    assert _log_step(spark, sink, rows[3][1], rows[3:5]) == 5  # the fold's rows
    assert [(e["rows"], "delta" in e) for e in _manifest(sink)] == [(3, False), (2, False)]
    (first_cold,) = cold(rows[3][1])
    assert first_cold["rows"] == 3
    for step in (5, 6):  # a delta, then a fold that merges the cold file too
        _log_step(spark, sink, rows[step - 1][1], rows[step - 1:step + 1])
    assert first_cold not in _manifest(sink)
    assert sum(e["rows"] for e in cold(rows[5][1])) == 5
    assert sorted(r.k for r in sink.read().collect()) == [f"k{i}" for i in range(7)]


def test_keyed_sink_refuses_a_batch_without_the_tables_columns(spark, tmp_path):
    """An append stores its batch's schema as the table's, so a keyed
    sink refuses a batch whose columns are not the DDL's: a
    user_versions-shaped batch without ``version_ended_at`` raises
    ValueError naming the column, before a version is claimed."""
    import pytest

    from etl_pipe_spark.operators.merge import ParquetMergeSink
    from etl_pipe_spark.streaming.incremental import _VERSIONS_DDL

    sink = ParquetMergeSink(
        spark, str(tmp_path / "t"), _VERSIONS_DDL, freeze_col="version_ended_at",
        resolve=lambda rows: scd2_apply_versions(
            None, rows, keys=["user_id"], ts_col="version_started_at",
            tiebreakers=["event_id"]))
    ok = spark.createDataFrame([(1, _t(1), 10, 1.0, None, None)], _VERSIONS_DDL)
    sink.write(ok, horizon=_t(1))
    short = ok.drop("version_ended_at")
    with pytest.raises(ValueError, match="missing \\['version_ended_at'\\]"):
        sink.write(short, horizon=_t(1))
    assert sink.committed_version() == 1
    assert sorted(os.listdir(sink.path)) == ["CURRENT", "snapshot-00000001"]
    assert [(r.event_id, r.is_current_version) for r in sink.read().collect()] == [(10, True)]
