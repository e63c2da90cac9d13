"""Unit tests for the merge/upsert sink semantics (reference load.py L1-L6)."""

from __future__ import annotations

import datetime as dt

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
    with ConcurrentWriteError BEFORE any data lands, so its re-derived
    retry sees the winner's rows (lost-update prevention)."""
    import os

    from etl_pipe_spark.operators.merge import (
        ConcurrentWriteError, ParquetMergeSink)

    sink_a = ParquetMergeSink(spark, str(tmp_path / "t"), "id long, v string")
    sink_b = ParquetMergeSink(spark, str(tmp_path / "t"), "id long, v string")
    sink_a.write(spark.createDataFrame([(1, "a")], "id long, v string"))

    # B claims the v2 slot first (simulating its in-flight write)...
    os.mkdir(tmp_path / "t" / "snapshot-00000002")
    # ...so A's write of v2 must refuse, leaving v1 committed intact.
    import pytest as _pytest
    with _pytest.raises(ConcurrentWriteError):
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
    and raises ConcurrentWriteError regardless of age."""
    import os

    from etl_pipe_spark.operators import commit
    from etl_pipe_spark.operators.merge import (
        ConcurrentWriteError, ParquetMergeSink)

    sink = ParquetMergeSink(spark, str(tmp_path / "t"), "id long, v string")
    sink.write(spark.createDataFrame([(1, "a")], "id long, v string"))
    slot = os.path.join(sink.path, "snapshot-00000001")
    _backdate(slot)
    # a writer whose pre-claim read was stale (table looked empty)
    # targets v1 — the slot the pointer has already advanced to.  The
    # claim re-reads the pointer and must refuse even at age > stale.
    import pytest as _pytest
    with _pytest.raises(ConcurrentWriteError):
        commit.claim(slot, 1, sink._version)
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
