"""Property test of merge-on-read: random event histories cut into
random watermark cycles, with rows in order, late inside the 90 s
overlap, late beyond it, replayed under the same ``event_id`` and
sharing a version's timestamp.  After every cycle, folds included
(``merge.COMPACT_AT`` is lowered), each sink's ``read()`` equals the
recompute ``perfbench/cycle.py::_wrong_sinks`` checks the benchmark
with, over the rows the watermark admitted."""

from __future__ import annotations

import datetime as dt
import os
import tempfile

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import HealthCheck, given, settings, strategies as st

from perfbench.cycle import _wrong_sinks

T0 = dt.datetime(2024, 1, 10)
OVERLAP = dt.timedelta(seconds=90)
US = dt.timedelta(microseconds=1)
KINDS = ("in_order", "late_inside", "late_beyond", "replay", "same_ts")

_arrival = st.tuples(st.sampled_from(KINDS), st.integers(1, 2), st.integers(0, 2**40))
_histories = st.tuples(
    st.sampled_from([2, 3]),  # merge.COMPACT_AT
    st.lists(st.integers(60, 7200), min_size=4, max_size=6),  # cycle gaps, seconds
    st.lists(st.lists(_arrival, min_size=1, max_size=6), min_size=6, max_size=6),
)


def _arrive(rows, kind, user, x, prev, now):
    """Append one arriving row to ``rows`` (event_id, ts, user_id); ``prev``
    and ``now`` are the previous and the coming cycle's clocks."""
    span = (now - prev) // US
    if kind == "replay" and rows:
        rows.append(rows[x % len(rows)])
        return
    if kind == "same_ts" and rows:
        _, ts, user = rows[x % len(rows)]
    elif kind == "late_inside":
        ts = prev - (1 + x % (OVERLAP // US)) * US
    elif kind == "late_beyond":
        ts = prev - OVERLAP - (1 + x % (2 * 3600 * 10**6)) * US
    else:
        ts = prev + (x % span) * US
    rows.append((len(rows) + 1, ts, user))


def _write_source(path, rows):
    pq.write_table(pa.table({
        "event_id": pa.array([e for e, _, _ in rows], pa.int64()),
        "ts": pa.array([t for _, t, _ in rows], pa.timestamp("us")),
        "user_id": pa.array([u for _, _, u in rows], pa.int64()),
        "event_type": pa.array([f"type{e % 3}" for e, _, _ in rows], pa.string()),
        "value": pa.array([float(e) for e, _, _ in rows], pa.float64()),
        "props": pa.array(["{}"] * len(rows), pa.string()),
    }), os.path.join(path, "events.parquet"))


def _oracle_frame(rows):
    """The admitted rows, one per event, as ``_wrong_sinks`` takes them."""
    df = pd.DataFrame(sorted(set(rows)), columns=["event_id", "ts", "user_id"])
    df["event_type"] = [f"type{e % 3}" for e in df.event_id]
    df["value"] = df.event_id.astype(float)
    df["ts"] = df["ts"].astype("datetime64[us]").astype("int64")
    return df


@settings(max_examples=10, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
@given(history=_histories)
def test_every_sink_reads_as_the_recompute_after_every_cycle(spark, monkeypatch, history):
    from etl_pipe_spark.operators import merge
    from etl_pipe_spark.streaming.incremental import IncrementalPipeline
    from etl_pipe_spark.streaming.watermark import DEFAULT_EPOCH

    compact_at, gaps, arrivals = history
    monkeypatch.setattr(merge, "COMPACT_AT", compact_at)
    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "src")
        os.makedirs(src)
        pipe = IncrementalPipeline(spark, src, os.path.join(tmp, "target"))
        rows, admitted = [], set()
        watermark = DEFAULT_EPOCH
        prev = T0 - dt.timedelta(hours=3)
        for k, gap in enumerate(gaps):
            now = T0 + dt.timedelta(seconds=sum(gaps[:k + 1]))
            for kind, user, x in arrivals[k]:
                _arrive(rows, kind, user, x, prev, now)
            _write_source(src, rows)
            horizon = watermark - OVERLAP
            assert {name: pipe.store.get(name) for name in pipe.sinks} == {
                name: horizon for name in pipe.sinks}
            batch = [r for r in rows if horizon <= r[1] < now]
            counts = pipe.run_cycle(now_ts=now)
            assert counts == {name: len(batch) for name in pipe.sinks}, (k, counts)
            admitted.update(batch)
            watermark = max([watermark] + [ts for _, ts, _ in batch])
            assert _wrong_sinks(pipe, _oracle_frame(admitted)) == 0, (k, rows)
            prev = now
