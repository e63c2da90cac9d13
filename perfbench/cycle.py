"""The ``cycle_trickle`` workload: the watermark micro-batch cycle
(``IncrementalPipeline.run_cycle``) polling small batches against a
large target.

Set-up preloads the target with every event before a seeded start time
near day 26, then runs warm-up cycles past the steep early fall in
cycle time while the JVM compiles the cycle's code.  Each timed cycle
advances the simulated clock by one hour (about 140 new events).  After
the timed region the three sinks are compared with a recompute from the
generated events.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from . import datagen
from .common import JobCounter, Outcome, gc_seconds, mean
from .spans import Tracer

SF = 0.1
DATA_SEED = 42
STEP = dt.timedelta(hours=1)
# 4 cores, unchanged program: cycle time falls by a fifth over the first
# three cycles after the preload, then by a tenth over twenty more; the
# run budget leaves no room to wait for the second, slow part
WARMUP_CYCLES = 3
# sizes the timed region: on 4 cores, with the unchanged program, a cycle
# took 2.4 s to 5 s as the load of the machine's other tenants changed
NOMINAL_CYCLE_S = 3.5
SINKS = ("dim_users", "fact_event_log", "user_versions")
LAYERS = (
    "watermark.get_s", "watermark.advance_s", "merge.read_s", "merge.plan_s",
    *(f"merge.write_s.{s}" for s in SINKS),
)


def prepare(data_dir: str, seed: int) -> None:
    datagen.generate(data_dir, SF, DATA_SEED, ("events",))


def start_clock(seed: int) -> dt.datetime:
    """Preload boundary: day 26 plus a seeded offset of up to a day."""
    offset = random.Random(seed).randrange(24 * 60)
    return datagen.EVENTS_START + dt.timedelta(days=25, minutes=offset)


def _snapshot_files(sink) -> list[str]:
    snap = os.path.join(sink.path, sink.current_snapshot())
    return [os.path.join(snap, f) for f in os.listdir(snap) if f.endswith(".parquet")]


def _install(tracer: Tracer) -> None:
    from etl_pipe_spark.operators.merge import ParquetMergeSink
    from etl_pipe_spark.streaming import incremental
    from etl_pipe_spark.streaming.watermark import WatermarkStore

    tracer.wrap(incremental.IncrementalPipeline, "run_cycle", "cycle")
    tracer.wrap(WatermarkStore, "get", "watermark.get_s")
    tracer.wrap(WatermarkStore, "advance", "watermark.advance_s")
    tracer.wrap(ParquetMergeSink, "read", "merge.read_s")
    tracer.wrap(ParquetMergeSink, "write",
                lambda sink, *a, **k: f"merge.write_s.{os.path.basename(sink.path)}")
    for plan in ("upsert", "insert_if_absent", "scd2_apply_versions"):
        tracer.wrap(incremental, plan, "merge.plan_s")


def _wrong_sinks(pipe, events: pd.DataFrame) -> int:
    """Sinks that differ from a full recompute over ``events``."""
    ev = events.sort_values(["user_id", "ts", "event_id"])
    ts = ev["ts"].to_numpy()
    latest = ev.groupby("user_id").tail(1)
    ended = ev.groupby("user_id")["ts"].shift(-1).fillna(-1).astype("int64")
    want = {
        "dim_users": set(zip(latest.user_id, latest.event_id, latest.event_type,
                             latest.value, latest.ts)),
        "fact_event_log": set(zip("EV_" + ev.event_id.astype(str), ts, ev.user_id,
                                  ev.event_type, ev.value)),
        "user_versions": set(zip(ev.user_id, ts, ev.event_id, ev.value, ended,
                                 ended == -1)),
    }
    wrong = 0
    for name, cols in (
        ("dim_users", ["user_id", "last_event_id", "last_event_type", "last_value",
                       "updated_at"]),
        ("fact_event_log", ["source_key", "event_time", "user_id", "event_type",
                            "amount"]),
        ("user_versions", ["user_id", "version_started_at", "event_id", "value",
                           "version_ended_at", "is_current_version"]),
    ):
        got = pipe.sinks[name].read().select(*cols).toPandas()
        for c in cols:
            if pd.api.types.is_datetime64_any_dtype(got[c]):
                micros = got[c].astype("datetime64[us]").astype("int64")
                got[c] = np.where(got[c].isna(), -1, micros)
        rows = set(got.itertuples(index=False, name=None))
        if len(got) != len(want[name]) or rows != want[name]:
            print(f"perfbench: sink {name} differs from the recompute", flush=True)
            wrong += 1
    return wrong


def run(spark, data_dir: str, work_dir: str, seed: int, seconds: float,
        tracer: Tracer | None) -> Outcome:
    from etl_pipe_spark.streaming.incremental import IncrementalPipeline

    events = pq.read_table(os.path.join(data_dir, "events.parquet"),
                           columns=["event_id", "ts", "user_id", "event_type", "value"]
                           ).to_pandas()
    events["ts"] = events["ts"].astype("datetime64[us]").astype("int64")
    ts_sorted = np.sort(events["ts"].to_numpy())

    def due(lo: dt.datetime, hi: dt.datetime) -> int:
        return int(np.searchsorted(ts_sorted, datagen.micros(hi))
                   - np.searchsorted(ts_sorted, datagen.micros(lo)))

    pipe = IncrementalPipeline(spark, data_dir, os.path.join(work_dir, "target"))
    attempted = failed = 0

    def cycle(now: dt.datetime) -> float:
        nonlocal attempted, failed
        t0 = time.perf_counter()
        counts = pipe.run_cycle(now_ts=now)
        elapsed = time.perf_counter() - t0
        attempted += len(counts)
        failed += sum(1 for v in counts.values() if v < 0)
        return elapsed

    start = now = start_clock(seed)
    preload_s = cycle(now)
    t0 = time.perf_counter()
    for _ in range(WARMUP_CYCLES):
        now += STEP
        cycle(now)
    warmup_s = time.perf_counter() - t0

    jobs = JobCounter(spark) if tracer else None
    plain: list[float] = []
    plain_rows = 0
    traced: list[dict] = []
    gc0 = gc_seconds(spark)
    # at least three, so that the median passes over one outlying cycle
    for i in range(max(3, round(seconds / NOMINAL_CYCLE_S))):
        prev, now = now, now + STEP
        if tracer and i % 2 == 0:
            tracer.op = f"cycle-{i}"
            _install(tracer)
            jobs.start(tracer.op)
            try:
                elapsed = cycle(now)
            finally:
                tracer.restore()
                n_jobs = jobs.stop()
            files = [f for s in SINKS for f in _snapshot_files(pipe.sinks[s])]
            traced.append({
                "op": tracer.op, "s": elapsed, "new_rows": due(prev, now),
                "jobs": n_jobs,
                "bytes": sum(os.path.getsize(f) for f in files),
                "written_rows": sum(pq.read_metadata(f).num_rows for f in files),
            })
        else:
            plain.append(cycle(now))
            plain_rows += due(prev, now)
    gc_s = gc_seconds(spark) - gc0
    n_timed = len(plain) + len(traced)

    layers: dict[str, float] = {}
    if tracer:
        per_cycle = [tracer.durations(c["op"]) for c in traced]
        for name in LAYERS:
            layers[name] = mean(children.get(name, 0.0) for _, children in per_cycle)
        layers["cycle.other_s"] = mean(root - sum(ch.values()) for root, ch in per_cycle)
        layers["cycle.traced_s"] = mean(root for root, _ in per_cycle)
        layers["cycle.jobs"] = mean(c["jobs"] for c in traced)
        layers["merge.bytes_written_mb"] = mean(c["bytes"] for c in traced) / 2**20
        # rows written per source row merged, each flow merging every new row
        merged = len(SINKS) * sum(c["new_rows"] for c in traced)
        layers["merge.rewrite_ratio"] = sum(c["written_rows"] for c in traced) / max(merged, 1)
        layers["trace.overhead_s"] = mean(c["s"] for c in traced) - mean(plain)
        layers["jvm.gc_s"] = gc_s / n_timed

    wrong = _wrong_sinks(pipe, events[events["ts"] < datagen.micros(now)])
    return Outcome(
        setup={"preload_s": preload_s, "warmup_s": warmup_s},
        op_s=plain, rows=plain_rows, attempted=attempted, failed=failed, wrong=wrong,
        layers=layers,
        info={"start_clock": start.isoformat(), "final_clock": now.isoformat(),
              "preload_rows": due(datagen.EVENTS_START, start),
              "timed_cycles": n_timed, "warmup_cycles": WARMUP_CYCLES,
              "jvm_gc_s": gc_s},
    )
