"""Incremental micro-batch pipeline (reference pipeline.py:25-115 S8/S9).

One ``run_cycle`` processes three flows off the ``events`` source —
the reference's scenario/node_data/timeline trio re-expressed:

* ``dim_users``      — UPSERT latest state per user (L1/L3 semantics)
* ``fact_event_log`` — insert-if-absent keyed by synthetic source_key (L6)
* ``user_versions``  — SCD-2 append-only version stream per user (L2/L5)

Each flow is isolated (one failing flow doesn't stop the others,
reference pipeline.py:41-49), reads from its own watermark minus the
90 s overlap, and advances the watermark to max(ts) processed.  The
reference runs its flows one after another; here they run
concurrently in the driver, still one writer per sink.

That bound, the flow's *horizon*, also splits each history sink
(``fact_event_log``, ``user_versions``) into a hot region the batch can
change and cold files it cannot, so a cycle reads and rewrites only the
hot region (operators/merge.py ``ParquetMergeSink``).  ``dim_users``
holds one row per user and is rewritten whole.

A flow merges a small input in ONE Spark task.  Its input is the hot
region plus the ``events`` rows its scan decodes, both counted without
a Spark job: the sink's manifest holds the hot files' row counts, and
the source's parquet footer tells which row groups the watermark
predicate cannot prune (``sources.catalog.rows_since``).  Below
:data:`ONE_TASK_BELOW` rows the flow coalesces the hot region and the
batch to one partition each, which meets every distribution the merge
needs, and hints the event log's anti-join to a sort-merge join instead
of a broadcast of the hot region.  The plan then has no Exchange and no
AQE stage boundary: the flow is one job of one task.  At or above the
constant, or when the source is not a local parquet file, the flow
keeps the partitioned plan.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..operators.merge import ParquetMergeSink, insert_if_absent, scd2_apply_versions, upsert
from ..sources.catalog import events_since, load_table, rows_since
from .watermark import WatermarkStore

# Merge input (hot-region rows + unpruned source rows) below which a flow
# runs as one task.  A sweep on 4 cores of the first and the second cycle
# over an N-row source (CHANGES.md): the one-task plan was at par or
# faster up to N = 10^6, mixed at 2 * 10^6 and slower from 3 * 10^6.
ONE_TASK_BELOW = 1_000_000

_DIM_USERS_DDL = (
    "user_id long, last_event_id long, last_event_type string, "
    "last_value double, updated_at timestamp_ntz"
)
_EVENT_LOG_DDL = (
    "source_key string, event_time timestamp_ntz, user_id long, "
    "event_type string, amount double"
)
_VERSIONS_DDL = (
    "user_id long, version_started_at timestamp_ntz, event_id long, value double, "
    "version_ended_at timestamp_ntz, is_current_version boolean"
)


def event_source_key(event_id_col=None):
    """The event-log dedup key ('EV_' || event_id) — single definition
    shared by the batch pipeline, the streaming foreachBatch sink, and
    the merge_replay_dedup oracle query, so replays always match."""
    col = F.col("event_id") if event_id_col is None else event_id_col
    return F.concat(F.lit("EV_"), col.cast("string"))


class IncrementalPipeline:
    def __init__(self, spark: SparkSession, source_sf_dir: str, target_dir: str):
        self.spark = spark
        self.source_sf_dir = source_sf_dir
        self.store = WatermarkStore(spark, f"{target_dir}/etl_watermark")
        self.sinks = {
            "dim_users": ParquetMergeSink(spark, f"{target_dir}/dim_users", _DIM_USERS_DDL),
            "fact_event_log": ParquetMergeSink(spark, f"{target_dir}/fact_event_log",
                                               _EVENT_LOG_DDL, freeze_col="event_time"),
            "user_versions": ParquetMergeSink(spark, f"{target_dir}/user_versions",
                                              _VERSIONS_DDL, freeze_col="version_ended_at"),
        }

    # -- extract ---------------------------------------------------------
    def _batch(self, events: DataFrame, horizon, now_ts) -> DataFrame:
        """Watermark-bounded incremental read (reference extract.py P1)
        of ``events``, the source loaded once per cycle: the rows at or
        after ``horizon``, the flow's watermark minus the overlap.

        ``now_ts`` is the cycle's upper bound — simulated clock in
        tests; in production, unbounded.
        """
        # pushdown-friendly watermark predicate (see sources.catalog.events_since)
        batch = events_since(events, horizon)
        if now_ts is not None:
            batch = batch.filter(F.col("ts") < F.lit(now_ts))
        return batch

    # -- flows -----------------------------------------------------------
    def _flow_dim_users(self, existing: DataFrame, batch: DataFrame) -> DataFrame:
        updates = batch.select(
            F.col("user_id"),
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
            F.col("ts").alias("updated_at"),
        )
        return upsert(
            existing, updates,
            keys=["user_id"], order_col="updated_at",
            tiebreakers=["last_event_id"],
        )

    def _flow_event_log(self, existing: DataFrame, batch: DataFrame) -> DataFrame:
        updates = batch.select(
            event_source_key().alias("source_key"),
            F.col("ts").alias("event_time"),
            "user_id",
            "event_type",
            F.col("value").alias("amount"),
        )
        return insert_if_absent(existing, updates, ["source_key"])

    def _flow_versions(self, existing: DataFrame, batch: DataFrame) -> DataFrame:
        updates = batch.select(
            "user_id",
            F.col("ts").alias("version_started_at"),
            "event_id",
            "value",
        )
        return scd2_apply_versions(
            existing, updates,
            keys=["user_id"], ts_col="version_started_at",
            tiebreakers=["event_id"],
        )

    # -- cycle -----------------------------------------------------------
    def _fits_one_task(self, sink: ParquetMergeSink, horizon) -> bool:
        """Whether the flow's merge input is known and below
        :data:`ONE_TASK_BELOW` rows; reads the manifest and the source's
        parquet footer, never a data page, and launches no Spark job."""
        hot = sink.read_rows(horizon)
        source = rows_since(self.source_sf_dir, "events", horizon)
        return hot is not None and source is not None and hot + source < ONE_TASK_BELOW

    def _run_flow(self, name: str, flow, events: DataFrame, now_ts) -> int:
        """One flow: merge its batch into its sink's hot region, then
        advance its watermark.  Returns the batch rows merged, or -1 if
        the flow failed — its watermark then stays put (crash-safe
        restart semantics, reference ST4)."""
        try:
            # read once: the batch filter and the sink's hot/cold split
            # must agree on it (merge.ParquetMergeSink's exactness)
            horizon = self.store.get(name)
            # observe() rides the sink write's own job (reference S10's
            # row counters via the metrics API) — no extra pass over
            # the batch, no cache needed
            obs = Observation(f"batch_{name}")
            batch = self._batch(events, horizon, now_ts).observe(
                obs, F.max("ts").alias("mx"), F.count(F.lit(1)).alias("n")
            )
            sink = self.sinks[name]
            base = sink.committed_version()  # before the read: no lost update
            existing = sink.read(horizon)
            if self._fits_one_task(sink, horizon):
                # one partition each meets every distribution the merge needs
                existing, batch = existing.coalesce(1), batch.coalesce(1)
                if flow == self._flow_event_log:
                    # its anti-join would broadcast the hot region in a job
                    # of its own; the hint rides the batch, which only the
                    # join reads (the hot region is also a union branch)
                    batch = batch.hint("merge")
            sink.write(flow(existing, batch), horizon=horizon, read_version=base)
            stats = obs.get
            self.store.advance(name, stats["mx"], stats["n"])
            return stats["n"]
        except Exception as exc:  # per-flow isolation (pipeline.py:41-49)
            print(f"[etl_pipe_spark] flow {name} failed: {exc}")
            return -1

    def run_cycle(self, now_ts=None) -> dict[str, int]:
        """One micro-batch cycle over all flows (reference run_cycle).

        The flows run concurrently, one driver thread each, so a cycle
        costs its slowest flow rather than the sum of all three: each
        flow reads only its own sink and watermark row and writes only
        its own sink, and the watermark store serializes the advances.
        Returns, per flow, the batch rows it merged: the source rows in
        [horizon, now_ts), overlap replays included, which is also what
        its watermark advance records.  Per-flow failure isolation: a
        failing flow is reported as -1 but the rest proceed, and its
        watermark does not advance.
        """
        flows = {
            "dim_users": self._flow_dim_users,
            "fact_event_log": self._flow_event_log,
            "user_versions": self._flow_versions,
        }
        # one source load shared by every flow's watermark filter
        try:
            events = load_table(self.spark, self.source_sf_dir, "events")
        except Exception as exc:  # no flow can run: report each as failed
            print(f"[etl_pipe_spark] source events failed: {exc}")
            return {name: -1 for name in flows}
        with ThreadPoolExecutor(max_workers=len(flows)) as pool:
            # wrap each flow separately: every wrapper clones the caller's
            # local properties (job group included) for its own thread,
            # so the cycle's jobs stay in the caller's job group
            futures = {
                name: pool.submit(inheritable_thread_target(self.spark)(self._run_flow),
                                  name, flow, events, now_ts)
                for name, flow in flows.items()
            }
        return {name: future.result() for name, future in futures.items()}
