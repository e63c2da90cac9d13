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

Each sink declares how its rows resolve (operators/merge.py
``ParquetMergeSink``), so a flow neither reads its sink nor resolves
its batch: it projects the batch to the sink's columns and appends it
as it is, as a delta file, and the sink resolves base plus deltas on
read and folds the deltas into the base every ``merge.COMPACT_AT``
files.  An appending flow is thus scan, filter, project and write,
with no sort, window or shuffle.  The lower bound of a flow's batch, its
*horizon* (the watermark minus the overlap), also lets a fold of a
history sink (``fact_event_log``, ``user_versions``) set aside the rows
no later batch can touch as cold files, which reads return as they
are.

A flow writes a small batch in ONE Spark task.  Its size is the
``events`` rows its scan decodes, counted without a Spark job from the
source's parquet footer: the row groups the watermark predicate cannot
prune (``sources.catalog.rows_since``).  Below :data:`ONE_TASK_BELOW`
rows the flow coalesces the batch to one partition, so an append is
one job of one task and writes one delta file (``merge.COMPACT_AT``
counts files), and a fold's resolution has no Exchange.  At or above
the constant, or when the source is not a local parquet file, the
flow keeps the partitioned plan: an append writes a delta file per
non-empty scan partition, and a fold shuffles.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..operators.merge import ParquetMergeSink, insert_if_absent, scd2_apply_versions, upsert
from ..sources.catalog import events_since, load_table, rows_since
from .watermark import WatermarkStore

# Unpruned source rows below which a flow runs as one task and appends
# one delta file.  A sweep on 4 cores of the first and the second cycle
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
        # each resolution looks its merge up by this module's name at
        # call time, so a wrapper set on that name (perfbench's tracer)
        # sees every call
        self.sinks = {
            "dim_users": ParquetMergeSink(
                spark, f"{target_dir}/dim_users", _DIM_USERS_DDL,
                resolve=lambda rows: upsert(None, rows, keys=["user_id"],
                                            order_col="updated_at",
                                            tiebreakers=["last_event_id"])),
            "fact_event_log": ParquetMergeSink(
                spark, f"{target_dir}/fact_event_log", _EVENT_LOG_DDL,
                freeze_col="event_time",
                resolve=lambda rows: insert_if_absent(None, rows, ["source_key"])),
            "user_versions": ParquetMergeSink(
                spark, f"{target_dir}/user_versions", _VERSIONS_DDL,
                freeze_col="version_ended_at",
                resolve=lambda rows: scd2_apply_versions(
                    None, rows, keys=["user_id"], ts_col="version_started_at",
                    tiebreakers=["event_id"])),
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

    # -- flows: a batch as its sink's rows -------------------------------
    def _flow_dim_users(self, batch: DataFrame) -> DataFrame:
        return batch.select(
            F.col("user_id"),
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
            F.col("ts").alias("updated_at"),
        )

    def _flow_event_log(self, batch: DataFrame) -> DataFrame:
        return batch.select(
            event_source_key().alias("source_key"),
            F.col("ts").alias("event_time"),
            "user_id",
            "event_type",
            F.col("value").alias("amount"),
        )

    def _flow_versions(self, batch: DataFrame) -> DataFrame:
        # the closure columns stay NULL until resolution closes the
        # chains; the delta still carries them, in the table's schema
        return batch.select(
            "user_id",
            F.col("ts").alias("version_started_at"),
            "event_id",
            "value",
            F.lit(None).cast("timestamp_ntz").alias("version_ended_at"),
            F.lit(None).cast("boolean").alias("is_current_version"),
        )

    # -- cycle -----------------------------------------------------------
    def _fits_one_task(self, horizon) -> bool:
        """Whether the rows a flow's scan decodes are known and below
        :data:`ONE_TASK_BELOW`; reads the source's parquet footer, never
        a data page, and launches no Spark job."""
        source = rows_since(self.source_sf_dir, "events", horizon)
        return source is not None and source < ONE_TASK_BELOW

    def _run_flow(self, name: str, flow, events: DataFrame, now_ts) -> int:
        """One flow: merge its batch into its sink, then advance its
        watermark.  Returns the batch rows merged, or -1 if the flow
        failed — its watermark then stays put (crash-safe restart
        semantics, reference ST4)."""
        try:
            # read once: the batch filter and the sink's cold split must
            # agree on it (merge.ParquetMergeSink's exactness)
            horizon = self.store.get(name)
            # observe() rides the sink write's own job (reference S10's
            # row counters via the metrics API) — no extra pass over
            # the batch, no cache needed
            obs = Observation(f"batch_{name}")
            batch = self._batch(events, horizon, now_ts).observe(
                obs, F.max("ts").alias("mx"), F.count(F.lit(1)).alias("n")
            )
            if self._fits_one_task(horizon):
                # one task, and one delta file for an append
                batch = batch.coalesce(1)
            self.sinks[name].write(flow(batch), horizon=horizon)
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
        flow reads only the source and its own watermark row and writes
        only its own sink, and the watermark store serializes the
        advances.
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
