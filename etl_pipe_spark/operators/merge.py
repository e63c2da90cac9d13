"""Idempotent sink semantics (reference load.py L1-L6) as set-based merges.

The reference upserts row-at-a-time through INSERT ... ON CONFLICT
(load.py:10-187).  Spark-first, each semantics is a set-based plan on
(existing snapshot, update batch) pairs — the shape Delta's MERGE
compiles to; without Delta on the classpath we express the anti-join +
union rewrite directly and a ParquetMergeSink handles
read-apply-rewrite, committed atomically through operators/commit.py.

All three merges are replay-idempotent: re-applying the same batch
yields the same snapshot, which is what absorbs the watermark
overlap's duplicates (reference ST2/ST3).
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Window as W, functions as F
from pyspark.sql.types import StructType

from . import commit

# commit-metadata key holding the snapshot's Spark schema (JSON)
_SCHEMA_KEY = "spark_schema"
# committed snapshots retained (the current one and its predecessor)
KEEP_SNAPSHOTS = 2


def _latest_per_key(
    updates: DataFrame, keys: list[str], order_col: str,
    tiebreakers: list[str] | None = None,
) -> DataFrame:
    """Collapse an update batch to one row per key (last version wins).

    ``tiebreakers`` make the winner deterministic when two versions
    share an ``order_col`` value (possible: event timestamps are
    micro-truncated nanos) — pass a unique column like the event id.
    """
    order = [F.col(order_col).desc()] + [F.col(t).desc() for t in (tiebreakers or [])]
    w = W.partitionBy(*keys).orderBy(*order)
    return (
        updates.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def upsert(
    existing: DataFrame,
    updates: DataFrame,
    keys: list[str],
    update_cols: list[str] | None = None,
    order_col: str | None = None,
    tiebreakers: list[str] | None = None,
) -> DataFrame:
    """UPSERT with optional partial update (reference load.py:10-47 L1).

    Insert unmatched rows; for matched keys overwrite only
    ``update_cols`` (the reference's 10 mutable lifecycle fields),
    keeping immutable creation fields from the existing row.
    ``update_cols=None`` replaces the whole row (L3).

    Single full_outer join: one scan of each input (the three-join
    formulation — inner + two anti — tripled snapshot I/O per cycle).
    """
    cols = existing.columns
    if order_col is not None:
        updates = _latest_per_key(updates, keys, order_col, tiebreakers)
    else:
        # One-row-per-key contract even without an ordering column:
        # duplicate keys in the batch would otherwise fan out through
        # the full_outer join.  Which duplicate wins is unspecified —
        # pass order_col (+ tiebreakers) for a deterministic winner.
        updates = updates.dropDuplicates(keys)
    update_cols = [c for c in (update_cols or cols) if c not in keys]

    e = existing.withColumn("__e", F.lit(1)).alias("e")
    u = updates.withColumn("__u", F.lit(1)).alias("u")
    cond = [F.col(f"e.{k}") == F.col(f"u.{k}") for k in keys]
    joined = e.join(u, cond, "full_outer")

    u_present = F.col("u.__u").isNotNull()
    e_present = F.col("e.__e").isNotNull()
    out_cols = [F.coalesce(F.col(f"e.{k}"), F.col(f"u.{k}")).alias(k) for k in keys]
    for c in cols:
        if c in keys:
            continue
        if c in update_cols:
            # matched update + brand-new row take the update side
            expr = F.when(u_present, F.col(f"u.{c}")).otherwise(F.col(f"e.{c}"))
        else:
            # immutable column: existing row wins whenever it exists
            expr = F.when(e_present, F.col(f"e.{c}")).otherwise(F.col(f"u.{c}"))
        out_cols.append(expr.alias(c))
    return joined.select(*out_cols)


def insert_if_absent(existing: DataFrame, updates: DataFrame, keys: list[str]) -> DataFrame:
    """Insert-only merge (reference load.py:117-136 L4 / :169-187 L6).

    Immutable results / event logs: within-batch dedup on the key,
    then left-anti against the snapshot — replayed rows from the
    overlap window vanish, exactly like ON CONFLICT DO NOTHING.
    """
    fresh = updates.dropDuplicates(keys).join(existing, keys, "left_anti")
    return existing.unionByName(fresh.select(*existing.columns))


def scd2_apply_versions(
    existing: DataFrame,
    updates: DataFrame,
    keys: list[str],
    ts_col: str,
    end_col: str = "version_ended_at",
    current_col: str = "is_current_version",
    tiebreakers: list[str] | None = None,
) -> DataFrame:
    """Append-only SCD-2 version stream merge (reference load.py:50-83 L2/L5).

    Source rows are versions: a new version for a key closes the
    previous one (end_col := next version's ts).  The merged snapshot
    recomputes closure across existing ∪ updates with one window pass,
    so replays and out-of-order late versions land correctly —
    set-based, no per-row conflict handling.

    ``tiebreakers``: extra identity columns for versions that can share
    a start timestamp (micro-truncated event times).  Without them two
    distinct same-instant versions would collapse to one in the
    replay-dedup step; with them both survive, ordered by the
    tiebreaker.

    A source-provided ``end_col`` is honored (reference load.py:50-83
    DO UPDATE persists version_ended_at): a version closed at the
    source WITHOUT a successor — a deletion — stays closed, instead of
    being resurrected as current by the recompute.  When a successor
    exists, its start timestamp is authoritative (that's the closure
    the reference loader itself would apply on the next version), so
    the merge uses coalesce(lead(ts), source_end).
    """
    version_key = keys + [ts_col] + (tiebreakers or [])

    def _with_src_end(df: DataFrame) -> DataFrame:
        src = (
            F.col(end_col) if end_col in df.columns
            else F.lit(None).cast(dict(df.dtypes)[ts_col])
        )
        return df.withColumn("__src_end", src).drop(
            *[c for c in (end_col, current_col) if c in df.columns]
        )

    combined = _with_src_end(existing).unionByName(_with_src_end(updates))
    # Replay dedup, preferring the row that carries an explicit end
    # (a closed version record beats its open replay twin).  The final
    # payload-hash key makes the surviving duplicate deterministic when
    # two rows share the version key AND source end but differ in
    # payload — row_number over a tie would otherwise pick a
    # partition-order-dependent winner.
    w_dup = W.partitionBy(*version_key).orderBy(
        F.col("__src_end").isNull().cast("int"),
        F.col("__src_end").desc(),
        F.xxhash64(*[F.col(c) for c in combined.columns]),
    )
    combined = (
        combined.withColumn("__rn", F.row_number().over(w_dup))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    order = [F.col(ts_col)] + [F.col(t) for t in (tiebreakers or [])]
    w = W.partitionBy(*keys).orderBy(*order)
    end = F.coalesce(F.lead(F.col(ts_col)).over(w), F.col("__src_end"))
    return (
        combined.withColumn(end_col, end)
        .withColumn(current_col, end.isNull())
        .drop("__src_end")
    )


ConcurrentWriteError = commit.CommitConflict


class ParquetMergeSink:
    """Versioned-snapshot merge sink on the engine's commit protocol
    (operators/commit.py): each write claims and fills a fresh
    ``snapshot-N`` directory, then publishes it through the ``CURRENT``
    pointer.  Readers always see the last committed snapshot; a second
    writer of the same version raises ``CommitConflict`` before
    writing data.  The last :data:`KEEP_SNAPSHOTS` snapshots are
    retained (time travel over that window).

    BOOKKEEPING WITHOUT SPARK JOBS: ``write`` stores the written
    DataFrame's ``schema.json()`` as commit metadata (``_meta_*``
    files, which Spark's reader skips) inside the snapshot before the
    pointer swap, and ``read`` hands it to ``spark.read.schema`` instead
    of inferring the schema from a footer, which costs a job.  A
    snapshot written without it still reads by inference.  ``write``
    returns the snapshot's row count summed from the committed data
    files' parquet footers rather than re-reading the snapshot.
    """

    def __init__(self, spark, path: str, schema_ddl: str):
        self.spark = spark
        self.path = path
        self.schema_ddl = schema_ddl

    def _pointer(self) -> str:
        return os.path.join(self.path, "CURRENT")

    def current_snapshot(self) -> str | None:
        return (commit.read_pointer(self._pointer()) or "").strip() or None

    def _version(self) -> int:
        snap = self.current_snapshot()
        return int(snap.rsplit("-", 1)[1]) if snap else 0

    def read(self) -> DataFrame:
        snap = self.current_snapshot()
        if snap is None:
            return self.spark.createDataFrame([], self.schema_ddl)
        reader = self.spark.read
        schema = self.current_meta(_SCHEMA_KEY)
        if schema is not None:
            reader = reader.schema(StructType.fromJson(json.loads(schema)))
        return reader.parquet(os.path.join(self.path, snap))

    def write(self, df: DataFrame, meta: dict[str, str] | None = None) -> int:
        version = self._version() + 1
        new_snap = f"snapshot-{version:08d}"
        snap_dir = os.path.join(self.path, new_snap)
        os.makedirs(self.path, exist_ok=True)
        # the snapshot directory itself is the claimed slot
        commit.claim(snap_dir, version, self._version)
        # append, not overwrite: overwrite DELETES the directory before
        # rewriting it, which would momentarily release the CAS claim;
        # the freshly claimed slot is empty, so append is equivalent.
        df.write.mode("append").parquet(snap_dir)
        # commit metadata rides INSIDE the snapshot directory, written
        # BEFORE the pointer swap — so a key (e.g. the streaming
        # maintainer's last-applied epoch) is atomic with the data it
        # describes: a crash between data write and pointer swap loses
        # both together, never one without the other.
        for key, value in {**(meta or {}), _SCHEMA_KEY: df.schema.json()}.items():
            with open(os.path.join(snap_dir, f"_meta_{key}"), "w") as f:
                f.write(value)
        commit.publish(self._pointer(), new_snap)
        # row count from the data files' footers: no Spark job re-reads
        # the snapshot (Spark's reader also skips the _/. files)
        rows = sum(
            pq.read_metadata(os.path.join(snap_dir, name)).num_rows
            for name in os.listdir(snap_dir)
            if not name.startswith(("_", "."))
        )
        commit.vacuum(self.path, "snapshot-", version - KEEP_SNAPSHOTS + 1)
        return rows

    def current_meta(self, key: str) -> str | None:
        """Commit metadata of the CURRENT snapshot (None before the
        first commit or if the key was never written)."""
        snap = self.current_snapshot()
        if snap is None:
            return None
        try:
            with open(os.path.join(self.path, snap, f"_meta_{key}")) as f:
                return f.read()
        except FileNotFoundError:
            return None
