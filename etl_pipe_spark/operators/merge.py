"""Idempotent sink semantics (reference load.py L1-L6) as set-based merges.

The reference upserts row-at-a-time through INSERT ... ON CONFLICT
(load.py:10-187).  Spark-first, each semantics is a set-based plan on
(existing snapshot, update batch) pairs — the shape Delta's MERGE
compiles to; without Delta on the classpath we express the anti-join +
union rewrite directly and a ParquetMergeSink handles
read-apply-rewrite (non-atomic; flagged for production, SURVEY §7
risk 3).

All three merges are replay-idempotent: re-applying the same batch
yields the same snapshot, which is what absorbs the watermark
overlap's duplicates (reference ST2/ST3).
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Window as W, functions as F
from pyspark.sql.types import StructType

# commit-metadata key holding the snapshot's Spark schema (JSON)
_SCHEMA_KEY = "spark_schema"


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


class ConcurrentWriteError(RuntimeError):
    """Another writer committed (or is committing) the same snapshot
    version.  Optimistic-concurrency contract: re-read the sink and
    re-derive the merge from the NEW current snapshot, then retry —
    blindly retrying the same DataFrame would resurrect lost updates.
    """


class ParquetMergeSink:
    """Versioned-snapshot merge sink with an atomic commit pointer
    and optimistic concurrent-writer protection.

    A miniature of the Delta/Iceberg commit protocol: each write lands
    in a fresh ``snapshot-N`` directory, then a one-line ``CURRENT``
    pointer file is swapped via ``os.replace`` (atomic on POSIX).  A
    crash mid-write leaves an orphan snapshot directory but never a
    torn table — readers always see the last committed snapshot.
    ``keep_snapshots`` bounds retention (time travel over the retained
    window).

    CONCURRENT WRITERS (round 6): version N+1's commit slot is claimed
    by exclusive creation of the ``snapshot-(N+1)`` directory itself
    (``mkdir`` is atomic; the loser gets ``FileExistsError``) — the
    same compare-and-swap Delta performs with its ``N.json`` commit
    file.  Two writers that both read snapshot N therefore cannot both
    commit N+1: the loser raises :class:`ConcurrentWriteError` BEFORE
    writing any data, and must re-derive its merge from the winner's
    snapshot (lost-update prevention, not just mutual exclusion).  A
    writer that crashed after claiming the slot but before committing
    leaves an orphan claim; a later writer reclaims it only once the
    claim is ``stale_after_s`` old AND still uncommitted (the pointer
    never advanced to it), so a live slow writer is never clobbered
    within its grace window.

    BOOKKEEPING WITHOUT SPARK JOBS: ``write`` stores the written
    DataFrame's ``schema.json()`` as commit metadata (``_meta_*``
    files, which Spark's reader skips) inside the snapshot before the
    pointer swap, and ``read`` hands it to ``spark.read.schema`` instead
    of inferring the schema from a footer, which costs a job.  A
    snapshot written without it still reads by inference.  ``write``
    returns the snapshot's row count summed from the committed data
    files' parquet footers rather than re-reading the snapshot.
    """

    def __init__(self, spark, path: str, schema_ddl: str, keep_snapshots: int = 2,
                 stale_after_s: float = 3600.0):
        self.spark = spark
        self.path = path
        self.schema_ddl = schema_ddl
        self.keep_snapshots = keep_snapshots
        self.stale_after_s = stale_after_s

    def _pointer(self) -> str:
        return os.path.join(self.path, "CURRENT")

    def current_snapshot(self) -> str | None:
        try:
            with open(self._pointer()) as f:
                return f.read().strip() or None
        except FileNotFoundError:
            return None

    def read(self) -> DataFrame:
        snap = self.current_snapshot()
        if snap is None:
            return self.spark.createDataFrame([], self.schema_ddl)
        reader = self.spark.read
        schema = self.current_meta(_SCHEMA_KEY)
        if schema is not None:
            reader = reader.schema(StructType.fromJson(json.loads(schema)))
        return reader.parquet(os.path.join(self.path, snap))

    def _claim_slot(self, version: int, new_snap: str) -> str:
        """CAS: atomically claim the version slot by creating its
        snapshot directory exclusively.  Raises ConcurrentWriteError
        when another writer holds a live or committed claim."""
        import time

        snap_dir = os.path.join(self.path, new_snap)
        try:
            os.mkdir(snap_dir)
            return snap_dir
        except FileExistsError:
            committed = self.current_snapshot()
            committed_v = (
                int(committed.rsplit("-", 1)[1]) if committed else 0
            )
            age = time.time() - os.path.getmtime(snap_dir)
            if committed_v < version and age > self.stale_after_s:
                # crashed claimant: uncommitted and past the grace
                # window — reclaim the slot (rmtree then re-claim
                # exclusively, so two reclaimers still race safely).
                shutil.rmtree(snap_dir, ignore_errors=True)
                try:
                    os.mkdir(snap_dir)
                    return snap_dir
                except FileExistsError:
                    pass
            raise ConcurrentWriteError(
                f"snapshot slot {new_snap} already claimed "
                f"(committed version {committed_v}, claim age {age:.0f}s); "
                f"re-read the sink and re-derive the merge before retrying"
            )

    def write(self, df: DataFrame, meta: dict[str, str] | None = None) -> int:
        snap = self.current_snapshot()
        version = int(snap.rsplit("-", 1)[1]) + 1 if snap else 1
        new_snap = f"snapshot-{version:08d}"
        os.makedirs(self.path, exist_ok=True)
        snap_dir = self._claim_slot(version, new_snap)
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
        # commit: write pointer sideways, atomically replace
        tmp = self._pointer() + f".tmp-{new_snap}"
        with open(tmp, "w") as f:
            f.write(new_snap)
        os.replace(tmp, self._pointer())
        # row count from the data files' footers: no Spark job re-reads
        # the snapshot (Spark's reader also skips the _/. files)
        rows = sum(
            pq.read_metadata(os.path.join(snap_dir, name)).num_rows
            for name in os.listdir(snap_dir)
            if not name.startswith(("_", "."))
        )
        self._vacuum(version)
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

    def _vacuum(self, current_version: int) -> None:
        """Drop snapshots older than the retention window."""
        cutoff = current_version - self.keep_snapshots
        for name in os.listdir(self.path):
            if name.startswith("snapshot-"):
                try:
                    v = int(name.rsplit("-", 1)[1])
                except ValueError:
                    continue
                if v <= cutoff:
                    shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)
