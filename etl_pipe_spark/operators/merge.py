"""Idempotent sink semantics (reference load.py L1-L6) as set-based merges.

The reference upserts row-at-a-time through INSERT ... ON CONFLICT
(load.py:10-187).  Spark-first, each semantics is a set-based plan on
(existing rows, update batch) pairs — the anti-join + union rewrite a
MERGE compiles to — and a ParquetMergeSink stores a table on the
commit protocol of operators/commit.py.

All three merges are replay-idempotent: re-applying the same batch
yields the same table, which is what absorbs the watermark overlap's
duplicates (reference ST2/ST3).  Given ``existing=None`` each returns
its batch *resolved*: the latest row per key, one row per key, or the
version chains the batch closes.  Those resolutions are associative,
commutative and idempotent, so a keyed sink need not read its table to
merge a batch: it appends the batch's resolved rows as a delta file and
resolves base plus deltas on read, folding the deltas into the base
every :data:`COMPACT_AT` files (merge-on-read; ``ParquetMergeSink``
states why this gives the table the merges give).
"""

from __future__ import annotations

import datetime as dt
import json
import os
from collections import Counter
from typing import Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Window as W, functions as F
from pyspark.sql.types import StructType

from . import commit

# commit-metadata keys: the snapshot's Spark schema (JSON) and its
# manifest, the data files it is made of with their footer figures (JSON)
_SCHEMA_KEY = "spark_schema"
_MANIFEST_KEY = "manifest"
# committed snapshots retained (the current one and its predecessor)
KEEP_SNAPSHOTS = 2
# Files a manifest names before a commit merges some of them.  A
# whole-table read lists every file of the manifest, and
# spark.read.parquet launches a listing job for more than 32 explicit
# paths (sources.parallelPartitionDiscovery.threshold; measured: 32
# paths, no job; 33, one job).
COMPACT_AT = 24
# partition column of a fold's cold/hot split; commit.flatten names its
# files cold-part-* and hot-part-*
_LAYOUT = "__layout"


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
    existing: DataFrame | None,
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

    ``existing=None`` returns the batch's winners alone: the latest row
    per key by (``order_col``, ``tiebreakers``), a max, so that the
    winners of a union equal the winners of the parts' winners.
    """
    if order_col is not None:
        updates = _latest_per_key(updates, keys, order_col, tiebreakers)
    else:
        # One-row-per-key contract even without an ordering column:
        # duplicate keys in the batch would otherwise fan out through
        # the full_outer join.  Which duplicate wins is unspecified —
        # pass order_col (+ tiebreakers) for a deterministic winner.
        updates = updates.dropDuplicates(keys)
    if existing is None:
        return updates
    cols = existing.columns
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


def insert_if_absent(existing: DataFrame | None, updates: DataFrame,
                     keys: list[str]) -> DataFrame:
    """Insert-only merge (reference load.py:117-136 L4 / :169-187 L6).

    Immutable results / event logs: within-batch dedup on the key,
    then left-anti against the snapshot — replayed rows from the
    overlap window vanish, exactly like ON CONFLICT DO NOTHING.
    ``existing=None`` returns the within-batch dedup alone.
    """
    fresh = updates.dropDuplicates(keys)
    if existing is None:
        return fresh
    fresh = fresh.join(existing, keys, "left_anti")
    return existing.unionByName(fresh.select(*existing.columns))


def scd2_apply_versions(
    existing: DataFrame | None,
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

    ``existing=None`` closes the chains of the batch alone.  An existing
    row's end is read as a source end, and a successor's start overrides
    it, so merging a merged table with more versions gives what merging
    all the versions at once gives.
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

    combined = _with_src_end(updates)
    if existing is not None:
        combined = _with_src_end(existing).unionByName(combined)
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


def _ntz(value: dt.datetime):
    """``value`` as a TIMESTAMP_NTZ literal, exact to the microsecond
    and independent of the session time zone."""
    return F.expr(f"TIMESTAMP_NTZ '{value.isoformat(sep=' ')}'")


def _freeze_max(footer, column: str) -> str | None:
    """max(``column``) of a parquet file, from its footer, as ISO text;
    None when the file may hold a NULL there or its statistics cannot
    tell: such a file is never cold."""
    j = footer.schema.names.index(column)
    top = None
    for i in range(footer.num_row_groups):
        stats = footer.row_group(i).column(j).statistics
        if (stats is None or not stats.has_null_count or stats.null_count != 0
                or not stats.has_min_max
                or not isinstance(stats.max, dt.datetime) or stats.max.tzinfo is not None):
            return None
        top = stats.max if top is None else max(top, stats.max)
    return None if top is None else top.isoformat()


def _compaction(files: list[dict]) -> list[dict]:
    """The files a commit merges: none while fewer than
    :data:`COMPACT_AT`, else every file of the size tier (rows within a
    factor of 4) holding most of them, the smallest tier on a tie, and
    of every smaller tier.  A cycle adds a small delta, so compaction
    merges those and leaves large files alone; a merged file lands in a
    larger tier, so each row is rewritten O(log rows) times in all, not
    once per compaction."""
    if len(files) < COMPACT_AT:
        return []
    count = Counter(_tier(e) for e in files)
    tier = max(sorted(count), key=count.__getitem__)
    return [e for e in files if _tier(e) <= tier]


def _tier(entry: dict) -> int:
    return entry.get("rows", 0).bit_length() // 2




class ParquetMergeSink:
    """Versioned table on the engine's commit protocol
    (operators/commit.py): each write claims and fills a fresh
    ``snapshot-N`` directory, then publishes it through the ``CURRENT``
    pointer.  Readers always see the last committed snapshot; a second
    writer of the same version raises ``CommitConflict`` before writing
    data.  The last :data:`KEEP_SNAPSHOTS` snapshots are retained (time
    travel over that window).

    MANIFEST.  A snapshot is the list of data files in its
    ``_meta_manifest``: the files its own write put in ``snapshot-N``
    and files inherited unchanged from older snapshot directories.
    Each entry records the file's rows; a cold file's entry also its
    freeze column's footer max, and a delta's entry ``"delta": true``
    (both below).  Reads go through the list; a snapshot written before
    manifests existed reads as its own files.  ``vacuum`` keeps every
    file a retained manifest names.

    REPLACE OR MERGE.  A sink without ``resolve`` is a plain table:
    ``write(df)`` commits ``df`` as the whole table.  A keyed sink
    declares ``resolve``, which maps rows to the rows they resolve to
    (one of the merges above with ``existing=None``); it must be a
    join in the lattice sense, ``resolve(resolve(A) ∪ B) ==
    resolve(A ∪ B)`` for all row sets A, B.  Its ``write(df)`` merges
    ``df`` into the table without reading it:

    * an *append* writes ``resolve(df)`` as one delta file beside the
      table's files, and is the write of every cycle but a fold's;
    * a *fold* writes ``resolve(open files ∪ df)``, together with the
      cold files :func:`_compaction` picked, and drops every file it
      read.  A commit folds when :func:`_compaction` picks a file, and
      when the table has no open file for a delta to join (the first
      write among them).

    ``read()`` returns the cold files as they are and
    ``resolve(open files)``; a fold's output is resolved already, so
    with no delta among the open files they are returned as they are.

    EXACTNESS OF RESOLUTION.  After writes of batches B1..Bn, ``read()``
    returns ``resolve(B1 ∪ ... ∪ Bn)``: an append adds ``resolve(Bi)``
    and a fold replaces files by their resolution, and by the join law
    neither changes the resolution of the union of all files.  For the
    pipeline's sinks (streaming/incremental.py) that is the table the
    read-merge-rewrite cycle gave:

    * ``dim_users`` keeps the latest row per user by (``updated_at``,
      ``last_event_id``), a max.  The rewrite replaced a stored row by
      its batch's winner, which was at least as late: a batch holds
      every source row at or after its horizon, so the stored winner
      too when it is that recent.
    * ``fact_event_log`` keeps one row per ``source_key``.  Every copy
      of a key is a replay of one immutable source event, so which copy
      survives does not matter; a writer whose rows under one key can
      differ gets one of them, not necessarily the first.
    * ``user_versions`` closes version chains (``scd2_apply_versions``),
      which reads a stored end as a source end that a successor's
      start overrides, so re-closing closed chains with more versions
      closes them as all the versions at once would.

    COLD FILES.  ``freeze_col`` (a ``timestamp_ntz`` column, part of the
    table's definition like its DDL) lets a fold set aside the rows no
    later batch can touch.  A fold given ``horizon`` writes its output
    in ONE Spark job partitioned on ``freeze < horizon`` (a NULL freeze
    value is never below) into ``cold-part-*`` and ``hot-part-*`` files
    (``commit.flatten``).  A cold-side file's entry records the freeze
    column's footer max, absent when the footer shows a NULL or no
    statistics; a file is cold at a horizon only when it has that max
    and the max is below the horizon, which the manifest tells with no
    I/O.  Every other file is open.  A writer passes ``horizon`` = its
    watermark minus the overlap, the lower bound of its batch (every
    batch row has ``ts >= horizon``), and a writer's horizon never
    decreases.  A fold at horizon H reads every open file, so no file
    then shares a key or a chain with its cold rows, and no later batch
    adds one:

    * ``fact_event_log`` (freeze ``event_time``): a later copy of a cold
      row's key replays the same event with ``event_time < H``, and
      every later batch row has ``ts >= H``.
    * ``user_versions`` (freeze ``version_ended_at``): a row with
      ``end < H`` has a successor starting at ``end < H``, and every
      later batch row starts at or after H, so it can neither become
      the successor nor replay the row: the end is final.  An open
      version whose predecessor is cold starts at that predecessor's
      end, below H, so no later version falls between them: the open
      files hold chain suffixes, and resolving them alone closes every
      open version right.

    So cold files are returned as they are.  A write that finds a file
    with a recorded max that is not cold at its horizon (a horizon that
    went back, or none) folds every file that is not cold at it; without
    a horizon it writes no cold side.  A crash before the watermark
    advances replays the batch with the same horizon, which resolution
    absorbs.

    BOOKKEEPING WITHOUT SPARK JOBS: ``write`` stores the written
    DataFrame's ``schema.json()`` as commit metadata (``_meta_*``
    files, which Spark's reader skips) inside the snapshot before the
    pointer swap, and ``read`` hands it to ``spark.read.schema`` instead
    of inferring the schema from a footer, which costs a job.  A
    snapshot written without it still reads by inference.  ``write``
    returns the rows it wrote, from the written files' parquet footers,
    rather than re-reading the snapshot.
    """

    def __init__(self, spark, path: str, schema_ddl: str, freeze_col: str | None = None,
                 resolve: Callable[[DataFrame], DataFrame] | None = None):
        self.spark = spark
        self.path = path
        self.schema_ddl = schema_ddl
        self.freeze_col = freeze_col
        self.resolve = resolve

    def _pointer(self) -> str:
        return os.path.join(self.path, "CURRENT")

    def current_snapshot(self) -> str | None:
        return (commit.read_pointer(self._pointer()) or "").strip() or None

    def committed_version(self) -> int:
        """The committed snapshot's version, 0 before the first commit."""
        snap = self.current_snapshot()
        return int(snap.rsplit("-", 1)[1]) if snap else 0

    def _manifest(self, snap: str) -> list[dict]:
        """The data files of committed snapshot ``snap``."""
        try:
            with open(os.path.join(self.path, snap, f"_meta_{_MANIFEST_KEY}")) as f:
                return json.load(f)["files"]
        except FileNotFoundError:  # written before manifests: its own files
            return [{"path": f"{snap}/{name}"}
                    for name in sorted(os.listdir(os.path.join(self.path, snap)))
                    if not name.startswith(("_", "."))]

    def _is_cold(self, entry: dict, horizon: dt.datetime | None) -> bool:
        return (horizon is not None and entry.get("max") is not None
                and dt.datetime.fromisoformat(entry["max"]) < horizon)

    def _scan(self, entries: list[dict]) -> DataFrame:
        schema = self.current_meta(_SCHEMA_KEY)
        schema = StructType.fromJson(json.loads(schema)) if schema is not None else None
        if not entries:
            return self.spark.createDataFrame([], schema or self.schema_ddl)
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(*[os.path.join(self.path, e["path"]) for e in entries])

    def read(self) -> DataFrame:
        """The committed table: the cold files as they are, the other
        files resolved."""
        snap = self.current_snapshot()
        if snap is None:
            return self.spark.createDataFrame([], self.schema_ddl)
        files = self._manifest(snap)
        cold = [e for e in files if e.get("max") is not None]
        warm = [e for e in files if e.get("max") is None]
        if self.resolve is None or not any(e.get("delta") for e in warm):
            return self._scan(files)
        resolved = self.resolve(self._scan(warm))
        return self._scan(cold).unionByName(resolved) if cold else resolved

    def write(self, df: DataFrame, meta: dict[str, str] | None = None,
              horizon: dt.datetime | None = None, read_version: int | None = None) -> int:
        """Commit ``df`` and return the rows this commit wrote: as the
        whole table, or merged into a keyed sink's table (an append or a
        fold, see the class docstring).  ``horizon`` bounds ``df`` from
        below on the freeze column (every row's ``ts >= horizon``) and
        must never decrease.

        A read-modify-write caller takes ``committed_version()`` before its
        ``read`` and passes it as ``read_version``: the write then commits
        only on top of that version and raises ``CommitConflict`` if
        another writer committed since, whether or not the two writes
        overlapped in time.  Without it the write lands on top of
        whatever is committed (a blind write), which a keyed sink's
        merge needs: it reads nothing but the manifest of the version
        its claim holds."""
        version = (self.committed_version() if read_version is None else read_version) + 1
        new_snap = f"snapshot-{version:08d}"
        snap_dir = os.path.join(self.path, new_snap)
        os.makedirs(self.path, exist_ok=True)
        # the snapshot directory itself is the claimed slot; once it is
        # ours, CURRENT names the predecessor and cannot move
        commit.claim(snap_dir, version, self.committed_version)
        prev = self._manifest(f"snapshot-{version - 1:08d}") if version > 1 else []
        # append, not overwrite: overwrite DELETES the directory before
        # rewriting it, which would momentarily release the CAS claim;
        # the freshly claimed slot is empty, so append is equivalent.
        fold = False
        if self.resolve is None:  # a plain sink: df is the table
            kept, out = [], df
        else:
            cold = [e for e in prev if self._is_cold(e, horizon)]
            warm = [e for e in prev if e not in cold]
            picked = _compaction(prev)
            # a file with a recorded max that is not cold at this horizon
            # may share keys with the batch: fold it back in
            fold = bool(picked) or not warm or any(e.get("max") is not None for e in warm)
            out = self.resolve(df)
            if fold:
                picked = [e for e in picked if e in cold]
                if warm:
                    out = self.resolve(self._scan(warm).unionByName(out))
                if picked:  # their rows in one task: each scan task would write a file
                    out = out.unionByName(self._scan(picked).coalesce(1))
            kept = [e for e in cold if e not in picked] if fold else prev
        if fold and self.freeze_col is not None and horizon is not None:
            freeze = F.col(self.freeze_col)
            to_cold = freeze.isNotNull() & (freeze < _ntz(horizon))
            (out.withColumn(_LAYOUT, F.when(to_cold, "cold").otherwise("hot"))
             .write.partitionBy(_LAYOUT).mode("append").parquet(snap_dir))
            commit.flatten(snap_dir)
        else:
            out.write.mode("append").parquet(snap_dir)
        written = []
        for name in sorted(os.listdir(snap_dir)):
            if name.startswith(("_", ".")):
                continue
            footer = pq.read_metadata(os.path.join(snap_dir, name))
            if footer.num_rows:
                entry = {"path": f"{new_snap}/{name}", "rows": footer.num_rows}
                if name.startswith("cold-"):  # commit.flatten's name for the cold side
                    entry["max"] = _freeze_max(footer, self.freeze_col)
                if self.resolve is not None and not fold:
                    entry["delta"] = True
                written.append(entry)
        manifest = kept + written
        # commit metadata rides INSIDE the snapshot directory, written
        # BEFORE the pointer swap — so a key (e.g. the streaming
        # maintainer's last-applied epoch) is atomic with the data it
        # describes: a crash between data write and pointer swap loses
        # both together, never one without the other.
        for key, value in {**(meta or {}), _SCHEMA_KEY: out.schema.json(),
                           _MANIFEST_KEY: json.dumps({"files": manifest})}.items():
            with open(os.path.join(snap_dir, f"_meta_{key}"), "w") as f:
                f.write(value)
        commit.publish(self._pointer(), new_snap)
        retained = [e["path"] for e in manifest]
        for v in range(max(1, version - KEEP_SNAPSHOTS + 1), version):
            retained += [e["path"] for e in self._manifest(f"snapshot-{v:08d}")]
        commit.vacuum(self.path, "snapshot-", version - KEEP_SNAPSHOTS + 1, frozenset(retained))
        return sum(e["rows"] for e in written)

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
