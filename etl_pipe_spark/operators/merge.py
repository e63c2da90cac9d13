"""Idempotent sink semantics (reference load.py L1-L6) as set-based merges.

The reference upserts row-at-a-time through INSERT ... ON CONFLICT
(load.py:10-187).  Spark-first, each semantics is a set-based plan on
(existing rows, update batch) pairs — the anti-join + union rewrite a
MERGE compiles to — and a ParquetMergeSink handles
read-apply-rewrite, committed atomically through operators/commit.py.

All three merges are replay-idempotent: re-applying the same batch
yields the same snapshot, which is what absorbs the watermark
overlap's duplicates (reference ST2/ST3).

A history table need not be rewritten whole to merge a batch.  Its
sink declares a *freeze column*; given the flow's watermark horizon,
``read`` returns only the files holding the table's *hot region* (rows
whose freeze value is at or above the horizon, or NULL), the merge runs
on (those rows, batch), and ``write`` commits the result beside the
cold files it inherits unchanged — so a cycle's writes are O(batch),
not O(history).  ``ParquetMergeSink`` states why each merge gives the
same table this way as on the whole snapshot.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from collections import Counter

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
# Cold files a manifest names before a commit merges some of them.  A
# whole-table read lists every file of the manifest, and
# spark.read.parquet launches a listing job for more than 32 explicit
# paths (sources.parallelPartitionDiscovery.threshold; measured: 32
# paths, no job; 33, one job); 24 leaves room for the hot files.
COMPACT_AT = 24
# partition column of the layout write; commit.flatten names its files
# cold-part-* and hot-part-*
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


def _compaction(cold: list[dict]) -> list[dict]:
    """The cold files a commit merges into one: none while fewer than
    :data:`COMPACT_AT`, else every file of the size tier (rows within a
    factor of 4) holding most of them, the smallest tier on a tie, and
    of every smaller tier.  A cycle adds small files, so compaction
    merges those and leaves large files alone; a merged file lands in a
    larger tier, so each row is rewritten O(log rows) times in all, not
    once per compaction."""
    if len(cold) < COMPACT_AT:
        return []
    count = Counter(_tier(e) for e in cold)
    tier = max(sorted(count), key=count.__getitem__)
    return [e for e in cold if _tier(e) <= tier]


def _tier(entry: dict) -> int:
    return entry["rows"].bit_length() // 2


class ParquetMergeSink:
    """Versioned-snapshot merge sink on the engine's commit protocol
    (operators/commit.py): each write claims and fills a fresh
    ``snapshot-N`` directory, then publishes it through the ``CURRENT``
    pointer.  Readers always see the last committed snapshot; a second
    writer of the same version raises ``CommitConflict`` before
    writing data.  The last :data:`KEEP_SNAPSHOTS` snapshots are
    retained (time travel over that window).

    MANIFEST.  A snapshot is the list of data files in its
    ``_meta_manifest``: the files its own write put in ``snapshot-N``
    and files inherited unchanged from older snapshot directories.
    Each entry records the file's rows, so counting rows costs no I/O.
    Reads go through the list; a snapshot written before manifests
    existed reads as its own files, all hot.  ``vacuum`` keeps every
    file a retained manifest names.

    HOT REGION.  ``freeze_col`` (a ``timestamp_ntz`` column, part of the
    table's definition like its DDL) splits the table at a horizon: the
    hot region is every row whose freeze value is at or above the
    horizon, or NULL; the other rows are cold.  ``write(df, horizon=)``
    writes ``df`` in ONE Spark job partitioned on that split, into
    ``hot-part-*`` and ``cold-part-*`` files (``commit.flatten``), and
    commits them with the cold files it inherits.  A cold-side file's
    entry also records the freeze column's footer max, absent when the
    footer shows a NULL or no statistics; a file is cold at a horizon
    only when it has that max and the max is below the horizon, which
    the manifest tells with no I/O.  Every other file is hot, and
    ``read(horizon)`` returns all rows of the hot files: the hot region
    and whatever cold rows share a file with it, which the next write
    moves to the cold side.  Without a freeze column or a horizon, read
    and write cover the whole table.

    EXACTNESS: a flow passes ``horizon`` = its watermark minus the
    overlap, the lower bound of its batch (every batch row has
    ``ts >= horizon``), and a flow's horizon never decreases.  Every
    row of a cold file therefore lies below the current horizon too.

    * ``fact_event_log`` (freeze ``event_time``, ``insert_if_absent``):
      a replayed duplicate of ``EV_<id>`` is the same event with the
      same ``event_time >= horizon``, so its stored twin is in a hot
      file; the anti-join against the hot files drops exactly what the
      anti-join against the whole table drops, and cold files are never
      touched.
    * ``user_versions`` (freeze ``version_ended_at``,
      ``scd2_apply_versions``): a row with ``end < horizon`` has a
      successor starting at ``end < horizon``, and every batch row
      starts at ``ts >= horizon``, so no batch row can become its
      successor or replay it: its end is final.  The recompute over
      (hot files, batch) is exact if no hot row has its successor in a
      cold file.  Take a row y of a cold file written at horizon H.  Its
      predecessor x already existed then (a version arriving later
      starts at or after a later horizon, so after y) and ended at
      ``y.ts < H``, so that write put x on the cold side too, or found
      it in a cold file; cold files are never rewritten as hot.  So the
      cold files hold whole chain prefixes, and the hot files the rest.

    A crash before the watermark advances replays the batch with the
    same horizon, so the split stays consistent.  Cold files accumulate
    one per cycle or so; :func:`_compaction` merges them within a normal
    commit once a manifest names :data:`COMPACT_AT`.

    BOOKKEEPING WITHOUT SPARK JOBS: ``write`` stores the written
    DataFrame's ``schema.json()`` as commit metadata (``_meta_*``
    files, which Spark's reader skips) inside the snapshot before the
    pointer swap, and ``read`` hands it to ``spark.read.schema`` instead
    of inferring the schema from a footer, which costs a job.  A
    snapshot written without it still reads by inference.  ``write``
    returns the snapshot's row count summed from the manifest, whose
    new entries come from the written files' parquet footers, rather
    than re-reading the snapshot.
    """

    def __init__(self, spark, path: str, schema_ddl: str, freeze_col: str | None = None):
        self.spark = spark
        self.path = path
        self.schema_ddl = schema_ddl
        self.freeze_col = freeze_col

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
        except FileNotFoundError:  # written before manifests: its own files, all hot
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

    def _read_entries(self, horizon: dt.datetime | None) -> list[dict] | None:
        """The manifest entries of the files ``read(horizon)`` scans, None
        before the first commit."""
        snap = self.current_snapshot()
        if snap is None:
            return None
        return [e for e in self._manifest(snap)
                if self.freeze_col is None or not self._is_cold(e, horizon)]

    def read(self, horizon: dt.datetime | None = None) -> DataFrame:
        """The committed table; with ``horizon``, only its hot files: the
        hot region and the cold rows that share a file with it."""
        entries = self._read_entries(horizon)
        if entries is None:
            return self.spark.createDataFrame([], self.schema_ddl)
        return self._scan(entries)

    def read_rows(self, horizon: dt.datetime | None = None) -> int | None:
        """The number of rows ``read(horizon)`` returns, summed from the
        manifest with no Spark job and no data read; None when a file's
        count is not recorded (a snapshot written before manifests)."""
        entries = self._read_entries(horizon) or []
        if any("rows" not in e for e in entries):
            return None
        return sum(e["rows"] for e in entries)

    def write(self, df: DataFrame, meta: dict[str, str] | None = None,
              horizon: dt.datetime | None = None, read_version: int | None = None) -> int:
        """Commit ``df`` as the table's next snapshot and return its row
        count.  With ``horizon`` (and a freeze column), ``df`` replaces
        only the hot files that ``read(horizon)`` returned; the horizon a
        sink is given must never decrease.

        A read-modify-write caller takes ``committed_version()`` before its
        ``read`` and passes it as ``read_version``: the write then commits
        only on top of that version and raises ``CommitConflict`` if
        another writer committed since, whether or not the two writes
        overlapped in time.  Without it the write lands on top of
        whatever is committed (a blind write)."""
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
        if self.freeze_col is None or horizon is None:
            cold, merged, out = [], [], df
            df.write.mode("append").parquet(snap_dir)
        else:
            cold = [e for e in prev if self._is_cold(e, horizon)]
            merged = _compaction(cold)
            # the merged files' rows in one task: small files each get a
            # scan task of their own, and each task would write a file
            out = df.unionByName(self._scan(merged).coalesce(1)) if merged else df
            freeze = F.col(self.freeze_col)
            to_cold = freeze.isNotNull() & (freeze < _ntz(horizon))
            (out.withColumn(_LAYOUT, F.when(to_cold, "cold").otherwise("hot"))
             .write.partitionBy(_LAYOUT).mode("append").parquet(snap_dir))
            commit.flatten(snap_dir)
        written = []
        for name in sorted(os.listdir(snap_dir)):
            if name.startswith(("_", ".")):
                continue
            footer = pq.read_metadata(os.path.join(snap_dir, name))
            if footer.num_rows:
                entry = {"path": f"{new_snap}/{name}", "rows": footer.num_rows}
                if name.startswith("cold-"):  # commit.flatten's name for the cold side
                    entry["max"] = _freeze_max(footer, self.freeze_col)
                written.append(entry)
        manifest = [e for e in cold if e not in merged] + written
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
        return sum(e["rows"] for e in manifest)

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
