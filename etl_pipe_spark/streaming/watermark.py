"""Per-table incremental watermark state (reference extract.py:10-49 S5/S6).

The reference keeps a low-watermark row per source table in its
target database, re-reads a 90 s overlap band to catch late commits,
and relies on idempotent sinks to absorb the resulting duplicates —
exactly Structured Streaming's "at-least-once + idempotent sink =>
effectively exactly-once" recipe, so we keep the design.

One deliberate fix over the reference: extract.py:33-49 advances the
watermark to NOW() even when the LIMIT cap truncated the batch, so
rows beyond the cap can be skipped forever (SURVEY §2.1 S6 ⚠).  Here
the caller advances to ``max(ts)`` actually processed.

State is one small JSON document per version, read and written with
plain file I/O on the driver: the whole state is a few rows of
bookkeeping, so it never launches a Spark job.  At cluster scale this
is a metadata table (Delta/JDBC), never big data.  Timestamps are
stored as naive ISO-8601 strings, exact to the microsecond.  A target
whose ``CURRENT`` still names a state of the earlier parquet layout (a
directory) reads as empty, so each flow re-scans once from the epoch;
the idempotent merges keep the result identical.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import threading

from ..operators import commit

DEFAULT_EPOCH = dt.datetime(2020, 1, 1)
DEFAULT_OVERLAP_SEC = 90  # reference config.py:29 OVERLAP_SEC


class WatermarkStore:
    """JSON-backed watermark state table (reference etl_watermark,
    setup_target.py:15-32).  ``spark`` is not used: no call launches a
    Spark job.

    Safe for concurrent callers within one process: the pipeline's
    flows advance their own rows from their own threads, and a lock
    serializes each read-modify-publish, so no flow's advance is lost
    to another's and no read opens a state that retention just dropped.
    """

    def __init__(self, spark, path: str, overlap_sec: int = DEFAULT_OVERLAP_SEC):
        self.path = path
        self.overlap_sec = overlap_sec
        self._lock = threading.Lock()

    def _pointer(self) -> str:
        return os.path.join(self.path, "CURRENT")

    def _current_snapshot(self) -> str | None:
        return (commit.read_pointer(self._pointer()) or "").strip() or None

    def _read(self) -> dict[str, dict]:
        """Committed state: ``{table_name: {"last_fetched_at": iso,
        "total_rows_ever": n, "updated_at": iso}}``."""
        snap = self._current_snapshot()
        if snap is None:
            return {}
        try:
            with open(os.path.join(self.path, snap)) as f:
                return json.load(f)["tables"]
        except IsADirectoryError:
            return {}  # earlier parquet layout: re-scan once from the epoch

    def get(self, table_name: str) -> dt.datetime:
        """Low watermark minus the late-data overlap (extract.py:10-31).

        First sight of a table returns the 2020-01-01 epoch default
        (extract.py:31) so the initial cycle scans everything.
        """
        with self._lock:
            row = self._read().get(table_name)
        base = dt.datetime.fromisoformat(row["last_fetched_at"]) if row else DEFAULT_EPOCH
        return base - dt.timedelta(seconds=self.overlap_sec)

    def advance(self, table_name: str, max_ts_processed: dt.datetime | None,
                rows_fetched: int) -> None:
        """Advance to max(ts) actually processed (fixes reference S6 ⚠),
        accumulating the total_rows_ever counter (extract.py:40-47).

        Commit is crash-safe: the new state lands in a versioned
        ``state-N`` file, fsynced, and the commit protocol's pointer
        swap publishes it (operators/commit.py; one writer process whose
        threads take the store's lock, so no claim) — a crash
        mid-advance can never wipe the previous watermarks and reset
        every flow to the 2020 epoch.
        """
        if max_ts_processed is None:
            return  # empty batch: watermark must not move
        with self._lock:
            state = self._read()
            # wall-clock value without its zone, as a timestamp_ntz column keeps it
            ts = max_ts_processed.replace(tzinfo=None)
            prev = state.get(table_name)
            if prev:
                ts = max(ts, dt.datetime.fromisoformat(prev["last_fetched_at"]))
            state[table_name] = {
                "last_fetched_at": ts.isoformat(),
                "total_rows_ever": (prev["total_rows_ever"] if prev else 0) + rows_fetched,
                "updated_at": dt.datetime.now(dt.timezone.utc).replace(tzinfo=None).isoformat(),
            }
            snap = self._current_snapshot()
            version = int(snap.rsplit("-", 1)[1]) + 1 if snap else 1
            new_snap = f"state-{version:08d}"
            os.makedirs(self.path, exist_ok=True)
            commit.write_synced(os.path.join(self.path, new_snap),
                                json.dumps({"tables": state}, sort_keys=True))
            commit.publish(self._pointer(), new_snap)
            # retain one previous state for post-mortems, drop older (a
            # directory of the earlier parquet layout included)
            commit.vacuum(self.path, "state-", version - 1)

    def total_rows(self, table_name: str) -> int:
        with self._lock:
            row = self._read().get(table_name)
        return row["total_rows_ever"] if row else 0
