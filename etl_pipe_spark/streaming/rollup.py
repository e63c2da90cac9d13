"""Streaming incremental aggregate maintenance: the foreachBatch glue
that keeps a rollup table current with exactly-once semantics.

Composes the algebraic partial-merge of
``plans/maintenance_plans.incremental_rollup_merge`` with the
versioned ``ParquetMergeSink``: every micro-batch contributes its
partial aggregates, the stored rollup merges them in a
|groups|-sized shuffle (history is never re-read), and the commit is
atomic — the last-applied epoch id rides inside the snapshot
directory, written before the pointer swap, so batch data and the
"this epoch was applied" fact commit or vanish TOGETHER.

Exactly-once under Structured Streaming's replay contract
(ST3/ST4): foreachBatch may re-deliver an epoch after a crash (the
sink may have committed before the checkpoint advanced).  The
maintainer skips any epoch <= the committed marker, so a replayed
batch is a no-op; a crash BEFORE the pointer swap leaves an orphan
claim that the sink's stale-claim CAS reclaims, and the epoch
re-applies cleanly.  Epochs must arrive in order per maintainer —
exactly Structured Streaming's guarantee for a single query.

The mergeable-aggregate algebra is declared, not hard-coded: ``cnt``
columns merge by sum, ``max_*`` by max — the same
count/sum/max/(avg = sum/cnt at read) decomposition every
incremental materialized view uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators.merge import ParquetMergeSink

_EPOCH_KEY = "last_epoch"


class RollupMaintainer:
    """Maintain ``sink`` as the merged rollup of all applied batches.

    ``keys``: grouping columns; ``merges``: {column: "sum" | "max"} —
    every non-key column of the partials frame must appear here.
    """

    def __init__(self, sink: ParquetMergeSink, keys: list[str],
                 merges: dict[str, str]):
        bad = {m for m in merges.values()} - {"sum", "max"}
        if bad:
            raise ValueError(f"unsupported merge fns: {bad}")
        self.sink = sink
        self.keys = keys
        self.merges = merges

    def last_epoch(self) -> int:
        raw = self.sink.current_meta(_EPOCH_KEY)
        return int(raw) if raw is not None else -1

    def apply_batch(self, partials: DataFrame, epoch_id: int) -> bool:
        """Merge one micro-batch's partial aggregates; returns False
        when the epoch was already applied (replay no-op)."""
        if epoch_id <= self.last_epoch():
            return False
        base = self.sink.committed_version()
        current = self.sink.read()
        aggs = [
            (F.sum(c) if fn == "sum" else F.max(c)).alias(c)
            for c, fn in self.merges.items()
        ]
        merged = (
            current.unionByName(partials.select(*current.columns))
            .groupBy(*self.keys)
            .agg(*aggs)
        )
        self.sink.write(merged, meta={_EPOCH_KEY: str(epoch_id)}, read_version=base)
        return True

    def foreach_batch(self, partial_fn):
        """Adapter for ``stream.writeStream.foreachBatch(...)``:
        ``partial_fn(batch_df) -> partials frame`` (typically the
        plans-layer ``_partial_rollup``)."""

        def _apply(batch_df: DataFrame, epoch_id: int) -> None:
            self.apply_batch(partial_fn(batch_df), epoch_id)

        return _apply
