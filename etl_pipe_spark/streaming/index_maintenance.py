"""Streaming LSH-index maintenance: the foreachBatch glue that keeps a
persisted near-dup index current with exactly-once semantics.

Composes the epoch-committed LSH store (operators/index_store.py on
the commit protocol of operators/commit.py — claimed ``epoch=N`` data
dirs + one atomic ``COMMITTED`` pointer swap) with Structured
Streaming's replay contract, the same shape as
:class:`~..streaming.rollup.RollupMaintainer` for aggregates:

* each micro-batch of new documents appends its band + shingle rows
  under a fresh index epoch, with the STREAM's last-applied epoch id
  riding inside the committed pointer — batch data and the "this
  micro-batch was applied" fact become visible together or not at
  all;
* a re-delivered micro-batch (foreachBatch may replay an epoch after
  a crash when the sink committed before the checkpoint advanced) is
  skipped by the marker — exactly-once;
* a crash BEFORE the pointer swap leaves the index epoch invisible
  and the claim orphaned; the store's stale-claim CAS purges the
  orphan rows on retry and the micro-batch re-applies cleanly.

Epochs must arrive in order per maintainer — Structured Streaming's
guarantee for a single query.  This is the production shape of a
continuously-ingesting dedup pipeline: the landing stream feeds the
index, and each day's (or micro-batch's) probe runs against an index
that is never torn and never double-counts a replayed batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.index_store import append_to_lsh_index, load_index_meta

_EPOCH_KEY = "last_stream_epoch"


class LshIndexMaintainer:
    """Maintain the LSH index at ``path`` from a document stream.

    The index must already exist (``build_lsh_index`` seeds history);
    the maintainer only appends.  ``docs`` frames carry (doc_id, text).
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def last_epoch(self) -> int:
        try:
            meta = load_index_meta(self.spark, self.path)
        except ValueError:  # no committed index yet
            return -1
        return int(meta.get(_EPOCH_KEY, -1))

    def apply_batch(self, docs: DataFrame, epoch_id: int) -> bool:
        """Append one micro-batch of documents; returns False when the
        epoch was already applied (replay no-op)."""
        if epoch_id <= self.last_epoch():
            return False
        append_to_lsh_index(self.spark, docs, self.path,
                            extra_meta={_EPOCH_KEY: int(epoch_id)})
        return True

    def foreach_batch(self, select_fn=None):
        """Adapter for ``stream.writeStream.foreachBatch(...)``;
        ``select_fn(batch_df) -> (doc_id, text) frame`` defaults to
        identity."""

        def _apply(batch_df: DataFrame, epoch_id: int) -> None:
            docs = select_fn(batch_df) if select_fn else batch_df
            self.apply_batch(docs, epoch_id)

        return _apply
