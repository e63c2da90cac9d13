"""Streaming LSH-index maintenance: exactly-once appends under replay
and worst-point crash (the RollupMaintainer contract carried onto the
epoch-committed index store), plus a REAL Structured Streaming run
through foreachBatch.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_pipe_spark.operators import index_store as IS
from etl_pipe_spark.sources.catalog import load_table
from etl_pipe_spark.streaming.index_maintenance import LshIndexMaintainer
from tests.commit_faults import backdate_epoch_claims


def _corpus(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hist = docs.filter(F.col("doc_id") % 4 == 0)
    stream_docs = docs.filter(F.col("doc_id") % 4 != 0)
    return docs, hist, stream_docs


def _probe_hits(spark, path, text):
    probe = spark.createDataFrame([(9_100_000, text)],
                                  "doc_id long, text string")
    return {r["left_id"]: round(r["jaccard"], 12)
            for r in IS.probe_lsh_index(spark, path, probe).collect()}


def test_streamed_appends_equal_batch_built_index(spark, sf_dir, tmp_path):
    """Feeding the stream docs through N maintained epochs (with one
    replay) must yield an index whose probe results equal an index
    built over the SAME full corpus in one shot."""
    docs, hist, stream_docs = _corpus(spark, sf_dir)
    path = str(tmp_path / "idx")
    IS.build_lsh_index(spark, hist, path)
    m = LshIndexMaintainer(spark, path)

    batches = [stream_docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    apply = m.foreach_batch()
    for epoch, b in enumerate(batches):
        apply(b, epoch)
        if epoch == 1:  # Structured Streaming redelivers after a crash
            assert m.apply_batch(b, epoch) is False
    assert m.last_epoch() == 2

    ref_path = str(tmp_path / "ref")
    IS.build_lsh_index(spark, docs, ref_path)
    src = docs.orderBy("doc_id").first()
    got = _probe_hits(spark, path, src["text"])
    want = _probe_hits(spark, ref_path, src["text"])
    assert got == want and len(got) > 0
    # doc counts agree too (kernel-indexed docs, either route)
    assert (IS.load_index_meta(spark, path)["n_docs"]
            == IS.load_index_meta(spark, ref_path)["n_docs"])


def test_streamed_worst_point_crash_reapplies(spark, sf_dir, tmp_path,
                                              monkeypatch):
    """Crash AFTER the epoch's band/shingle rows landed but BEFORE the
    pointer swap: the stream marker is inside the uncommitted pointer,
    so last_epoch still reports the previous micro-batch and the
    re-delivered batch applies cleanly (stale-claim reclaim purges the
    orphan rows — no duplicates)."""
    docs, hist, stream_docs = _corpus(spark, sf_dir)
    path = str(tmp_path / "idx")
    IS.build_lsh_index(spark, hist, path)
    m = LshIndexMaintainer(spark, path)
    b0 = stream_docs.filter(F.col("doc_id") % 2 == 0)
    b1 = stream_docs.filter(F.col("doc_id") % 2 == 1)
    assert m.apply_batch(b0, 0) is True

    real_commit = IS._commit_epoch
    monkeypatch.setattr(IS, "_commit_epoch",
                        lambda *a, **kw: (_ for _ in ()).throw(
                            RuntimeError("simulated crash")))
    with pytest.raises(RuntimeError, match="simulated crash"):
        m.apply_batch(b1, 1)
    monkeypatch.setattr(IS, "_commit_epoch", real_commit)
    backdate_epoch_claims(path)  # the crashed writer's claim is stale

    m2 = LshIndexMaintainer(spark, path)
    assert m2.last_epoch() == 0            # epoch 1 never committed
    assert m2.apply_batch(b1, 1) is True   # re-delivery applies
    # no duplicate rows from the torn first attempt
    n_bands = spark.read.parquet(f"{path}/bands")
    dup = (n_bands.groupBy("doc_id", "band").count()
           .filter(F.col("count") > 1).count())
    assert dup == 0
    ref_path = str(tmp_path / "ref")
    IS.build_lsh_index(spark, docs, ref_path)
    src = docs.orderBy("doc_id").first()
    assert (_probe_hits(spark, path, src["text"])
            == _probe_hits(spark, ref_path, src["text"]))


def test_real_stream_drives_the_maintainer(spark, sf_dir, tmp_path):
    """End-to-end through a genuine Structured Streaming query: a JSON
    landing zone read as a stream, trigger availableNow, foreachBatch
    = the maintainer adapter — the appended docs are probe-visible
    when the query drains."""
    docs, hist, stream_docs = _corpus(spark, sf_dir)
    path = str(tmp_path / "idx")
    IS.build_lsh_index(spark, hist, path)
    landing = str(tmp_path / "landing")
    stream_docs.limit(50).coalesce(1).write.mode("overwrite").json(landing)

    m = LshIndexMaintainer(spark, path)
    stream = (
        spark.readStream.schema("doc_id long, text string").json(landing)
    )
    q = (
        stream.writeStream
        .foreachBatch(m.foreach_batch(
            lambda df: df.select("doc_id", "text")))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert m.last_epoch() >= 0
    appended_id = stream_docs.limit(50).orderBy("doc_id").first()["doc_id"]
    src_text = docs.filter(F.col("doc_id") == appended_id).first()["text"]
    hits = _probe_hits(spark, path, src_text)
    assert hits.get(appended_id) == 1.0    # streamed doc is indexed
