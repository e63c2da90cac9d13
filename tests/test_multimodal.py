"""Multimodal column plumbing: the 1->N frame-sampling shape over
Arrow batches, with the codec step honestly stubbed."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from etl_pipe_spark.operators.multimodal import (
    FRAME_CHARS,
    FRAME_STRIDE,
    sample_frames,
)
from etl_pipe_spark.sources.catalog import load_table


def test_sample_frames_fans_out_and_digests(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    frames = sample_frames(docs)
    # every doc contributes frame 0; long docs contribute more
    n_docs = docs.count()
    assert frames.filter("frame_idx = 0").count() == n_docs
    assert frames.count() > n_docs  # real fan-out at test SF
    # spot-check one long doc end to end
    row = docs.orderBy(F.length("text").desc()).select("doc_id", "text").first()
    got = {
        r.frame_idx: (r.n_frame_chars, r.frame_md5)
        for r in frames.filter(F.col("doc_id") == row.doc_id).collect()
    }
    n_frames = -(-len(row.text) // FRAME_CHARS)
    assert sorted(got) == list(range(0, n_frames, FRAME_STRIDE))
    for fi, (n, digest) in got.items():
        seg = row.text[fi * FRAME_CHARS:(fi + 1) * FRAME_CHARS]
        assert n == len(seg)
        assert digest == hashlib.md5(seg.encode("utf-8")).hexdigest()


def test_null_payloads_are_routed_not_fatal(spark):
    # the poison-pill contract: a null text contributes no frames,
    # never raises
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, None)], "doc_id long, text string")
    frames = sample_frames(docs).collect()
    assert {r.doc_id for r in frames} == {1}
