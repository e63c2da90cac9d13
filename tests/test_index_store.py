"""Persisted IVFPQ index: build/search/append round trips.

The load-bearing property: searching the PERSISTED index returns
literally the same (query_id, neighbor_id, rnk) triples as running the
oracle-checked in-memory IVFADC pipeline with the same centroids and
codebooks — persistence must not be a second implementation.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from etl_pipe_spark.operators import commit, pq as PQ
from etl_pipe_spark.operators.ann import centroid_matrix, ivf_assign_vectorized
from etl_pipe_spark.operators.index_store import (
    append_to_ivfpq_index, build_ivfpq_index, load_index_meta,
    search_ivfpq_index)
from etl_pipe_spark.sources.catalog import load_table
from tests.commit_faults import backdate_epoch_claims


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))


@pytest.fixture(scope="module")
def queries(emb):
    return emb.filter(F.col("vec_id") % 100 == 0) \
              .withColumnRenamed("vec_id", "query_id")


def test_persisted_search_equals_in_memory_pipeline(spark, emb, queries,
                                                    tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivfpq") / "idx")
    stats = build_ivfpq_index(spark, emb, path)
    assert stats["n_vectors"] == emb.count()

    got = sorted(
        tuple(r) for r in
        search_ivfpq_index(spark, path, queries, k=5, nprobe=2).collect())

    # reference: the oracle-checked in-memory path with the identical
    # deterministic centroids + codebooks
    cent_ids, cent_mat = centroid_matrix(emb, stats["k"])
    cb = PQ.pq_codebooks_deterministic(emb, m=stats["m"], ksub=stats["ksub"])
    enc = PQ.pq_encode(emb, cb)
    ranked = ivf_assign_vectorized(emb, cent_ids, cent_mat, nprobe=2)
    ref = sorted(
        tuple(r) for r in
        PQ.ivfpq_adc_topk(enc, ranked, queries, cb, k=5, nprobe=2).collect())
    assert got == ref and len(got) > 0


def test_search_prunes_codes_partitions(spark, emb, queries, tmp_path_factory):
    """The codes scan must carry a cell_bucket PartitionFilter — the
    mechanism that keeps a 10^9-vector search from listing every
    codes file."""
    path = str(tmp_path_factory.mktemp("ivfpq") / "idx")
    build_ivfpq_index(spark, emb, path)
    one_q = queries.limit(1)
    out = search_ivfpq_index(spark, path, one_q, k=5, nprobe=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell_bucket" in plan
    # one query, nprobe=1 -> at most one bucket of files survives
    assert out.count() == 5


def test_append_is_incremental_and_searchable(spark, emb, tmp_path_factory):
    """Appending re-encodes ONLY the batch with the frozen quantizer;
    appended near-copies of a probe vector must dominate its top-k."""
    path = str(tmp_path_factory.mktemp("ivfpq") / "idx")
    build_ivfpq_index(spark, emb, path)
    n0 = load_index_meta(spark, path)["n_vectors"]

    base = emb.filter(F.col("vec_id") == 0).first()
    new_ids = [10_000_000 + i for i in range(3)]
    batch = spark.createDataFrame(
        [(i, list(base["v"])) for i in new_ids],
        "vec_id bigint, v array<double>")
    out = append_to_ivfpq_index(spark, batch, path)
    assert out == {"appended": 3, "n_vectors": n0 + 3}

    # frozen-quantizer contract: byte-identical vectors encode to the
    # SAME codes and land in the SAME cell as their original — the
    # saved centroids/codebooks, not re-derived ones, did the encoding
    codes = spark.read.parquet(f"{path}/codes")
    ref = codes.filter(F.col("vec_id") == 0).first()
    for r in codes.filter(F.col("vec_id").isin(new_ids)).collect():
        assert list(r["codes"]) == list(ref["codes"])
        assert r["cent_id"] == ref["cent_id"]

    # and the appended rows are immediately searchable
    q = spark.createDataFrame([(0, list(base["v"]))],
                              "query_id bigint, v array<double>")
    got = search_ivfpq_index(spark, path, q, k=5, nprobe=1).collect()
    assert len(got) == 5
    assert all(r["neighbor_id"] != 0 for r in got)  # self excluded


# ---------------------------------------------------------------------------
# SQ8 leg (round 7)
# ---------------------------------------------------------------------------

def test_sq8_persisted_search_equals_in_memory(spark, emb, queries,
                                               tmp_path_factory):
    """Search over the persisted SQ8 codes must equal the in-memory
    stats->encode->search pipeline row for row (same kernel, loaded
    decoder)."""
    from etl_pipe_spark.operators.index_store import (
        build_sq8_index, search_sq8_index)
    from etl_pipe_spark.operators.sq8 import (
        sq8_encode, sq8_search_topk, sq8_stats)

    path = str(tmp_path_factory.mktemp("sq8") / "idx")
    meta = build_sq8_index(spark, emb, path)
    assert meta["n_vectors"] == emb.count()

    q = queries.select("query_id", F.col("v").alias("qv"))
    got = sorted(
        tuple(r) for r in
        search_sq8_index(spark, path, q, k=7).collect()
    )
    lo, scale = sq8_stats(emb)
    want = sorted(
        tuple(r) for r in
        sq8_search_topk(sq8_encode(emb, lo, scale), q, lo, scale, k=7)
        .collect()
    )
    assert got == want


def test_sq8_append_frozen_quantizer(spark, emb, tmp_path_factory):
    """Append must encode ONLY the batch with the SAVED (lo, scale):
    byte-identical vectors get byte-identical codes, history bytes are
    untouched, out-of-range values clip to the code range ends, and
    appended rows are immediately searchable."""
    from etl_pipe_spark.operators.index_store import (
        append_to_sq8_index, build_sq8_index, search_sq8_index)

    path = str(tmp_path_factory.mktemp("sq8") / "idx")
    build_sq8_index(spark, emb, path)
    before = {r["vec_id"]: bytes(r["codes"])
              for r in spark.read.parquet(f"{path}/codes").collect()}

    base = emb.filter(F.col("vec_id") == 0).first()
    dim = len(base["v"])
    batch = spark.createDataFrame(
        [(10_000_000, list(base["v"])),
         (10_000_001, [1e9] * dim),     # far above every saved max
         (10_000_002, [-1e9] * dim)],   # far below every saved min
        "vec_id bigint, v array<double>")
    out = append_to_sq8_index(spark, batch, path)
    assert out["appended"] == 3

    after = {r["vec_id"]: bytes(r["codes"])
             for r in spark.read.parquet(f"{path}/codes").collect()}
    # history untouched, copy identical, extremes clipped
    assert {k: v for k, v in after.items() if k in before} == before
    assert after[10_000_000] == before[0]
    assert after[10_000_001] == bytes([255] * dim)
    assert after[10_000_002] == bytes([0] * dim)

    q = spark.createDataFrame([(0, list(base["v"]))],
                              "query_id bigint, qv array<double>")
    got = search_sq8_index(spark, path, q, k=5).collect()
    assert len(got) == 5
    assert all(r["neighbor_id"] != 0 for r in got)      # self excluded
    assert any(r["neighbor_id"] == 10_000_000 for r in got)  # copy found


# ---------------------------------------------------------------------------
# LSH leg (round 7)
# ---------------------------------------------------------------------------

def test_lsh_persisted_probe_equals_in_memory(spark, sf_dir, tmp_path_factory):
    """Probing the persisted band/shingle tables must produce the same
    verified pairs as the all-in-memory probe pipeline."""
    from etl_pipe_spark.operators.dedup import (
        jaccard_verify, lsh_probe_pairs, minhash_signatures_arrays,
        shingle_arrays)
    from etl_pipe_spark.operators.index_store import (
        build_lsh_index, probe_lsh_index)
    from etl_pipe_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hist = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)

    path = str(tmp_path_factory.mktemp("lsh") / "idx")
    meta = build_lsh_index(spark, hist, path)
    assert meta["n_docs"] == hist.count()

    got = sorted(
        (r["left_id"], r["right_id"], round(r["jaccard"], 12))
        for r in probe_lsh_index(spark, path, batch, threshold=0.5).collect()
    )
    sharr = shingle_arrays(docs, n=3)
    cand = lsh_probe_pairs(
        minhash_signatures_arrays(sharr.filter(F.col("doc_id") % 5 != 0)),
        minhash_signatures_arrays(sharr.filter(F.col("doc_id") % 5 == 0)))
    want = sorted(
        (r["left_id"], r["right_id"], round(r["jaccard"], 12))
        for r in jaccard_verify(sharr, cand, 0.5).collect()
    )
    assert got == want and len(got) > 0


def test_lsh_build_error_leaves_no_cache(spark, tmp_path):
    """A build over documents that never reach shingle_n tokens raises
    and releases the kernel frame it cached for the count."""
    from etl_pipe_spark.operators.index_store import build_lsh_index

    spark.catalog.clearCache()
    docs = spark.createDataFrame(
        [(1, "too short"), (2, "tiny")], "doc_id long, text string")
    with pytest.raises(ValueError, match="no doc reaches shingle_n"):
        build_lsh_index(spark, docs, str(tmp_path / "idx"), shingle_n=3)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_lsh_append_only_touches_batch(spark, sf_dir, tmp_path_factory):
    """Append must add ONLY the batch's band/shingle rows (frozen
    shingle_n, immutable history files) and make the appended docs
    immediately matchable: a verbatim copy of a history doc appended
    under a new id must probe back to jaccard 1.0 against it."""
    from etl_pipe_spark.operators.index_store import (
        append_to_lsh_index, build_lsh_index, probe_lsh_index)
    from etl_pipe_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hist = docs.filter(F.col("doc_id") % 5 != 0)
    path = str(tmp_path_factory.mktemp("lsh") / "idx")
    build_lsh_index(spark, hist, path)
    bands_before = spark.read.parquet(f"{path}/bands").count()

    src = hist.orderBy("doc_id").first()
    copy = spark.createDataFrame(
        [(9_000_001, src["text"]), (9_000_002, "utterly novel words only")],
        "doc_id long, text string")
    out = append_to_lsh_index(spark, copy, path)
    assert out["appended"] == 2

    bands_after = spark.read.parquet(f"{path}/bands")
    assert bands_after.count() == bands_before + 2 * 4  # N_BANDS rows each
    assert bands_after.filter(F.col("doc_id") == 9_000_001).count() == 4

    probe = spark.createDataFrame(
        [(9_100_000, src["text"])], "doc_id long, text string")
    hits = {r["left_id"]: r["jaccard"]
            for r in probe_lsh_index(spark, path, probe).collect()}
    assert hits.get(src["doc_id"]) == 1.0     # original still matches
    assert hits.get(9_000_001) == 1.0          # appended copy matches too


# ---------------------------------------------------------------------------
# Commit protocol (round 8): a worst-point crash leaves appended data
# INVISIBLE (never half-applied), concurrent appends are excluded by the
# CAS claim, and a stale crashed claim is reclaimed without duplicating
# rows — the ParquetMergeSink convention (operators/merge.py) adapted to
# append-only epoch directories.
# ---------------------------------------------------------------------------

def _lsh_fixture(spark, sf_dir, tmp_path_factory):
    from etl_pipe_spark.operators.index_store import build_lsh_index
    from etl_pipe_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hist = docs.filter(F.col("doc_id") % 5 != 0)
    path = str(tmp_path_factory.mktemp("lsh-torn") / "idx")
    build_lsh_index(spark, hist, path)
    return docs, hist, path


def test_lsh_torn_append_invisible_then_recovered(
        spark, sf_dir, tmp_path_factory, monkeypatch):
    """Crash at the worst point — data epoch fully written, pointer not
    swapped: the probe and the meta must behave as if the append never
    happened; a retry must first be fenced by the live claim, then
    (once the claim is stale) succeed with EXACTLY one copy of the
    batch — the orphan epoch is purged, not double-appended."""
    from etl_pipe_spark.operators import index_store as IS

    docs, hist, path = _lsh_fixture(spark, sf_dir, tmp_path_factory)
    meta0 = IS.load_index_meta(spark, path)
    src = hist.orderBy("doc_id").first()
    probe = spark.createDataFrame([(9_100_000, src["text"])],
                                  "doc_id long, text string")
    hits0 = sorted((r["left_id"], round(r["jaccard"], 12)) for r in
                   IS.probe_lsh_index(spark, path, probe).collect())

    batch = spark.createDataFrame([(9_000_001, src["text"])],
                                  "doc_id long, text string")
    real_commit = IS._commit_epoch

    def crash(*a, **kw):
        raise RuntimeError("simulated crash before pointer swap")

    monkeypatch.setattr(IS, "_commit_epoch", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        IS.append_to_lsh_index(spark, batch, path)

    # torn epoch is INVISIBLE: meta unchanged, probe result unchanged
    assert IS.load_index_meta(spark, path) == meta0
    hits1 = sorted((r["left_id"], round(r["jaccard"], 12)) for r in
                   IS.probe_lsh_index(spark, path, probe).collect())
    assert hits1 == hits0
    assert not any(lid == 9_000_001 for lid, _ in hits1)

    # the crashed claimant's slot fences a second appender...
    monkeypatch.setattr(IS, "_commit_epoch", real_commit)
    with pytest.raises(commit.CommitConflict):
        IS.append_to_lsh_index(spark, batch, path)
    # ...until the claim is stale; the retry must not duplicate rows
    backdate_epoch_claims(path)
    out = IS.append_to_lsh_index(spark, batch, path)
    assert out["appended"] == 1
    meta2 = IS.load_index_meta(spark, path)
    assert meta2["epoch"] == meta0["epoch"] + 1
    assert meta2["n_docs"] == meta0["n_docs"] + 1
    bands = spark.read.parquet(f"{path}/bands")
    assert bands.filter(F.col("doc_id") == 9_000_001).count() == 4  # N_BANDS
    hits2 = {r["left_id"]: r["jaccard"] for r in
             IS.probe_lsh_index(spark, path, probe).collect()}
    assert hits2.get(9_000_001) == 1.0


def test_lsh_crash_between_bands_and_shingles_writes(
        spark, sf_dir, tmp_path_factory, monkeypatch):
    """The r7 design's sharpest tear: bands rows on disk, shingle sets
    missing — candidates with no verify arrays.  Under the epoch
    protocol the half-written epoch is invisible and the stale-claim
    retry heals it."""
    from etl_pipe_spark.operators import index_store as IS

    docs, hist, path = _lsh_fixture(spark, sf_dir, tmp_path_factory)
    meta0 = IS.load_index_meta(spark, path)
    src = hist.orderBy("doc_id").first()
    batch = spark.createDataFrame([(9_000_001, src["text"])],
                                  "doc_id long, text string")
    real_write = IS._write_lsh_rows

    def half_write(rows, p, epoch):
        (rows.select("doc_id", F.posexplode("band_keys")
                     .alias("band", "band_key"))
         .write.mode("append").parquet(f"{p}/bands/epoch={epoch}"))
        raise RuntimeError("simulated crash between the two table writes")

    monkeypatch.setattr(IS, "_write_lsh_rows", half_write)
    with pytest.raises(RuntimeError, match="between the two"):
        IS.append_to_lsh_index(spark, batch, path)
    assert IS.load_index_meta(spark, path) == meta0

    probe = spark.createDataFrame([(9_100_000, src["text"])],
                                  "doc_id long, text string")
    hits = {r["left_id"] for r in
            IS.probe_lsh_index(spark, path, probe).collect()}
    assert 9_000_001 not in hits          # torn bands rows invisible
    assert src["doc_id"] in hits          # history intact

    monkeypatch.setattr(IS, "_write_lsh_rows", real_write)
    backdate_epoch_claims(path)
    out = IS.append_to_lsh_index(spark, batch, path)
    assert out["appended"] == 1
    bands = spark.read.parquet(f"{path}/bands")
    assert bands.filter(F.col("doc_id") == 9_000_001).count() == 4
    hits2 = {r["left_id"]: r["jaccard"] for r in
             IS.probe_lsh_index(spark, path, probe).collect()}
    assert hits2.get(9_000_001) == 1.0


def test_ivfpq_torn_append_invisible_then_recovered(
        spark, emb, queries, tmp_path_factory, monkeypatch):
    """Same contract on the IVFPQ leg: searched results are identical
    before the torn append and after it, and the stale-claim retry
    lands the batch exactly once."""
    from etl_pipe_spark.operators import index_store as IS

    path = str(tmp_path_factory.mktemp("ivfpq-torn") / "idx")
    IS.build_ivfpq_index(spark, emb, path)
    meta0 = IS.load_index_meta(spark, path)
    base = emb.filter(F.col("vec_id") == 0).first()
    q = spark.createDataFrame([(0, list(base["v"]))],
                              "query_id bigint, v array<double>")
    got0 = sorted(tuple(r) for r in
                  IS.search_ivfpq_index(spark, path, q, k=5, nprobe=1).collect())

    batch = spark.createDataFrame([(10_000_000, list(base["v"]))],
                                  "vec_id bigint, v array<double>")
    real_commit = IS._commit_epoch
    monkeypatch.setattr(IS, "_commit_epoch",
                        lambda *a, **kw: (_ for _ in ()).throw(
                            RuntimeError("simulated crash")))
    with pytest.raises(RuntimeError, match="simulated crash"):
        IS.append_to_ivfpq_index(spark, batch, path)
    assert IS.load_index_meta(spark, path) == meta0
    got1 = sorted(tuple(r) for r in
                  IS.search_ivfpq_index(spark, path, q, k=5, nprobe=1).collect())
    assert got1 == got0

    monkeypatch.setattr(IS, "_commit_epoch", real_commit)
    with pytest.raises(commit.CommitConflict):
        IS.append_to_ivfpq_index(spark, batch, path)
    backdate_epoch_claims(path)
    out = IS.append_to_ivfpq_index(spark, batch, path)
    assert out == {"appended": 1, "n_vectors": meta0["n_vectors"] + 1}
    codes = spark.read.parquet(f"{path}/codes")
    assert codes.filter(F.col("vec_id") == 10_000_000).count() == 1  # no dup


def test_sq8_concurrent_append_excluded(spark, emb, tmp_path_factory):
    """A live claim fences a concurrent appender BEFORE it writes any
    data (lost-update prevention, the ParquetMergeSink CAS)."""
    import os

    from etl_pipe_spark.operators import index_store as IS

    path = str(tmp_path_factory.mktemp("sq8-cas") / "idx")
    IS.build_sq8_index(spark, emb, path)
    os.mkdir(f"{path}/_claim-epoch-00000001")  # another writer's claim

    base = emb.filter(F.col("vec_id") == 0).first()
    batch = spark.createDataFrame([(10_000_000, list(base["v"]))],
                                  "vec_id bigint, v array<double>")
    with pytest.raises(commit.CommitConflict):
        IS.append_to_sq8_index(spark, batch, path)
    assert not os.path.exists(f"{path}/codes/epoch=1")  # nothing written
    assert IS.load_index_meta(spark, path)["epoch"] == 0

    os.rmdir(f"{path}/_claim-epoch-00000001")  # winner released
    out = IS.append_to_sq8_index(spark, batch, path)
    assert out["appended"] == 1
    assert IS.load_index_meta(spark, path)["epoch"] == 1


def test_lsh_bands_footers_are_range_clustered(spark, sf_dir,
                                               tmp_path_factory):
    """The bands write must leave REAL parquet footers whose per-file
    band_key ranges are disjoint (range clustering + in-file sort) —
    the property that lets a small probe's key predicate skip
    non-overlapping row groups.  Hash clustering left every footer
    spanning the whole md5 keyspace; a point key then pruned nothing."""
    import glob

    from test_layout_ops import _file_stats

    _, _, path = _lsh_fixture(spark, sf_dir, tmp_path_factory)
    files = sorted(glob.glob(f"{path}/bands/epoch=0/*.parquet"))
    stats = _file_stats(f"{path}/bands/epoch=0", ["band_key"])
    spans = sorted((s["band_key"][0], s["band_key"][1]) for s in stats
                   if s["band_key"][0] is not None)
    assert len(spans) >= 4 and len(files) >= 4
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, f"overlapping file ranges: {hi1} > {lo2}"
    # a point key falls inside at most ONE file's range
    probe_key = spans[len(spans) // 2][0]
    containing = sum(1 for lo, hi in spans if lo <= probe_key <= hi)
    assert containing == 1


# ---------------------------------------------------------------------------
# Compaction (round 8): consolidate epochs atomically — the OPTIMIZE
# answer to a year of daily appends.
# ---------------------------------------------------------------------------

def _glob_epochs(path, table):
    import glob
    import os
    return sorted(
        os.path.basename(p)
        for p in glob.glob(f"{path}/{table}/epoch=*") if os.path.isdir(p))


def test_lsh_compaction_preserves_results_and_consolidates(
        spark, sf_dir, tmp_path_factory):
    """After several appends + one compaction: probe results identical,
    epoch dirs collapse to one, replaced dirs vacuumed, meta counts
    preserved, bands footers are globally range-clustered again, and
    the store keeps accepting appends afterwards."""
    import glob

    from test_layout_ops import _file_stats

    from etl_pipe_spark.operators.index_store import (
        append_to_lsh_index, build_lsh_index, compact_lsh_index,
        load_index_meta, probe_lsh_index)
    from etl_pipe_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hist = docs.filter(F.col("doc_id") % 5 != 0)
    path = str(tmp_path_factory.mktemp("lsh-compact") / "idx")
    build_lsh_index(spark, hist, path)
    src = hist.orderBy("doc_id").first()
    for i in range(3):  # three daily batches, incl. a copy of src
        batch = spark.createDataFrame(
            [(9_000_000 + i, src["text"] if i == 0 else f"batch {i} words"
              + " filler tokens for shingles")],
            "doc_id long, text string")
        append_to_lsh_index(spark, batch, path)
    meta_before = load_index_meta(spark, path)
    assert _glob_epochs(path, "bands") == [
        "epoch=0", "epoch=1", "epoch=2", "epoch=3"]

    probe = spark.createDataFrame([(9_100_000, src["text"])],
                                  "doc_id long, text string")
    hits_before = sorted(
        (r["left_id"], round(r["jaccard"], 12))
        for r in probe_lsh_index(spark, path, probe).collect())
    assert any(l == 9_000_000 for l, _ in hits_before)  # appended copy

    out = compact_lsh_index(spark, path)
    assert out["n_docs"] == meta_before["n_docs"]
    meta_after = load_index_meta(spark, path)
    assert meta_after["epoch"] == meta_after["epoch_base"] == 4
    assert meta_after["n_docs"] == meta_before["n_docs"]
    # replaced epochs vacuumed; one consolidated dir per table
    assert _glob_epochs(path, "bands") == ["epoch=4"]
    assert _glob_epochs(path, "shingles") == ["epoch=4"]

    hits_after = sorted(
        (r["left_id"], round(r["jaccard"], 12))
        for r in probe_lsh_index(spark, path, probe).collect())
    assert hits_after == hits_before

    # global range clustering restored: disjoint per-file key ranges
    spans = sorted(
        (s["band_key"][0], s["band_key"][1])
        for s in _file_stats(f"{path}/bands/epoch=4", ["band_key"])
        if s["band_key"][0] is not None)
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2
    # and the store keeps working: append after compaction
    post = spark.createDataFrame([(9_500_000, src["text"])],
                                 "doc_id long, text string")
    append_to_lsh_index(spark, post, path)
    hits_post = {r["left_id"] for r in
                 probe_lsh_index(spark, path, probe).collect()}
    assert 9_500_000 in hits_post and 9_000_000 in hits_post


def test_lsh_compaction_crash_is_invisible_then_heals(
        spark, sf_dir, tmp_path_factory, monkeypatch):
    """Crash after the consolidated rows are written but before the
    pointer swap: readers still see the multi-epoch window unchanged;
    the retried compaction stale-reclaims and lands exactly once."""
    from etl_pipe_spark.operators import index_store as IS
    from etl_pipe_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hist = docs.filter(F.col("doc_id") % 5 != 0)
    path = str(tmp_path_factory.mktemp("lsh-compact-crash") / "idx")
    IS.build_lsh_index(spark, hist, path)
    src = hist.orderBy("doc_id").first()
    IS.append_to_lsh_index(spark, spark.createDataFrame(
        [(9_000_000, src["text"])], "doc_id long, text string"), path)
    meta0 = IS.load_index_meta(spark, path)
    probe = spark.createDataFrame([(9_100_000, src["text"])],
                                  "doc_id long, text string")
    hits0 = sorted((r["left_id"], round(r["jaccard"], 12)) for r in
                   IS.probe_lsh_index(spark, path, probe).collect())

    real_commit = IS._commit_epoch
    monkeypatch.setattr(IS, "_commit_epoch",
                        lambda *a, **kw: (_ for _ in ()).throw(
                            RuntimeError("simulated crash")))
    with pytest.raises(RuntimeError, match="simulated crash"):
        IS.compact_lsh_index(spark, path)
    assert IS.load_index_meta(spark, path) == meta0
    hits1 = sorted((r["left_id"], round(r["jaccard"], 12)) for r in
                   IS.probe_lsh_index(spark, path, probe).collect())
    assert hits1 == hits0

    monkeypatch.setattr(IS, "_commit_epoch", real_commit)
    backdate_epoch_claims(path)
    out = IS.compact_lsh_index(spark, path)
    assert out["n_docs"] == meta0["n_docs"]
    hits2 = sorted((r["left_id"], round(r["jaccard"], 12)) for r in
                   IS.probe_lsh_index(spark, path, probe).collect())
    assert hits2 == hits0
    # no duplicated rows from the orphaned first attempt
    bands = spark.read.parquet(f"{path}/bands")
    assert (bands.groupBy("doc_id", "band").count()
            .filter(F.col("count") > 1).count()) == 0


def test_ivfpq_and_sq8_compaction_preserve_search(spark, emb, queries,
                                                  tmp_path_factory):
    """Same contract on the vector legs: search results byte-identical
    across append -> compact, epoch dirs consolidated."""
    from etl_pipe_spark.operators.index_store import (
        append_to_ivfpq_index, append_to_sq8_index, build_ivfpq_index,
        build_sq8_index, compact_ivfpq_index, compact_sq8_index,
        search_ivfpq_index, search_sq8_index)

    base = emb.filter(F.col("vec_id") == 0).first()
    batch = spark.createDataFrame([(10_000_000, list(base["v"]))],
                                  "vec_id bigint, v array<double>")
    q = spark.createDataFrame([(0, list(base["v"]))],
                              "query_id bigint, v array<double>")

    p1 = str(tmp_path_factory.mktemp("ivfpq-compact") / "idx")
    build_ivfpq_index(spark, emb, p1)
    append_to_ivfpq_index(spark, batch, p1)
    before = sorted(tuple(r) for r in
                    search_ivfpq_index(spark, p1, q, k=5, nprobe=2).collect())
    compact_ivfpq_index(spark, p1)
    assert _glob_epochs(p1, "codes") == ["epoch=2"]
    after = sorted(tuple(r) for r in
                   search_ivfpq_index(spark, p1, q, k=5, nprobe=2).collect())
    assert after == before

    p2 = str(tmp_path_factory.mktemp("sq8-compact") / "idx")
    build_sq8_index(spark, emb, p2)
    append_to_sq8_index(spark, batch, p2)
    qq = q.withColumnRenamed("v", "qv")
    before = sorted(tuple(r) for r in
                    search_sq8_index(spark, p2, qq, k=5).collect())
    compact_sq8_index(spark, p2)
    assert _glob_epochs(p2, "codes") == ["epoch=2"]
    after = sorted(tuple(r) for r in
                   search_sq8_index(spark, p2, qq, k=5).collect())
    assert after == before


# ---------------------------------------------------------------------------
# BQ leg (round 8): sign-bit codes under the same store contract
# ---------------------------------------------------------------------------

def test_bq_persisted_search_equals_in_memory(spark, emb, queries,
                                              tmp_path_factory):
    """The persisted BQ search must return literally the same
    (query_id, neighbor_id, hamming) triples as the in-memory
    hamming_shortlist over freshly-packed codes — persistence is not a
    second implementation (the trilogy property, fourth leg)."""
    from etl_pipe_spark.operators import bq as BQ
    from etl_pipe_spark.operators.index_store import (
        build_bq_index, search_bq_index)

    path = str(tmp_path_factory.mktemp("bq") / "idx")
    stats = build_bq_index(spark, emb, path)
    assert stats["n_vectors"] == emb.count()

    qq = queries.withColumnRenamed("v", "qv")
    got = sorted(tuple(r) for r in
                 search_bq_index(spark, path, qq, shortlist=25).collect())

    thresholds = BQ.bq_thresholds(emb)
    codes = BQ.bq_pack(emb, thresholds, "v", prefix="code")
    packed_q = BQ.bq_pack(qq, thresholds, "qv", prefix="qcode").drop("qv")
    ref = sorted(tuple(r) for r in
                 BQ.hamming_shortlist(codes, packed_q, len(thresholds),
                                      25).collect())
    assert got == ref and len(got) > 0


def test_bq_append_frozen_thresholds(spark, emb, tmp_path_factory):
    """Appending packs ONLY the batch with the SAVED thresholds:
    byte-identical vectors get byte-identical code words, history
    files are untouched, and the appended rows are searchable."""
    import os

    from etl_pipe_spark.operators.index_store import (
        append_to_bq_index, build_bq_index, load_index_meta,
        search_bq_index)

    path = str(tmp_path_factory.mktemp("bq-append") / "idx")
    build_bq_index(spark, emb, path)
    n0 = load_index_meta(spark, path)["n_vectors"]
    files0 = sorted(os.listdir(f"{path}/codes/epoch=0"))

    base = emb.filter(F.col("vec_id") == 0).first()
    new_ids = [10_000_000 + i for i in range(3)]
    batch = spark.createDataFrame(
        [(i, list(base["v"])) for i in new_ids],
        "vec_id bigint, v array<double>")
    out = append_to_bq_index(spark, batch, path)
    assert out == {"appended": 3, "n_vectors": n0 + 3}
    assert sorted(os.listdir(f"{path}/codes/epoch=0")) == files0  # immutable

    codes = spark.read.parquet(f"{path}/codes")
    ref = codes.filter(F.col("vec_id") == 0).first()
    for r in codes.filter(F.col("vec_id").isin(new_ids)).collect():
        assert r["code0"] == ref["code0"] and r["code1"] == ref["code1"]

    q = spark.createDataFrame([(0, list(base["v"]))],
                              "query_id bigint, qv array<double>")
    got = search_bq_index(spark, path, q, shortlist=5).collect()
    assert {r["neighbor_id"] for r in got} >= set(new_ids)  # hamming 0
    assert all(r["neighbor_id"] != 0 for r in got)  # self excluded


def test_bq_torn_append_invisible_then_recovered(
        spark, emb, tmp_path_factory, monkeypatch):
    """A crash before the pointer swap leaves search results identical
    and the meta untouched; the stale-claim retry lands the batch
    exactly once."""
    from etl_pipe_spark.operators import index_store as IS

    path = str(tmp_path_factory.mktemp("bq-torn") / "idx")
    IS.build_bq_index(spark, emb, path)
    meta0 = IS.load_index_meta(spark, path)
    base = emb.filter(F.col("vec_id") == 0).first()
    q = spark.createDataFrame([(0, list(base["v"]))],
                              "query_id bigint, qv array<double>")
    got0 = sorted(tuple(r) for r in
                  IS.search_bq_index(spark, path, q, shortlist=10).collect())

    batch = spark.createDataFrame([(10_000_000, list(base["v"]))],
                                  "vec_id bigint, v array<double>")
    real_commit = IS._commit_epoch
    monkeypatch.setattr(IS, "_commit_epoch",
                        lambda *a, **kw: (_ for _ in ()).throw(
                            RuntimeError("simulated crash")))
    with pytest.raises(RuntimeError, match="simulated crash"):
        IS.append_to_bq_index(spark, batch, path)
    assert IS.load_index_meta(spark, path) == meta0
    got1 = sorted(tuple(r) for r in
                  IS.search_bq_index(spark, path, q, shortlist=10).collect())
    assert got1 == got0

    monkeypatch.setattr(IS, "_commit_epoch", real_commit)
    with pytest.raises(commit.CommitConflict):
        IS.append_to_bq_index(spark, batch, path)
    backdate_epoch_claims(path)
    out = IS.append_to_bq_index(spark, batch, path)
    assert out == {"appended": 1, "n_vectors": meta0["n_vectors"] + 1}
    codes = spark.read.parquet(f"{path}/codes")
    assert codes.filter(F.col("vec_id") == 10_000_000).count() == 1


def test_bq_compaction_preserves_search(spark, emb, tmp_path_factory):
    """Search results byte-identical across append -> compact; epoch
    dirs consolidated to one."""
    from etl_pipe_spark.operators.index_store import (
        append_to_bq_index, build_bq_index, compact_bq_index,
        search_bq_index)

    base = emb.filter(F.col("vec_id") == 0).first()
    batch = spark.createDataFrame([(10_000_000, list(base["v"]))],
                                  "vec_id bigint, v array<double>")
    q = spark.createDataFrame([(0, list(base["v"]))],
                              "query_id bigint, qv array<double>")

    path = str(tmp_path_factory.mktemp("bq-compact") / "idx")
    build_bq_index(spark, emb, path)
    append_to_bq_index(spark, batch, path)
    before = sorted(tuple(r) for r in
                    search_bq_index(spark, path, q, shortlist=10).collect())
    compact_bq_index(spark, path)
    assert _glob_epochs(path, "codes") == ["epoch=2"]
    after = sorted(tuple(r) for r in
                   search_bq_index(spark, path, q, shortlist=10).collect())
    assert after == before


def test_ivfpq_lifecycle_epoch_granularity_is_result_neutral(
        spark, emb, queries, tmp_path_factory):
    """The ivfpq_index_lifecycle property, pinned locally: with the
    quantizer trained + frozen on the same seed, HOW the rest of the
    corpus arrives (two appends + compact vs one append, no compact)
    is invisible to search — epoch granularity and compaction move
    bytes, never rankings."""
    from etl_pipe_spark.operators.index_store import compact_ivfpq_index

    seed = emb.filter(F.col("vec_id") % 3 == 0)
    rest = emb.filter(F.col("vec_id") % 3 != 0)

    p_a = str(tmp_path_factory.mktemp("ivfpq-lc-a") / "idx")
    build_ivfpq_index(spark, seed, p_a)
    append_to_ivfpq_index(spark, emb.filter(F.col("vec_id") % 3 == 1), p_a)
    append_to_ivfpq_index(spark, emb.filter(F.col("vec_id") % 3 == 2), p_a)
    compact_ivfpq_index(spark, p_a)
    assert _glob_epochs(p_a, "codes") == ["epoch=3"]

    p_b = str(tmp_path_factory.mktemp("ivfpq-lc-b") / "idx")
    build_ivfpq_index(spark, seed, p_b)
    append_to_ivfpq_index(spark, rest, p_b)

    a = sorted(tuple(r) for r in
               search_ivfpq_index(spark, p_a, queries, k=5, nprobe=2).collect())
    b = sorted(tuple(r) for r in
               search_ivfpq_index(spark, p_b, queries, k=5, nprobe=2).collect())
    assert a == b and a
