"""Round-5 corpus ops: global shuffle/sharding, vocabulary coverage,
unigram quality scoring, and the distributed Gram matrix.

The DuckDB hash parity for all four is covered by
tests/test_oracle_parity.py (they are registered queries); these tests
pin the properties the oracle can't see — partition-count
independence, exactness vs a sequential numpy reference, and the
shard-packing invariant.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from etl_pipe_spark.operators.linalg import GRAM_Q, gram_matrix
from etl_pipe_spark.plans.corpus_plans import (
    _SHARD_TOKENS,
    corpus_shuffle_shards,
    embedding_gram_matrix,
    unigram_logprob_quality,
    vocab_top_coverage,
)
from etl_pipe_spark.sources.catalog import load_table


def test_gram_matrix_matches_sequential_numpy(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("v")
    )
    x = np.array([r[0] for r in emb.collect()], dtype=np.float64)
    q = np.floor(x * GRAM_Q + 0.5)
    want = (q.T @ q).astype(np.int64)

    got = gram_matrix(emb, vec_col="v").collect()
    dim = x.shape[1]
    assert len(got) == dim * (dim + 1) // 2
    for r in got:
        assert r["gram"] == want[r["i"], r["j"]], (r["i"], r["j"])


def test_gram_matrix_partition_count_independent(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("v")
    )
    one = {(r["i"], r["j"]): r["gram"]
           for r in gram_matrix(emb.coalesce(1), vec_col="v").collect()}
    many = {(r["i"], r["j"]): r["gram"]
            for r in gram_matrix(emb.repartition(13), vec_col="v").collect()}
    assert one == many  # exact int64 partials: batch layout can't matter


def test_shuffle_shards_partition_independent_and_packed(spark, sf_dir):
    rows = corpus_shuffle_shards(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs
    assert [r["pos"] for r in rows] == list(range(1, n_docs + 1))
    # the permutation actually permutes (not id order)
    assert [r["doc_id"] for r in rows] != sorted(r["doc_id"] for r in rows)
    # exclusive prefix replays exactly against per-doc token counts,
    # and shards are fill-until-full: ids non-decreasing, no gaps
    n_tok = {
        r["doc_id"]: r["n"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", F.size(F.split("text", " ")).alias("n"))
        .collect()
    }
    running = 0
    for r in rows:
        assert r["tokens_before"] == running
        assert r["shard_id"] == running // _SHARD_TOKENS
        running += n_tok[r["doc_id"]]
    shards = [r["shard_id"] for r in rows]
    assert shards == sorted(shards)
    assert set(np.diff(sorted(set(shards)))) <= {1}


def test_vocab_coverage_monotonic_and_bounded(spark, sf_dir):
    rows = vocab_top_coverage(spark, sf_dir).collect()
    assert rows, "empty vocabulary"
    cov = [r["coverage"] for r in rows]
    cnt = [r["cnt"] for r in rows]
    assert cov == sorted(cov)           # cumulative coverage grows
    assert cnt == sorted(cnt, reverse=True)  # ranked by frequency
    assert 0.0 < cov[-1] <= 1.0
    assert rows[0]["rnk"] == 1


def test_unigram_quality_scores_all_docs_positive(spark, sf_dir):
    rows = unigram_logprob_quality(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs
    # -ln p is positive for any p < 1; a singleton-token doc in a
    # corpus of one doc could hit 0.0, never negative
    assert all(r["avg_nll"] >= 0.0 for r in rows)
    # every token of every doc was scored
    assert sum(r["n_tokens"] for r in rows) == (
        load_table(spark, sf_dir, "documents")
        .select(F.sum(F.size(F.split("text", " "))))
        .collect()[0][0]
    )


def test_bloom_no_false_negatives_and_low_fp(spark):
    from etl_pipe_spark.operators.bloom import bloom_build, bloom_probe

    members = spark.range(0, 2000).selectExpr("concat('key-', id) AS k")
    m = 1 << 15  # next power of two >= 10 bits per key
    words = bloom_build(members, "k", m)
    # the filter is bounded by construction: <= m/64 words
    assert words.count() <= m // 64

    probe_in = spark.range(0, 2000).selectExpr("concat('key-', id) AS k")
    hits = bloom_probe(probe_in, "k", words, m).collect()
    assert all(r["bloom_hit"] for r in hits), "bloom false negative"

    probe_out = spark.range(0, 5000).selectExpr("concat('other-', id) AS k")
    fp = [r["bloom_hit"] for r in bloom_probe(probe_out, "k", words, m).collect()]
    assert sum(fp) / len(fp) < 0.05, f"fp rate {sum(fp)/len(fp)} out of bound"


def test_bloom_probe_deterministic_across_partitionings(spark):
    from etl_pipe_spark.operators.bloom import bloom_build, bloom_probe

    keys = spark.range(0, 500).selectExpr("concat('key-', id) AS k")
    m = 1 << 14
    w1 = bloom_build(keys.coalesce(1), "k", m)
    w2 = bloom_build(keys.repartition(11), "k", m)
    assert (
        sorted(map(tuple, w1.collect())) == sorted(map(tuple, w2.collect()))
    ), "OR-reduce must be partition-independent"
    probe = spark.range(0, 1000).selectExpr("concat('key-', id) AS k")
    h1 = {r["k"]: r["bloom_hit"] for r in bloom_probe(probe, "k", w1, m).collect()}
    h2 = {r["k"]: r["bloom_hit"] for r in bloom_probe(
        probe.repartition(7), "k", w2, m).collect()}
    assert h1 == h2


def test_gram_registered_query_is_upper_triangle(spark, sf_dir):
    rows = embedding_gram_matrix(spark, sf_dir).collect()
    assert all(r["i"] <= r["j"] for r in rows)
    # diagonal entries are sums of squares: strictly positive for
    # non-degenerate embeddings
    assert all(r["gram"] > 0 for r in rows if r["i"] == r["j"])
