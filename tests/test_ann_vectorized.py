"""Vectorized (numpy matmul) IVF quantizer vs the expression fold.

The two paths compute the same argmax over the same deterministic
centroid seed; float64 matmul vs sequential fold can disagree only at
cosine near-ties, so agreement on the well-separated testdata must be
total, and the scaled entrypoints must keep the output contracts.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import functions as F

from etl_pipe_spark.operators.ann import (
    _batch_matrix, centroid_matrix, ivf_assign_vectorized)
from etl_pipe_spark.plans.dedup_plans import (
    N_CENTROIDS,
    _emb_with_norms,
    _ivf_ranked,
    ann_ivf_scaled,
    semantic_dedup,
    semantic_dedup_scaled,
)


def test_vectorized_assignment_matches_expression_fold(spark, sf_dir):
    emb = _emb_with_norms(spark, sf_dir)
    expr = (
        _ivf_ranked(emb)
        .filter(F.col("rn") <= 2)
        .select("vec_id", "rn", F.col("cent_id").alias("e_cent"))
    )
    ids, mat = centroid_matrix(emb, N_CENTROIDS)
    vec = ivf_assign_vectorized(emb, ids, mat, nprobe=2).select(
        "vec_id", "rn", F.col("cent_id").alias("v_cent")
    )
    j = expr.join(vec, ["vec_id", "rn"], "full")
    assert j.filter(
        F.col("e_cent").isNull()
        | F.col("v_cent").isNull()
        | (F.col("e_cent") != F.col("v_cent"))
    ).count() == 0


def test_ann_scaled_returns_topk_per_query(spark, sf_dir):
    per_q = ann_ivf_scaled(spark, sf_dir, nprobe=2).groupBy("query_id").count().collect()
    assert per_q and all(r["count"] == 5 for r in per_q)


def test_kmeans_fit_converges_and_separates_blobs(spark):
    # Three well-separated directions; 60 vectors each with tiny
    # deterministic jitter.  Spherical k-means must converge well
    # inside max_iters and put each blob in exactly one cell.
    from etl_pipe_spark.operators.ann import kmeans_fit

    base = {0: [10.0, 0.0, 0.0], 1: [0.0, 10.0, 0.0], 2: [0.0, 0.0, 10.0]}
    rows = []
    for i in range(180):
        b = i % 3
        jit = [((i * 37 + d * 11) % 7 - 3) * 0.01 for d in range(3)]
        rows.append((i, [base[b][d] + jit[d] for d in range(3)]))
    emb = spark.createDataFrame(rows, ["vec_id", "v"])

    fit = kmeans_fit(emb, k=3, max_iters=8, tol=1e-3)
    assert fit.n_iters < 8, "did not converge"
    assert len(fit.shifts) == fit.n_iters and fit.shifts[-1] < 1e-3
    got = fit.assignment.collect()
    by_blob = {}
    for r in got:
        by_blob.setdefault(r["vec_id"] % 3, set()).add(r["cent_id"])
    # each blob maps to exactly one cell, and the cells are distinct
    assert all(len(cells) == 1 for cells in by_blob.values())
    assert len({next(iter(c)) for c in by_blob.values()}) == 3


def test_semantic_scaled_agrees_with_pinned_at_same_k(spark, sf_dir):
    # With the same centroid count the two quantizers assign the same
    # cells here, so the dup verdicts must match row for row.
    pinned = semantic_dedup(spark, sf_dir).select("vec_id", "is_dup")
    scaled = semantic_dedup_scaled(spark, sf_dir, n_centroids=N_CENTROIDS).select(
        "vec_id", F.col("is_dup").alias("s_dup")
    )
    j = pinned.join(scaled, "vec_id", "full")
    assert j.filter(F.col("is_dup") != F.col("s_dup")).count() == 0


def test_kmeans_fit_clusters_query_invariants_hold(spark, sf_dir):
    # The registered hash-checked query: one row of exact stats plus
    # convergence-invariant booleans, every boolean genuinely TRUE
    # (the oracle asserts the same literals, so a FALSE here is
    # exactly the hash mismatch the driver would see).
    from etl_pipe_spark.plans.catalog import queries
    from etl_pipe_spark.sources.catalog import load_table

    [row] = queries()["kmeans_fit_clusters"](spark, sf_dir).collect()
    assert row.n_vectors == load_table(spark, sf_dir, "embeddings").count()
    assert row.k == 8
    for flag in ("members_sum_eq_n", "all_cells_nonempty", "n_iters_le_max",
                 "converged_or_capped", "objective_nondecreasing",
                 "mean_cos_in_range"):
        assert row[flag] is True, f"{flag} is not TRUE"


def test_blas_probe_topk_matches_expression_scoring(spark, sf_dir):
    # Same assignment in, same (query, neighbor, rank) out: the BLAS
    # per-cell matmul scorer must reproduce the expression-cosine
    # probe stage exactly (float64 matmul vs fold differ only in ulps;
    # testdata has no top-k boundary ties).
    from etl_pipe_spark.operators.ann import (
        ann_probe_topk_blas, centroid_matrix, ivf_assign_vectorized)
    from etl_pipe_spark.plans.dedup_plans import (
        _ann_from_assignment, _emb_with_norms)

    emb = _emb_with_norms(spark, sf_dir)
    cent_ids, cent_mat = centroid_matrix(emb, 32)
    ranked = ivf_assign_vectorized(emb, cent_ids, cent_mat, nprobe=2)
    key = lambda r: (r.query_id, r.rnk, r.neighbor_id)  # noqa: E731
    expr = sorted(map(key, _ann_from_assignment(emb, ranked, 2).collect()))
    blas = sorted(map(key, ann_probe_topk_blas(emb, ranked, nprobe=2).collect()))
    assert expr == blas and len(expr) > 0


def test_blas_probe_chunked_budget_identical(spark, sf_dir):
    # The mechanical bounded-query-side guard: a budget tight enough to
    # force multiple collect+probe chunks must return the IDENTICAL
    # top-k (per-query results are independent, so chunking only
    # changes data motion, never the answer).
    from etl_pipe_spark.operators.ann import (
        ann_probe_topk_blas, centroid_matrix, ivf_assign_vectorized)
    from etl_pipe_spark.plans.dedup_plans import _emb_with_norms

    emb = _emb_with_norms(spark, sf_dir)
    cent_ids, cent_mat = centroid_matrix(emb, 32)
    ranked = ivf_assign_vectorized(emb, cent_ids, cent_mat, nprobe=2)
    key = lambda r: (r.query_id, r.rnk, r.neighbor_id, round(r.cosine, 12))  # noqa: E731
    # every=10 so even sf0.001 has several queries to split
    one = sorted(map(key, ann_probe_topk_blas(
        emb, ranked, nprobe=2, every=10).collect()))
    # 64-dim query rows are 512 B each -> a 2 KiB budget forces the
    # query set into several collect+probe chunks without exploding
    # the pass count; qblock=1 additionally forces one query panel per
    # row inside every cell scorer (the skew memory bound)
    chunked = sorted(map(key, ann_probe_topk_blas(
        emb, ranked, nprobe=2, every=10, max_query_bytes=2048,
        qblock=1).collect()))
    assert one and one == chunked


def test_blas_semantic_dups_match_expression_scoring(spark, sf_dir):
    # Same assignment in, same (vec_id, cent_id, is_dup) out: the
    # blocked panel kernel must reproduce the expression self-join's
    # earliest-id-wins duplicate flags exactly.
    from etl_pipe_spark.operators.ann import semantic_dups_blas
    from etl_pipe_spark.plans.dedup_plans import (
        _SEMDEDUP_TAU, _emb_with_norms, _ivf_ranked,
        _semantic_from_assignment)

    emb = _emb_with_norms(spark, sf_dir)
    assign = _ivf_ranked(emb).filter("rn = 1").select("vec_id", "cent_id")
    key = lambda r: (r.vec_id, r.cent_id, r.is_dup)  # noqa: E731
    expr = sorted(map(key, _semantic_from_assignment(emb, assign).collect()))
    blas = sorted(map(key, semantic_dups_blas(emb, assign, _SEMDEDUP_TAU).collect()))
    assert expr == blas and len(expr) > 0
    assert any(r[2] for r in blas)  # some dups exist at test SF


def test_blas_semantic_dups_zero_vector_and_copies_edge(spark):
    # Review edge case: byte-identical ZERO vectors must NOT be flagged
    # as dups (the zero-norm guard maps their cosine to 0, below tau),
    # while identical nonzero copies must be — and both verdicts must
    # match the expression path exactly, because the registered scaled
    # query's oracle checks flags row for row.
    from pyspark.sql import functions as F

    from etl_pipe_spark.functions import vectors as VX
    from etl_pipe_spark.operators.ann import semantic_dups_blas
    from etl_pipe_spark.plans.dedup_plans import (
        _SEMDEDUP_TAU, _semantic_from_assignment)

    rows = [
        (0, [0.0, 0.0, 0.0]),       # zero vector
        (1, [0.0, 0.0, 0.0]),       # identical zero copy -> NOT a dup
        (2, [1.0, 2.0, 2.0]),
        (3, [1.0, 2.0, 2.0]),       # identical nonzero copy -> dup
        (4, [-1.0, -2.0, -2.0]),    # anti-parallel -> cos -1, not dup
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "v"]).withColumn(
        "v_norm", VX.norm(F.col("v")))
    assign = emb.select("vec_id", F.lit(0).cast("bigint").alias("cent_id"))

    key = lambda r: (r.vec_id, r.is_dup)  # noqa: E731
    expr = sorted(map(key, _semantic_from_assignment(emb, assign).collect()))
    blas = sorted(map(key, semantic_dups_blas(
        emb, assign, _SEMDEDUP_TAU).collect()))
    assert expr == blas
    flags = dict(blas)
    assert flags[1] is False, "identical zero vectors must not be dups"
    assert flags[3] is True, "identical nonzero copies must be dups"


def test_batch_matrix_of_a_zero_row_batch_is_0_by_0():
    """The one Arrow-to-matrix helper (ann, linalg, pq and sq8 share it):
    rows x dim for a non-empty batch, (0, 0) for an empty one."""
    vecs = pa.list_(pa.float32())
    empty = pa.RecordBatch.from_arrays([pa.array([], type=vecs)], ["v"])
    assert _batch_matrix(empty, "v").shape == (0, 0)
    two = pa.RecordBatch.from_arrays([pa.array([[1, 2, 3], [4, 5, 6]], type=vecs)], ["v"])
    m = _batch_matrix(two, "v")
    assert m.dtype == "float64" and m.tolist() == [[1, 2, 3], [4, 5, 6]]
