"""Unit tests for the late-round-5 additions: Z-order layout,
length-bucket batching, distributed PCA and the incremental LSH probe.
The registered queries' full differential checks live in
test_oracle_parity.py; these tests pin the operator-level contracts
the oracle can't see (bit-level Morton correctness, pruning DOMINANCE
over the linear layout, eigen invariants, probe-vs-batch agreement)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from etl_pipe_spark.operators import dedup as DD
from etl_pipe_spark.operators.linalg import pca_top_k
from etl_pipe_spark.operators.zorder import morton32
from etl_pipe_spark.plans.dedup_plans import _spread
from etl_pipe_spark.plans.layout_plans import (
    _BOX_HI, _BOX_LO, zorder_layout_skipping,
)
from etl_pipe_spark.sources.catalog import load_table


def _py_morton(x: int, y: int) -> int:
    """Sequential reference: interleave bits, x even, y odd."""
    z = 0
    for bit in range(16):
        z |= ((x >> bit) & 1) << (2 * bit)
        z |= ((y >> bit) & 1) << (2 * bit + 1)
    return z


def test_morton32_matches_bitwise_reference(spark):
    pts = [(0, 0), (1, 0), (0, 1), (65535, 65535), (43690, 21845),
           (12345, 54321), (1, 65535), (32768, 32767)]
    df = spark.createDataFrame(pts, "x bigint, y bigint")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select("x", "y",
                           morton32(F.col("x"), F.col("y")).alias("z"))
        .collect()
    }
    for x, y in pts:
        assert got[(x, y)] == _py_morton(x, y), (x, y)


def test_zorder_prunes_strictly_more_bins_than_linear(spark, sf_dir):
    out = zorder_layout_skipping(spark, sf_dir).collect()
    pruned = {"zorder": 0, "linear": 0}
    boxes = {"zorder": [], "linear": []}
    for r in out:
        pruned[r["layout"]] += int(r["prunable"])
        boxes[r["layout"]].append(r)
    # every non-prunable bin really does intersect the box
    for r in out:
        if not r["prunable"]:
            assert r["max_gx"] >= _BOX_LO and r["min_gx"] <= _BOX_HI
            assert r["max_gy"] >= _BOX_LO and r["min_gy"] <= _BOX_HI
    # the point of the layout: the z-order bins dominate
    assert pruned["zorder"] > pruned["linear"]
    assert pruned["zorder"] >= len(boxes["zorder"]) // 2


def test_pca_component_invariants(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("v"))
    res = pca_top_k(emb, 1)
    v, lam1 = res.components[:, 0], float(res.lams[0])
    proj_sumsq = float(res.proj_sumsq[0])
    assert abs(float(v @ v) - 1.0) < 1e-9
    assert lam1 >= res.max_diag * (1 - 1e-9) - 1e-6
    assert lam1 <= res.trace * (1 + 1e-12) + 1e-6
    assert abs(proj_sumsq - lam1) / max(lam1, 1.0) < 1e-9
    assert res.n == emb.count()
    # deterministic sign pin: first non-tiny coordinate is positive
    nz = np.flatnonzero(np.abs(v) > 1e-12)
    assert v[nz[0]] > 0


def test_pca_top_k_invariants_and_numpy_agreement(spark, sf_dir):
    """Top-K fit: orthonormal descending components whose distributed
    projections match the Rayleigh quotients, and — the exactness
    teeth — component-by-component agreement with a sequential numpy
    PCA over the same quantized lattice."""
    from etl_pipe_spark.operators.linalg import GRAM_Q

    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("v"))
    k = 4
    res = pca_top_k(emb, k=k)
    V, lams = res.components, res.lams
    assert V.shape[1] == k and len(lams) == k and len(res.proj_sumsq) == k
    assert np.abs(V.T @ V - np.eye(k)).max() < 1e-9
    assert np.all(lams[:-1] >= lams[1:] - 1e-6)
    assert lams.sum() <= res.trace * (1 + 1e-12) + 1e-6
    rel = np.abs(res.proj_sumsq - lams) / np.maximum(np.abs(lams), 1.0)
    assert np.all(rel < 1e-9)
    # k=1 specialization equals the top column
    top1 = pca_top_k(emb, k=1)
    assert np.allclose(top1.components[:, 0], V[:, 0])
    # sequential numpy reference on the identical lattice
    X = np.array([r.v for r in emb.collect()])
    Q = np.floor(X * GRAM_Q + 0.5)
    g_ref = Q.T @ Q
    w_ref = np.linalg.eigh(g_ref)[0][::-1][:k]
    assert np.allclose(np.sort(w_ref), np.sort(lams), rtol=1e-9)


def test_lsh_probe_agrees_with_batch_candidates(spark, sf_dir):
    """Probing batch-vs-history buckets must find exactly the
    candidate pairs the batch-mode self-join finds between the two
    sets (the incremental path adds or loses nothing)."""
    docs = _spread(spark, load_table(spark, sf_dir, "documents"))
    sharr = DD.shingle_arrays(docs, n=3)
    sig = DD.minhash_signatures_arrays(sharr)
    hist = sig.filter(F.col("doc_id") % 5 != 0)
    batch = sig.filter(F.col("doc_id") % 5 == 0)

    probe = {
        (r["left_id"], r["right_id"])
        for r in DD.lsh_probe_pairs(hist, batch).collect()
    }
    cross = set()
    for r in DD.lsh_candidate_pairs(sig).collect():
        a, b = r["left_id"], r["right_id"]  # a < b
        if (a % 5 != 0) and (b % 5 == 0):
            cross.add((a, b))
        elif (a % 5 == 0) and (b % 5 != 0):
            cross.add((b, a))
    assert probe == cross


def _file_stats(path: str, cols: list[str]) -> list[dict]:
    """Per-parquet-file min/max from the REAL footers via pyarrow."""
    import glob

    import pyarrow.parquet as pq

    out = []
    for f in sorted(glob.glob(f"{path}/*.parquet")):
        md = pq.ParquetFile(f).metadata
        stats = {c: [None, None] for c in cols}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                if name in stats and col.statistics is not None:
                    s = col.statistics
                    lo, hi = stats[name]
                    stats[name] = [
                        s.min if lo is None else min(lo, s.min),
                        s.max if hi is None else max(hi, s.max),
                    ]
        out.append(stats)
    return out


def test_lsh_probe_excludes_reingested_self_pairs(spark, sf_dir):
    """A doc present on BOTH sides (re-ingest) must never pair with
    itself — it would otherwise win best-match with jaccard 1.0."""
    docs = _spread(spark, load_table(spark, sf_dir, "documents"))
    sig = DD.minhash_signatures_arrays(DD.shingle_arrays(docs, n=3))
    batch = sig.filter(F.col("doc_id") % 5 == 0)
    pairs = DD.lsh_probe_pairs(sig, batch).collect()  # history ⊇ batch
    assert pairs, "re-ingested docs should still find cross candidates"
    assert all(r["left_id"] != r["right_id"] for r in pairs)
