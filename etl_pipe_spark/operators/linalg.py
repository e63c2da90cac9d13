"""Distributed dense linear algebra: the Gram / covariance kernel.

The classic way to run PCA (or any spectral method) over a corpus too
large to fit anywhere is the covariance route: compute G = X^T X with
one map-side pass — each Arrow batch contributes a dim x dim partial
product — then eigendecompose the tiny dim x dim result wherever you
like.  The shuffle volume is (#batches x dim^2) REGARDLESS of corpus
row count, which is what makes the op viable at 100 TB: a
1000-executor scan streams the vectors once, and the reduce moves a
few thousand rows per batch, never a row per vector.

Exactness contract: inputs are fixed-point quantized FIRST
(q = floor(x * 2^10 + 0.5), the same HALF-UP-towards-+inf lattice both
engines evaluate identically), so every partial product is an integer
that float64 represents exactly (|q| ~ 2^11 for unit-scale embeddings
=> |q_i * q_j| ~ 2^22; 2^53 / 2^22 = 2^31 rows per batch before the
BLAS float64 accumulator could round — batches are ~10^4 rows).  The
per-(i, j) global sum is then an exact int64 SUM in Spark, making the
result partition-order independent and hash-checkable against a
sequential DuckDB oracle — the same fixed-point trick as the k-means
fit kernel (operators/ann.py), applied to a matmul instead of a mean.

Reference stake: SURVEY §2.12's similarity/embedding family — the
reference engine (row-at-a-time psycopg2 loops, reference
``transform.py``) has no linear algebra at all; this is a
driver-mandated extension operator.
"""

from __future__ import annotations

import sys
from typing import Iterator, NamedTuple

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

# Same by-value pickling seam as operators/ann.py: worker closures
# reference module-level helpers, and the driver may have imported us
# via an explicit path the workers don't have on sys.path.
try:
    from pyspark import cloudpickle as _cp
except ImportError:  # pragma: no cover
    import cloudpickle as _cp
_cp.register_pickle_by_value(sys.modules[__name__])

from .ann import _batch_matrix

GRAM_Q = 1024.0  # 2^10 fixed-point input scale; see module docstring


def gram_matrix(emb: DataFrame, vec_col: str = "v") -> DataFrame:
    """Upper-triangular G = Q^T Q over the quantized embedding matrix.

    One ``mapInArrow`` pass: per batch, quantize (exact lattice, see
    module docstring), one BLAS syrk-shaped matmul (numpy ``Q.T @ Q``),
    emit the dim*(dim+1)/2 upper-triangle entries as int64 partials;
    one groupBy reduces the partials.  Output: (i, j, gram) with
    0 <= i <= j < dim — 2,080 rows for dim=64 at ANY corpus size.

    The map-side combine means executor memory holds one dim x dim
    float64 accumulator per in-flight batch (32 KiB at dim=64) — no
    vector survives past its batch.
    """

    def op(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            if not len(b):
                continue
            x = _batch_matrix(b, vec_col)
            q = np.floor(x * GRAM_Q + 0.5)  # exact ints in float64
            g = q.T @ q                      # exact: see module docstring
            iu, ju = np.triu_indices(g.shape[0])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(iu.astype(np.int32), pa.int32()),
                    pa.array(ju.astype(np.int32), pa.int32()),
                    pa.array(g[iu, ju].astype(np.int64), pa.int64()),
                ],
                ["i", "j", "partial"],
            )

    partial = emb.select(vec_col).mapInArrow(
        op, "i int, j int, partial bigint")
    return (
        partial.groupBy("i", "j")
        .agg(F.sum("partial").cast("bigint").alias("gram"))
    )


class PCAKResult(NamedTuple):
    """pca_top_k result: the top-k orthonormal eigenvectors as a
    (dim, k) column matrix (descending eigenvalue order), their
    Rayleigh quotients, the exact integer trace and max diagonal of
    G, the corpus row count, and the per-component DISTRIBUTED sums
    of squared projections (length-k, same order) from the second
    corpus pass."""

    components: np.ndarray
    lams: np.ndarray
    trace: int
    max_diag: int
    n: int
    proj_sumsq: np.ndarray


def pca_top_k(emb: DataFrame, k: int, vec_col: str = "v") -> PCAKResult:
    """Distributed PCA, top-K components, by the tall-skinny
    covariance route — what a real embedding pipeline asks of PCA
    (whitening / dimensionality reduction ahead of clustering or ANN).

    One map-side pass builds G = Q^T Q (``gram_matrix`` — batches x
    dim^2 shuffle at any corpus size); ``eigh`` on the driver
    factorizes the full dim x dim Gram (the broadcast-dim pattern, the
    footprint class of the k-means centroid table in operators/ann.py;
    no deflation loop — that would only make sense if dim itself were
    huge, and then the covariance route is the wrong algorithm), so
    top-K costs ONE Gram pass + ONE projection pass regardless of K:
    the projection kernel right-multiplies each quantized Arrow batch
    by the (dim, k) component matrix and emits k partial sums of
    squares per batch — shuffle volume batches x k, corpus-size
    independent.

    Exactness/determinism: G's entries are exact int64 (gram_matrix's
    fixed-point contract), so the eigenproblem input is bit-identical
    under any partitioning.  int64 -> float64 for eigh is lossless
    while |gram| < 2^53 — at the 2^10 lattice that is ~2^31 corpus
    rows per unit-variance coordinate; beyond that the eigensolve (NOT
    the hash-checked trace) sees ~1e-16 relative rounding, far inside
    eigh's own backward error.  The float projection partials are
    summed in partition order, so ``proj_sumsq`` matches ``lams`` to
    ~1e-12 relative, not bit for bit.

    Sign convention per component: first coordinate with magnitude
    above 1e-12 made positive (reproducible under eigh's sign
    ambiguity).  Components are returned in DESCENDING eigenvalue
    order: components[:, 0] is the top component.
    """
    if k < 1:
        raise ValueError(f"pca_top_k: k must be >= 1, got {k}")
    rows = gram_matrix(emb, vec_col).collect()  # dim^2/2 rows
    if not rows:
        raise ValueError("pca_top_k: input frame has no rows")
    dim = max(r["j"] for r in rows) + 1
    if k > dim:
        raise ValueError(f"pca_top_k: k={k} exceeds dim={dim}")
    g = np.zeros((dim, dim))
    for r in rows:
        g[r["i"], r["j"]] = r["gram"]
        g[r["j"], r["i"]] = r["gram"]
    trace = int(sum(int(r["gram"]) for r in rows if r["i"] == r["j"]))
    max_diag = int(max(int(r["gram"]) for r in rows if r["i"] == r["j"]))
    _, vecs = np.linalg.eigh(g)
    V = vecs[:, ::-1][:, :k].copy()          # descending eigenvalue order
    for c in range(k):
        nz = np.flatnonzero(np.abs(V[:, c]) > 1e-12)
        if len(nz) and V[nz[0], c] < 0:
            V[:, c] = -V[:, c]
    lams = np.einsum("dk,de,ek->k", V, g, V)  # per-component v^T G v

    def op(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            if not len(b):
                continue
            x = _batch_matrix(b, vec_col)
            q = np.floor(x * GRAM_Q + 0.5)
            s = q @ V                         # (n, k)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array((s * s).sum(axis=0).tolist(), pa.float64()),
                    pa.array(list(range(s.shape[1])), pa.int32()),
                    pa.array([len(s)] + [0] * (s.shape[1] - 1), pa.int64()),
                ],
                ["ss", "comp", "cnt"],
            )

    agg = (
        emb.select(vec_col).mapInArrow(op, "ss double, comp int, cnt bigint")
        .groupBy("comp")
        .agg(F.sum("ss").alias("ss"), F.sum("cnt").alias("cnt"))
        .collect()
    )
    by_comp = {r["comp"]: r for r in agg}
    proj = np.array([float(by_comp[c]["ss"]) for c in range(k)])
    n = int(sum(int(r["cnt"]) for r in agg))
    return PCAKResult(V, lams, trace, max_diag, n, proj)

