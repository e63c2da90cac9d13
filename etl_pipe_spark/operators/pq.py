"""Product quantization (PQ): compressed-domain ANN for 100 TB corpora.

IVF (operators/ann.py) bounds how much of the corpus a query touches;
PQ bounds how many BYTES each touched vector costs.  A 64-dim float32
embedding is 256 B; its PQ code at m=8 subspaces is 8 code ids — a
32x compression that is what actually lets a billion-vector index sit
in executor memory (Jegou, Douze & Schmid, "Product Quantization for
Nearest Neighbor Search", TPAMI 2011 — the IVFADC design FAISS ships).

Spark-first shape, same stance as the IVF kernels:

* codebooks are a tiny (m x ksub x dsub) dimension table — built from
  a bounded deterministic sample (or fitted, :func:`pq_fit`) and
  closure-broadcast like any build side;
* encoding is ONE linear ``mapInArrow`` pass — each Arrow batch
  becomes an (n, m, dsub) tensor, distances to all codewords come
  from one einsum, argmin picks codes; no shuffle at all;
* ADC (asymmetric distance computation) search never reconstructs
  vectors: each query precomputes an (m x ksub) lookup table of
  subspace distances, and scoring a candidate is m table lookups —
  numpy fancy-indexing over the whole batch at once.  Per batch only
  the per-query top-k survivors are emitted, so the shuffle carries
  batches x queries x k rows at ANY corpus size.

The deterministic codebook (per-subspace md5-ranked sample) is the
oracle-parity surface — both engines can compute it bit-identically,
giving the registered query an EXACT DuckDB twin for codes and
rankings (the same pinned-quantizer trick as plans/dedup_plans'
_IVF_ASSIGN_CTE).  Production swaps in :func:`pq_fit`'s per-subspace
Lloyd codebooks; every plan shape downstream is unchanged.

Reference scope: SURVEY.md §2.12 similarity-at-scale mandate — the
reference has no vector path at all; PQ is the published
compressed-index design its corpus users need at 100 TB.
"""

from __future__ import annotations

import sys
from typing import Iterator, NamedTuple

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window as W, functions as F

# Same worker-import seam as operators/ann.py: closures reference
# module-level helpers; by-value registration makes them self-contained.
try:
    from pyspark import cloudpickle as _cp
except ImportError:  # pragma: no cover
    import cloudpickle as _cp
_cp.register_pickle_by_value(sys.modules[__name__])

from .ann import _batch_matrix

M_SUB = 8      # subspaces (dim 64 -> dsub 8)
KSUB = 16      # codewords per subspace (production: 256 -> uint8 codes)

_ENCODE_SCHEMA = "vec_id bigint, codes array<int>, qerr double"
_CAND_SCHEMA = "query_id bigint, neighbor_id bigint, score double"


def pq_codebooks_deterministic(
    emb: DataFrame, m: int = M_SUB, ksub: int = KSUB,
    id_col: str = "vec_id", vec_col: str = "v",
) -> np.ndarray:
    """(m, ksub, dsub) float64 codebooks from a deterministic sample:
    subspace s's codewords are the s-th subvectors of the first
    ``ksub`` corpus vectors ranked by md5(f"{s}:{id}") — a different
    pseudo-random sample PER SUBSPACE (real PQ fits each subspace
    independently; a shared sample would correlate the codebooks).

    Scale shape: the ranking shuffles only (id, sub) rows — vectors
    stay out of the window exchange — and the seed fetch joins a
    <= m*ksub id list back to the corpus, so driver data is bounded
    by m*ksub vectors regardless of N.
    """
    subs = F.explode(F.array(*[F.lit(i) for i in range(m)])).alias("sub")
    ranked = (
        emb.select(id_col).withColumn("sub", subs)
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("sub").orderBy(
                    F.md5(F.concat_ws(
                        ":", F.col("sub").cast("string"),
                        F.col(id_col).cast("string"))))),
        )
        .filter(F.col("rn") <= ksub)
    )
    seed_rows = ranked.select("sub", "rn", id_col).collect()
    want_ids = sorted({r[2] for r in seed_rows})
    vec_rows = (
        emb.filter(F.col(id_col).isin(want_ids)).select(id_col, vec_col).collect()
    )
    vecs = {r[0]: np.asarray(r[1], dtype=np.float64) for r in vec_rows}
    dim = len(next(iter(vecs.values())))
    dsub = dim // m
    if dsub * m != dim:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    cb = np.zeros((m, ksub, dsub), dtype=np.float64)
    for sub, rn, vid in seed_rows:
        cb[sub, rn - 1] = vecs[vid][sub * dsub:(sub + 1) * dsub]
    return cb


def _subspace_d2(xs: np.ndarray, cb: np.ndarray) -> np.ndarray:
    """(n, m, ksub) squared L2 distances, via the same algebraic form
    as the SQL twin (xx - 2*xc + cc, three dot products) so the two
    engines disagree only at ulp-level near-ties."""
    xx = np.einsum("nmd,nmd->nm", xs, xs)          # (n, m)
    xc = np.einsum("nmd,mkd->nmk", xs, cb)          # (n, m, ksub)
    cc = np.einsum("mkd,mkd->mk", cb, cb)           # (m, ksub)
    return xx[:, :, None] - 2.0 * xc + cc[None, :, :]


def pq_encode(
    emb: DataFrame, codebooks: np.ndarray,
    id_col: str = "vec_id", vec_col: str = "v",
) -> DataFrame:
    """(vec_id, codes array<int>, qerr double) — one shuffle-free
    linear pass.  ``codes[s]`` is the argmin codeword of subspace s
    (ties -> lowest code id, matching the SQL row_number tie-break);
    ``qerr`` is the vector's total quantization error sum_s min_k d2,
    the per-vector term of the corpus reconstruction-error invariant
    the registered query asserts.
    """
    m, ksub, dsub = codebooks.shape

    def op(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            ids = b.column(b.schema.get_field_index(id_col))
            X = _batch_matrix(b, vec_col)
            n = X.shape[0]
            if n == 0:
                continue
            xs = X.reshape(n, m, dsub)
            d2 = _subspace_d2(xs, codebooks)
            codes = d2.argmin(axis=2).astype(np.int32)        # (n, m)
            qerr = d2.min(axis=2).sum(axis=1)                 # (n,)
            codes_arr = pa.FixedSizeListArray.from_arrays(
                pa.array(codes.reshape(-1), type=pa.int32()), m
            ).cast(pa.list_(pa.int32()))
            yield pa.RecordBatch.from_arrays(
                [ids, codes_arr, pa.array(qerr, type=pa.float64())],
                ["vec_id", "codes", "qerr"],
            )

    return emb.select(id_col, vec_col).mapInArrow(op, _ENCODE_SCHEMA)


_ENCODE_ASSIGN_SCHEMA = "vec_id bigint, codes array<int>, cent_id bigint"


def pq_encode_assign(
    emb: DataFrame, codebooks: np.ndarray,
    cent_ids: np.ndarray, cent_mat: np.ndarray,
    id_col: str = "vec_id", vec_col: str = "v",
) -> DataFrame:
    """(vec_id, codes, cent_id) in ONE linear pass — the fused form of
    ``pq_encode(...).join(ivf_assign_vectorized(...) [rn=1])`` that
    the IVFPQ index build/append paths use (guide §2.3/§2.4: the join
    shuffled the corpus-sized code rows AND the assignment rows by
    vec_id and scanned the embeddings twice; fusing computes both
    columns from the same Arrow batch, so the corpus streams through
    once and nothing shuffles before the bucketed write).

    Exactness: codes come from the same ``_subspace_d2`` argmin as
    ``pq_encode``; the cell comes from the same ``_assign_batch``
    math as ``ivf_assign_vectorized`` (shared helper — identical
    float ops, identical tie handling), so the fused output is
    row-for-row the join's output.
    """
    from .ann import _assign_batch, _prep_centroids

    m, ksub, dsub = codebooks.shape
    cunit_sorted, ids_sorted, n_take = _prep_centroids(
        cent_ids, cent_mat, nprobe=1)

    def op(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            ids = b.column(b.schema.get_field_index(id_col))
            X = _batch_matrix(b, vec_col)
            n = X.shape[0]
            if n == 0:
                continue
            xs = X.reshape(n, m, dsub)
            d2 = _subspace_d2(xs, codebooks)
            codes = d2.argmin(axis=2).astype(np.int32)        # (n, m)
            codes_arr = pa.FixedSizeListArray.from_arrays(
                pa.array(codes.reshape(-1), type=pa.int32()), m
            ).cast(pa.list_(pa.int32()))
            top = _assign_batch(X, cunit_sorted, n_take)      # (n, 1)
            yield pa.RecordBatch.from_arrays(
                [ids, codes_arr,
                 pa.array(ids_sorted[top].ravel(), pa.int64())],
                ["vec_id", "codes", "cent_id"],
            )

    return emb.select(id_col, vec_col).mapInArrow(op, _ENCODE_ASSIGN_SCHEMA)


_MAX_QUERY_BYTES = 64 << 20


def _query_chunks(q_rows, codebooks: np.ndarray, max_query_bytes: int):
    """Yield (qids, lut) per driver-bounded query chunk — the shared
    byte-budget scaffold of every ADC scorer: if the collected query
    set exceeds ``max_query_bytes`` it splits into independent passes
    (per-query results are independent, so the union of chunk outputs
    is exact; each extra chunk costs one more scan of the codes).

    The budget is charged against what each chunk actually
    materializes on the driver and ships in the task closure: the ADC
    LUT at m*ksub float64 PER QUERY — not the raw query matrix, which
    is dim*8 per query and (at the production m=8/ksub=256 defaults)
    32x SMALLER.  Budgeting the raw matrix would let a 64 MB budget
    admit ~131k queries whose LUT is ~2.1 GB — past the 2 GB task
    serialization limit.  max(dim, m*ksub) covers the degenerate
    ksub < dsub corner where the raw matrix is briefly the larger
    object (it also transits the driver)."""
    m, ksub, dsub = codebooks.shape
    dim = m * dsub
    per_query_bytes = max(dim, m * ksub) * 8
    n_chunks = max(1, -(-(len(q_rows) * per_query_bytes) // max_query_bytes))
    chunk_sz = -(-len(q_rows) // n_chunks)
    for c0 in range(0, len(q_rows), chunk_sz):
        chunk = q_rows[c0:c0 + chunk_sz]
        qids = np.array([r[0] for r in chunk], dtype=np.int64)
        qmat = np.array([r[1] for r in chunk], dtype=np.float64)
        yield qids, _subspace_d2(qmat.reshape(len(chunk), m, dsub), codebooks)


def _rank_candidates(cand_parts: list[DataFrame], k: int) -> DataFrame:
    """Union per-chunk candidate frames and keep the tie-stable global
    top-k per query ((score asc, neighbor_id asc) — the same order the
    in-kernel per-batch prune uses, so the merge is exact)."""
    cand = cand_parts[0]
    for extra in cand_parts[1:]:
        cand = cand.unionByName(extra)
    w_rank = W.partitionBy("query_id").orderBy(
        F.col("score").asc(), F.col("neighbor_id").asc())
    return (
        cand.withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk")
    )


def pq_adc_topk(
    codes_df: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "v",
    query_id_col: str = "query_id",
    max_query_bytes: int = _MAX_QUERY_BYTES,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: (query_id,
    neighbor_id, rnk), rnk 1..k ascending by approximate squared L2
    (exact query subvectors vs quantized neighbors), ties -> lowest
    neighbor_id, self excluded.

    Each query's (m x ksub) LUT is built once on the driver from the
    collected query set — bounded the same mechanical way as
    ann_probe_topk_blas: if the set exceeds ``max_query_bytes`` the
    queries are chunked into independent passes (per-query results
    are independent, so the union of chunk outputs is exact; each
    extra chunk costs one more linear scan of the codes).  In-kernel,
    scoring a batch is m fancy-indexed lookups summed into an
    (nq, nb) matrix; only the per-query tie-stable top-k of each
    batch survives, so the shuffle carries batches x nq x k rows.
    """
    q_rows = queries.select(query_id_col, vec_col).collect()
    if not q_rows:
        return codes_df.sparkSession.createDataFrame([], _CAND_SCHEMA).select(
            "query_id", "neighbor_id", F.lit(1).alias("rnk")).limit(0)
    cand_parts = []
    for qids, lut in _query_chunks(q_rows, codebooks, max_query_bytes):

        def op(batches: Iterator[pa.RecordBatch], qids=qids, lut=lut
               ) -> Iterator[pa.RecordBatch]:
            nq = len(qids)
            for b in batches:
                ids = b.column(b.schema.get_field_index("vec_id")) \
                       .to_numpy(zero_copy_only=False)
                codes_col = b.column(b.schema.get_field_index("codes"))
                nb = len(ids)
                if nb == 0:
                    continue
                C = (codes_col.flatten().to_numpy(zero_copy_only=False)
                     .reshape(nb, lut.shape[1]))
                scores = np.zeros((nq, nb), dtype=np.float64)
                for s in range(lut.shape[1]):
                    scores += lut[:, s, C[:, s]]
                scores[qids[:, None] == ids[None, :]] = np.inf  # self
                kk = min(k, nb)
                out_q, out_n, out_s = [], [], []
                for qi in range(nq):
                    # tie-stable prune: global order is (score, id), so
                    # the batch survivors must be picked the same way —
                    # a score-only argpartition could keep the larger id
                    # of a tie straddling the cutoff.
                    order = np.lexsort((ids, scores[qi]))[:kk]
                    keep = order[np.isfinite(scores[qi][order])]
                    out_q.append(np.full(len(keep), qids[qi]))
                    out_n.append(ids[keep])
                    out_s.append(scores[qi][keep])
                if not out_q:
                    continue
                yield pa.RecordBatch.from_arrays(
                    [pa.array(np.concatenate(out_q), type=pa.int64()),
                     pa.array(np.concatenate(out_n), type=pa.int64()),
                     pa.array(np.concatenate(out_s), type=pa.float64())],
                    ["query_id", "neighbor_id", "score"],
                )

        cand_parts.append(
            codes_df.select("vec_id", "codes").mapInArrow(op, _CAND_SCHEMA))
    return _rank_candidates(cand_parts, k)


def ivfpq_adc_topk(
    codes_df: DataFrame,
    ranked: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 5,
    nprobe: int = 2,
    query_id_col: str = "query_id",
    vec_col: str = "v",
) -> DataFrame:
    """IVF + ADC combined — the full IVFADC search (Jegou et al. 2011,
    the FAISS production design): each query scores PQ codes ONLY in
    its ``nprobe`` probed IVF cells, so per-query cost is
    nprobe x mean-cell-size table lookups instead of a linear scan of
    all codes (``pq_adc_topk``), and each candidate costs m code
    lookups instead of a dim-float dot product (IVF alone).

    Shape: codes join their cell assignment (one hash join), then ONE
    ``applyInPandas`` over cells — the group's members are scored
    against the cell's probing queries with m fancy-indexed LUT
    lookups, and only tie-stable per-(query, cell) top-k rows leave
    the group, so the shuffle carries cells x queries-probing x k
    rows.  The query set (ids, vectors, probed cells) is driver-
    collected under the same mechanical ``_MAX_QUERY_BYTES`` budget as
    pq_adc_topk / ann_probe_topk_blas: above the budget, queries chunk
    into independent passes.

    ``ranked`` is an IVF assignment frame (vec_id, cent_id, rn) as
    produced by ivf_assign_vectorized or the expression ranker —
    rn = 1 places members, rn <= nprobe places queries.
    """
    import pandas as pd

    spark = codes_df.sparkSession
    assign = ranked.filter(F.col("rn") == 1).select("vec_id", "cent_id")
    cell_codes = codes_df.select("vec_id", "codes").join(assign, "vec_id")

    q_rows = queries.select(query_id_col, vec_col).collect()
    if not q_rows:
        return spark.createDataFrame([], _CAND_SCHEMA).select(
            "query_id", "neighbor_id", F.lit(1).alias("rnk")).limit(0)
    probe_rows = (
        ranked.join(
            queries.select(F.col(query_id_col).alias("vec_id")), "vec_id")
        .filter(F.col("rn") <= nprobe)
        .select("vec_id", "cent_id")
        .collect()
    )
    probes: dict[int, list[int]] = {}
    for r in probe_rows:
        probes.setdefault(int(r["vec_id"]), []).append(int(r["cent_id"]))

    cand_parts = []
    for qids, lut in _query_chunks(q_rows, codebooks, _MAX_QUERY_BYTES):
        cell_to_q: dict[int, list[int]] = {}
        for qi, qid in enumerate(qids):
            for cid in probes.get(int(qid), ()):
                cell_to_q.setdefault(cid, []).append(qi)

        def _make_score_cell(qids=qids, lut=lut, cell_to_q=cell_to_q):
            # applyInPandas requires a 1-arg (or key+data) callable, so
            # the chunk's state binds via this factory, not kwargs
            def score_cell(pdf: pd.DataFrame) -> pd.DataFrame:
                empty = pd.DataFrame(
                    {"query_id": pd.Series(dtype="int64"),
                     "neighbor_id": pd.Series(dtype="int64"),
                     "score": pd.Series(dtype="float64")})
                if not len(pdf):
                    return empty
                qloc = cell_to_q.get(int(pdf["cent_id"].iloc[0]))
                if not qloc:
                    return empty
                ids = pdf["vec_id"].to_numpy(np.int64)
                codes = np.array(pdf["codes"].tolist(), dtype=np.int64)
                lut_c = lut[qloc]
                scores = np.zeros((len(qloc), len(ids)), dtype=np.float64)
                for s in range(lut.shape[1]):
                    scores += lut_c[:, s, codes[:, s]]
                qids_c = qids[qloc]
                scores[qids_c[:, None] == ids[None, :]] = np.inf  # self
                kk = min(k, len(ids))
                out_q, out_n, out_s = [], [], []
                for qi in range(len(qloc)):
                    # same tie-stable prune as pq_adc_topk: (score, id)
                    order = np.lexsort((ids, scores[qi]))[:kk]
                    keep = order[np.isfinite(scores[qi][order])]
                    out_q.append(np.full(len(keep), qids_c[qi]))
                    out_n.append(ids[keep])
                    out_s.append(scores[qi][keep])
                return pd.DataFrame({
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "score": np.concatenate(out_s),
                })

            return score_cell

        cand_parts.append(
            cell_codes.groupBy("cent_id").applyInPandas(
                _make_score_cell(), _CAND_SCHEMA))
    return _rank_candidates(cand_parts, k)


class PQFit(NamedTuple):
    codebooks: np.ndarray       # (m, ksub, dsub) float64
    n_iters: int
    shifts: list                # max |delta| per iteration
    errs: list                  # mean quantization error per iteration


_PQ_Q = 16777216.0  # 2^24 fixed-point scale, same as the k-means fit


def pq_fit(
    emb: DataFrame, m: int = M_SUB, ksub: int = KSUB,
    max_iters: int = 10, tol: float = 1e-4,
    id_col: str = "vec_id", vec_col: str = "v",
) -> PQFit:
    """Per-subspace Lloyd fit of the PQ codebooks — the production
    path the deterministic sample stands in for at oracle time.

    All m subspaces train in the SAME linear pass per iteration
    (the fused-sufficient-statistics trick of ann._cell_sums_fused,
    generalized): each Arrow batch assigns its vectors in every
    subspace, then emits one (m*ksub) x dsub int64 partial-sum tile
    plus counts — the shuffle carries batches x m x ksub rows at any
    corpus size, and the 2^-24-quantized integer sums make the fitted
    codebooks bit-deterministic under any partitioning.  Empty cells
    keep their previous codeword (the standard Lloyd convention).
    The recorded per-iteration mean quantization error is measured
    against the INPUT codebooks, so err[i] is provably non-increasing
    in i — the checkable convergence invariant.
    """
    cb = pq_codebooks_deterministic(emb, m=m, ksub=ksub,
                                    id_col=id_col, vec_col=vec_col)
    dsub = cb.shape[2]
    shifts: list[float] = []
    errs: list[float] = []
    iters = 0
    for iters in range(1, max_iters + 1):
        sums, counts, err_sum, n_vec = _pq_sums_fused(emb, cb, vec_col=vec_col)
        errs.append(err_sum / _PQ_Q / max(n_vec, 1))
        flat = cb.reshape(m * ksub, dsub).copy()  # cells are (sub, code) flat
        nonempty = counts > 0
        flat[nonempty] = sums[nonempty] / (counts[nonempty, None] * _PQ_Q)
        new_cb = flat.reshape(m, ksub, dsub)
        shift = float(np.abs(new_cb - cb).max()) if nonempty.any() else 0.0
        shifts.append(shift)
        cb = new_cb
        if shift < tol:
            break
    return PQFit(cb, iters, shifts, errs)


def _pq_sums_fused(emb: DataFrame, cb: np.ndarray, vec_col: str = "v"
                   ) -> tuple:
    """One PQ-Lloyd iteration's sufficient statistics in one pass:
    ((m*ksub, dsub) int64 quantized subvector sums, (m*ksub,) counts,
    total quantization error (quantized int), vector count)."""
    m, ksub, dsub = cb.shape
    schema = "cell int, cnt long, err long, n long, s array<long>"

    def op(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            X = _batch_matrix(b, vec_col)
            n = X.shape[0]
            if n == 0:
                continue
            xs = X.reshape(n, m, dsub)
            d2 = _subspace_d2(xs, cb)
            codes = d2.argmin(axis=2)                       # (n, m)
            err = np.floor(np.abs(d2.min(axis=2)) * _PQ_Q + 0.5).sum()
            xq = np.floor(np.abs(xs) * _PQ_Q + 0.5) * np.sign(xs)
            cells = (np.arange(m)[None, :] * ksub + codes).reshape(-1)
            flat = xq.reshape(n * m, dsub)
            sums = np.zeros((m * ksub, dsub), dtype=np.float64)
            np.add.at(sums, cells, flat)
            counts = np.bincount(cells, minlength=m * ksub)
            sums_i = sums.astype(np.int64)
            # emit one row per cell plus one stats row (cell = -1)
            cell_ids = np.concatenate(
                [np.arange(m * ksub, dtype=np.int64), [-1]])
            cnts = np.concatenate([counts.astype(np.int64), [0]])
            errs_col = np.concatenate(
                [np.zeros(m * ksub, dtype=np.int64), [np.int64(err)]])
            ns = np.concatenate([np.zeros(m * ksub, dtype=np.int64), [n]])
            s_rows = [row for row in sums_i] + [np.zeros(dsub, np.int64)]
            yield pa.RecordBatch.from_arrays(
                [pa.array(cell_ids, type=pa.int64()).cast(pa.int32()),
                 pa.array(cnts, type=pa.int64()),
                 pa.array(errs_col, type=pa.int64()),
                 pa.array(ns, type=pa.int64()),
                 pa.array([r.tolist() for r in s_rows],
                          type=pa.list_(pa.int64()))],
                ["cell", "cnt", "err", "n", "s"],
            )

    agg = (
        emb.select(vec_col).mapInArrow(op, schema)
        .groupBy("cell")
        .agg(F.sum("cnt").alias("cnt"), F.sum("err").alias("err"),
             F.sum("n").alias("n"),
             *[F.sum(F.element_at("s", i + 1)).alias(f"s{i}")
               for i in range(dsub)])
        .collect()
    )
    sums = np.zeros((m * ksub, dsub), dtype=np.float64)
    counts = np.zeros(m * ksub, dtype=np.int64)
    err_total = 0
    n_total = 0
    for r in agg:
        if r["cell"] == -1:
            err_total += r["err"]
            n_total += r["n"]
            continue
        counts[r["cell"]] = r["cnt"]
        sums[r["cell"]] = [r[f"s{i}"] for i in range(dsub)]
    return sums, counts, float(err_total), int(n_total)
