"""Vectorized IVF assignment: the numeric-kernel scale path.

The expression-tree IVF quantizer (plans/dedup_plans._ivf_ranked) is
the oracle-parity surface — a per-element fold whose cost is
N x k x dim scalar ops inside codegen.  That is the right shape for
correctness checking, but the assignment is a dense matmul, and at
corpus scale a dense matmul belongs in a BLAS kernel: this module
runs it as Arrow-native ``mapInArrow`` — each batch of embeddings
multiplies against the broadcast centroid matrix with numpy
(batch x dim @ dim x k), then top-``nprobe`` cells per vector come
from one ``argpartition``.  Measured on the 250k-vector sweep corpus:
the N x k assignment drops from minutes (expression fold, k=500) to
seconds, and the whole pipeline stays linear when k follows
``ivf_centroids_for_corpus`` (~sqrt(N)).

The two paths agree on assignments except at cosine near-ties
(float64 matmul sums in a different order than the sequential fold);
tests/test_ann_vectorized.py pins the agreement rate.
"""

from __future__ import annotations

import sys
from typing import Iterator, NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window as W, functions as F

from . import scope

# Worker closures here reference module-level helpers (_batch_matrix);
# cloudpickle serializes those by reference, which requires this
# package on the WORKER's sys.path — not guaranteed when the driver
# imported us via an explicit path (same seam as operators/multimodal).
# Registering the module for by-value pickling makes shipped closures
# self-contained.
try:
    from pyspark import cloudpickle as _cp
except ImportError:  # pragma: no cover
    import cloudpickle as _cp
_cp.register_pickle_by_value(sys.modules[__name__])

_ASSIGN_SCHEMA = "vec_id bigint, cent_id bigint, rn int"


def _batch_matrix(batch: pa.RecordBatch, vec_col: str) -> np.ndarray:
    """Arrow list column -> (n, dim) float64 matrix with NO per-row
    Python objects: flatten() hands back the contiguous values buffer
    (offset-aware), one reshape finishes.  Measured 1.8x faster than
    the pandas object-Series stack on a 1M x 64 corpus pass (10.3 s ->
    5.7 s conversion-only) — the Arrow transfer itself was never the
    cost, the per-row ndarray boxing was.  Assumes fixed-length,
    null-free vectors (embeddings are); reshape fails loudly otherwise.
    A zero-row batch gives a (0, 0) matrix.
    """
    col = batch.column(batch.schema.get_field_index(vec_col))
    return (
        col.flatten().to_numpy(zero_copy_only=False)
        .astype(np.float64, copy=False)
        .reshape(len(col), -1 if len(col) else 0)
    )


_MINMAX_SCHEMA = "lo array<double>, hi array<double>, n bigint"


def column_minmax_count(emb: DataFrame, vec_col: str = "v"
                        ) -> tuple[np.ndarray, np.ndarray, int]:
    """Per-dimension (lo, hi) of a vector column plus the row count,
    in ONE linear Arrow pass — the stats kernel behind the SQ8 and BQ
    quantizers (round 9).

    Shape rationale, measured both ways: ``posexplode + groupBy(dim)``
    generates N*dim rows through the hash aggregate (3x the whole
    build at a 4M x 64 corpus); a single wide agg of 2*dim min/max
    expressions avoids the explosion but pays ~2 s of plan/codegen
    constant per invocation at dim 64 (128 aggregate expressions).
    The kernel sidesteps both: numpy column min/max per Arrow batch
    (one partial row per batch), then a dim-sized reduce over
    batches*dim tiny rows.  IEEE min/max is associative and
    order-independent, so the result is bit-identical to either
    expression form (A/B'd equal on the bench corpus).  The count
    rides the same partials, so quantizer callers stop paying a
    separate count() scan.
    """
    def op(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            if not len(b):
                continue
            x = _batch_matrix(b, vec_col)
            yield pa.RecordBatch.from_arrays(
                [pa.array([x.min(axis=0).tolist()], pa.list_(pa.float64())),
                 pa.array([x.max(axis=0).tolist()], pa.list_(pa.float64())),
                 pa.array([x.shape[0]], pa.int64())],
                ["lo", "hi", "n"],
            )

    part = emb.select(vec_col).mapInArrow(op, _MINMAX_SCHEMA)
    rows = (
        part.select(F.posexplode("lo").alias("dim", "x"), "hi", "n")
        .select("dim", "x", F.col("hi")[F.col("dim")].alias("y"), "n")
        .groupBy("dim")
        # every partial carries its batch count once per dim, so each
        # dim group's sum(n) is the full corpus count
        .agg(F.min("x").alias("lo"), F.max("y").alias("hi"),
             F.sum("n").alias("n"))
        .orderBy("dim")
        .collect()
    )
    if not rows:
        raise ValueError("column_minmax_count: empty embedding frame")
    lo = np.array([r["lo"] for r in rows], dtype=np.float64)
    hi = np.array([r["hi"] for r in rows], dtype=np.float64)
    return lo, hi, int(rows[0]["n"])


def _prep_centroids(cent_ids: np.ndarray, cent_mat: np.ndarray,
                    nprobe: int) -> tuple[np.ndarray, np.ndarray, int]:
    """Driver-side prep shared by every assignment kernel: unit-norm
    centroid columns ordered by id (so numpy's "first index wins" on
    equal scores matches the cent_id ASC tiebreak), and the clamped
    probe depth.  Cosine argmax == dot argmax against unit centroids."""
    cnorm = np.linalg.norm(cent_mat, axis=1)
    cnorm[cnorm == 0.0] = 1.0
    cunit = (cent_mat / cnorm[:, None]).T  # dim x k
    k = cent_mat.shape[0]
    order = np.argsort(cent_ids, kind="stable")
    return cunit[:, order], cent_ids[order], min(nprobe, k)


def _assign_batch(x: np.ndarray, cunit_sorted: np.ndarray,
                  n_take: int) -> np.ndarray:
    """(B, n_take) column indices into the id-sorted centroid matrix,
    ordered (score desc, cent id asc) — the exact per-batch assignment
    math of ivf_assign_vectorized, shared with the fused encode+assign
    kernel (operators/pq.pq_encode_assign) so the two paths cannot
    diverge even at float near-ties."""
    k = cunit_sorted.shape[1]
    xn = np.linalg.norm(x, axis=1)
    xn[xn == 0.0] = 1.0
    scores = (x / xn[:, None]) @ cunit_sorted  # B x k
    if n_take < k:
        part = np.argpartition(-scores, n_take - 1, axis=1)[:, :n_take]
    else:
        part = np.tile(np.arange(k), (x.shape[0], 1))
    row_idx = np.arange(x.shape[0])[:, None]
    # exact order within the probe set: score desc, cent id asc
    sub = scores[row_idx, part]
    inner = np.lexsort((part, -sub), axis=1)
    return part[row_idx, inner]


def centroid_matrix(emb: DataFrame, n_centroids: int,
                    id_col: str = "vec_id", vec_col: str = "v") -> tuple:
    """Deterministic centroid seed as numpy: first ``n_centroids``
    vectors by md5(id) — the same sample rule as the expression path,
    so both quantizers pick identical centroid sets.  The collect is
    a k-row dimension table (k ~ sqrt(N)); it ships to executors via
    closure broadcast exactly like a broadcast dim join's build side.
    """
    rows = (
        emb.orderBy(F.md5(F.col(id_col).cast("string")))
        .limit(n_centroids)
        .select(id_col, vec_col)
        .collect()
    )
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)  # k x dim
    return ids, mat


_KMEANS_Q = 16777216.0  # 2^24 fixed-point scale, see plans/dedup_plans._KMEANS_Q


def _seed_farthest_point(emb: DataFrame, k: int,
                         id_col: str = "vec_id", vec_col: str = "v") -> np.ndarray:
    """Deterministic farthest-point seeds over a bounded sample.

    A uniform md5 sample can drop two seeds into one cluster and leave
    another unclaimed (the classic collapse).  Greedy max-min seeding
    on the md5-ordered first max(8k, 256) vectors fixes that while
    keeping driver data bounded by the sample, not the corpus — the
    sample-based cousin of k-means|| initialization.
    """
    n_sample = max(8 * k, 256)
    ids, sample = centroid_matrix(emb, n_sample, id_col=id_col, vec_col=vec_col)
    norms = np.linalg.norm(sample, axis=1)
    norms[norms == 0.0] = 1.0
    unit = sample / norms[:, None]
    chosen = [0]
    # running max cosine of every sample vector to the chosen set
    best = unit @ unit[0]
    for _ in range(1, min(k, len(sample))):
        nxt = int(np.argmin(best))
        chosen.append(nxt)
        best = np.maximum(best, unit @ unit[nxt])
    return sample[chosen].copy()


class KMeansFit(NamedTuple):
    """kmeans_fit result: centroids (k x dim), the final-centroid
    assignment DataFrame (vec_id, cent_id), iterations run, and the
    per-iteration max-coordinate centroid shifts (driver-side floats —
    the convergence trace the invariant-boolean oracle asserts over)."""

    centroids: np.ndarray
    assignment: DataFrame
    n_iters: int
    shifts: list
    # per-iteration spherical objective: sum over the corpus of
    # cos(x, assigned centroid), measured against that iteration's
    # INPUT centroids (fixed-point sums, so partition-independent).
    # Standard Lloyd theory makes this non-decreasing (up to the
    # 2^-24 quantization) — the oracle-checkable convergence invariant.
    objectives: list


def kmeans_fit(
    emb: DataFrame,
    k: int,
    max_iters: int = 10,
    tol: float = 1e-3,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> KMeansFit:
    """Full spherical-k-means Lloyd loop (the iterative-algorithm shape).

    Per iteration: one vectorized cosine-argmax assignment pass
    (numpy matmul over Arrow batches) + one exact fixed-point mean
    update over UNIT vectors (coordinates quantized to 2^-24 and
    summed in int64, so the means — and therefore the whole fit — are
    bit-deterministic under any partitioning).  The ONLY driver-side
    data per round is the k x dim mean table (same footprint as the
    broadcast centroid matrix), never the corpus: the same
    driver-sees-scalars stance as
    operators/clusters.connected_components.  The unit-sum update is
    the textbook spherical-k-means step (the direction maximizing a
    cell's cosine sum is sum(x-hat)'s), which is what makes the
    recorded per-iteration objective provably non-decreasing on ANY
    corpus, unit-norm or not.

    Returns (centroids ndarray k x dim, assignment DataFrame
    (vec_id, cent_id), n_iters_run).  Seeds from deterministic
    farthest-point selection over a bounded md5-ordered sample, so
    fits are reproducible run to run.

    Note: the returned assignment is computed against the FINAL
    centroids (one extra assignment pass after the loop) — r3's loop
    returned the last iteration's pre-update assignment, so fits
    recorded before round 4 can differ on vectors that switched cells
    in the final mean update.  Post-fit assignment is the standard
    contract (it is the partition the returned centroids induce).
    """
    cent = _seed_farthest_point(emb, k, id_col=id_col, vec_col=vec_col)
    ids = np.arange(len(cent), dtype=np.int64)
    iters = 0
    shifts: list[float] = []
    objectives: list[float] = []
    for iters in range(1, max_iters + 1):
        sums, counts, cos_sums = _cell_sums_fused(emb, cent, vec_col=vec_col)
        objectives.append(float(cos_sums.sum()) / _KMEANS_Q)
        new_cent = cent.copy()
        nonempty = counts > 0  # empty cells keep their previous centroid
        new_cent[nonempty] = (
            sums[nonempty] / (counts[nonempty, None] * _KMEANS_Q))
        shift = float(np.abs(new_cent - cent).max()) if nonempty.any() else 0.0
        shifts.append(shift)
        cent = new_cent
        if shift < tol:
            break
    assign = ivf_assign_vectorized(
        emb, ids, cent, nprobe=1, id_col=id_col, vec_col=vec_col
    ).select(id_col, "cent_id")
    return KMeansFit(cent, assign, iters, shifts, objectives)


def _cell_sums_fused(emb: DataFrame, cent_mat: np.ndarray,
                     vec_col: str = "v") -> tuple:
    """One Lloyd iteration's sufficient statistics in a single linear
    pass: per-cell (sum of 2^24-quantized UNIT-vector coordinates,
    member count, sum of quantized member->centroid cosines — the
    spherical-k-means objective this iteration achieved against the
    INPUT centroids, which kmeans_fit records so convergence
    invariants are checkable).

    The update sums UNIT vectors, not raw coordinates: the direction
    maximizing a cell's cosine sum is the direction of sum(x-hat)
    (Dhillon & Modha spherical k-means), so the unit-sum mean is the
    update that makes the recorded objective provably non-decreasing.
    A raw-coordinate mean lets one high-norm member drag the centroid
    off the cosine-optimal direction — fine on unit-norm corpora,
    unsound as a checked invariant on mixed-norm embeddings.  (The
    registered kmeans_update_step query demonstrates the RAW-mean
    update with its own exact oracle; this kernel is the spherical
    fit.)

    The first kmeans_fit shape assigned via mapInPandas, then JOINED
    the assignment back to the corpus and exploded N x dim coordinate
    rows to aggregate means — at 1M vectors that re-shuffled the whole
    corpus per iteration (measured 425 s for a 2-iteration fit; the
    join + 64M-row explode dominated).  But the assignment batch
    already holds the vectors: this op fuses assign + partial-sum, so
    each Arrow batch emits only k x dim partial rows and the shuffle
    carries batches x k x dim rows at ANY corpus size — the map-side
    combine, done in numpy.  Quantized int64 partials make the means
    partition-order-independent (exact integer sums commute).  The
    float HALF_UP emulation floor(|x| + 0.5) can differ from a
    BigDecimal-exact round on values within one ulp of a .5 boundary
    (e.g. 0.49999999999999994 + 0.5 == 1.0 in float64) — irrelevant
    to determinism (quantization is per-element, before any
    order-dependent sum), noted only against over-reading the
    fixed-point trick as a cross-engine bit guarantee.
    """
    k, dim = cent_mat.shape
    cnorm = np.linalg.norm(cent_mat, axis=1)
    cnorm[cnorm == 0.0] = 1.0
    cunit = (cent_mat / cnorm[:, None]).T  # dim x k (id order = col order)

    def op(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            if not len(b):
                continue
            x = _batch_matrix(b, vec_col)
            xn = np.linalg.norm(x, axis=1)
            xn[xn == 0.0] = 1.0
            xhat = x / xn[:, None]
            scores = xhat @ cunit
            # argmax picks the FIRST max -> smallest cent id on ties,
            # same rule as ivf_assign_vectorized's lexsort
            cell = np.argmax(scores, axis=1)
            maxcos = np.take_along_axis(scores, cell[:, None], axis=1).ravel()
            cq = np.floor(np.abs(maxcos) * _KMEANS_Q + 0.5) * np.sign(maxcos)
            scaled = xhat * _KMEANS_Q
            # HALF_UP (away from zero) fixed-point quantization: exact
            # int64 sums make the means partition-order-independent
            xq = (np.sign(scaled) * np.floor(np.abs(scaled) + 0.5)).astype(np.int64)
            sums = np.zeros((k, dim), dtype=np.int64)
            np.add.at(sums, cell, xq)
            counts = np.bincount(cell, minlength=k).astype(np.int64)
            cos_sums = np.bincount(cell, weights=cq, minlength=k).astype(np.int64)
            nz = np.nonzero(counts)[0]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(nz, dim), pa.int64()),
                    pa.array(np.tile(np.arange(dim, dtype=np.int32), len(nz)),
                             pa.int32()),
                    pa.array(sums[nz].ravel(), pa.int64()),
                    pa.array(np.repeat(counts[nz], dim), pa.int64()),
                    pa.array(np.repeat(cos_sums[nz], dim), pa.int64()),
                ],
                ["cent_id", "dim", "xq_sum", "n", "cq_sum"],
            )

    partial = emb.select(vec_col).mapInArrow(
        op, "cent_id bigint, dim int, xq_sum bigint, n bigint, cq_sum bigint")
    rows = (
        partial.groupBy("cent_id", "dim")
        .agg(F.sum("xq_sum").alias("s"), F.sum("n").alias("n"),
             F.sum("cq_sum").alias("cq"))
        .collect()
    )
    sums = np.zeros((k, dim), dtype=np.float64)
    counts = np.zeros(k, dtype=np.int64)
    cos_sums = np.zeros(k, dtype=np.int64)
    for r in rows:
        sums[r["cent_id"], r["dim"]] = float(r["s"])
        # every dim row of a cell carries the same summed member count
        counts[r["cent_id"]] = r["n"]
        cos_sums[r["cent_id"]] = r["cq"]
    return sums, counts, cos_sums


def ivf_assign_vectorized(
    emb: DataFrame,
    cent_ids: np.ndarray,
    cent_mat: np.ndarray,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """(vec_id, cent_id, rn) for rn = 1..nprobe by cosine, via one
    numpy matmul per Arrow batch (``mapInArrow`` — the list column
    lands as a contiguous buffer, see _batch_matrix).  rn = 1 is the
    cell assignment; ties break on centroid id ascending, mirroring
    the expression path's (cosine DESC, cent_id ASC) window order.
    """
    cunit_sorted, ids_sorted, n_take = _prep_centroids(
        cent_ids, cent_mat, nprobe)

    def op(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            if not len(b):
                continue
            x = _batch_matrix(b, vec_col)  # B x dim
            top = _assign_batch(x, cunit_sorted, n_take)
            vec_ids = (
                b.column(b.schema.get_field_index(id_col))
                .to_numpy(zero_copy_only=False).astype(np.int64)
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(vec_ids, n_take), pa.int64()),
                    pa.array(ids_sorted[top].ravel(), pa.int64()),
                    pa.array(
                        np.tile(np.arange(1, n_take + 1, dtype=np.int32), len(b)),
                        pa.int32(),
                    ),
                ],
                ["vec_id", "cent_id", "rn"],
            )

    return emb.select(id_col, vec_col).mapInArrow(op, schema=_ASSIGN_SCHEMA)


_TOPK_SCHEMA = "query_id bigint, neighbor_id bigint, cosine double"
_TOP_K = 5
_SEMDUP_BLOCK = 1024


def ann_probe_topk_blas(
    emb: DataFrame,
    ranked: DataFrame,
    nprobe: int = 2,
    every: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "v",
    max_query_bytes: int = 64 << 20,
    qblock: int = 512,
) -> DataFrame:
    """Probe + score as per-cell BLAS matmuls: top-``_TOP_K`` neighbors
    for every ``1/every``-sampled query, searched in its ``nprobe``
    nearest cells.

    The expression-cosine probe stage (plans/dedup_plans.
    _ann_from_assignment) folds an interpreted HOF per candidate pair;
    at 1M vectors that is ~20M folds x 64 dims and measured 645 s —
    the pair scoring, not the N x k assignment, becomes the wall once
    the assignment is vectorized.  Queries are the bounded side (the
    expression path already broadcasts them), so here they collect to
    a per-cell numpy map — N/every x dim, the same broadcast-dim
    footprint — and each cell scores its members against its probing
    queries with one matmul inside ``applyInPandas``.  Data motion is
    one linear shuffle of the corpus (groupBy cent_id), replacing the
    queries-x-cell-size joined pair stream.

    The bounded-query-side assumption is enforced MECHANICALLY, not by
    convention: the query-cell row count is counted before anything is
    collected, and when ``n_rows x dim x 8`` exceeds
    ``max_query_bytes`` (default 64 MiB — a comfortable driver/task
    payload) the query set is split into ``query_id``-partitioned
    chunks, each collected and probed in its own pass; per-query
    results are independent, so the union of chunk outputs is
    identical to the single-pass answer (pinned by
    tests/test_ann_vectorized.py::test_blas_probe_chunked_budget_identical).
    Each extra chunk re-shuffles the corpus once — the price of a
    query workload that outgrew broadcast, the same trade a broadcast
    join makes when its build side exceeds the threshold.

    Output contract matches the expression path: (query_id,
    neighbor_id, cosine, rnk), rnk 1..``_TOP_K`` by (cosine DESC,
    neighbor_id ASC) — ties pinned by the same lexsort rule the
    vectorized assignment uses.
    """
    assign = ranked.filter(F.col("rn") == 1).select(id_col, "cent_id")
    # cached for the probe: the size probe and every chunk collect
    # read it, and rebuilding it re-runs the quantizer's corpus pass
    # each time (measured 3x query-side scans uncached)
    with scope.cached(
        ranked.filter((F.col(id_col) % every == 0) & (F.col("rn") <= nprobe))
        .join(emb.select(id_col, vec_col), id_col)
        .select(id_col, "cent_id", vec_col)
    ) as q_df:
        n_rows, dim = q_df.agg(
            F.count(F.lit(1)), F.first(F.size(vec_col))).first()
        if not n_rows:  # no sampled queries at this corpus size/stride
            return emb.sparkSession.createDataFrame(
                [], _TOPK_SCHEMA + ", rnk int")
        n_chunks = max(1, -(-(n_rows * dim * 8) // max_query_bytes))

        member = assign.join(emb.select(id_col, vec_col), id_col)
        parts = []
        # chunk on the SAMPLE-INDEX id/every, not the raw id: sampled
        # ids are all multiples of `every`, so pmod(id, n_chunks) only
        # reaches residues divisible by gcd(every, n_chunks) — with
        # every=100 and n_chunks=2 that put the ENTIRE query set in
        # chunk 0, defeating the byte budget
        chunk_key = F.pmod((F.col(id_col) / F.lit(every)).cast("bigint"),
                           F.lit(n_chunks))
        for chunk_no in range(n_chunks):
            chunk = q_df if n_chunks == 1 else q_df.filter(
                chunk_key == chunk_no)
            qmap = _collect_query_map(chunk.collect(), id_col, vec_col)
            parts.append(member.groupBy("cent_id").applyInPandas(
                _make_cell_scorer(qmap, id_col, vec_col, qblock=qblock),
                _TOPK_SCHEMA))
    scored = parts[0]
    for p in parts[1:]:
        scored = scored.unionByName(p)
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= _TOP_K)


def _collect_query_map(q_rows, id_col: str, vec_col: str) -> dict:
    """cent_id -> (query ids, unit query matrix) from collected rows."""
    per_cell: dict[int, tuple[list, list]] = {}
    for r in q_rows:
        ids, vecs = per_cell.setdefault(r["cent_id"], ([], []))
        ids.append(r[id_col])
        vecs.append(r[vec_col])
    qmap: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    for cell, (ids, vecs) in per_cell.items():
        qm = np.array(vecs, dtype=np.float64)
        qn = np.linalg.norm(qm, axis=1)
        qn[qn == 0.0] = 1.0
        qmap[cell] = (np.array(ids, dtype=np.int64), qm / qn[:, None])
    return qmap


def _make_cell_scorer(qmap: dict, id_col: str, vec_col: str, qblock: int):
    """Per-cell scorer for ``applyInPandas``: each cell's members score
    against its probing queries in ``qblock``-row query panels, so the
    score matrix costs qblock x members memory, never nq x members —
    the same skew-bounding trick as semantic_dups_blas's panels (a hot
    cell attracts MORE probing queries as well as more members, so the
    full matrix grows quadratically with cell heat; the Zipf spike
    sweep's 100k-member cell drew ~1k queries = 800 MB unpaneled)."""

    def score(key, pdf):
        entry = qmap.get(key[0])
        empty = pd.DataFrame({"query_id": pd.Series(dtype=np.int64),
                              "neighbor_id": pd.Series(dtype=np.int64),
                              "cosine": pd.Series(dtype=np.float64)})
        if entry is None or not len(pdf):
            return empty
        qids, qunit = entry
        m = np.array(list(pdf[vec_col]), dtype=np.float64)
        mn = np.linalg.norm(m, axis=1)
        mn[mn == 0.0] = 1.0
        munit_t = (m / mn[:, None]).T  # dim x members
        nids = pdf[id_col].to_numpy(np.int64)
        out_q, out_n, out_c = [], [], []
        for q0 in range(0, len(qids), qblock):
            q1 = min(q0 + qblock, len(qids))
            panel = qunit[q0:q1] @ munit_t  # qblock x members
            for i in range(q0, q1):
                qid = qids[i]
                s = panel[i - q0]
                idx = np.nonzero(nids != qid)[0]  # exclude self
                # lexsort BEFORE truncating: an argpartition prune keeps
                # an arbitrary member of a score tie at the top-k
                # boundary, silently diverging from the expression
                # path's (cosine DESC, neighbor_id ASC) rule — and
                # exact-duplicate embeddings make exact cosine ties
                # common in dedup corpora
                order = np.lexsort((nids[idx], -s[idx]))
                sel = idx[order][:_TOP_K]
                out_q.extend([qid] * len(sel))
                out_n.extend(nids[sel])
                out_c.extend(s[sel])
        if not out_q:
            return empty
        return pd.DataFrame({"query_id": np.array(out_q, np.int64),
                             "neighbor_id": np.array(out_n, np.int64),
                             "cosine": np.array(out_c, np.float64)})

    return score


def semantic_dups_blas(emb: DataFrame, assign: DataFrame, tau: float,
                       id_col: str = "vec_id", vec_col: str = "v") -> DataFrame:
    """Within-cell earliest-id-wins duplicate flags, scored as blocked
    per-cell matmuls: (vec_id, cent_id, is_dup).

    The expression form self-joins each cell (pairs = sum of
    cell-size^2 / 2 = O(N^1.5) with sqrt(N) cells) and folds an
    interpreted cosine per pair; this kernel runs each cell inside
    ``applyInPandas``, streaming the cosine matrix in ``_SEMDUP_BLOCK``-row
    panels so a skewed cell (real corpora cluster — cells follow
    density, not the sqrt(N) mean) costs block x m floats of memory
    instead of m x m.  A running column-max over the strict-upper
    triangle gives "any EARLIER member within tau" without ever
    materializing pairs.  Duplicate semantics identical to
    _semantic_from_assignment: vec j is a dup iff some i < j (by id)
    in the same cell has cosine >= tau (float64 matmul vs fold differ
    only in ulps; parity pinned by tests at the registered query's k).

    EXACT duplicates are pre-collapsed before scoring: byte-identical
    vectors tie-break into the SAME cell (argmax picks the same
    centroid for the same input), so a duplicate spike — empty docs,
    boilerplate, re-crawls: the most common real-world skew — lands
    m copies in one cell and would cost m^2 panel work.  Collapsing
    to unique vectors scores u^2 and broadcasts flags back in O(m):
    every non-first copy has an earlier member at cosine 1.0 (dup for
    any tau <= 1), and a group's first copy takes the unique-rep
    verdict, which is exact because cos(x, copy) == cos(x, rep) and a
    group with any member earlier than j also has its REPRESENTATIVE
    (min id) earlier than j.  The Zipf spike sweep measured the hot
    cell going from hours (10^14 flops at m=100k) to sub-second.
    """

    def score(key, pdf):
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        m = len(pdf)
        x = np.array(list(pdf[vec_col]), dtype=np.float64)
        # exact-dup pre-collapse (x is in id order, so each group's
        # first occurrence is its min-id representative)
        uniq, first_idx, inverse = np.unique(
            x, axis=0, return_index=True, return_inverse=True)
        nu = len(uniq)
        order = np.argsort(first_idx, kind="stable")  # reps in id order
        rank = np.empty(nu, dtype=np.int64)
        rank[order] = np.arange(nu)
        xu = uniq[order]
        xn = np.linalg.norm(xu, axis=1)
        xn[xn == 0.0] = 1.0
        un = xu / xn[:, None]
        run_max = np.full(nu, -np.inf)
        for r0 in range(0, nu, _SEMDUP_BLOCK):
            r1 = min(r0 + _SEMDUP_BLOCK, nu)
            panel = un[r0:r1] @ un.T  # b x nu
            # strict upper triangle: row i contributes to columns j > i
            cols = np.arange(nu)[None, :]
            rows = np.arange(r0, r1)[:, None]
            panel[cols <= rows] = -np.inf
            run_max = np.maximum(run_max, panel.max(axis=0))
        rep_dup = run_max >= tau
        # a non-first copy's earlier identical member scores the same
        # zero-guarded self-cosine the expression path would compute:
        # dot(v,v)/(n*n) (0.0 for the all-zero vector, NOT 1.0 — the
        # norm guard maps it to 0, so identical zero vectors are not
        # dups at tau > 0, matching _semantic_from_assignment and the
        # DuckDB oracle exactly)
        self_cos = np.einsum("ij,ij->i", xu, xu) / (xn * xn)
        g = rank[inverse]  # group rank per member
        is_copy = np.arange(m) != first_idx[inverse]
        flags = rep_dup[g] | (is_copy & (self_cos[g] >= tau))
        return pd.DataFrame({
            "vec_id": pdf[id_col].to_numpy(np.int64),
            "cent_id": np.full(m, key[0], dtype=np.int64),
            "is_dup": flags,
        })

    member = assign.join(emb.select(id_col, vec_col), id_col)
    return member.groupBy("cent_id").applyInPandas(
        score, "vec_id bigint, cent_id bigint, is_dup boolean")
