"""Int8 scalar-quantized ANN: the search leg of the FAISS-style SQ8
index (quantization itself is certified by the registered
sq8_embedding_quantization query; this module makes the codes a
USABLE index — 1 byte per dimension instead of 4, searched by
asymmetric reconstruction).

Storage: codes are a BINARY column (dim bytes per vector — the honest
4x shrink vs float32; 32x vs float64), written by ``sq8_encode`` in
one shuffle-free Arrow pass.  Search decodes each batch back to the
reconstruction ``lo + scale * code`` (an affine map with the dim-sized
lo/scale vectors shipped in the closure — bounded like the centroid
tables in operators/ann.py) and scores queries against reconstructions
with one BLAS matmul per batch, pruning to a per-batch top-k before
anything shuffles.  The corpus is touched once, linearly; what reaches
the final per-query merge is batches x (k+1) candidate rows.

Float-parity stance follows operators/ann.py: the matmul's sum order
differs from a sequential SQL fold at the ulp level, so registered
queries compare RANKS (+ an exact expression-fold rerank stage), never
raw score bits.

Public surface mirrors pq.py: stats -> encode -> search.
"""

from __future__ import annotations

import sys
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window as W, functions as F

try:  # same by-value pickling seam as operators/ann.py
    from pyspark import cloudpickle as _cp
except ImportError:  # pragma: no cover
    import cloudpickle as _cp
_cp.register_pickle_by_value(sys.modules[__name__])

from .ann import _batch_matrix, column_minmax_count

Q_LEVELS = 255

_ENCODE_SCHEMA = "vec_id bigint, codes binary"
_CAND_SCHEMA = "query_id bigint, neighbor_id bigint, score double"


def sq8_stats(emb: DataFrame, vec_col: str = "v",
              with_count: bool = False):
    """Per-dimension (lo, scale) from corpus min/max — one linear
    Arrow pass (operators/ann.column_minmax_count; round 9).  The
    prior posexplode + groupBy(dim) form generated N*dim rows through
    the hash aggregate (measured 3x the whole build at 4M x 64 on the
    BQ twin), and the wide 2*dim-expression agg alternative pays ~2 s
    of plan/codegen constant per call — the kernel avoids both.  IEEE
    min/max over the same doubles, so (lo, scale) are bit-identical
    to either expression form.  Constant dimensions get scale 0
    (encode emits code 0 there).

    ``with_count=True`` additionally returns the corpus row count from
    the SAME pass (callers previously paid a separate count() scan),
    as (lo, scale, n).
    """
    lo, hi, n = column_minmax_count(emb, vec_col=vec_col)
    scale = (hi - lo) / Q_LEVELS
    if with_count:
        return lo, scale, n
    return lo, scale


def sq8_encode(
    emb: DataFrame, lo: np.ndarray, scale: np.ndarray,
    id_col: str = "vec_id", vec_col: str = "v",
) -> DataFrame:
    """(vec_id, codes binary) — dim bytes per vector, one shuffle-free
    linear pass.  code_d = floor((x_d - lo_d)/scale_d + 0.5), clipped
    to [0, 255]; constant dims (scale 0) code to 0.  The same IEEE
    double expression as the DuckDB oracle of
    sq8_embedding_quantization, so codes are bit-identical across
    engines."""
    safe = np.where(scale == 0.0, 1.0, scale)

    def op(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            ids = b.column(b.schema.get_field_index(id_col))
            X = _batch_matrix(b, vec_col)
            if X.shape[0] == 0:
                continue
            codes = np.floor((X - lo) / safe + 0.5)
            codes = np.where(scale == 0.0, 0.0, codes)
            codes = np.clip(codes, 0, Q_LEVELS).astype(np.uint8)
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(list(codes.tobytes(order="C")[i * X.shape[1]:(i + 1) * X.shape[1]]
                               for i in range(X.shape[0])), type=pa.binary())],
                ["vec_id", "codes"],
            )

    return emb.select(id_col, vec_col).mapInArrow(op, _ENCODE_SCHEMA)


def sq8_search_topk(
    codes_df: DataFrame,
    queries: DataFrame,
    lo: np.ndarray,
    scale: np.ndarray,
    k: int = 15,
    id_col: str = "query_id",
    vec_col: str = "qv",
    max_query_bytes: int = 64 << 20,
) -> DataFrame:
    """Asymmetric SQ8 search: raw float queries vs reconstructed
    corpus, cosine-scored, global top-k per query (self excluded).

    Per Arrow batch of codes: decode to recon = lo + scale*codes
    (n x dim float64), one matmul against the query matrix, per-batch
    top-(k+1) prune via argpartition (+1 so the query's own row can
    be dropped later without costing a slot).  Only batches x (k+1)
    rows per query ever shuffle; the final merge is a per-query window
    over that bounded candidate set.  The closure ships the query
    matrix + lo/scale — nq*dim*8 bytes, chunked under
    ``max_query_bytes`` exactly like operators/ann.py (no LUT blowup:
    the decode table IS lo/scale, dim-sized)."""
    q_rows = queries.select(id_col, vec_col).collect()
    if not q_rows:
        return codes_df.sparkSession.createDataFrame([], _CAND_SCHEMA)
    dim = lo.shape[0]
    per_q = dim * 8
    n_chunks = max(1, -(-(len(q_rows) * per_q) // max_query_bytes))
    chunk_sz = -(-len(q_rows) // n_chunks)

    parts: list[DataFrame] = []
    for c0 in range(0, len(q_rows), chunk_sz):
        chunk = q_rows[c0:c0 + chunk_sz]
        qids = np.array([r[0] for r in chunk], dtype=np.int64)
        Q = np.array([r[1] for r in chunk], dtype=np.float64)
        qn = np.linalg.norm(Q, axis=1)
        qn[qn == 0.0] = 1.0

        def op(batches: Iterator[pa.RecordBatch], qids=qids, Q=Q, qn=qn
               ) -> Iterator[pa.RecordBatch]:
            for b in batches:
                ids = np.asarray(
                    b.column(b.schema.get_field_index("vec_id")),
                    dtype=np.int64)
                raw = b.column(b.schema.get_field_index("codes"))
                n = len(ids)
                if n == 0:
                    continue
                buf = np.frombuffer(
                    b"".join(raw.to_pylist()), dtype=np.uint8
                ).reshape(n, dim).astype(np.float64)
                recon = lo + scale * buf
                rn = np.linalg.norm(recon, axis=1)
                rn[rn == 0.0] = 1.0
                scores = (Q @ recon.T) / (qn[:, None] * rn[None, :])
                take = min(k + 1, n)
                top = np.argpartition(-scores, take - 1, axis=1)[:, :take]
                nq = len(qids)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.repeat(qids, take), type=pa.int64()),
                        pa.array(ids[top.reshape(-1)], type=pa.int64()),
                        pa.array(np.take_along_axis(scores, top, axis=1)
                                 .reshape(-1), type=pa.float64()),
                    ],
                    ["query_id", "neighbor_id", "score"],
                )

        parts.append(codes_df.mapInArrow(op, _CAND_SCHEMA))

    cand = parts[0]
    for extra in parts[1:]:
        cand = cand.unionByName(extra)
    w = W.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc())
    return (
        cand.filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("srnk", F.row_number().over(w))
        .filter(F.col("srnk") <= k)
        .select("query_id", "neighbor_id", "srnk")
    )
