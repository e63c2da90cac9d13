"""Similarity-search operators over embedding columns.

Two scale paths beyond the brute-force baseline (plans/extensions.py):

* IVF-style deterministic coarse quantizer (plans/dedup_plans.py);
* signed-random-projection (SRP) LSH here: 8 deterministic integer
  hyperplanes hash each vector to an 8-bit bucket; candidates share a
  bucket, so pair enumeration is linear in bucket sizes.

The hyperplane weights are md5-derived integers in [-1000, 1000] —
computable identically in Python (plan literals), Spark, and DuckDB,
which makes the whole LSH pipeline oracle-checkable.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.vectors import as_double, dot

N_PLANES = 8  # 2^8 buckets; more planes cut occupancy and recall
DIM = 64
_WEIGHT_MOD = 2001  # weights in [-1000, 1000]


def ivf_centroids_for_corpus(n_vecs: int) -> int:
    """Centroid count sized to the corpus: k ~ ceil(sqrt(N)).

    Balances the two linear terms of IVF cost: assignment is N x k,
    probing is queries x nprobe x (N / k).  A FIXED k means cell size
    N/k grows with the corpus, and every cell-blocked consumer
    (probe scoring, within-cell semantic dedup) goes quadratic — the
    250k-vector sweep measured 59x runtime at 50x docs for the pinned
    32-cell form vs near-linear when k follows this rule
    (docs/BENCH_COMPARE.md).  sqrt(N) makes both terms N^1.5/bounded —
    the standard IVF sizing in the ANN literature.  The floor of 32
    keeps tiny corpora at the oracle-pinned default.
    """
    return max(32, math.ceil(math.sqrt(max(1, n_vecs))))


def plane_weight(i: int, d: int) -> int:
    """Deterministic integer weight for hyperplane i, dimension d.

    Same construction as the SQL oracle: first 8 hex chars of
    md5("{i}_{d}") as an int, mod 2001, minus 1000.
    """
    h = int(hashlib.md5(f"{i}_{d}".encode()).hexdigest()[:8], 16)
    return h % _WEIGHT_MOD - (_WEIGHT_MOD // 2)


def _plane_lit(i: int) -> Column:
    return F.array(*[F.lit(float(plane_weight(i, d))) for d in range(DIM)])


def srp_bucket(vec: Column, n_planes: int = N_PLANES) -> Column:
    """n-bit SRP bucket: bit i = sign of <v, plane_i>."""
    bucket = None
    for i in range(n_planes):
        bit = F.when(dot(vec, _plane_lit(i)) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return bucket.cast("bigint")


def srp_buckets(emb: DataFrame, vec_col: str = "embedding",
                n_planes: int = N_PLANES) -> DataFrame:
    """Assign every vector its SRP bucket (one narrow projection)."""
    return emb.withColumn("v", as_double(F.col(vec_col))).withColumn(
        "srp_bucket", srp_bucket(F.col("v"), n_planes=n_planes)
    )


def duck_srp_planes(n_planes: int = N_PLANES) -> str:
    """DuckDB CTE for the same hyperplanes — generated from the same
    constants as the Spark side (single source of truth)."""
    return f"""
planes AS (
  SELECT t.i,
         list_transform(range(0, {DIM}), d ->
           CAST(CAST(concat('0x', substr(md5(CAST(t.i AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 8)) AS BIGINT)
                % {_WEIGHT_MOD} - {_WEIGHT_MOD // 2} AS DOUBLE)) AS w
  FROM (SELECT unnest(range(0, {n_planes})) AS i) t
)
"""


DUCK_SRP_PLANES = duck_srp_planes()
