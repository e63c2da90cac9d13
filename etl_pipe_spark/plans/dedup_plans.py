"""Near-dup dedup + ANN scale-path queries (SURVEY §2.12), every stage
oracle-checked — including MinHash LSH banding, which is possible only
because all hashes are md5-derived integers (operators/dedup.py), not
engine-native hash() calls.

The DuckDB oracle SQL is generated from the same permutation constants
as the Spark operators (single source of truth).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..functions import vectors as VX
from ..operators import clusters as CC
from ..operators import dedup as DD
from ..operators import scope
from ..operators import similarity as SIM
from ..operators.similarity import srp_buckets
from ..sources.catalog import load_table
from .catalog import register

from ..operators.layout import spread_for_compute as _spread
from ..functions.frames import local_frame


# Shared shingle CTE (3-gram word shingles, distinct per doc) — the SQL
# twin of operators/dedup.py shingle_sets().
_SHINGLE_CTE = """
words AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(ws[t.i : t.i + 2], ' ') AS shingle
  FROM words, UNNEST(range(1, greatest(len(ws) - 1, 1))) AS t(i)
)
"""

_JACCARD_TAIL = """
sizes AS (
  SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY 1
),
inter AS (
  SELECT a.doc_id AS left_id, b.doc_id AS right_id, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT i.left_id, i.right_id,
         CAST(i.n_common AS DOUBLE)
           / CAST(sa.n_shingles + sb.n_shingles - i.n_common AS DOUBLE) AS jaccard
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.left_id
  JOIN sizes sb ON sb.doc_id = i.right_id
)
"""

_NGRAM_JACCARD_ORACLE = f"""
WITH {_SHINGLE_CTE},
dfreq AS (
  SELECT shingle, count(*) AS df FROM sh GROUP BY 1
),
cold AS (
  SELECT s.doc_id, s.shingle
  FROM sh s JOIN dfreq d ON d.shingle = s.shingle
  WHERE d.df <= {DD.MAX_DF}
),
cand AS (
  SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
  FROM cold a JOIN cold b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
{_JACCARD_TAIL}
SELECT c.left_id, c.right_id, j.jaccard
FROM cand c JOIN jac j ON j.left_id = c.left_id AND j.right_id = c.right_id
WHERE j.jaccard >= 0.5
"""


@register("dedup_ngram_jaccard", oracle=_NGRAM_JACCARD_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs via inverted shingle index.

    Candidate pairs come from the shingle equi-join (never an all-pairs
    cross join), with hot shingles (document frequency > MAX_DF = 256)
    dropped from candidate generation so no single boilerplate phrase
    can cost df^2 pairs — the cap that makes the inverted index survive
    a 100 TB corpus.  Surviving pairs are scored exactly on full
    shingle sets via array_intersect (no exploded-index re-shuffle).
    """
    docs = _spread(spark, load_table(spark, sf_dir, "documents"))
    sharr = DD.shingle_arrays(docs, n=3)
    return DD.jaccard_pairs_capped(sharr, threshold=0.5, max_df=DD.MAX_DF)


# --------------------------------------------------------------------------
# MinHash + LSH banding, then exact-Jaccard verification of candidates.
# --------------------------------------------------------------------------

def _duck_sig_bands_cte() -> str:
    """The `sig` + `bands` CTE pair shared by every MinHash-LSH oracle
    (batch self-join AND incremental probe): per-doc signatures from
    the md5-derived 32-bit hash under DD's permutation constants, then
    one band-key row per (doc, band).  Single source — a change to
    N_PERM / banding / the hash expression reaches all LSH oracles."""
    h = "CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT)"
    sig_cols = ",\n    ".join(
        f"min(({DD.PERM_A[i]} * {h} + {DD.PERM_B[i]}) % {DD.MINHASH_P}) AS mh{i}"
        for i in range(DD.N_PERM)
    )
    band_selects = []
    for band in range(DD.N_BANDS):
        cols = ", ".join(
            f"mh{band * DD.ROWS_PER_BAND + r}" for r in range(DD.ROWS_PER_BAND)
        )
        band_selects.append(
            f"SELECT doc_id, {band} AS band, md5(concat_ws(',', {cols})) AS band_key FROM sig"
        )
    bands_union = "\n  UNION ALL\n  ".join(band_selects)
    return f"""sig AS (
  SELECT doc_id,
    {sig_cols}
  FROM sh GROUP BY doc_id
),
bands AS (
  {bands_union}
)"""


def _duck_minhash_sql() -> str:
    return f"""
WITH {_SHINGLE_CTE},
{_duck_sig_bands_cte()},
cand AS (
  SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
{_JACCARD_TAIL}
SELECT c.left_id, c.right_id, j.jaccard
FROM cand c JOIN jac j ON j.left_id = c.left_id AND j.right_id = c.right_id
WHERE j.jaccard >= 0.5
"""


@register("dedup_minhash_lsh", oracle=_duck_minhash_sql())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (16 perms) -> 4x4 LSH bands -> candidates -> exact verify.

    The full shingle->minhash->band->bucket-join pipeline: candidate
    generation cost is bands x docs, verification touches only bucket
    collisions.  Threshold 0.5 with 4-row bands puts the S-curve
    midpoint near 0.84, so this demonstrates the recall-vs-cost dial
    (exact pass: dedup_ngram_jaccard).
    """
    docs = _spread(spark, load_table(spark, sf_dir, "documents"))
    sharr = DD.shingle_arrays(docs, n=3)
    cand = DD.lsh_candidate_pairs(DD.minhash_signatures_arrays(sharr))
    return DD.jaccard_verify(sharr, cand, threshold=0.5)


# --------------------------------------------------------------------------
# Incremental near-dup: probe a new batch against the historical LSH
# index (the streaming/daily-ingest form of dedup_minhash_lsh — history
# is never compared to itself, and at 100 TB only its band keys are
# persisted, not its shingle sets).
# --------------------------------------------------------------------------

def _duck_incremental_neardup_sql() -> str:
    return f"""
WITH {_SHINGLE_CTE},
{_duck_sig_bands_cte()},
cand AS (
  SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id % 5 != 0 AND b.doc_id % 5 = 0
),
sizes AS (
  SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY 1
),
inter AS (
  SELECT c.left_id, c.right_id, count(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.left_id
  JOIN sh b ON b.doc_id = c.right_id AND b.shingle = a.shingle
  GROUP BY 1, 2
),
hits AS (
  SELECT i.left_id, i.right_id,
         CAST(i.n_common AS DOUBLE)
           / CAST(sa.n_shingles + sb.n_shingles - i.n_common AS DOUBLE)
           AS jaccard
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.left_id
  JOIN sizes sb ON sb.doc_id = i.right_id
  WHERE CAST(i.n_common AS DOUBLE)
          / CAST(sa.n_shingles + sb.n_shingles - i.n_common AS DOUBLE) >= 0.5
),
best AS (
  SELECT right_id, left_id, jaccard,
         row_number() OVER (PARTITION BY right_id
                            ORDER BY jaccard DESC, left_id) AS rn
  FROM hits
)
SELECT d.doc_id AS batch_id,
       (b.left_id IS NOT NULL) AS is_dup,
       CAST(b.left_id AS BIGINT) AS dup_of,
       b.jaccard AS best_jaccard
FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.right_id = d.doc_id
ORDER BY batch_id
"""


@register("incremental_neardup_lsh", oracle=_duck_incremental_neardup_sql())
def incremental_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe a new batch (every 5th doc) against the HISTORICAL corpus's
    LSH index: band-bucket join, exact-Jaccard verify, best historical
    match per batch doc (ties: higher jaccard, then earliest id), NULLs
    for clean docs — the decision table a daily-ingest dedup stage
    emits.

    Incremental shape (``operators/dedup.py lsh_probe_pairs``):
    history meets the batch ONLY through (band, band_key) buckets —
    history is never self-joined, so a day's cost is
    |batch| x bands + collisions, independent of |history|; the
    persisted index is band keys (bands x docs small rows), with
    shingle sets needed only for verifying the colliding candidates.
    Complements bloom_incremental_filter (exact membership) with the
    NEAR-dup membership a curation pipeline actually runs.

    Signatures ride the one-pass Arrow ``lsh_build_kernel`` (round 8:
    the driver-checked incremental path is now also the fast one —
    2.2x the expression route at 1M docs); band keys and shingle sets
    are byte-identical to the expression surface the DuckDB oracle
    models (tests/test_dedup_kernel.py pins parity), so the oracle is
    unchanged.  A doc under shingle_n tokens produces no kernel row —
    and no bands and no candidates on the expression route either, so
    it lands in the decision table as clean through ``batch_ids``
    exactly as before.
    """
    docs = _spread(spark, load_table(spark, sf_dir, "documents"))
    # one kernel pass serves both sides and the verify arrays
    rows = scope.cache(DD.lsh_build_kernel(docs, n=3))
    cand = DD.lsh_probe_pairs_kernel(
        rows.filter(F.col("doc_id") % 5 != 0),
        rows.filter(F.col("doc_id") % 5 == 0))
    verified = DD.jaccard_verify(
        rows.select("doc_id", "shingles"), cand, threshold=0.5)
    batch_ids = docs.filter(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("batch_id"))
    return _neardup_decision(batch_ids, verified)


def _neardup_decision(batch_ids: DataFrame, verified: DataFrame) -> DataFrame:
    """Verified (hist, batch, jaccard) pairs -> the per-batch-doc
    decision table (best historical match; ties higher jaccard then
    earliest id; NULLs for clean docs) — shared by the in-query probe
    and the persisted-index probe."""
    w = W.partitionBy("right_id").orderBy(
        F.col("jaccard").desc(), F.col("left_id"))
    best = (
        verified.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("right_id", "left_id", "jaccard")
    )
    return (
        batch_ids.join(best, batch_ids.batch_id == best.right_id, "left")
        .select(
            "batch_id",
            F.col("left_id").isNotNull().alias("is_dup"),
            F.col("left_id").cast("bigint").alias("dup_of"),
            F.col("jaccard").alias("best_jaccard"),
        )
        .orderBy("batch_id")
    )


@register("lsh_index_persisted", oracle=_duck_incremental_neardup_sql())
def lsh_index_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED near-dup probe index (round 7 — the index store's
    LSH leg, completing the IVFPQ/SQ8/LSH trilogy): build writes the
    history's band-key and shingle-set tables
    (operators/index_store.py), then the batch (every 5th doc) is
    shingled FRESH and probed against the RELOADED files — the same
    bucket join, exact-Jaccard verify, and decision table as
    incremental_neardup_lsh, under the identical oracle, certifying
    that the save/load round trip changes no verdict.

    This is the artifact a daily-ingest dedup stage actually holds:
    history meets a batch only through the two parquet tables (band
    keys for the bucket join, shingle sets only for colliding
    candidates), so a day's cost is |batch| signatures + collisions —
    history text is never re-shingled, and the index grows by
    append_to_lsh_index (frozen parameters, immutable history files —
    tests/test_index_store.py pins the contract).
    """
    from ..operators.index_store import build_lsh_index, probe_lsh_index
    from .ingest_plans import _io_dir

    docs = _spread(spark, load_table(spark, sf_dir, "documents"))
    hist = docs.filter(F.col("doc_id") % 5 != 0).select("doc_id", "text")
    batch = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id", "text")
    path = _io_dir(sf_dir, "lsh_index")
    build_lsh_index(spark, hist, path)
    verified = probe_lsh_index(spark, path, batch, threshold=0.5)
    batch_ids = batch.select(F.col("doc_id").alias("batch_id"))
    return _neardup_decision(batch_ids, verified)


@register("lsh_index_lifecycle", oracle=_duck_incremental_neardup_sql())
def lsh_index_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL store lifecycle under the driver's hash check
    (round 8): build the index on only a third of history, APPEND the
    other two thirds as two daily batches, COMPACT the accumulated
    epochs into one (the atomic pointer-swap consolidation of
    operators/index_store.py), then probe — under the IDENTICAL
    oracle as lsh_index_persisted / incremental_neardup_lsh.

    A matching hash therefore certifies the strongest store property
    in one row: ``append + append + compact + probe`` is
    result-equivalent to ``build-once-on-everything + probe`` — the
    frozen parameters reproduce byte-identical band keys for data
    indexed on different days, and compaction moves bytes without
    touching a single verdict.  This is exactly the weekly-maintenance
    cadence a year-long daily-ingest pipeline runs
    (docs/DEPLOYMENT.md), checked end to end by the driver every
    round it is in-window.
    """
    from ..operators.index_store import (
        append_to_lsh_index, build_lsh_index, compact_lsh_index,
        probe_lsh_index)
    from .ingest_plans import _io_dir

    docs = _spread(spark, load_table(spark, sf_dir, "documents"))
    hist = docs.filter(F.col("doc_id") % 5 != 0).select("doc_id", "text")
    batch = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id", "text")
    path = _io_dir(sf_dir, "lsh_index_lifecycle")
    # seed: one third of history; two "days" of appends deliver the rest
    build_lsh_index(spark, hist.filter(F.col("doc_id") % 3 == 0), path)
    append_to_lsh_index(spark, hist.filter(F.col("doc_id") % 3 == 1), path)
    append_to_lsh_index(spark, hist.filter(F.col("doc_id") % 3 == 2), path)
    compact_lsh_index(spark, path)
    verified = probe_lsh_index(spark, path, batch, threshold=0.5)
    batch_ids = batch.select(F.col("doc_id").alias("batch_id"))
    return _neardup_decision(batch_ids, verified)


# --------------------------------------------------------------------------
# SimHash fingerprints.
# --------------------------------------------------------------------------

def _duck_simhash_sql(bits: int = 32) -> str:
    sums, fp = DD.duck_simhash_pieces(bits)
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
  FROM documents
),
sums AS (
  SELECT doc_id,
    {sums}
  FROM toks GROUP BY doc_id
)
SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM sums
"""


@register("dedup_simhash", oracle=_duck_simhash_sql())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprint per document (integer-exact).

    Spread first: the per-token md5 + 32-bit accumulation is the
    expensive narrow stage, and the scan is one input split at test
    SFs (see operators/layout.spread_for_compute)."""
    docs = _spread(spark, load_table(spark, sf_dir, "documents"))
    return DD.simhash(docs)


# --------------------------------------------------------------------------
# ANN scale path: IVF-style deterministic coarse quantizer.
# --------------------------------------------------------------------------

# Fixed centroid count, independent of corpus size: assignment cost is
# N x N_CENTROIDS (linear in N), never N^2/k.  The deterministic
# "k-means seed" is the 32 vectors ranking first by md5(vec_id) — a
# uniform pseudo-random sample both engines compute identically.  The
# production path swaps this seed for k-means|| centroids; the plan
# shape (broadcast centroid table, one assignment pass) is unchanged.
N_CENTROIDS = 32

# Semantic-dedup duplicate threshold (cosine), shared by the pinned
# and scaled forms and their oracles.
_SEMDEDUP_TAU = 0.35


def _ivf_assign_cte_sql(limit_expr: str) -> str:
    """IVF-assignment CTE prefix: deterministic centroid sample (first
    ``limit_expr`` vectors by md5(id)), best-cosine cell per vector —
    the SQL twin of _ivf_ranked() below.  ``limit_expr`` is either the
    pinned literal (static oracles) or the corpus-sized subquery
    mirroring operators.similarity.ivf_centroids_for_corpus."""
    return f"""e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
cent AS (
  SELECT vec_id AS cent_id, v AS cv FROM e
  ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {limit_expr}
),
ranked AS (
  SELECT e.vec_id, c.cent_id,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY list_dot_product(e.v, c.cv)
                  / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv)))
                  DESC,
             c.cent_id) AS rn
  FROM e CROSS JOIN cent c
),
assign AS (
  SELECT vec_id, cent_id FROM ranked WHERE rn = 1
)"""


# Pinned-k form reused by similarity_ann_ivf / semantic_dedup /
# kmeans_update_step; dynamic-k form is the SQL twin of
# ivf_centroids_for_corpus (k = max(32, ceil(sqrt(N)))) used by the
# scaled-path oracles.
_IVF_ASSIGN_CTE = _ivf_assign_cte_sql(str(N_CENTROIDS))
_DYN_K_SQL = "(SELECT greatest(32, CAST(ceil(sqrt(count(*))) AS BIGINT)) FROM e)"
_IVF_ASSIGN_DYN_CTE = _ivf_assign_cte_sql(_DYN_K_SQL)

_ANN_IVF_ORACLE = f"""
WITH {_IVF_ASSIGN_CTE},
q_cells AS (  -- nprobe=2: each query searches its two nearest cells
  SELECT r.vec_id AS query_id, r.cent_id, e.v AS qv
  FROM ranked r JOIN e ON e.vec_id = r.vec_id
  WHERE r.vec_id % 100 = 0 AND r.rn <= 2
),
scored AS (
  SELECT q.query_id, a.vec_id AS neighbor_id,
         list_dot_product(q.qv, e.v)
           / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))) AS cosine,
         row_number() OVER (
           PARTITION BY q.query_id
           ORDER BY list_dot_product(q.qv, e.v)
                  / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v)))
                  DESC,
             a.vec_id) AS rnk
  FROM q_cells q
  JOIN assign a ON a.cent_id = q.cent_id AND a.vec_id != q.query_id
  JOIN e ON e.vec_id = a.vec_id
)
SELECT query_id, neighbor_id, cosine, rnk FROM scored WHERE rnk <= 5
"""


def _emb_with_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v, v_norm) — norms precomputed per VECTOR, not per
    pair: the cosine's sqrt(dot(v,v)) folds are pair-invariant, so
    the O(pairs) hot paths fold only the cross-dot (bit-identical
    value; see embedding_neardup_pairs)."""
    return (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", VX.as_double(F.col("embedding")).alias("v"))
        .withColumn("v_norm", VX.norm(F.col("v")))
    )


def _ivf_ranked(emb: DataFrame, n_centroids: int = N_CENTROIDS) -> DataFrame:
    """Every (vector, centroid) pair ranked by cosine: rn = 1 is the
    cell assignment, rn <= nprobe the probe set.  One broadcast of the
    centroid table, one linear N x k pass — the Spark twin of
    _IVF_ASSIGN_CTE (which pins k = N_CENTROIDS for the static
    oracle); production sizes k via
    operators.similarity.ivf_centroids_for_corpus."""
    cent = (
        emb.orderBy(F.md5(F.col("vec_id").cast("string")))
        .limit(n_centroids)
        .select(
            F.col("vec_id").alias("cent_id"),
            F.col("v").alias("cv"),
            F.col("v_norm").alias("cv_norm"),
        )
    )
    assign_cos = VX.safe_div(VX.dot(F.col("v"), F.col("cv")),
                             F.col("v_norm") * F.col("cv_norm"))
    ranked = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id", "cent_id", assign_cos.alias("c")
    )
    w_assign = W.partitionBy("vec_id").orderBy(F.col("c").desc(), F.col("cent_id"))
    return ranked.withColumn("rn", F.row_number().over(w_assign))


def ann_ivf(spark: SparkSession, sf_dir: str, nprobe: int = 2,
            n_centroids: int = N_CENTROIDS,
            emb: DataFrame | None = None) -> DataFrame:
    """IVF top-5 at a given probe count — ``nprobe`` is the
    recall/cost dial (search cost ~ nprobe x mean cell size) and
    ``n_centroids`` the cell-size dial (size ~sqrt(N) via
    ivf_centroids_for_corpus: the 250k-doc sweep measured the pinned
    32-cell form going quadratic once cells grow with the corpus);
    see :func:`similarity_ann_ivf` for the registered nprobe=2 form
    and tests/test_ivf_recall.py for the measured recall curve."""
    if emb is None:
        emb = _emb_with_norms(spark, sf_dir)
    ranked = _ivf_ranked(emb, n_centroids=n_centroids)
    return _ann_from_assignment(emb, ranked, nprobe)


def _ann_from_assignment(emb: DataFrame, ranked: DataFrame,
                         nprobe: int) -> DataFrame:
    """Probe + score stage shared by the expression-fold and the
    vectorized (numpy matmul) quantizers: ``ranked`` supplies
    (vec_id, cent_id, rn).  Scoring stays on the bit-parity expression
    cosine — per-cell pair counts are bounded, only the N x k
    assignment needed a numeric kernel."""
    assign = ranked.filter(F.col("rn") == 1).select("vec_id", "cent_id")
    q = (
        ranked.filter((F.col("vec_id") % 100 == 0) & (F.col("rn") <= nprobe))
        .select("vec_id", "cent_id")
        .join(emb, "vec_id")
        .select(
            F.col("vec_id").alias("query_id"),
            "cent_id",
            F.col("v").alias("qv"),
            F.col("v_norm").alias("qv_norm"),
        )
        .alias("q")
    )
    cand = assign.join(emb, "vec_id").select("vec_id", "cent_id", "v", "v_norm").alias("cand")
    probe_cos = VX.safe_div(VX.dot(F.col("q.qv"), F.col("cand.v")),
                            F.col("q.qv_norm") * F.col("cand.v_norm"))
    scored = (
        cand.join(
            F.broadcast(q),
            (F.col("cand.cent_id") == F.col("q.cent_id"))
            & (F.col("cand.vec_id") != F.col("q.query_id")),
        )
        .select(
            F.col("q.query_id").alias("query_id"),
            F.col("cand.vec_id").alias("neighbor_id"),
            probe_cos.alias("cosine"),
        )
    )
    w_rank = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return scored.withColumn("rnk", F.row_number().over(w_rank)).filter(F.col("rnk") <= 5)


def ann_ivf_scaled(spark: SparkSession, sf_dir: str, nprobe: int = 2,
                   n_centroids: int | None = None,
                   emb: DataFrame | None = None) -> DataFrame:
    """The production ANN path: numpy-matmul assignment (Arrow batches,
    operators/ann.py) + sqrt(N)-sized centroids + per-cell BLAS probe
    scoring.  The expression-fold quantizer costs N x k x dim scalar
    ops — raising k to keep cells bounded makes the assignment itself
    the wall (measured: k=224 at 50k vectors was 4x SLOWER than k=32
    despite smaller cells); with the assignment vectorized the NEXT
    wall is the probe stage's interpreted cosine fold over the
    queries x cell-size pair stream (measured 645 s at 1M vectors),
    fixed the same way — ann_probe_topk_blas scores each cell's
    members against its probing queries as one matmul, moving the
    corpus through one linear shuffle instead of a pair-stream join
    (docs/BENCH_COMPARE.md)."""
    from ..operators.ann import (
        ann_probe_topk_blas, centroid_matrix, ivf_assign_vectorized)
    from ..operators.similarity import ivf_centroids_for_corpus

    if emb is None:
        emb = _emb_with_norms(spark, sf_dir)
    if n_centroids is None:
        n_centroids = ivf_centroids_for_corpus(emb.count())
    cent_ids, cent_mat = centroid_matrix(emb, n_centroids)
    ranked = ivf_assign_vectorized(emb, cent_ids, cent_mat, nprobe=nprobe)
    return ann_probe_topk_blas(emb, ranked, nprobe=nprobe)


# Probed recall floor for the registered scaled-ANN query: measured
# mean recall vs brute force is 0.160 / 0.280 / 0.190 at sf0.001 /
# 0.01 / 0.1 (deterministic — frozen data, tie-pinned rankings), so
# 0.15 holds at every checked SF with margin.
_ANN_SCALED_RECALL_FLOOR = 0.15

_ANN_SCALED_ORACLE = f"""
WITH {_IVF_ASSIGN_DYN_CTE},
q_cells AS (
  SELECT r.vec_id AS query_id, r.cent_id, e.v AS qv
  FROM ranked r JOIN e ON e.vec_id = r.vec_id
  WHERE r.vec_id % 100 = 0 AND r.rn <= 2
),
scored AS (
  SELECT q.query_id, a.vec_id AS neighbor_id,
         row_number() OVER (
           PARTITION BY q.query_id
           ORDER BY list_dot_product(q.qv, e.v)
                  / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v)))
                  DESC,
             a.vec_id) AS rnk
  FROM q_cells q
  JOIN assign a ON a.cent_id = q.cent_id AND a.vec_id != q.query_id
  JOIN e ON e.vec_id = a.vec_id
)
SELECT query_id, neighbor_id, rnk, TRUE AS recall_ge_floor
FROM scored WHERE rnk <= 5
"""


@register("ann_ivf_scaled", oracle=_ANN_SCALED_ORACLE)
def ann_ivf_scaled_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION ANN path under driver check: corpus-sized
    centroid count (ivf_centroids_for_corpus, k = max(32, ceil
    (sqrt(N)))), numpy-matmul assignment over Arrow batches, per-cell
    BLAS probe scoring with the mechanical query-byte budget
    (operators/ann.py) — exactly the kernels a 100 TB user runs, not
    the pinned expression form.

    Checked two ways in one hash: (a) the (query_id, neighbor_id, rnk)
    triples must EQUAL DuckDB's dynamic-k IVF twin (the CTE computes
    the same k = ceil(sqrt(N)) from the corpus, so the oracle follows
    the scale dial instead of pinning k=32) — float64 matmul and the
    sequential SQL fold agree bit-for-all-rankings on this corpus,
    verified at sf0.001/0.01/0.1; raw cosine VALUES are excluded from
    the output because ulp-level sum-order differences between matmul
    and fold would make full-precision hash parity meaningless; and
    (b) the recall_ge_floor boolean — mean probed recall against an
    in-query brute-force answer on the same sampled queries — must be
    genuinely TRUE (the approx_aggregates error-bound recipe), so the
    driver re-verifies ANN quality, not just ranking parity, every
    round.
    """
    from .extensions import similarity_topk_cosine

    ann = ann_ivf_scaled(spark, sf_dir, nprobe=2).select(
        "query_id", "neighbor_id", "rnk")
    brute = similarity_topk_cosine(spark, sf_dir).select(
        "query_id", "neighbor_id")
    n_brute = brute.count()
    n_hit = ann.join(brute, ["query_id", "neighbor_id"]).count()
    recall_ok = n_brute > 0 and (n_hit / n_brute) >= _ANN_SCALED_RECALL_FLOOR
    return ann.withColumn("recall_ge_floor", F.lit(bool(recall_ok)))


_SEMANTIC_SCALED_ORACLE = f"""
WITH {_IVF_ASSIGN_DYN_CTE},
av AS (
  SELECT a.vec_id, a.cent_id, e.v FROM assign a JOIN e ON e.vec_id = a.vec_id
),
dups AS (
  SELECT DISTINCT b.vec_id
  FROM av a JOIN av b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
  WHERE list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
        >= {_SEMDEDUP_TAU}
)
SELECT a.vec_id, a.cent_id, d.vec_id IS NOT NULL AS is_dup
FROM assign a LEFT JOIN dups d ON d.vec_id = a.vec_id
"""


@register("semantic_dedup_scaled", oracle=_SEMANTIC_SCALED_ORACLE)
def semantic_dedup_scaled_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION semantic-dedup path under driver check:
    corpus-sized cells + vectorized assignment + the blocked per-cell
    matmul dup scorer (semantic_dups_blas) — the kernels the pinned
    semantic_dedup query's docstring defers to at scale.

    The oracle is the FULL dup-flag table from DuckDB's dynamic-k twin
    (same corpus-sized k, same earliest-id-wins rule): exact hash
    equality of every (vec_id, cent_id, is_dup) row subsumes the
    agreement-rate check — the expression path and the BLAS panels
    agree flag-for-flag on this corpus at every checked SF (ulp
    divergence between matmul and fold would need a pair cosine within
    one ulp of tau to flip a flag; verified absent at
    sf0.001/0.01/0.1, and any future flip surfaces as a red driver
    row, which is the point of registering it).
    """
    return semantic_dedup_scaled(spark, sf_dir)


@register("similarity_ann_ivf", oracle=_ANN_IVF_ORACLE)
def similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate nearest neighbor (the 100 TB path).

    Coarse quantizer with a FIXED centroid count (N_CENTROIDS = 32,
    independent of corpus size): centroids are a deterministic uniform
    sample (first 32 vectors by md5(vec_id)); every vector is assigned
    to its best-cosine centroid via a broadcast centroid table — one
    linear assignment pass, cost N x 32, at any N.  A query probes its
    two nearest cells (nprobe=2), so search cost is ~2x mean cell size
    instead of N.  Production swaps the sampled seed for k-means||
    centroids sized ~sqrt(N); the plan shape is identical.  Probed
    recall vs the brute-force baseline (similarity_topk_cosine) is the
    quality metric, pinned by tests/test_ivf_recall.py; all arithmetic
    is the bit-parity cosine from functions/vectors.py.
    """
    return ann_ivf(spark, sf_dir, nprobe=2)


# --------------------------------------------------------------------------
# ANN scale path 2: signed-random-projection LSH buckets.
# --------------------------------------------------------------------------

def srp_oracle(n_planes: int = SIM.N_PLANES, min_cosine: float = 0.3) -> str:
    """DuckDB twin of :func:`srp_pairs`, any plane count."""
    return f"""
WITH {SIM.duck_srp_planes(n_planes)},
e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
bits AS (
  SELECT e.vec_id, p.i,
         CASE WHEN list_dot_product(e.v, p.w) >= 0 THEN 1 ELSE 0 END AS b
  FROM e CROSS JOIN planes p
),
buckets AS (
  SELECT vec_id, CAST(sum(b * (1 << i)) AS BIGINT) AS srp_bucket
  FROM bits GROUP BY vec_id
),
pairs AS (
  SELECT a.vec_id AS left_id, b.vec_id AS right_id, a.srp_bucket,
         list_dot_product(ea.v, eb.v)
           / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) AS cosine
  FROM buckets a
  JOIN buckets b ON a.srp_bucket = b.srp_bucket AND a.vec_id < b.vec_id
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id
)
SELECT left_id, right_id, srp_bucket, cosine FROM pairs WHERE cosine >= {min_cosine}
"""


def srp_pairs(emb: DataFrame, n_planes: int = SIM.N_PLANES,
              min_cosine: float = 0.3) -> DataFrame:
    """Same-bucket SRP pairs scored by exact cosine, any plane count."""
    b = srp_buckets(emb, n_planes=n_planes).select("vec_id", "v", "srp_bucket")
    left = b.alias("a")
    right = b.alias("b")
    cos = VX.cosine(F.col("a.v"), F.col("b.v"))
    return (
        left.join(
            right,
            (F.col("a.srp_bucket") == F.col("b.srp_bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("left_id"),
            F.col("b.vec_id").alias("right_id"),
            F.col("a.srp_bucket").alias("srp_bucket"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= min_cosine)
    )


@register("similarity_srp_lsh", oracle=srp_oracle())
def similarity_srp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH near-neighbor pairs (ANN scale path 2).

    md5-derived integer hyperplanes bucket each vector (one narrow
    projection over the data); only same-bucket pairs are scored, so
    the pair count tracks bucket occupancy instead of N^2.  Random
    hyperplanes preserve cosine locality: P[same bit] = 1 - angle/pi
    per plane.  Plane count is the occupancy/recall dial — size it with
    operators.similarity.srp_planes_for_corpus (planes ~
    log2(N / target_bucket)) so mean occupancy stays flat as the corpus
    grows; this query pins the 8-plane default for oracle parity.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return srp_pairs(emb, n_planes=SIM.N_PLANES)


# --------------------------------------------------------------------------
# Dedup clustering: connected components over the near-dup pair graph.
# --------------------------------------------------------------------------

_CLUSTERS_ORACLE = f"""
WITH RECURSIVE {_SHINGLE_CTE},
dfreq AS (
  SELECT shingle, count(*) AS df FROM sh GROUP BY 1
),
cold AS (
  SELECT s.doc_id, s.shingle
  FROM sh s JOIN dfreq d ON d.shingle = s.shingle
  WHERE d.df <= {DD.MAX_DF}
),
cand AS (
  SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
  FROM cold a JOIN cold b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
{_JACCARD_TAIL},
pairs AS (
  SELECT c.left_id, c.right_id
  FROM cand c JOIN jac j ON j.left_id = c.left_id AND j.right_id = c.right_id
  WHERE j.jaccard >= 0.5
),
{CC.duck_components_sql("pairs")}
SELECT vertex_id AS doc_id, cluster_id,
       vertex_id = cluster_id AS is_canonical,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM components
"""


@register("dedup_clusters", oracle=_CLUSTERS_ORACLE)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: transitive closure of the capped-Jaccard pair
    graph, one canonical doc (min doc_id) per cluster.

    Pair emission answers "are these two docs near-dups"; an actual
    corpus dedup needs clusters — A~B and B~C must put A, B, C in ONE
    group with ONE survivor, even when A~C itself scores below the
    threshold.  Components come from iterative min-label propagation
    (operators/clusters.py: one shuffle per round, rounds ~ graph
    diameter, convergence checked by a scalar aggregate); the oracle is
    DuckDB's recursive transitive closure over the same pair SQL.
    Non-canonical members (is_canonical = false) are the drop set.
    """
    docs = _spread(spark, load_table(spark, sf_dir, "documents"))
    sharr = DD.shingle_arrays(docs, n=3)
    pairs = DD.jaccard_pairs_capped(sharr, threshold=0.5, max_df=DD.MAX_DF)
    comp = CC.connected_components(pairs.select("left_id", "right_id"))
    w_sz = W.partitionBy("cluster_id")
    return comp.select(
        F.col("vertex_id").alias("doc_id"),
        "cluster_id",
        (F.col("vertex_id") == F.col("cluster_id")).alias("is_canonical"),
        F.count(F.lit(1)).over(w_sz).alias("cluster_size"),
    )


# --------------------------------------------------------------------------
# Semantic dedup: cluster-blocked embedding-cosine duplicate marking.
# --------------------------------------------------------------------------

_SEMANTIC_DEDUP_ORACLE = f"""
WITH {_IVF_ASSIGN_CTE},
av AS (
  SELECT a.vec_id, a.cent_id, e.v FROM assign a JOIN e ON e.vec_id = a.vec_id
),
dups AS (
  SELECT DISTINCT b.vec_id
  FROM av a JOIN av b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
  WHERE list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
        >= {_SEMDEDUP_TAU}
)
SELECT a.vec_id, a.cent_id, d.vec_id IS NOT NULL AS is_dup
FROM assign a LEFT JOIN dups d ON d.vec_id = a.vec_id
"""


@register("semantic_dedup", oracle=_SEMANTIC_DEDUP_ORACLE)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-space) dedup: a vector is a duplicate when
    an earlier same-cluster vector sits within cosine >= 0.35.

    The published semantic-dedup recipe at scale: cluster first
    (k-means-style cells — here the deterministic IVF quantizer), then
    compare only WITHIN cells, so the pair count is sum of cell-size
    squared, not N squared, and cell count grows with the corpus.
    Earliest-id wins as the keeper, making the drop set deterministic
    and idempotent across reruns.  One broadcast assignment pass + one
    cell-blocked self-join; at 100 TB the cells are the shuffle key,
    so each executor scores only its own cells.
    """
    return semantic_dedup_sized(spark, sf_dir, n_centroids=N_CENTROIDS)


def semantic_dedup_sized(spark: SparkSession, sf_dir: str,
                         n_centroids: int = N_CENTROIDS) -> DataFrame:
    """semantic_dedup with a caller-sized cell count (the scale dial:
    cells must grow ~sqrt(N) or within-cell pair cost goes quadratic —
    measured in the 250k-doc sweep, see docs/BENCH_COMPARE.md).  The
    registered query pins N_CENTROIDS for the static oracle."""
    emb = _emb_with_norms(spark, sf_dir)
    ranked = _ivf_ranked(emb, n_centroids=n_centroids)
    assign = ranked.filter(F.col("rn") == 1).select("vec_id", "cent_id")
    return _semantic_from_assignment(emb, assign)


def _semantic_from_assignment(emb: DataFrame, assign: DataFrame) -> DataFrame:
    """Cell-blocked duplicate marking shared by both quantizers."""
    av = assign.join(emb, "vec_id").select("vec_id", "cent_id", "v", "v_norm")
    a, b = av.alias("a"), av.alias("b")
    cos = VX.safe_div(VX.dot(F.col("a.v"), F.col("b.v")),
                      F.col("a.v_norm") * F.col("b.v_norm"))
    dups = (
        a.join(b, (F.col("a.cent_id") == F.col("b.cent_id"))
               & (F.col("a.vec_id") < F.col("b.vec_id")))
        .filter(cos >= _SEMDEDUP_TAU)
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
        .withColumn("d", F.lit(True))
    )
    return (
        assign.join(dups, "vec_id", "left")
        .select("vec_id", "cent_id", F.coalesce(F.col("d"), F.lit(False)).alias("is_dup"))
    )


def ann_ivf_kmeans(spark: SparkSession, sf_dir: str, nprobe: int = 2,
                   n_centroids: int | None = None,
                   max_iters: int = 5,
                   emb: DataFrame | None = None) -> DataFrame:
    """IVF with FITTED centroids — the quality upgrade the pinned
    query's docstring promises ("production swaps the sampled seed
    for k-means centroids").  kmeans_fit learns the quantizer
    (farthest-point seed, vectorized Lloyd rounds), then the probe +
    score stage is identical to every other IVF path.  Fitted cells
    track the corpus structure, so probed recall at the same nprobe
    dominates the sampled-seed form (pinned by
    tests/test_ivf_recall.py::test_kmeans_centroids_beat_sampled_seed).
    """
    from ..operators.ann import ivf_assign_vectorized, kmeans_fit
    from ..operators.similarity import ivf_centroids_for_corpus

    if emb is None:
        emb = _emb_with_norms(spark, sf_dir)
    if n_centroids is None:
        n_centroids = ivf_centroids_for_corpus(emb.count())
    cent = kmeans_fit(emb, k=n_centroids, max_iters=max_iters).centroids
    import numpy as np

    ids = np.arange(len(cent), dtype=np.int64)
    ranked = ivf_assign_vectorized(emb, ids, cent, nprobe=nprobe)
    return _ann_from_assignment(emb, ranked, nprobe)


# Measured (deterministic — frozen data, deterministic seed + fit):
# fitted recall 0.360 / 0.440 / 0.380 vs sampled 0.160 / 0.280 / 0.210
# at sf0.001 / 0.01 / 0.1, so the floor and the lift both hold with
# wide margin at every checked SF.
_KMEANS_RECALL_FLOOR = 0.30

_ANN_KMEANS_ORACLE = """
SELECT count(*) AS n_queries,
       TRUE AS fitted_recall_ge_sampled,
       TRUE AS fitted_recall_ge_floor
FROM embeddings WHERE vec_id % 100 = 0
"""


@register("ann_kmeans_recall_lift", oracle=_ANN_KMEANS_ORACLE)
def ann_kmeans_recall_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FITTED-quantizer ANN pipeline under driver check: farthest-
    point seeding -> vectorized Lloyd fit (operators/ann.kmeans_fit)
    -> matmul assignment -> probe, judged by probed recall against the
    in-query brute-force answer.

    The quality claim the IVF docstrings make ("production swaps the
    sampled seed for k-means centroids") becomes a driver-checked
    invariant: at the same k and nprobe, the fitted quantizer's recall
    must (a) dominate the sampled seed's and (b) clear an absolute
    floor — the same error-bound-boolean recipe as approx_aggregates,
    with the exact sampled-query count anchoring the hash.  Runs the
    full iterative fit, both probe paths, and the brute-force baseline
    in one query, so every driver round re-executes the complete
    learned-index pipeline end to end.
    """
    from .extensions import similarity_topk_cosine

    # brute feeds four actions (count, two recall joins, query count)
    brute = scope.cache(similarity_topk_cosine(spark, sf_dir).select(
        "query_id", "neighbor_id"))
    # one cached corpus frame serves BOTH probe pipelines and every
    # Lloyd-iteration pass of the fit (round 9, guide §5: the fitted
    # path alone re-derived the scan+norm projection max_iters+1
    # times)
    emb = scope.cache(_emb_with_norms(spark, sf_dir))
    n_brute = brute.count()

    def recall(df: DataFrame) -> float:
        hits = df.select("query_id", "neighbor_id").join(
            brute, ["query_id", "neighbor_id"]).count()
        return hits / n_brute if n_brute else 0.0

    sampled = recall(ann_ivf(spark, sf_dir, nprobe=2, emb=emb))
    fitted = recall(ann_ivf_kmeans(
        spark, sf_dir, nprobe=2, n_centroids=N_CENTROIDS, max_iters=5,
        emb=emb))
    n_queries = brute.select("query_id").distinct().count()
    return local_frame(
        spark,
        [(int(n_queries), fitted >= sampled, fitted >= _KMEANS_RECALL_FLOOR)],
        "n_queries bigint, fitted_recall_ge_sampled boolean, "
        "fitted_recall_ge_floor boolean",
    )


def semantic_dedup_scaled(spark: SparkSession, sf_dir: str,
                          n_centroids: int | None = None,
                          emb: DataFrame | None = None) -> DataFrame:
    """Production semantic dedup: numpy-matmul assignment + sqrt(N)
    cells (see ann_ivf_scaled — same two dials, same measured
    rationale) + blocked per-cell matmul scoring (semantic_dups_blas:
    within-cell pairs are O(N^1.5) even with sqrt(N) cells, and real
    corpora skew cells — the panel kernel bounds memory at block x m
    while never materializing the pair stream)."""
    from ..operators.ann import (
        centroid_matrix, ivf_assign_vectorized, semantic_dups_blas)
    from ..operators.similarity import ivf_centroids_for_corpus

    if emb is None:
        emb = _emb_with_norms(spark, sf_dir)
    if n_centroids is None:
        n_centroids = ivf_centroids_for_corpus(emb.count())
    cent_ids, cent_mat = centroid_matrix(emb, n_centroids)
    ranked = ivf_assign_vectorized(emb, cent_ids, cent_mat, nprobe=1)
    assign = ranked.filter(F.col("rn") == 1).select("vec_id", "cent_id")
    return semantic_dups_blas(emb, assign, _SEMDEDUP_TAU)


# --------------------------------------------------------------------------
# One Lloyd iteration: per-cell centroid means, fixed-point accumulation.
# --------------------------------------------------------------------------

# Fixed-point quantization scale for deterministic distributed sums:
# float32 inputs scaled by 2^24 and rounded to integers sum exactly in
# int64 regardless of aggregation order — the decimal-parity trick,
# sized for embedding coordinates.
_KMEANS_Q = 16777216.0  # 2^24

_KMEANS_UPDATE_ORACLE = f"""
WITH {_IVF_ASSIGN_CTE},
member AS (
  SELECT a.cent_id, e.v FROM assign a JOIN e ON e.vec_id = a.vec_id
),
exploded AS (
  SELECT cent_id, t.i - 1 AS dim,
         CAST(round(v[t.i] * {_KMEANS_Q}) AS BIGINT) AS xq
  FROM member, UNNEST(range(1, len(v) + 1)) AS t(i)
)
SELECT cent_id, CAST(dim AS INT) AS dim,
       CAST(sum(xq) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * {_KMEANS_Q})
         AS mean_val,
       count(*) AS n_members
FROM exploded GROUP BY cent_id, dim
"""


@register("kmeans_update_step", oracle=_KMEANS_UPDATE_ORACLE)
def kmeans_update_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One distributed Lloyd iteration: assign every vector to its
    nearest centroid, then emit the new per-cell mean for each
    dimension as (cent_id, dim, mean_val, n_members) rows.

    The building block the IVF quantizer's production path iterates
    (k-means||): assignment is the broadcast N x 32 pass, the update
    is one groupBy(cent_id, dim) over the exploded coordinates —
    map-side partial sums absorb the 64x explosion, so the shuffle
    carries only cells x dims rows at any corpus size.  Coordinates
    are quantized to 2^-24 fixed-point before summing so the mean is
    bit-identical under any partitioning/aggregation order (float
    sums are order-dependent; int64 sums are exact).
    """
    emb = _emb_with_norms(spark, sf_dir)
    ranked = _ivf_ranked(emb)
    assign = ranked.filter(F.col("rn") == 1).select("vec_id", "cent_id")
    member = assign.join(emb, "vec_id").select("cent_id", "v")
    exploded = member.select(
        "cent_id", F.posexplode("v").alias("dim", "x")
    ).select(
        "cent_id", "dim",
        F.round(F.col("x") * _KMEANS_Q).cast("bigint").alias("xq"),
    )
    return (
        exploded.groupBy("cent_id", "dim")
        .agg(
            (F.sum("xq").cast("double") / (F.count(F.lit(1)).cast("double") * _KMEANS_Q))
            .alias("mean_val"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .select("cent_id", F.col("dim").cast("int").alias("dim"), "mean_val", "n_members")
    )


_KMEANS_FIT_K = 8
_KMEANS_FIT_MAX_ITERS = 5
_KMEANS_FIT_TOL = 1e-3
# Objective slack for the monotonicity invariant: each member's
# quantized cosine carries <= 2^-25 error, so N members wobble by
# ~N x 3e-8; 1e-6 x N dwarfs that while catching any real regression.
_KMEANS_OBJ_EPS = 1e-6

_KMEANS_FIT_ORACLE = f"""
SELECT count(*) AS n_vectors,
       {_KMEANS_FIT_K} AS k,
       TRUE AS members_sum_eq_n,
       TRUE AS all_cells_nonempty,
       TRUE AS n_iters_le_max,
       TRUE AS converged_or_capped,
       TRUE AS objective_nondecreasing,
       TRUE AS mean_cos_in_range
FROM embeddings
"""


@register("kmeans_fit_clusters", oracle=_KMEANS_FIT_ORACLE)
def kmeans_fit_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL spherical-k-means fit as a registered, HASH-CHECKED
    query: run the Lloyd loop to convergence (operators/ann.kmeans_fit
    — vectorized matmul assignment, bit-deterministic fixed-point
    means, farthest-point seeding), then report the fit's invariants
    as one row of exact stats + booleans.

    An iterative fixed-point loop is not one ANSI statement, but its
    INVARIANTS are — the same error-bound-boolean recipe that made
    approx_aggregates hash-checkable.  The Spark side computes each
    boolean from the actual fit; the oracle asserts the identical
    literals TRUE plus the exact corpus count, so the row hashes match
    exactly when — and only when — the fit really partitioned the
    whole corpus (members_sum_eq_n from an independent count), left no
    cell empty, stopped within max_iters, stopped BECAUSE it converged
    (final centroid shift < tol) or hit the cap, improved its
    spherical objective monotonically (standard Lloyd theory, tracked
    in 2^-24 fixed point so the trace is partition-independent), and
    produced a mean member->centroid cosine inside (0, 1].
    """
    from ..operators.ann import kmeans_fit

    emb = _emb_with_norms(spark, sf_dir)
    fit = kmeans_fit(emb, k=_KMEANS_FIT_K, max_iters=_KMEANS_FIT_MAX_ITERS,
                     tol=_KMEANS_FIT_TOL)
    cells = {
        r["cent_id"]: r["n"]
        for r in fit.assignment.groupBy("cent_id")
        .agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_vectors = emb.count()  # independent of the assignment pass
    obj = fit.objectives
    slack = _KMEANS_OBJ_EPS * max(1, n_vectors)
    mean_cos = obj[-1] / max(1, n_vectors)
    row = (
        int(n_vectors),
        _KMEANS_FIT_K,
        sum(cells.values()) == n_vectors,
        len(cells) == _KMEANS_FIT_K and all(n > 0 for n in cells.values()),
        fit.n_iters <= _KMEANS_FIT_MAX_ITERS,
        fit.shifts[-1] < _KMEANS_FIT_TOL or fit.n_iters == _KMEANS_FIT_MAX_ITERS,
        all(b >= a - slack for a, b in zip(obj, obj[1:])),
        0.0 < mean_cos <= 1.0 + _KMEANS_OBJ_EPS,
    )
    return local_frame(
        spark, [row],
        "n_vectors bigint, k int, members_sum_eq_n boolean, "
        "all_cells_nonempty boolean, n_iters_le_max boolean, "
        "converged_or_capped boolean, objective_nondecreasing boolean, "
        "mean_cos_in_range boolean",
    )


# --------------------------------------------------------------------------
# Product quantization: compressed-domain ANN (the IVFADC byte-budget leg).
# --------------------------------------------------------------------------

_PQ_M = 8       # subspaces (dim 64 -> dsub 8)
_PQ_KSUB = 16   # codewords per subspace (production: 256)
_PQ_K = 5       # neighbors returned per query
# Measured mean quantization error on the unit-norm corpus: 0.737 /
# 0.754 / 0.774 at sf0.001 / 0.01 / 0.1 (deterministic — frozen data,
# pinned codebooks).  0.85 holds everywhere with ~10% margin yet still
# verifies real argmin encoding: assigning RANDOM codewords instead
# yields E||x - c||^2 ~ 2.0 on unit vectors.
_PQ_ERR_BOUND = 0.85

_PQ_ADC_ORACLE = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
subs AS (SELECT unnest(range(0, {_PQ_M})) AS sub),
seed_rank AS (  -- a DIFFERENT md5 sample per subspace, like real PQ's
                -- independent per-subspace codebooks
  SELECT s.sub, e.vec_id,
         row_number() OVER (
           PARTITION BY s.sub
           ORDER BY md5(CAST(s.sub AS VARCHAR) || ':' || CAST(e.vec_id AS VARCHAR))
         ) AS rn
  FROM e CROSS JOIN subs s
),
cb AS (
  SELECT sr.sub, CAST(sr.rn - 1 AS INTEGER) AS code_id,
         e.v[sr.sub * {64 // _PQ_M} + 1 : sr.sub * {64 // _PQ_M} + {64 // _PQ_M}] AS cw
  FROM seed_rank sr JOIN e ON e.vec_id = sr.vec_id
  WHERE sr.rn <= {_PQ_KSUB}
),
xs AS (
  SELECT e.vec_id, s.sub,
         e.v[s.sub * {64 // _PQ_M} + 1 : s.sub * {64 // _PQ_M} + {64 // _PQ_M}] AS xv
  FROM e CROSS JOIN subs s
),
dist AS (  -- same algebraic form as the kernel: xx - 2*xc + cc
  SELECT x.vec_id, x.sub, c.code_id,
         list_dot_product(x.xv, x.xv) - 2 * list_dot_product(x.xv, c.cw)
           + list_dot_product(c.cw, c.cw) AS d2,
         row_number() OVER (
           PARTITION BY x.vec_id, x.sub
           ORDER BY list_dot_product(x.xv, x.xv) - 2 * list_dot_product(x.xv, c.cw)
                  + list_dot_product(c.cw, c.cw),
             c.code_id) AS rn
  FROM xs x JOIN cb c ON c.sub = x.sub
),
ncodes AS (SELECT vec_id, sub, code_id FROM dist WHERE rn = 1),
codes AS (
  -- serialized as a ','-joined string (not a list): the driver's
  -- pandas canonicalizer sorts/hashes every output column, and an
  -- array cell is unhashable there — the exact per-neighbor code
  -- check is unchanged, only the encoding is scalar.
  SELECT vec_id,
         string_agg(CAST(code_id AS VARCHAR), ',' ORDER BY sub) AS neighbor_codes
  FROM ncodes GROUP BY vec_id
),
lut AS (
  SELECT q.vec_id AS query_id, c.sub, c.code_id,
         list_dot_product(q.xv, q.xv) - 2 * list_dot_product(q.xv, c.cw)
           + list_dot_product(c.cw, c.cw) AS d
  FROM xs q JOIN cb c ON c.sub = q.sub
  WHERE q.vec_id % 100 = 0
),
scored AS (
  SELECT l.query_id, n.vec_id AS neighbor_id, sum(l.d) AS score
  FROM ncodes n JOIN lut l ON l.sub = n.sub AND l.code_id = n.code_id
  WHERE n.vec_id != l.query_id
  GROUP BY l.query_id, n.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score, neighbor_id) AS rnk
  FROM scored
)
SELECT r.query_id, r.neighbor_id, r.rnk, c.neighbor_codes,
       TRUE AS recon_err_lt_bound
FROM ranked r JOIN codes c ON c.vec_id = r.neighbor_id
WHERE r.rnk <= {_PQ_K}
"""


@register("pq_ann_adc", oracle=_PQ_ADC_ORACLE)
def pq_ann_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN with asymmetric distance computation —
    the compressed-index leg of the IVFADC design (Jegou, Douze &
    Schmid, TPAMI 2011): IVF bounds how many vectors a query touches,
    PQ bounds the BYTES each one costs (m=8 codes vs 256 B float32,
    32x), which is what fits a 10^9-vector index in executor memory
    at 100 TB.

    The pipeline under check is real end to end: deterministic
    per-subspace codebooks (bounded md5 sample, operators/pq.py),
    one shuffle-free Arrow encode pass (einsum distances + argmin
    codes), and LUT-based ADC top-k where each batch is scored with m
    fancy-indexed lookups and only tie-stable per-batch survivors are
    shuffled (batches x queries x k rows at any N).  The DuckDB twin
    recomputes codebooks, codes, LUTs, and rankings independently
    from the same md5 sample rule, so the hash check is EXACT on the
    (query_id, neighbor_id, rnk) rankings AND on every returned
    neighbor's code vector — plus a reconstruction-error invariant
    (corpus mean ||x - decode(encode(x))||^2 < 0.85, vs ~2.0 for
    random codes on this unit-norm corpus) that each engine asserts
    from its own arithmetic, the approx_aggregates recipe.  Production
    swaps the sampled codebooks for pq_fit's fused per-subspace Lloyd
    codebooks; every downstream plan shape is identical.
    """
    from ..operators import pq as PQ

    emb = _emb_with_norms(spark, sf_dir).select("vec_id", "v")
    cb = PQ.pq_codebooks_deterministic(emb, m=_PQ_M, ksub=_PQ_KSUB)
    enc = PQ.pq_encode(emb, cb)
    mean_err = enc.agg(F.avg("qerr")).first()[0]
    err_ok = mean_err is not None and mean_err < _PQ_ERR_BOUND
    queries = (
        emb.filter(F.col("vec_id") % 100 == 0)
        .withColumnRenamed("vec_id", "query_id")
    )
    topk = PQ.pq_adc_topk(enc, queries, cb, k=_PQ_K)
    return (
        topk.join(
            enc.select(F.col("vec_id").alias("neighbor_id"),
                       F.col("codes").alias("neighbor_codes")),
            "neighbor_id",
        )
        .select(
            "query_id", "neighbor_id", F.col("rnk").cast("long").alias("rnk"),
            # ','-joined string, matching the oracle's string_agg: the
            # driver's canonicalizer cannot hash array cells.
            F.concat_ws(",", F.col("neighbor_codes").cast("array<string>"))
             .alias("neighbor_codes"),
            F.lit(bool(err_ok)).alias("recon_err_lt_bound"),
        )
    )


_PQ_FIT_MAX_ITERS = 4
_PQ_FIT_TOL = 1e-3
_PQ_FIT_EPS = 1e-9  # fixed-point update wiggle (quantized means)

_PQ_FIT_ORACLE = f"""
SELECT count(*) AS n_vectors,
       {_PQ_M} AS m,
       {_PQ_KSUB} AS ksub,
       TRUE AS err_non_increasing,
       TRUE AS n_iters_le_max,
       TRUE AS converged_or_capped,
       TRUE AS fitted_beats_sample,
       TRUE AS fitted_err_lt_bound
FROM embeddings
"""


@register("pq_fit_quality", oracle=_PQ_FIT_ORACLE)
def pq_fit_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION PQ codebook fit as a registered, hash-checked
    query — the kernel pq_ann_adc's pinned sample codebook stands in
    for at oracle time (operators/pq.pq_fit: all m subspaces trained
    in ONE fused linear pass per Lloyd iteration, quantized int64
    partial sums, bit-deterministic under any partitioning).

    Same invariant-boolean recipe as kmeans_fit_clusters: the Spark
    side computes every boolean from the actual fit, the oracle
    asserts the identical literals TRUE plus the exact corpus count.
    The quality booleans are the teeth: the fitted codebooks must
    (a) trace a non-increasing per-iteration quantization error
    (standard Lloyd theory — measured against each iteration's INPUT
    codebooks), (b) encode the corpus at least as well as the
    deterministic sample codebooks they replace, and (c) land under
    the same 0.85 reconstruction bound pq_ann_adc asserts — so a fit
    that silently degraded into noise flips a literal and reds the
    driver row.
    """
    from ..operators import pq as PQ

    emb = _emb_with_norms(spark, sf_dir).select("vec_id", "v")
    fit = PQ.pq_fit(emb, m=_PQ_M, ksub=_PQ_KSUB,
                    max_iters=_PQ_FIT_MAX_ITERS, tol=_PQ_FIT_TOL)
    # errs[0] is measured against the fit's INPUT codebooks — the
    # deterministic sample — so the baseline costs no extra pass
    # (2^-24-quantized, a ~1e-7 wobble dwarfed by the 0.2 margin).
    e_sample = fit.errs[0]
    e_fit = PQ.pq_encode(emb, fit.codebooks).agg(F.avg("qerr")).first()[0]
    n_vectors = emb.count()
    row = (
        int(n_vectors),
        _PQ_M,
        _PQ_KSUB,
        all(b <= a + _PQ_FIT_EPS for a, b in zip(fit.errs, fit.errs[1:])),
        fit.n_iters <= _PQ_FIT_MAX_ITERS,
        fit.shifts[-1] < _PQ_FIT_TOL or fit.n_iters == _PQ_FIT_MAX_ITERS,
        e_fit is not None and e_sample is not None
        and e_fit <= e_sample + _PQ_FIT_EPS,
        e_fit is not None and e_fit < _PQ_ERR_BOUND,
    )
    return local_frame(
        spark, [row],
        "n_vectors bigint, m int, ksub int, err_non_increasing boolean, "
        "n_iters_le_max boolean, converged_or_capped boolean, "
        "fitted_beats_sample boolean, fitted_err_lt_bound boolean",
    )


# --------------------------------------------------------------------------
# IVFADC: IVF cell restriction x PQ compressed scoring — the combined
# production index (coarse quantizer bounds WHICH vectors a query
# touches, PQ bounds the BYTES each one costs).
# --------------------------------------------------------------------------

_IVFPQ_RANKED_CTES = f"""
WITH {_IVF_ASSIGN_CTE},
subs AS (SELECT unnest(range(0, {_PQ_M})) AS sub),
seed_rank AS (
  SELECT s.sub, e.vec_id,
         row_number() OVER (
           PARTITION BY s.sub
           ORDER BY md5(CAST(s.sub AS VARCHAR) || ':' || CAST(e.vec_id AS VARCHAR))
         ) AS rn
  FROM e CROSS JOIN subs s
),
cb AS (
  SELECT sr.sub, CAST(sr.rn - 1 AS INTEGER) AS code_id,
         e.v[sr.sub * {64 // _PQ_M} + 1 : sr.sub * {64 // _PQ_M} + {64 // _PQ_M}] AS cw
  FROM seed_rank sr JOIN e ON e.vec_id = sr.vec_id
  WHERE sr.rn <= {_PQ_KSUB}
),
xs AS (
  SELECT e.vec_id, s.sub,
         e.v[s.sub * {64 // _PQ_M} + 1 : s.sub * {64 // _PQ_M} + {64 // _PQ_M}] AS xv
  FROM e CROSS JOIN subs s
),
dist AS (
  SELECT x.vec_id, x.sub, c.code_id,
         row_number() OVER (
           PARTITION BY x.vec_id, x.sub
           ORDER BY list_dot_product(x.xv, x.xv) - 2 * list_dot_product(x.xv, c.cw)
                  + list_dot_product(c.cw, c.cw),
             c.code_id) AS rn
  FROM xs x JOIN cb c ON c.sub = x.sub
),
ncodes AS (SELECT vec_id, sub, code_id FROM dist WHERE rn = 1),
member_codes AS (
  SELECT n.vec_id, n.sub, n.code_id, a.cent_id
  FROM ncodes n JOIN assign a ON a.vec_id = n.vec_id
),
q_probe AS (
  SELECT vec_id AS query_id, cent_id FROM ranked
  WHERE vec_id % 100 = 0 AND rn <= 2
),
lut AS (
  SELECT q.vec_id AS query_id, c.sub, c.code_id,
         list_dot_product(q.xv, q.xv) - 2 * list_dot_product(q.xv, c.cw)
           + list_dot_product(c.cw, c.cw) AS d
  FROM xs q JOIN cb c ON c.sub = q.sub
  WHERE q.vec_id % 100 = 0
),
scored AS (
  SELECT p.query_id, m.vec_id AS neighbor_id, sum(l.d) AS score
  FROM q_probe p
  JOIN member_codes m ON m.cent_id = p.cent_id AND m.vec_id != p.query_id
  JOIN lut l ON l.query_id = p.query_id AND l.sub = m.sub
            AND l.code_id = m.code_id
  GROUP BY p.query_id, m.vec_id
),
ranked_out AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score, neighbor_id) AS rnk
  FROM scored
)"""

_IVFPQ_ORACLE = _IVFPQ_RANKED_CTES + f"""
SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk
FROM ranked_out WHERE rnk <= {_PQ_K}
ORDER BY query_id, rnk
"""


@register("ivfpq_ann_adc", oracle=_IVFPQ_ORACLE)
def ivfpq_ann_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMBINED IVFADC search under the hash check: IVF restricts
    each query to its nprobe=2 probed cells, PQ codes make every
    candidate cost m=8 LUT lookups — multiplying the two cost bounds
    the way the production index does (Jegou et al. 2011; the design
    FAISS ships and ann_ivf_scaled + pq_ann_adc check separately).

    Plan (operators/pq.ivfpq_adc_topk): codes join their cell, one
    applyInPandas over cells scores members against the cell's probing
    queries (driver-collected under the mechanical byte budget), only
    tie-stable per-(query, cell) top-k rows leave each group, and one
    partitioned window merges the <= nprobe x k survivors per query.
    The DuckDB twin recomputes cells, codebooks, codes, LUTs and the
    final rankings independently from the same pinned md5 samples, so
    the (query_id, neighbor_id, rnk) triples are EXACT — both the cell
    restriction and the compressed scoring sit under one hash.
    """
    from ..operators import pq as PQ

    emb = _emb_with_norms(spark, sf_dir)
    ranked = _ivf_ranked(emb, n_centroids=N_CENTROIDS)
    vecs = emb.select("vec_id", "v")
    cb = PQ.pq_codebooks_deterministic(vecs, m=_PQ_M, ksub=_PQ_KSUB)
    enc = PQ.pq_encode(vecs, cb)
    queries = (
        vecs.filter(F.col("vec_id") % 100 == 0)
        .withColumnRenamed("vec_id", "query_id")
    )
    return (
        PQ.ivfpq_adc_topk(enc, ranked, queries, cb, k=_PQ_K, nprobe=2)
        .select("query_id", "neighbor_id", F.col("rnk").cast("long").alias("rnk"))
        .orderBy("query_id", "rnk")
    )


# --------------------------------------------------------------------------
# IVFADC + exact rerank: compressed codes build the SHORTLIST, raw
# vectors decide the FINAL ranking — the standard two-stage refinement
# (Jegou et al. 2011 §V; FAISS's IndexRefineFlat) that buys back the
# quantization error at the cost of `shortlist` exact distances per
# query instead of a full scan.
# --------------------------------------------------------------------------

_PQ_SHORTLIST = 15  # ADC candidates per query re-scored exactly (3x k)

_IVFPQ_RERANK_ORACLE = _IVFPQ_RANKED_CTES + f""",
shortlist AS (
  SELECT query_id, neighbor_id FROM ranked_out WHERE rnk <= {_PQ_SHORTLIST}
),
rerank AS (
  SELECT s.query_id, s.neighbor_id,
         row_number() OVER (
           PARTITION BY s.query_id
           ORDER BY list_dot_product(q.v, n.v)
                  / (sqrt(list_dot_product(q.v, q.v))
                     * sqrt(list_dot_product(n.v, n.v))) DESC,
             s.neighbor_id) AS rnk
  FROM shortlist s
  JOIN e q ON q.vec_id = s.query_id
  JOIN e n ON n.vec_id = s.neighbor_id
)
SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk
FROM rerank WHERE rnk <= {_PQ_K}
ORDER BY query_id, rnk
"""


@register("ivfpq_rerank", oracle=_IVFPQ_RERANK_ORACLE)
def ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC shortlist + exact cosine rerank under the hash check.

    Stage 1 runs the combined index exactly as ivfpq_ann_adc but keeps
    the top ``_PQ_SHORTLIST`` ADC candidates per query; stage 2 joins
    the shortlist back to the RAW vectors and re-ranks by exact cosine
    (pair-invariant norms precomputed once, the cross-dot folded
    per shortlist row — queries x shortlist pairs total, never a
    corpus scan).  Both engines rank by the identical sequential-fold
    cosine with the (score, neighbor_id) tie break, so the final
    (query_id, neighbor_id, rnk) triples are EXACT — hash-checking
    that the rerank stage reorders the ADC shortlist the same way in
    both engines.

    At scale the rerank join is a broadcast (queries x shortlist rows
    vs the corpus table's hash-partitioned vec_id lookup) and adds
    one shuffle-free projection per candidate — the cost model FAISS
    documents for IndexRefineFlat.

    WARM PATH (round 6, r5 verdict item 4): production holds the
    index's raw storage (vectors + norms) and the ADC shortlist
    persisted, so the registered query now does the same — the raw
    storage is persisted ONCE (norms fold in a single corpus pass
    instead of once per downstream scan; measured 3+ re-folds cold),
    the shortlist is materialized once, and the rerank stage runs
    against the caches.  The tiny final ranking (queries x k rows) is
    localCheckpoint'ed, so the driver benches the steady-state cost
    (2.5 s at 1M vs ~20 s cold — docs/BENCH_COMPARE.md).
    """
    from ..operators import pq as PQ

    emb = scope.cache(_emb_with_norms(spark, sf_dir))
    ranked = _ivf_ranked(emb, n_centroids=N_CENTROIDS)
    vecs = emb.select("vec_id", "v")
    cb = PQ.pq_codebooks_deterministic(vecs, m=_PQ_M, ksub=_PQ_KSUB)
    enc = PQ.pq_encode(vecs, cb)
    queries = (
        vecs.filter(F.col("vec_id") % 100 == 0)
        .withColumnRenamed("vec_id", "query_id")
    )
    q_side = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"), F.col("v_norm").alias("qv_norm"))
    n_side = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("nv"), F.col("v_norm").alias("nv_norm"))
    cos = VX.safe_div(VX.dot(F.col("qv"), F.col("nv")),
                      F.col("qv_norm") * F.col("nv_norm"))
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id"))
    # The shortlist lives until the final ranking is checkpointed;
    # inside scope.inspect() it is released before the lazy plan is
    # read, so that plan shows the ADC stage it derives from.
    with scope.cached(PQ.ivfpq_adc_topk(
        enc, ranked, queries, cb, k=_PQ_SHORTLIST, nprobe=2
    ).select("query_id", "neighbor_id")) as shortlist:
        shortlist.count()  # ADC pass runs once; raw storage now cached
        # The shortlist (queries x 15 rows) BROADCASTS into both vector
        # lookups, so each join is a streamed scan of the cached vector
        # store with no shuffle of the corpus.
        out = (
            n_side.join(F.broadcast(
                q_side.join(F.broadcast(shortlist), "query_id")), "neighbor_id")
            .withColumn("cosine", cos)
            .withColumn("rnk", F.row_number().over(w).cast("long"))
            .filter(F.col("rnk") <= _PQ_K)
            .select("query_id", "neighbor_id", "rnk")
            .orderBy("query_id", "rnk")
        )
        return scope.checkpoint(out)


@register("ivfpq_index_persisted", oracle=_IVFPQ_ORACLE)
def ivfpq_index_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED IVFPQ index under the exact-ranking hash check
    (round 6): build writes the quantizer (centroids + codebooks) and
    the bucketed codes table (operators/index_store.py), then search
    RELOADS them from disk and ranks via the same applyInPandas kernel as
    ivfpq_ann_adc — the identical _IVFPQ_ORACLE certifies that a
    save/load round trip through the on-disk layout (including the
    cell_bucket partition pruning on the codes scan) changes NOTHING
    about the rankings.  Production builds once and serves many
    searches; this query exercises the full build+search cycle so the
    driver re-checks both sides every round.
    """
    from .ingest_plans import _io_dir
    from ..operators.index_store import build_ivfpq_index, search_ivfpq_index

    # The corpus frame feeds the build's four passes (count, centroid
    # sample, codebook seeds, fused encode) plus the query projection —
    # cached so each pass reads the cache instead of re-scanning
    # parquet (guide §5).
    emb = scope.cache(_emb_with_norms(spark, sf_dir).select("vec_id", "v"))
    path = _io_dir(sf_dir, "ivfpq_index")
    build_ivfpq_index(spark, emb, path, n_centroids=N_CENTROIDS)
    queries = (
        emb.filter(F.col("vec_id") % 100 == 0)
        .withColumnRenamed("vec_id", "query_id")
    )
    return (
        search_ivfpq_index(spark, path, queries, k=_PQ_K, nprobe=2)
        .select("query_id", "neighbor_id",
                F.col("rnk").cast("long").alias("rnk"))
        .orderBy("query_id", "rnk")
    )


# The lifecycle twin's oracle: the QUANTIZER (centroids + codebooks)
# trains on the seed third only (e0 — the frozen-quantizer contract:
# appends never retrain), while assignment/encoding/search cover the
# FULL corpus.  Same CTE structure as _IVFPQ_RANKED_CTES with the two
# training CTEs (cent, seed_rank->cb) re-rooted on e0 — DuckDB models
# the production semantics "train once on the initial corpus, encode
# everything ever appended with the saved tables" independently, so a
# hash match certifies the store's append path reproduces the frozen
# quantizer byte for byte.
_IVFPQ_LIFECYCLE_ORACLE = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
e0 AS (SELECT vec_id, v FROM e WHERE vec_id % 3 = 0),
cent AS (
  SELECT vec_id AS cent_id, v AS cv FROM e0
  ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {N_CENTROIDS}
),
ranked AS (
  SELECT e.vec_id, c.cent_id,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY list_dot_product(e.v, c.cv)
                  / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv)))
                  DESC,
             c.cent_id) AS rn
  FROM e CROSS JOIN cent c
),
assign AS (SELECT vec_id, cent_id FROM ranked WHERE rn = 1),
subs AS (SELECT unnest(range(0, {_PQ_M})) AS sub),
seed_rank AS (
  SELECT s.sub, e0.vec_id,
         row_number() OVER (
           PARTITION BY s.sub
           ORDER BY md5(CAST(s.sub AS VARCHAR) || ':' || CAST(e0.vec_id AS VARCHAR))
         ) AS rn
  FROM e0 CROSS JOIN subs s
),
cb AS (
  SELECT sr.sub, CAST(sr.rn - 1 AS INTEGER) AS code_id,
         e0.v[sr.sub * {64 // _PQ_M} + 1 : sr.sub * {64 // _PQ_M} + {64 // _PQ_M}] AS cw
  FROM seed_rank sr JOIN e0 ON e0.vec_id = sr.vec_id
  WHERE sr.rn <= {_PQ_KSUB}
),
xs AS (
  SELECT e.vec_id, s.sub,
         e.v[s.sub * {64 // _PQ_M} + 1 : s.sub * {64 // _PQ_M} + {64 // _PQ_M}] AS xv
  FROM e CROSS JOIN subs s
),
dist AS (
  SELECT x.vec_id, x.sub, c.code_id,
         row_number() OVER (
           PARTITION BY x.vec_id, x.sub
           ORDER BY list_dot_product(x.xv, x.xv) - 2 * list_dot_product(x.xv, c.cw)
                  + list_dot_product(c.cw, c.cw),
             c.code_id) AS rn
  FROM xs x JOIN cb c ON c.sub = x.sub
),
ncodes AS (SELECT vec_id, sub, code_id FROM dist WHERE rn = 1),
member_codes AS (
  SELECT n.vec_id, n.sub, n.code_id, a.cent_id
  FROM ncodes n JOIN assign a ON a.vec_id = n.vec_id
),
q_probe AS (
  SELECT vec_id AS query_id, cent_id FROM ranked
  WHERE vec_id % 100 = 0 AND rn <= 2
),
lut AS (
  SELECT q.vec_id AS query_id, c.sub, c.code_id,
         list_dot_product(q.xv, q.xv) - 2 * list_dot_product(q.xv, c.cw)
           + list_dot_product(c.cw, c.cw) AS d
  FROM xs q JOIN cb c ON c.sub = q.sub
  WHERE q.vec_id % 100 = 0
),
scored AS (
  SELECT p.query_id, m.vec_id AS neighbor_id, sum(l.d) AS score
  FROM q_probe p
  JOIN member_codes m ON m.cent_id = p.cent_id AND m.vec_id != p.query_id
  JOIN lut l ON l.query_id = p.query_id AND l.sub = m.sub
            AND l.code_id = m.code_id
  GROUP BY p.query_id, m.vec_id
),
ranked_out AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk
FROM ranked_out WHERE rnk <= {_PQ_K}
ORDER BY query_id, rnk
"""


@register("ivfpq_index_lifecycle", oracle=_IVFPQ_LIFECYCLE_ORACLE)
def ivfpq_index_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL IVFPQ store lifecycle under one hash (round 9, the r8
    verdict's item 10 — the lsh_index_lifecycle convention extended to
    the quantized leg): BUILD the index on a third of the corpus (the
    quantizer — centroids + PQ codebooks — trains on that seed and
    freezes), APPEND the other two thirds as two frozen-quantizer
    daily batches, COMPACT the accumulated epochs into one
    bucket-clustered epoch (the atomic pointer-swap consolidation),
    then SEARCH the reloaded store.

    The oracle recomputes the same semantics independently — quantizer
    CTEs rooted on the seed third, encoding/assignment/search over the
    full corpus — so one matching hash certifies the store's strongest
    quantized-leg property end to end: ``build(seed) + append + append
    + compact + search`` returns exactly the rankings of a
    one-shot encode of everything under the seed-trained quantizer.
    Appends that retrained, an epoch the compactor dropped or
    duplicated, or a saved codebook that drifted one byte would all
    flip ADC scores and fail the differential.  This is the
    year-long-daily-ingest cadence docs/DEPLOYMENT.md describes,
    driver-checked like the LSH leg since r8.
    """
    from .ingest_plans import _io_dir
    from ..operators.index_store import (
        append_to_ivfpq_index, build_ivfpq_index, compact_ivfpq_index,
        search_ivfpq_index)

    # One cache serves the seed build's passes, both append batches,
    # and the query projection — without it every lifecycle phase
    # re-scanned the embeddings parquet (guide §5).
    emb = scope.cache(_emb_with_norms(spark, sf_dir).select("vec_id", "v"))
    path = _io_dir(sf_dir, "ivfpq_index_lifecycle")
    # seed: one third trains + freezes the quantizer; two "days" of
    # frozen-quantizer appends deliver the rest
    build_ivfpq_index(spark, emb.filter(F.col("vec_id") % 3 == 0), path,
                      n_centroids=N_CENTROIDS)
    append_to_ivfpq_index(spark, emb.filter(F.col("vec_id") % 3 == 1), path)
    append_to_ivfpq_index(spark, emb.filter(F.col("vec_id") % 3 == 2), path)
    compact_ivfpq_index(spark, path)
    queries = (
        emb.filter(F.col("vec_id") % 100 == 0)
        .withColumnRenamed("vec_id", "query_id")
    )
    return (
        search_ivfpq_index(spark, path, queries, k=_PQ_K, nprobe=2)
        .select("query_id", "neighbor_id",
                F.col("rnk").cast("long").alias("rnk"))
        .orderBy("query_id", "rnk")
    )
