"""Persisted IVFPQ index: build once, search many, append increments.

The registered ANN queries rebuild their index per run — correct for
the oracle harness, wrong for production, where the index is the
artifact: a 10^9-vector IVFPQ build is hours of cluster time and the
searches against it are seconds.  This module persists the three
index components as parquet tables and reloads them for search:

* ``centroids``   — (cent_id, v)             k rows, k ~ sqrt(N)
* ``codebooks``   — (sub, code_id, cw)       m x ksub rows
* ``codes``       — (vec_id, codes, cent_id) N rows, hive-partitioned
                    by ``cell_bucket = cent_id % n_buckets``

Partitioning by a BOUNDED bucket of the cell id (not cent_id itself —
k ~ sqrt(N) directories would be 10^4+ partitions at 10^8 vectors)
lets a search prune the codes scan to the probed cells' buckets via
ordinary Hive partition pruning: an nprobe=2 query set touching c
distinct cells reads at most min(c, n_buckets)/n_buckets of the codes
files, and the residual cent_id row filter lands on the parquet
footer min/max within each bucket.

Search REUSES the exact ivfpq_adc_topk scoring kernel (operators/pq):
the loaded tables are adapted into the (codes_df, ranked, queries)
frames that kernel expects, so the persisted path cannot drift from
the oracle-checked in-memory path — a property the tests assert by
literal result equality.

Append encodes NEW vectors with the SAVED centroids + codebooks (the
standard frozen-quantizer increment: FAISS `add` after `train`) and
appends their code rows into the partitioned table — history is never
re-read, the same incremental contract as the LSH probe-vs-history
and Bloom-filter dedup paths.

Every mutation is ATOMIC and concurrent-append-safe (round 8): data
files land under ``<table>/epoch=N`` hive directories invisible to
readers until the ``COMMITTED`` pointer (which carries the meta)
publishes them, and the epoch slot is claimed first — the engine's
commit protocol (operators/commit.py), applied to append-only tables
in the section below.

Reference stake: SURVEY §2.12 similarity family (driver-mandated
extension); the reference engine has no index artifacts at all.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from . import commit, scope
from .ann import centroid_matrix, ivf_assign_vectorized
from .pq import (KSUB, M_SUB, ivfpq_adc_topk, pq_codebooks_deterministic,
                 pq_encode_assign)
from .similarity import ivf_centroids_for_corpus

N_BUCKETS = 64  # bounded partition-directory count for cell pruning

# Rows per code file for the flat (SQ8/BQ) legs.  The inverse of the
# small-file problem: a fixed repartition(8) caps every flat search's
# scan at 8 splits regardless of corpus size (measured: the 4M-vector
# BQ Hamming scan ran on 8 of 32 cores).  Scaling the file count with
# rows keeps ~250k codes (a few MB) per file — small enough to spread,
# large enough that listing stays trivial; compaction re-applies it.
_ROWS_PER_CODE_FILE = 250_000


def _n_code_files(n_rows: int, floor: int = 8) -> int:
    return max(floor, -(-int(n_rows) // _ROWS_PER_CODE_FILE))


def _p(path: str, *parts: str) -> str:
    return os.path.join(path, *parts)


# ---------------------------------------------------------------------------
# The commit protocol (operators/commit.py) for APPEND-ONLY tables, where
# versioned full snapshots would re-write history (round 8):
#
# * every mutation writes its data files under ``<table>/epoch=N/`` —
#   an ordinary Hive partition directory, so readers discover an
#   ``epoch`` column and a ``.filter(epoch <= committed)`` makes
#   uncommitted (torn) epochs invisible via partition pruning;
# * the claimed slot is a ``_claim-epoch-N`` marker directory; a
#   reclaimed slot's orphan epoch data is purged before writing;
# * the ``COMMITTED`` pointer is JSON carrying the epoch number and the
#   store's meta — data and meta become visible together or not at all.
# ---------------------------------------------------------------------------

_POINTER = "COMMITTED"


def _tiny_table(spark: SparkSession, data: list, schema: str) -> DataFrame:
    """Single-partition DataFrame for driver-built dimension tables
    (centroids / codebooks / stats / thresholds — k to m*ksub rows).

    ``createDataFrame(list)`` parallelizes into defaultParallelism
    pickled partitions, and the ``coalesce(1)`` the one-file write
    needs then evaluates all of them SERIALLY through one task's
    Python-worker round trips — measured 6 s per dim-table write on
    local[32] for 32 rows (the dominant cost of every persisted-index
    build).  Parallelizing into ONE slice up front makes the same
    write one partition end to end: 0.5 s, same file, same rows.
    """
    return spark.createDataFrame(
        spark.sparkContext.parallelize(data, 1), schema)


ConcurrentAppendError = commit.CommitConflict


def _read_committed(path: str) -> dict | None:
    text = commit.read_pointer(_p(path, _POINTER))
    return None if text is None else json.loads(text)


def _claim_epoch(path: str, epoch: int, tables: tuple[str, ...]) -> str:
    """Claim the epoch slot; purge any orphan data a crashed claimant
    left under the tables' epoch directories (safe: the claim is
    exclusive, and the orphan was never committed)."""
    claim = _p(path, f"_claim-epoch-{epoch:08d}")
    commit.claim(claim, epoch,
                 lambda: (_read_committed(path) or {"epoch": -1})["epoch"])
    for t in tables:
        shutil.rmtree(_p(path, t, f"epoch={epoch}"), ignore_errors=True)
    return claim


def _commit_epoch(path: str, claim: str, meta: dict) -> None:
    """Publish the epoch's data + meta, then release the claim."""
    commit.publish(_p(path, _POINTER), json.dumps(meta))
    shutil.rmtree(claim, ignore_errors=True)


def _epoch_filter(df: DataFrame, meta: dict) -> DataFrame:
    """Committed-window filter every reader applies: epochs below
    ``epoch_base`` were REPLACED by a compaction (their consolidated
    rows live at the base epoch), epochs above ``epoch`` are not yet
    committed (torn or in-flight).  Both bounds are partition
    predicates — pruning, not scanning."""
    base = meta.get("epoch_base", 0)
    return df.filter((F.col("epoch") >= F.lit(base))
                     & (F.col("epoch") <= F.lit(meta["epoch"])))


def _vacuum_epochs(path: str, tables: tuple[str, ...], base: int) -> None:
    """Remove replaced epoch directories (< base) after the pointer
    swap; readers' epoch_base filter already excludes them."""
    for t in tables:
        commit.vacuum(_p(path, t), "epoch=", base)


def _fresh_store(path: str) -> None:
    """Reset a store directory for a full (re)build: drop the pointer
    FIRST so a crash mid-build cannot leave an old pointer describing
    overwritten data (readers see 'no committed index', not torn
    state).  Rebuild-in-place is single-writer by contract, like any
    table overwrite."""
    os.makedirs(path, exist_ok=True)
    try:
        os.remove(_p(path, _POINTER))
    except FileNotFoundError:
        pass
    for name in os.listdir(path):
        full = _p(path, name)
        if os.path.isdir(full):
            shutil.rmtree(full, ignore_errors=True)


def build_ivfpq_index(
    spark: SparkSession,
    emb: DataFrame,
    path: str,
    n_centroids: int | None = None,
    m: int = M_SUB,
    ksub: int = KSUB,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> dict:
    """Build and persist the full IVFPQ index from an embedding frame.

    One centroid collect (k rows), one assignment pass, one encode
    pass, one partitioned write of the codes — the corpus streams
    through exactly twice and never concentrates anywhere.  Returns
    {n_vectors, k, m, ksub} for the build log.
    """
    n = emb.count()
    if n == 0:
        raise ValueError("build_ivfpq_index: empty embedding frame")
    _fresh_store(path)
    claim = _claim_epoch(path, 0, ("codes",))
    k = n_centroids or ivf_centroids_for_corpus(n)
    cent_ids, cent_mat = centroid_matrix(emb, k, id_col=id_col, vec_col=vec_col)
    vecs = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    cb = pq_codebooks_deterministic(vecs, m=m, ksub=ksub)

    # Fused encode+assign (round 9, guide §2.3/§2.4): one linear pass
    # emits (vec_id, codes, cent_id) — the previous
    # pq_encode(...).join(assign) scanned the corpus twice and paid
    # two vec_id hash exchanges before the bucketed write; the fused
    # kernel's output is row-identical (shared _assign_batch /
    # _subspace_d2 math) and reaches the repartition with no prior
    # shuffle at all.
    codes = pq_encode_assign(vecs, cb, cent_ids, cent_mat)
    (
        codes.withColumn("cell_bucket", F.pmod(F.col("cent_id"), F.lit(N_BUCKETS)))
        # repartition ON the partition column first: without it every
        # shuffle task writes into every bucket directory (tasks x
        # buckets small files — the small-file problem at birth);
        # with it each bucket's rows land in one task -> one file per
        # directory, and compact_to_size never needs to visit
        .repartition(N_BUCKETS, "cell_bucket")
        .write.partitionBy("cell_bucket").mode("overwrite")
        .parquet(_p(path, "codes", "epoch=0"))
    )
    _tiny_table(
        spark,
        [(int(i), [float(x) for x in row]) for i, row in zip(cent_ids, cent_mat)],
        "cent_id bigint, v array<double>",
    ).write.mode("overwrite").parquet(_p(path, "centroids"))
    _tiny_table(
        spark,
        [
            (s, c, [float(x) for x in cb[s, c]])
            for s in range(m) for c in range(ksub)
        ],
        "sub int, code_id int, cw array<double>",
    ).write.mode("overwrite").parquet(_p(path, "codebooks"))
    _commit_epoch(path, claim, {
        "epoch": 0, "epoch_base": 0, "n_vectors": int(n), "k": int(k),
        "m": int(m), "ksub": int(ksub), "n_buckets": int(N_BUCKETS),
    })
    return {"n_vectors": n, "k": k, "m": m, "ksub": ksub}


def load_index_meta(spark: SparkSession, path: str) -> dict:
    """The COMMITTED pointer is the store's meta — one atomic file, so
    counts can never describe data that isn't visible (``spark`` kept
    in the signature for call-site stability; the read is driver-side)."""
    meta = _read_committed(path)
    if meta is None:
        raise ValueError(f"no committed index at {path}")
    return meta


def _load_centroids(spark: SparkSession, path: str) -> tuple:
    rows = spark.read.parquet(_p(path, "centroids")).orderBy("cent_id").collect()
    return (np.array([r["cent_id"] for r in rows], dtype=np.int64),
            np.array([r["v"] for r in rows], dtype=np.float64))


def _load_codebooks(spark: SparkSession, path: str, m: int, ksub: int) -> np.ndarray:
    rows = spark.read.parquet(_p(path, "codebooks")).collect()
    dsub = len(rows[0]["cw"])
    cb = np.zeros((m, ksub, dsub))
    for r in rows:
        cb[r["sub"], r["code_id"]] = r["cw"]
    return cb


def search_ivfpq_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    query_id_col: str = "query_id",
    vec_col: str = "v",
) -> DataFrame:
    """Search the persisted index with the in-memory scoring kernel.

    The centroid/codebook dimension tables load to the driver (k and
    m x ksub rows).  Query cells are assigned via the SAME vectorized
    kernel as the build (a numpy matmul over the collected query set),
    and the codes scan is pruned TWICE before any scoring: a Hive
    partition filter on cell_bucket drops unprobed buckets' files
    entirely, and the cent_id IN filter lands on parquet footers
    within the surviving buckets.  Scoring itself is the exact
    ``ivfpq_adc_topk`` applyInPandas kernel — the persisted path and
    the oracle-checked path cannot diverge.
    """
    meta = load_index_meta(spark, path)
    cent_ids, cent_mat = _load_centroids(spark, path)
    cb = _load_codebooks(spark, path, meta["m"], meta["ksub"])

    # The query frame is consumed twice (probe assignment here, the
    # kernel's own collect below); if the caller derived it from a
    # corpus-sized scan, re-deriving would re-pay that scan per
    # action — cache the bounded query set for the call.
    with scope.cached(queries.select(F.col(query_id_col).alias("vec_id"),
                                     F.col(vec_col).alias("v"))) as q:
        probe = ivf_assign_vectorized(q, cent_ids, cent_mat, nprobe=nprobe)
        probe_rows = probe.collect()  # queries x nprobe — the bounded side
        probed_cells = sorted({int(r["cent_id"]) for r in probe_rows})
        buckets = sorted({c % meta["n_buckets"] for c in probed_cells})

        codes_df = (
            _epoch_filter(spark.read.parquet(_p(path, "codes")), meta)
            .filter(F.col("cell_bucket").isin(buckets))      # partition pruning
            .filter(F.col("cent_id").isin(probed_cells))     # footer min/max
        )
        members = codes_df.select("vec_id", "cent_id", F.lit(1).alias("rn"))
        # A query that is itself a corpus member already has its rn=1 row
        # in `members` (same kernel, same saved centroids => same cell);
        # emitting the probe's rn=1 row too would double-score that cell
        # and inflate ranks.  The membership lookup is bounded: query ids
        # against the already-pruned codes scan.
        qids = [int(r["vec_id"]) for r in probe_rows if r["rn"] == 1]
        member_qids = {
            int(r["vec_id"])
            for r in codes_df.filter(F.col("vec_id").isin(qids))
            .select("vec_id").collect()
        }
        probes_df = _tiny_table(
            spark,
            [
                (int(r["vec_id"]), int(r["cent_id"]), int(r["rn"]))
                for r in probe_rows
                if not (int(r["rn"]) == 1 and int(r["vec_id"]) in member_qids)
            ],
            "vec_id bigint, cent_id bigint, rn int",
        )
        ranked = members.unionByName(probes_df)
        out_queries = q.withColumnRenamed("vec_id", "query_id")
        # the kernel collects the query set eagerly, so the cache can be
        # released before returning: the result plan references only the
        # codes scan and the driver-built LUT closures
        return ivfpq_adc_topk(
            codes_df.select("vec_id", "codes"), ranked, out_queries, cb,
            k=k, nprobe=nprobe)


def append_to_ivfpq_index(
    spark: SparkSession,
    emb_new: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> dict:
    """Frozen-quantizer increment: encode NEW vectors with the saved
    centroids + codebooks and append their code rows — history is
    never read, daily cost tracks the batch.  Caller owns id
    uniqueness (the engine-wide insert-if-absent merge handles replay
    when ids may repeat).

    Crash/concurrency contract (round 8): the batch's rows land under
    ``codes/epoch=N``, claimed by CAS and published by one atomic
    pointer swap — a crash at the worst point (data written, pointer
    not) leaves the epoch invisible to every reader, and a second
    concurrent appender fails with ``CommitConflict``
    before writing anything."""
    meta = load_index_meta(spark, path)
    epoch = meta["epoch"] + 1
    claim = _claim_epoch(path, epoch, ("codes",))
    cent_ids, cent_mat = _load_centroids(spark, path)
    cb = _load_codebooks(spark, path, meta["m"], meta["ksub"])

    # The batch is consumed three times (count, assignment, encode);
    # persisting it pins the increment's cost to the BATCH, not to
    # however expensive the caller's lineage is — measured 3.5x on a
    # 1M-corpus-derived 11k batch (75 s -> 21 s).
    with scope.cached(emb_new.select(F.col(id_col).alias("vec_id"),
                                     F.col(vec_col).alias("v"))) as vecs:
        n_new = vecs.count()
        # fused encode+assign — same one-pass, shuffle-free shape as
        # the build (see build_ivfpq_index)
        codes = pq_encode_assign(vecs, cb, cent_ids, cent_mat)
        (
            codes.withColumn(
                "cell_bucket", F.pmod(F.col("cent_id"), F.lit(meta["n_buckets"])))
            .repartition(meta["n_buckets"], "cell_bucket")  # one file/bucket/batch
            .write.partitionBy("cell_bucket").mode("append")
            .parquet(_p(path, "codes", f"epoch={epoch}"))
        )
    total = meta["n_vectors"] + n_new
    _commit_epoch(path, claim, {**meta, "epoch": epoch, "n_vectors": int(total)})
    return {"appended": n_new, "n_vectors": total}


# ---------------------------------------------------------------------------
# SQ8 leg: the scalar-quantized flat index under the same store contract
# ---------------------------------------------------------------------------

def build_sq8_index(
    spark: SparkSession,
    emb: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> dict:
    """Persist the SQ8 flat index (round 7, the r6 verdict's item 6):

    * ``stats`` — (dim, lo, scale)      dim rows (the whole quantizer)
    * ``codes`` — (vec_id, codes)       N rows, dim BYTES each
    * ``meta``  — (n_vectors, dim)

    One dim-sized stats aggregate, one shuffle-free Arrow encode pass,
    one key-clustered write — the corpus streams through twice, like
    the IVFPQ build.  No cell partitioning: SQ8 is a FLAT index whose
    search scans every code row by design (the pruning story lives in
    the IVFPQ leg; production composes the two).  Codes land
    repartitioned by vec_id so point lookups and merges stay
    footer-prunable.
    """
    from .sq8 import sq8_encode, sq8_stats

    # stats pass also carries the row count (round 9) — the separate
    # count() scan this build used to pay is folded into the same
    # map-side-combining aggregate
    lo, scale, n = sq8_stats(emb, vec_col=vec_col, with_count=True)
    if n == 0:
        raise ValueError("build_sq8_index: empty embedding frame")
    _fresh_store(path)
    claim = _claim_epoch(path, 0, ("codes",))
    (
        sq8_encode(emb, lo, scale, id_col=id_col, vec_col=vec_col)
        .repartition(_n_code_files(n), "vec_id")
        .write.mode("overwrite").parquet(_p(path, "codes", "epoch=0"))
    )
    _tiny_table(
        spark,
        [(int(d), float(lo[d]), float(scale[d])) for d in range(lo.shape[0])],
        "dim int, lo double, scale double",
    ).write.mode("overwrite").parquet(_p(path, "stats"))
    _commit_epoch(path, claim, {
        "epoch": 0, "epoch_base": 0, "n_vectors": int(n),
        "dim": int(lo.shape[0]),
    })
    return {"n_vectors": n, "dim": int(lo.shape[0])}


def _load_sq8_stats(spark: SparkSession, path: str) -> tuple:
    rows = spark.read.parquet(_p(path, "stats")).orderBy("dim").collect()
    return (np.array([r["lo"] for r in rows], dtype=np.float64),
            np.array([r["scale"] for r in rows], dtype=np.float64))


def search_sq8_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 15,
    query_id_col: str = "query_id",
    vec_col: str = "qv",
) -> DataFrame:
    """Asymmetric search over the persisted codes with the exact
    ``sq8_search_topk`` kernel — the loaded (lo, scale) pair IS the
    decoder, so the persisted path cannot drift from the in-memory
    oracle-checked one (the IVFPQ store's literal-equality property)."""
    from .sq8 import sq8_search_topk

    meta = load_index_meta(spark, path)
    lo, scale = _load_sq8_stats(spark, path)
    codes = (
        _epoch_filter(spark.read.parquet(_p(path, "codes")), meta)
        .select("vec_id", "codes")
    )
    return sq8_search_topk(codes, queries, lo, scale, k=k,
                           id_col=query_id_col, vec_col=vec_col)


def append_to_sq8_index(
    spark: SparkSession,
    emb_new: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> dict:
    """Frozen-quantizer increment: encode ONLY the batch with the SAVED
    (lo, scale) and append its code rows — history is never read or
    re-encoded (codes already on disk are immutable bytes; a batch
    whose values fall outside the frozen min/max clips to 0/255, the
    FAISS SQ8 `add` behavior — retrain when drift makes that loss
    material, the same stance as the frozen IVFPQ quantizer).  Same
    epoch/CAS/pointer atomicity contract as append_to_ivfpq_index."""
    from .sq8 import sq8_encode

    meta = load_index_meta(spark, path)
    epoch = meta["epoch"] + 1
    claim = _claim_epoch(path, epoch, ("codes",))
    lo, scale = _load_sq8_stats(spark, path)
    with scope.cached(emb_new.select(F.col(id_col).alias("vec_id"),
                                     F.col(vec_col).alias("v"))) as vecs:
        n_new = vecs.count()
        (
            sq8_encode(vecs, lo, scale)
            .repartition(_n_code_files(n_new, floor=1), "vec_id")
            .write.mode("append").parquet(_p(path, "codes", f"epoch={epoch}"))
        )
    total = meta["n_vectors"] + n_new
    _commit_epoch(path, claim, {**meta, "epoch": epoch, "n_vectors": int(total)})
    return {"appended": n_new, "n_vectors": total}


# ---------------------------------------------------------------------------
# LSH leg: the persisted MinHash band index for incremental near-dup
# ---------------------------------------------------------------------------

def build_lsh_index(
    spark: SparkSession,
    docs: DataFrame,
    path: str,
    shingle_n: int = 3,
) -> dict:
    """Persist the near-dup probe index (round 7, completing the
    store's trilogy: IVFPQ / SQ8 / LSH):

    * ``bands``    — (doc_id, band, band_key)   docs x N_BANDS rows,
                     key-clustered by band_key so a probe join reads
                     bucket-local files
    * ``shingles`` — (doc_id, shingles)         the verify-stage sets,
                     key-clustered by doc_id for the candidate lookup
    * ``meta``     — (n_docs, shingle_n, n_bands, rows_per_band)

    This is exactly what an incremental dedup pipeline keeps warm: a
    day's batch meets history ONLY through these two tables — history
    text is never re-shingled, re-hashed, or self-joined again.

    The corpus pass runs through :func:`~..operators.dedup.
    lsh_build_kernel` — grams, hashes, permutations, and band keys in
    one Arrow stage (byte-identical to the expression route, which
    remains the oracle surface of the in-memory queries); the kernel
    frame persists across the two table writes so the pass happens
    once.
    """
    from .dedup import N_BANDS, ROWS_PER_BAND, lsh_build_kernel

    if docs.isEmpty():
        raise ValueError("build_lsh_index: empty document frame")
    _fresh_store(path)
    claim = _claim_epoch(path, 0, ("bands", "shingles"))
    with scope.cached(lsh_build_kernel(docs, n=shingle_n)) as rows:
        # n_docs = docs actually INDEXED: the kernel drops docs shorter
        # than shingle_n tokens, so counting the raw input would
        # over-count the rows present in the bands/shingles tables
        # (r7 ADVICE).
        n = rows.count()
        if n == 0:
            raise ValueError(
                "build_lsh_index: no doc reaches shingle_n tokens")
        _write_lsh_rows(rows, path, epoch=0)
    _commit_epoch(path, claim, {
        "epoch": 0, "epoch_base": 0, "n_docs": int(n),
        "shingle_n": int(shingle_n), "n_bands": int(N_BANDS),
        "rows_per_band": int(ROWS_PER_BAND),
    })
    return {"n_docs": n, "shingle_n": shingle_n, "n_bands": N_BANDS}


def _write_lsh_rows(rows: DataFrame, path: str, epoch: int) -> None:
    """Write a kernel frame's two projections under the epoch dir:
    exploded (doc_id, band, band_key) rows RANGE-clustered and sorted
    by band_key — each parquet row group then covers a narrow,
    non-overlapping key range, so a probe's band_key predicate skips
    row groups via footer min/max (the write_zordered/compact_to_size
    layout contract; hash clustering left every footer spanning the
    whole md5 keyspace and pruned nothing) — and the (doc_id,
    shingles) sets clustered by doc_id for the candidate lookup."""
    (
        rows.select("doc_id", F.posexplode("band_keys")
                    .alias("band", "band_key"))
        .repartitionByRange(8, "band_key")
        .sortWithinPartitions("band_key")
        .write.mode("append").parquet(_p(path, "bands", f"epoch={epoch}"))
    )
    (
        rows.select("doc_id", "shingles")
        .repartition(8, "doc_id")
        .write.mode("append").parquet(_p(path, "shingles", f"epoch={epoch}"))
    )


def probe_lsh_index(
    spark: SparkSession,
    path: str,
    batch_docs: DataFrame,
    threshold: float = 0.5,
) -> DataFrame:
    """Probe a new batch against the persisted index: (left_id=history,
    right_id=batch, jaccard) verified pairs.

    The batch side is shingled/signatured fresh (it is new data); the
    HISTORY side is two parquet scans — band keys for the bucket join,
    shingle sets only for the colliding candidates.  Band keys are the
    same md5 strings whichever side computes them, so an index built
    by one run and probed by another agrees bucket for bucket (the
    lsh_probe_pairs contract); a re-ingested doc id is excluded from
    matching itself.
    """
    from .dedup import jaccard_verify, lsh_build_kernel

    meta = load_index_meta(spark, path)
    # The batch frame feeds BOTH the band join and the verify stage's
    # right side; without a cache the Arrow shingle/md5/minhash
    # kernel would execute twice per probe (r7 ADVICE).  The count
    # materializes the cache and sizes the pushdown below; the
    # returned plan reads it, so it lives until ``scope.release()``.
    batch_rows = scope.cache(lsh_build_kernel(batch_docs, n=meta["shingle_n"]))
    n_batch = batch_rows.count()
    b = batch_rows.select(
        "doc_id", F.posexplode("band_keys").alias("band", "band_key")
    ).alias("b")
    h = _epoch_filter(spark.read.parquet(_p(path, "bands")), meta)
    # Small-probe fast path: a bounded batch's band keys form a small
    # IN set; against the range-clustered, sorted bands files the
    # predicate reaches parquet footers/column index and skips the row
    # groups whose key range contains none of them.  Large batches
    # skip the collect — their keys blanket the keyspace and the scan
    # is the honest cost.
    if 0 < n_batch * meta["n_bands"] <= 8192:
        keys = [r["band_key"] for r in
                b.select("band_key").distinct().collect()]
        h = h.filter(F.col("band_key").isin(keys))
    h = h.alias("h")
    cand = (
        h.join(b, (F.col("h.band") == F.col("b.band"))
               & (F.col("h.band_key") == F.col("b.band_key"))
               & (F.col("h.doc_id") != F.col("b.doc_id")))
        .select(F.col("h.doc_id").alias("left_id"),
                F.col("b.doc_id").alias("right_id"))
        .distinct()
    )
    hist_sharr = (
        _epoch_filter(spark.read.parquet(_p(path, "shingles")), meta)
        .select("doc_id", "shingles")
    )
    return jaccard_verify(hist_sharr, cand, threshold,
                          sharr_right=batch_rows.select("doc_id", "shingles"))


def append_to_lsh_index(
    spark: SparkSession,
    docs_new: DataFrame,
    path: str,
    extra_meta: dict | None = None,
) -> dict:
    """Index increment: shingle/hash ONLY the new docs with the saved
    parameters and append their band + shingle rows — history files
    are immutable, daily cost tracks the batch (the same contract as
    the IVFPQ/SQ8 appends and the Bloom/LSH probe paths).  The epoch
    commit makes the TWO table writes atomic together: a crash between
    the bands and shingles appends can no longer leave candidates with
    no verify sets, and ``n_docs`` counts docs actually indexed (the
    kernel drops sub-shingle_n docs — r7 ADVICE)."""
    from .dedup import lsh_build_kernel

    meta = load_index_meta(spark, path)
    epoch = meta["epoch"] + 1
    claim = _claim_epoch(path, epoch, ("bands", "shingles"))
    with scope.cached(lsh_build_kernel(docs_new, n=meta["shingle_n"])) as rows:
        n_new = rows.count()
        _write_lsh_rows(rows, path, epoch=epoch)
    total = meta["n_docs"] + n_new
    # extra_meta rides the SAME pointer swap as the data (e.g. the
    # streaming maintainer's last-applied micro-batch epoch) — the
    # marker and the rows it describes commit or vanish together,
    # the RollupMaintainer convention (streaming/rollup.py)
    _commit_epoch(path, claim, {**meta, **(extra_meta or {}),
                                "epoch": epoch, "n_docs": int(total)})
    return {"appended": n_new, "n_docs": total}


# ---------------------------------------------------------------------------
# BQ leg: 1-bit sign codes under the same store contract (round 8,
# completing the quantizer family's persisted forms: IVFPQ / SQ8 / BQ)
# ---------------------------------------------------------------------------

def build_bq_index(
    spark: SparkSession,
    emb: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> dict:
    """Persist the binary-quantization flat index:

    * ``thresholds`` — (dim, t)                dim rows (the whole
                       quantizer: per-dim midrange sign thresholds)
    * ``codes``      — (vec_id, code0..codeW)  N rows, 8 BYTES each at
                       dim 64 (32x under float32, 4x under SQ8)
    * meta           — (n_vectors, dim) on the COMMITTED pointer

    One dim-row stats aggregate, one shuffle-free Catalyst pack pass,
    one key-clustered write.  Flat by design like the SQ8 leg (the
    pruning story lives in the IVFPQ leg; production composes), but
    the scan it serves is pure-integer ``bit_count(xor)`` — the
    cheapest probe of the three stores.
    """
    from .bq import bq_pack_kernel, bq_thresholds

    vecs = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    # thresholds pass also carries the row count (round 9; see
    # build_sq8_index)
    thresholds, n = bq_thresholds(vecs, "v", with_count=True)
    if n == 0:
        raise ValueError("build_bq_index: empty embedding frame")
    _fresh_store(path)
    claim = _claim_epoch(path, 0, ("codes",))
    dim = len(thresholds)
    (
        # Arrow pack kernel — the production build path (byte-parity
        # with the bq_pack expression pinned by tests/test_quant.py;
        # the expression remains the registered query's oracle surface)
        bq_pack_kernel(vecs, thresholds)
        .repartition(_n_code_files(n), "vec_id")
        .write.mode("overwrite").parquet(_p(path, "codes", "epoch=0"))
    )
    _tiny_table(
        spark,
        [(int(d), float(t)) for d, t in enumerate(thresholds)],
        "dim int, t double",
    ).write.mode("overwrite").parquet(_p(path, "thresholds"))
    _commit_epoch(path, claim, {
        "epoch": 0, "epoch_base": 0, "n_vectors": int(n), "dim": int(dim),
    })
    return {"n_vectors": n, "dim": dim}


def _load_bq_thresholds(spark: SparkSession, path: str) -> list[float]:
    rows = spark.read.parquet(_p(path, "thresholds")).orderBy("dim").collect()
    return [r["t"] for r in rows]


def search_bq_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    shortlist: int,
    query_id_col: str = "query_id",
    vec_col: str = "qv",
) -> DataFrame:
    """Hamming shortlist over the persisted codes — queries are packed
    with the SAVED thresholds and ranked by the Arrow
    ``bq.hamming_shortlist_kernel`` (XOR + byte-table popcount per
    batch, exact per-batch pruning under the (hamming, neighbor_id)
    total order).  Hamming is integer math, so the kernel's results
    are EXACTLY the expression route's — the persisted path stays
    certified by the registered query's oracle (kernel/expression
    equality pinned by tests/test_quant.py; persisted/in-memory
    equality by tests/test_index_store.py).  Returns (query_id,
    neighbor_id, hamming)."""
    from .bq import bq_pack, hamming_shortlist_kernel, n_words

    meta = load_index_meta(spark, path)
    thresholds = _load_bq_thresholds(spark, path)
    dim = meta["dim"]
    code_cols = [f"code{w}" for w in range(n_words(dim))]
    codes = (
        _epoch_filter(spark.read.parquet(_p(path, "codes")), meta)
        .select("vec_id", *code_cols)
    )
    packed_q = bq_pack(
        queries.select(F.col(query_id_col).alias("query_id"),
                       F.col(vec_col).alias("qv")),
        thresholds, "qv", prefix="qcode",
    ).select("query_id", *[f"qcode{w}" for w in range(n_words(dim))])
    return hamming_shortlist_kernel(codes, packed_q, dim, shortlist)


def append_to_bq_index(
    spark: SparkSession,
    emb_new: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> dict:
    """Frozen-quantizer increment: pack ONLY the batch with the SAVED
    thresholds and append its code rows — history bytes are immutable,
    and a batch value landing exactly on a frozen threshold resolves
    by the same strict ``>`` every other row used.  Same epoch/CAS/
    pointer atomicity contract as the sibling appends."""
    from .bq import bq_pack_kernel

    meta = load_index_meta(spark, path)
    epoch = meta["epoch"] + 1
    claim = _claim_epoch(path, epoch, ("codes",))
    thresholds = _load_bq_thresholds(spark, path)
    with scope.cached(emb_new.select(F.col(id_col).alias("vec_id"),
                                     F.col(vec_col).alias("v"))) as vecs:
        n_new = vecs.count()
        (
            bq_pack_kernel(vecs, thresholds)
            .repartition(_n_code_files(n_new, floor=1), "vec_id")
            .write.mode("append").parquet(_p(path, "codes", f"epoch={epoch}"))
        )
    total = meta["n_vectors"] + n_new
    _commit_epoch(path, claim, {**meta, "epoch": epoch, "n_vectors": int(total)})
    return {"appended": n_new, "n_vectors": total}


# ---------------------------------------------------------------------------
# Compaction (round 8): consolidate accumulated epochs, atomically.
#
# A year of daily appends leaves ~365 `epoch=N` directories of small
# files per table; every probe/search then lists and opens all of
# them.  Compaction rewrites the committed window into ONE fresh epoch
# with the store's canonical clustering (the same layout the build
# emits), then swaps the pointer to {epoch: E+1, epoch_base: E+1} —
# readers' epoch-window filter makes every replaced epoch invisible in
# the same atomic step that publishes the consolidated one (Delta's
# OPTIMIZE, re-expressed on the pointer protocol).  A crash mid-compact
# leaves the new epoch invisible and the claim stale-reclaimable; a
# crash after the swap leaves only invisible garbage, which the
# post-swap vacuum (or the next compaction's) sweeps.  Quantizer /
# dimension tables (centroids, codebooks, stats) are immutable and
# untouched — compaction moves bytes, never changes a single result
# (tests pin probe/search equality before and after).
# ---------------------------------------------------------------------------

def compact_ivfpq_index(spark: SparkSession, path: str) -> dict:
    """Rewrite all committed code epochs into one, bucket-clustered
    like the build (one file per cell_bucket)."""
    meta = load_index_meta(spark, path)
    epoch = meta["epoch"] + 1
    claim = _claim_epoch(path, epoch, ("codes",))
    (
        _epoch_filter(spark.read.parquet(_p(path, "codes")), meta)
        .select("vec_id", "codes", "cent_id", "cell_bucket")
        .repartition(meta["n_buckets"], "cell_bucket")
        .write.partitionBy("cell_bucket").mode("append")
        .parquet(_p(path, "codes", f"epoch={epoch}"))
    )
    _commit_epoch(path, claim, {**meta, "epoch": epoch, "epoch_base": epoch})
    _vacuum_epochs(path, ("codes",), epoch)
    return {"epoch": epoch, "n_vectors": meta["n_vectors"]}


def compact_sq8_index(spark: SparkSession, path: str) -> dict:
    """Rewrite all committed code epochs into one, vec_id-clustered."""
    meta = load_index_meta(spark, path)
    epoch = meta["epoch"] + 1
    claim = _claim_epoch(path, epoch, ("codes",))
    (
        _epoch_filter(spark.read.parquet(_p(path, "codes")), meta)
        .select("vec_id", "codes")
        .repartition(_n_code_files(meta["n_vectors"]), "vec_id")
        .write.mode("append").parquet(_p(path, "codes", f"epoch={epoch}"))
    )
    _commit_epoch(path, claim, {**meta, "epoch": epoch, "epoch_base": epoch})
    _vacuum_epochs(path, ("codes",), epoch)
    return {"epoch": epoch, "n_vectors": meta["n_vectors"]}


def compact_bq_index(spark: SparkSession, path: str) -> dict:
    """Rewrite all committed code epochs into one, vec_id-clustered
    (the SQ8 recipe — flat scan, so clustering serves point lookups
    and merges, not probe pruning)."""
    from .bq import n_words

    meta = load_index_meta(spark, path)
    epoch = meta["epoch"] + 1
    claim = _claim_epoch(path, epoch, ("codes",))
    code_cols = [f"code{w}" for w in range(n_words(meta["dim"]))]
    (
        _epoch_filter(spark.read.parquet(_p(path, "codes")), meta)
        .select("vec_id", *code_cols)
        .repartition(_n_code_files(meta["n_vectors"]), "vec_id")
        .write.mode("append").parquet(_p(path, "codes", f"epoch={epoch}"))
    )
    _commit_epoch(path, claim, {**meta, "epoch": epoch, "epoch_base": epoch})
    _vacuum_epochs(path, ("codes",), epoch)
    return {"epoch": epoch, "n_vectors": meta["n_vectors"]}


def compact_lsh_index(spark: SparkSession, path: str) -> dict:
    """Rewrite all committed band/shingle epochs into one — bands
    regain GLOBAL band_key range clustering (append epochs each sorted
    their own files; consolidation restores disjoint footer ranges
    across the whole table, re-arming the small-probe skip), shingles
    re-cluster by doc_id.  No text is re-shingled: this is a byte
    move over the stored rows."""
    meta = load_index_meta(spark, path)
    epoch = meta["epoch"] + 1
    claim = _claim_epoch(path, epoch, ("bands", "shingles"))
    (
        _epoch_filter(spark.read.parquet(_p(path, "bands")), meta)
        .select("doc_id", "band", "band_key")
        .repartitionByRange(8, "band_key")
        .sortWithinPartitions("band_key")
        .write.mode("append").parquet(_p(path, "bands", f"epoch={epoch}"))
    )
    (
        _epoch_filter(spark.read.parquet(_p(path, "shingles")), meta)
        .select("doc_id", "shingles")
        .repartition(8, "doc_id")
        .write.mode("append").parquet(_p(path, "shingles", f"epoch={epoch}"))
    )
    _commit_epoch(path, claim, {**meta, "epoch": epoch, "epoch_base": epoch})
    _vacuum_epochs(path, ("bands", "shingles"), epoch)
    return {"epoch": epoch, "n_docs": meta["n_docs"]}
