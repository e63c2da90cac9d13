"""Persisted index store: one epoch store, four codecs (IVFPQ, SQ8, BQ,
LSH).

The registered ANN and near-dup queries rebuild their index per run —
correct for the oracle harness, wrong for production, where the index
is the artifact: a 10^9-vector IVFPQ build is hours of cluster time
and the searches against it are seconds.  This module persists an
index once and serves searches, appends and compactions from disk.

THE STORE owns everything the four families share, in one place:
``build`` (fit, encode, publish epoch 0), ``append`` (encode a batch
with the frozen quantizer under a new epoch) and ``compact`` (rewrite
the committed epochs into one).  Only these three claim an epoch,
write under ``<table>/epoch=N``, publish the ``COMMITTED`` meta and
vacuum — the engine's commit protocol (operators/commit.py) applied to
append-only tables:

* data files land under ``<table>/epoch=N`` hive directories; readers
  filter ``epoch_base <= epoch <= committed`` (partition pruning), so
  uncommitted (torn) epochs and epochs a compaction replaced are
  invisible;
* the epoch slot is claimed first (``_claim-epoch-N``); a reclaimed
  slot's orphan epoch data is purged before writing;
* the ``COMMITTED`` pointer is JSON carrying the epoch and the store's
  meta, including the ``family`` the build recorded — data and meta
  become visible together or not at all.

THE QUANTIZER is frozen at build (the FAISS split: ``train`` once,
``add`` only encodes — Johnson, Douze & Jégou, "Billion-scale
similarity search with GPUs").  It is numpy arrays in one
driver-written ``quantizer.npz``, written inside the claimed build
before the publish, and loads with no Spark job.  A store without it
was built before this format and must be rebuilt.

A CODEC is the part that differs per family: ``fit`` (corpus ->
quantizer arrays + meta), ``encode`` (rows + quantizer -> the family's
rows), and per table a projection plus a layout (its repartition or
``partitionBy``), shared by build, append and compaction.  Each search
reuses the oracle-checked in-memory scoring kernel, so the persisted
path cannot drift from it (tests assert literal result equality):

* ``ivfpq`` — quantizer: centroids (by cent_id) + PQ codebooks;
  ``codes`` (vec_id, codes, cent_id) hive-partitioned by the BOUNDED
  ``cell_bucket = cent_id % n_buckets``, so a search prunes the scan to
  the probed cells' buckets and the cent_id filter lands on footers;
* ``sq8`` — quantizer: per-dim (lo, scale); flat ``codes`` (vec_id,
  codes), dim bytes per vector, clustered by vec_id;
* ``bq`` — quantizer: per-dim sign thresholds; flat ``codes`` (vec_id,
  code0..codeW), clustered by vec_id, scanned by integer Hamming;
* ``lsh`` — an empty quantizer (its parameters are the meta); ``bands``
  (doc_id, band, band_key) range-clustered and sorted by band_key, and
  ``shingles`` (doc_id, shingles) for the verify stage.

Reference stake: SURVEY §2.12 similarity family (driver-mandated
extension); the reference engine has no index artifacts at all.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from typing import Callable

import numpy as np
from pyspark.sql import DataFrame, DataFrameWriter, SparkSession, functions as F

from ..functions.frames import local_frame
from . import commit, scope
from .ann import centroid_matrix, ivf_assign_vectorized
from .bq import bq_pack, bq_pack_kernel, bq_thresholds, hamming_shortlist_kernel, n_words
from .dedup import N_BANDS, ROWS_PER_BAND, jaccard_verify, lsh_build_kernel
from .pq import KSUB, M_SUB, ivfpq_adc_topk, pq_codebooks_deterministic, pq_encode_assign
from .similarity import ivf_centroids_for_corpus
from .sq8 import sq8_encode, sq8_search_topk, sq8_stats

N_BUCKETS = 64  # bounded partition-directory count for cell pruning

# Rows per code file for the flat (SQ8/BQ) legs.  The inverse of the
# small-file problem: a fixed repartition(8) caps every flat search's
# scan at 8 splits regardless of corpus size (measured: the 4M-vector
# BQ Hamming scan ran on 8 of 32 cores).  Scaling the file count with
# rows keeps ~250k codes (a few MB) per file — small enough to spread,
# large enough that listing stays trivial; compaction re-applies it.
_ROWS_PER_CODE_FILE = 250_000

_POINTER = "COMMITTED"
_QUANTIZER = "quantizer.npz"

def _n_code_files(n_rows: int, floor: int = 8) -> int:
    return max(floor, -(-int(n_rows) // _ROWS_PER_CODE_FILE))


def _p(path: str, *parts: str) -> str:
    return os.path.join(path, *parts)


@dataclass(frozen=True)
class _Codec:
    """One index family over the store.

    ``fit(corpus, **opts) -> (quantizer, meta, n)``: the frozen arrays,
    the family's meta and the rows a build indexes (None when only the
    encoded rows can tell).  ``encode(rows, quantizer, meta)``: the
    family's rows.  ``project(rows)``: table name -> frame.
    ``layouts``: table name -> ``layout(frame, n_files)``, the writer a
    build, an append and a compaction all use.  ``write`` stands in for
    the store's table writer (LSH keeps a module-level one)."""

    fit: Callable
    encode: Callable
    layouts: dict[str, Callable[[DataFrame, int], DataFrameWriter]]
    project: Callable = lambda rows: {"codes": rows}
    count: str = "n_vectors"
    write: Callable | None = None


# ---------------------------------------------------------------------------
# The store: the only code that claims, writes epochs, publishes, vacuums
# ---------------------------------------------------------------------------

def _read_committed(path: str) -> dict | None:
    text = commit.read_pointer(_p(path, _POINTER))
    return None if text is None else json.loads(text)


def load_index_meta(spark: SparkSession, path: str) -> dict:
    """The COMMITTED pointer is the store's meta — one atomic file, so
    counts can never describe data that isn't visible (``spark`` kept
    in the signature for call-site stability; the read is driver-side)."""
    meta = _read_committed(path)
    if meta is None:
        raise ValueError(f"no committed index at {path}")
    return meta


def _open(path: str, family: str) -> dict:
    """The committed meta of a ``family`` store in this format."""
    meta = load_index_meta(None, path)
    if meta.get("family") != family:
        raise ValueError(
            f"{path} holds no {family} index in the quantizer.npz format (family "
            f"{meta.get('family')!r}); rebuild it with build_{family}_index")
    return meta


def _load_quantizer(path: str) -> dict[str, np.ndarray]:
    """The frozen quantizer: one driver-side file read, no Spark job."""
    try:
        with np.load(_p(path, _QUANTIZER)) as z:
            return dict(z)
    except FileNotFoundError:
        raise ValueError(f"{path} has no {_QUANTIZER}: it was built before the "
                         f"quantizer format; rebuild the index") from None


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


def _scan(spark: SparkSession, path: str, table: str, meta: dict) -> DataFrame:
    return _epoch_filter(spark.read.parquet(_p(path, table)), meta)


def _write_tables(codec: _Codec, frames: dict[str, DataFrame], path: str,
                  epoch: int, n_files: int) -> None:
    for table, frame in frames.items():
        codec.layouts[table](frame, n_files).mode("append").parquet(
            _p(path, table, f"epoch={epoch}"))


def _write_rows(codec: _Codec, rows: DataFrame, path: str, epoch: int,
                n_files: int) -> None:
    _write_tables(codec, codec.project(rows), path, epoch, n_files)


def _write_epoch(codec: _Codec, rows: DataFrame, path: str, epoch: int,
                 n: int | None) -> int:
    """Write encoded ``rows`` as epoch ``epoch`` of every table; returns
    their count.  A build whose fit counted the corpus streams it with
    the whole-table file count; otherwise the rows are cached, so the
    count and the table writes encode once (a batch: no file floor)."""
    write = codec.write or _write_rows
    if n is not None:
        write(codec, rows, path, epoch, _n_code_files(n))
        return n
    with scope.cached(rows) as rows:
        n = rows.count()
        write(codec, rows, path, epoch, _n_code_files(n, floor=1))
    return n


def _fresh_store(path: str) -> None:
    """Reset a store directory for a full (re)build: drop the pointer
    FIRST so a crash mid-build cannot leave an old pointer describing
    overwritten data (readers see 'no committed index', not torn
    state).  Rebuild-in-place is single-writer by contract, like any
    table overwrite."""
    if os.path.exists(_p(path, _POINTER)):
        os.remove(_p(path, _POINTER))
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def _build(family: str, corpus: DataFrame, path: str, **opts) -> dict:
    """Fit the quantizer, encode the corpus as epoch 0, publish."""
    codec = _CODECS[family]
    quantizer, meta, n = codec.fit(corpus, **opts)
    _fresh_store(path)
    claim = _claim_epoch(path, 0, tuple(codec.layouts))
    np.savez(_p(path, _QUANTIZER), **quantizer)
    meta = {"family": family, **meta}
    n = _write_epoch(codec, codec.encode(corpus, quantizer, meta), path, 0, n)
    if n == 0:
        raise ValueError(f"build_{family}_index: nothing to index (an empty "
                         f"frame, or no doc reaches shingle_n tokens)")
    _commit_epoch(path, claim, {**meta, "epoch": 0, "epoch_base": 0, codec.count: n})
    return {**meta, codec.count: n}


def _append(family: str, batch: DataFrame, path: str) -> dict:
    """Encode ONLY the batch with the frozen quantizer and commit it as
    the next epoch — history is never read."""
    meta = _open(path, family)
    codec = _CODECS[meta["family"]]
    quantizer = _load_quantizer(path)
    epoch = meta["epoch"] + 1
    claim = _claim_epoch(path, epoch, tuple(codec.layouts))
    n_new = _write_epoch(codec, codec.encode(batch, quantizer, meta), path, epoch, None)
    total = meta[codec.count] + n_new
    _commit_epoch(path, claim, {**meta, "epoch": epoch, codec.count: total})
    return {"appended": n_new, codec.count: total}


def _compact(spark: SparkSession, family: str, path: str) -> dict:
    """Rewrite the committed epochs of every table into ONE fresh epoch in
    the codec's layout, then swap the pointer to {epoch: E+1,
    epoch_base: E+1}: the replaced epochs turn invisible in the same
    atomic step that publishes the consolidated one (Delta's OPTIMIZE
    on the pointer protocol).  A crash before the swap leaves the new
    epoch invisible and the claim stale-reclaimable; after it, only
    garbage the vacuum sweeps.  The quantizer is untouched: compaction
    moves bytes, never results."""
    meta = _open(path, family)
    codec = _CODECS[meta["family"]]
    epoch = meta["epoch"] + 1
    tables = tuple(codec.layouts)
    claim = _claim_epoch(path, epoch, tables)
    _write_tables(codec, {t: _scan(spark, path, t, meta).drop("epoch") for t in tables},
                  path, epoch, _n_code_files(meta[codec.count]))
    _commit_epoch(path, claim, {**meta, "epoch": epoch, "epoch_base": epoch})
    for t in tables:
        commit.vacuum(_p(path, t), "epoch=", epoch)
    return {"epoch": epoch, codec.count: meta[codec.count]}


# ---------------------------------------------------------------------------
# The codecs
# ---------------------------------------------------------------------------

def _by_vec_id(codes: DataFrame, n_files: int) -> DataFrameWriter:
    """Flat codes: clustered by vec_id so point lookups and merges stay
    footer-prunable; the file count scales with rows."""
    return codes.repartition(n_files, "vec_id").write


def _fit_ivfpq(emb: DataFrame, n_centroids: int | None = None) -> tuple:
    n = emb.count()
    if n == 0:
        raise ValueError("build_ivfpq_index: empty embedding frame")
    k = n_centroids or ivf_centroids_for_corpus(n)
    cent_ids, cent_mat = centroid_matrix(emb, k)
    order = np.argsort(cent_ids)  # one centroid order for build, append and search
    return ({"cent_ids": cent_ids[order], "cent_mat": cent_mat[order],
             "codebooks": pq_codebooks_deterministic(emb)},
            {"k": int(k), "m": M_SUB, "ksub": KSUB, "n_buckets": N_BUCKETS}, n)


def _fit_sq8(emb: DataFrame) -> tuple:
    lo, scale, n = sq8_stats(emb, with_count=True)
    return {"lo": lo, "scale": scale}, {"dim": int(lo.shape[0])}, n


def _fit_bq(emb: DataFrame) -> tuple:
    thresholds, n = bq_thresholds(emb, "v", with_count=True)
    return {"thresholds": np.array(thresholds)}, {"dim": len(thresholds)}, n


_CODECS = {
    # Fused encode+assign: one linear pass emits (vec_id, codes,
    # cent_id) with no shuffle before the bucketed write.  Repartition
    # ON the partition column: each bucket's rows land in one task ->
    # one file per bucket directory, not tasks x buckets small files.
    "ivfpq": _Codec(
        fit=_fit_ivfpq,
        encode=lambda rows, q, meta: pq_encode_assign(
            rows, q["codebooks"], q["cent_ids"], q["cent_mat"]).withColumn(
            "cell_bucket", F.pmod(F.col("cent_id"), F.lit(meta["n_buckets"]))),
        layouts={"codes": lambda codes, _: codes.repartition(N_BUCKETS, "cell_bucket")
                 .write.partitionBy("cell_bucket")}),
    # A batch value outside the frozen min/max clips to 0/255 (FAISS
    # SQ8 ``add``): retrain when drift makes that loss material.
    "sq8": _Codec(
        fit=_fit_sq8,
        encode=lambda rows, q, meta: sq8_encode(rows, q["lo"], q["scale"]),
        layouts={"codes": _by_vec_id}),
    # A batch value exactly on a frozen threshold resolves by the same
    # strict ``>`` every other row used.
    "bq": _Codec(
        fit=_fit_bq,
        encode=lambda rows, q, meta: bq_pack_kernel(rows, q["thresholds"].tolist()),
        layouts={"codes": _by_vec_id}),
    # Bands are RANGE-clustered and sorted by band_key, so each row
    # group covers a narrow key range and a probe's band_key predicate
    # skips row groups via footer min/max; shingle sets cluster by
    # doc_id for the candidate lookup.  The kernel drops docs shorter
    # than shingle_n tokens, so only the encoded rows count n_docs.
    "lsh": _Codec(
        fit=lambda docs, shingle_n=3: ({}, {"shingle_n": int(shingle_n), "n_bands": N_BANDS,
                                            "rows_per_band": ROWS_PER_BAND}, None),
        encode=lambda docs, q, meta: lsh_build_kernel(docs, n=meta["shingle_n"]),
        project=lambda rows: {
            "bands": rows.select("doc_id", F.posexplode("band_keys").alias("band", "band_key")),
            "shingles": rows.select("doc_id", "shingles")},
        layouts={"bands": lambda bands, _: bands.repartitionByRange(8, "band_key")
                 .sortWithinPartitions("band_key").write,
                 "shingles": lambda sh, _: sh.repartition(8, "doc_id").write},
        count="n_docs",
        # looked up at call time: crash tests replace _write_lsh_rows
        write=lambda codec, rows, path, epoch, n_files: _write_lsh_rows(rows, path, epoch)),
}


def _write_lsh_rows(rows: DataFrame, path: str, epoch: int) -> None:
    """Write an LSH kernel frame's bands and shingles under the epoch dir."""
    _write_rows(_CODECS["lsh"], rows, path, epoch, 8)


# ---------------------------------------------------------------------------
# IVFPQ
# ---------------------------------------------------------------------------

def build_ivfpq_index(spark: SparkSession, emb: DataFrame, path: str,
                      n_centroids: int | None = None) -> dict:
    """Build and persist the IVFPQ index of a (vec_id, v) frame: one
    count, one centroid collect (k ~ sqrt(N) rows), one codebook
    sample, one fused encode pass into the bucketed write.  Returns
    {n_vectors, k, m, ksub, ...} for the build log."""
    return _build("ivfpq", emb, path, n_centroids=n_centroids)


def search_ivfpq_index(spark: SparkSession, path: str, queries: DataFrame,
                       k: int = 5, nprobe: int = 2) -> DataFrame:
    """Search (query_id, v) queries with the in-memory scoring kernel.

    Query cells are assigned with the SAME vectorized kernel as the
    build (a numpy matmul over the collected query set), and the codes
    scan is pruned TWICE before any scoring: a Hive partition filter on
    cell_bucket drops unprobed buckets' files entirely, and the cent_id
    IN filter lands on parquet footers within the surviving buckets.
    Scoring itself is the exact ``ivfpq_adc_topk`` applyInPandas kernel.
    """
    meta = _open(path, "ivfpq")
    q = _load_quantizer(path)
    # The query frame is consumed twice (probe assignment here, the
    # kernel's own collect below); if the caller derived it from a
    # corpus-sized scan, re-deriving would re-pay that scan per
    # action — cache the bounded query set for the call.
    with scope.cached(queries.select(F.col("query_id").alias("vec_id"), "v")) as qs:
        probe = ivf_assign_vectorized(qs, q["cent_ids"], q["cent_mat"], nprobe=nprobe)
        probe_rows = probe.collect()  # queries x nprobe — the bounded side
        probed_cells = sorted({int(r["cent_id"]) for r in probe_rows})
        buckets = sorted({c % meta["n_buckets"] for c in probed_cells})

        codes_df = (
            _scan(spark, path, "codes", meta)
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
        probes_df = local_frame(
            spark,
            [
                (int(r["vec_id"]), int(r["cent_id"]), int(r["rn"]))
                for r in probe_rows
                if not (int(r["rn"]) == 1 and int(r["vec_id"]) in member_qids)
            ],
            "vec_id bigint, cent_id bigint, rn int",
        )
        ranked = members.unionByName(probes_df)
        # the kernel collects the query set eagerly, so the cache can be
        # released before returning: the result plan references only the
        # codes scan and the driver-built LUT closures
        return ivfpq_adc_topk(
            codes_df.select("vec_id", "codes"), ranked,
            qs.withColumnRenamed("vec_id", "query_id"), q["codebooks"],
            k=k, nprobe=nprobe)


def append_to_ivfpq_index(spark: SparkSession, emb_new: DataFrame, path: str) -> dict:
    """Frozen-quantizer increment: encode NEW vectors with the saved
    centroids + codebooks and append their code rows.  Caller owns id
    uniqueness (the engine-wide insert-if-absent merge handles replay
    when ids may repeat).  A crash before the pointer swap leaves the
    epoch invisible; a concurrent appender raises ``CommitConflict``
    before writing anything."""
    return _append("ivfpq", emb_new, path)


def compact_ivfpq_index(spark: SparkSession, path: str) -> dict:
    """Rewrite all committed code epochs into one, one file per bucket."""
    return _compact(spark, "ivfpq", path)


# ---------------------------------------------------------------------------
# SQ8: the scalar-quantized flat index
# ---------------------------------------------------------------------------

def build_sq8_index(spark: SparkSession, emb: DataFrame, path: str) -> dict:
    """Persist the SQ8 flat index of a (vec_id, v) frame: one stats
    pass that also counts, one shuffle-free Arrow encode pass, one
    vec_id-clustered write.  Flat by design: its search scans every
    code row (the pruning story lives in the IVFPQ leg)."""
    return _build("sq8", emb, path)


def search_sq8_index(spark: SparkSession, path: str, queries: DataFrame,
                     k: int = 15) -> DataFrame:
    """Asymmetric search of (query_id, qv) queries with the exact
    ``sq8_search_topk`` kernel — the saved (lo, scale) IS the decoder."""
    meta = _open(path, "sq8")
    q = _load_quantizer(path)
    codes = _scan(spark, path, "codes", meta).select("vec_id", "codes")
    return sq8_search_topk(codes, queries, q["lo"], q["scale"], k=k)


def append_to_sq8_index(spark: SparkSession, emb_new: DataFrame, path: str) -> dict:
    """Frozen-quantizer increment: encode ONLY the batch with the saved
    (lo, scale); out-of-range values clip to 0/255."""
    return _append("sq8", emb_new, path)


def compact_sq8_index(spark: SparkSession, path: str) -> dict:
    """Rewrite all committed code epochs into one, vec_id-clustered."""
    return _compact(spark, "sq8", path)


# ---------------------------------------------------------------------------
# BQ: 1-bit sign codes
# ---------------------------------------------------------------------------

def build_bq_index(spark: SparkSession, emb: DataFrame, path: str) -> dict:
    """Persist the binary-quantization flat index of a (vec_id, v)
    frame: 8 bytes per vector at dim 64 (32x under float32, 4x under
    SQ8).  One thresholds pass that also counts, one Arrow pack pass
    (byte-parity with the ``bq_pack`` expression pinned by
    tests/test_quant.py), one vec_id-clustered write."""
    return _build("bq", emb, path)


def search_bq_index(spark: SparkSession, path: str, queries: DataFrame,
                    shortlist: int) -> DataFrame:
    """Hamming shortlist of (query_id, qv) queries: packed with the SAVED
    thresholds and ranked by the Arrow ``bq.hamming_shortlist_kernel``
    (XOR + byte-table popcount, exact per-batch pruning under the
    (hamming, neighbor_id) total order).  Hamming is integer math, so
    the results are EXACTLY the expression route's.  Returns
    (query_id, neighbor_id, hamming)."""
    meta = _open(path, "bq")
    thresholds = _load_quantizer(path)["thresholds"].tolist()
    words = n_words(meta["dim"])
    codes = _scan(spark, path, "codes", meta).select(
        "vec_id", *[f"code{w}" for w in range(words)])
    packed_q = bq_pack(queries.select("query_id", "qv"), thresholds, "qv",
                       prefix="qcode").select(
        "query_id", *[f"qcode{w}" for w in range(words)])
    return hamming_shortlist_kernel(codes, packed_q, meta["dim"], shortlist)


def append_to_bq_index(spark: SparkSession, emb_new: DataFrame, path: str) -> dict:
    """Frozen-quantizer increment: pack ONLY the batch with the saved
    thresholds; history bytes are immutable."""
    return _append("bq", emb_new, path)


def compact_bq_index(spark: SparkSession, path: str) -> dict:
    """Rewrite all committed code epochs into one, vec_id-clustered."""
    return _compact(spark, "bq", path)


# ---------------------------------------------------------------------------
# LSH: the MinHash band index for incremental near-dup
# ---------------------------------------------------------------------------

def build_lsh_index(spark: SparkSession, docs: DataFrame, path: str,
                    shingle_n: int = 3) -> dict:
    """Persist the near-dup probe index of a (doc_id, text) frame.  A
    day's batch meets history ONLY through its bands and shingles
    tables — history text is never re-shingled, re-hashed, or
    self-joined again.  The corpus pass runs through
    ``dedup.lsh_build_kernel`` (byte-identical to the expression route)
    once: the kernel frame stays cached across the count and both
    table writes."""
    return _build("lsh", docs, path, shingle_n=shingle_n)


def probe_lsh_index(spark: SparkSession, path: str, batch_docs: DataFrame,
                    threshold: float = 0.5) -> DataFrame:
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
    meta = _open(path, "lsh")
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
    h = _scan(spark, path, "bands", meta)
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
    hist_sharr = _scan(spark, path, "shingles", meta).select("doc_id", "shingles")
    return jaccard_verify(hist_sharr, cand, threshold,
                          sharr_right=batch_rows.select("doc_id", "shingles"))


def append_to_lsh_index(spark: SparkSession, docs_new: DataFrame, path: str) -> dict:
    """Index increment: shingle/hash ONLY the new docs with the saved
    parameters.  The epoch commit makes the bands and shingles writes
    atomic together."""
    return _append("lsh", docs_new, path)


def compact_lsh_index(spark: SparkSession, path: str) -> dict:
    """Rewrite all committed band/shingle epochs into one — bands regain
    GLOBAL band_key range clustering (re-arming the small-probe skip),
    shingles re-cluster by doc_id.  No text is re-shingled."""
    return _compact(spark, "lsh", path)
