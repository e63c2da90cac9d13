"""Near-duplicate detection operators for training-data pipelines.

Spark-first shapes for 100 TB corpora:

* shingling and hashing are native array expressions (codegen'd);
* candidate generation is hash-bucketed (inverted shingle index for
  Jaccard, MinHash band buckets for LSH) — never an all-pairs cross
  join;
* hashes are md5-derived integers (functions/text.py hash32/hash60),
  reproducible in any engine, so the whole pipeline — including LSH
  banding — is oracle-checkable against DuckDB, unlike engine-native
  hash() functions.

MinHash math: h32 maps each shingle into [0, 2^32); permutation i is
(a_i * h + b_i) mod P with P the smallest prime > 2^32 and a_i < 2^30
so products stay inside signed 64-bit on every engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.text import hash32

MINHASH_P = 4294967311  # smallest prime > 2^32
SIMHASH_BITS = 32

# Default hot-shingle document-frequency cap: a 3-gram appearing in more
# than this many documents is boilerplate, not a similarity signal, and
# its posting list would cost df^2 candidate pairs.  Single source of
# truth for both the Spark operator and the DuckDB oracle SQL.
MAX_DF = 256

# Deterministic permutation coefficients (16 permutations = 4 bands x 4 rows).
N_PERM = 16
N_BANDS = 4
ROWS_PER_BAND = N_PERM // N_BANDS
PERM_A = [(1000003 * (i + 1) + 333) % (2**30) for i in range(N_PERM)]
PERM_B = [(998244353 * (i + 7) + 777) % MINHASH_P for i in range(N_PERM)]


def shingle_arrays(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                   n: int = 3) -> DataFrame:
    """Per-document distinct shingle set as ONE array row: (doc_id, shingles).

    ``array_distinct`` dedups inside the row, so the whole shingle-set
    construction is narrow (no shuffle) — the exploded form used to pay
    a global ``distinct()`` exchange for the same result, since
    duplicate (doc_id, shingle) pairs can only come from within one
    document.  Docs shorter than n tokens drop out, matching the
    exploded form where they simply have no rows.

    Two load-bearing plan shapes here:

    * the short-doc guard filters on token COUNT, not on the built
      shingle array — ``filter(size(shingles) > 0)`` gets pushed below
      the caller's repartition exchange, evaluating the entire shingle
      expression a second time on the scan's (serial at test SF)
      partitioning (measured: 2.9 s -> 0.3 s at sf0.1);
    * tokenization lands in its own projection (the ``__toks`` alias
      barrier — CollapseProject refuses to merge a non-cheap producer
      referenced from the lambda), so ``split`` runs once per document
      instead of once per window inside the interpreted
      higher-order-function transform.
    """
    from ..functions.text import ws_tokens

    toks = ws_tokens(F.lower(F.col(text_col)))
    toked = docs.filter(F.size(toks) >= n).select(
        id_col, toks.alias("__toks")
    )
    windows = F.transform(
        F.sequence(F.lit(1), F.size("__toks") - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(F.col("__toks"), i, n)),
    )
    return toked.select(id_col, F.array_distinct(windows).alias("shingles"))


def shingle_sets(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Distinct word 3-gram shingles per document: (doc_id, shingle).

    ``explode_outer``, not ``explode``: a plain explode makes Catalyst
    infer a ``size(shingles) > 0`` filter (InferFiltersFromGenerate)
    and push the ENTIRE shingle expression below the caller's
    repartition exchange — re-evaluated serially at the scan's
    partitioning (measured 2.8 s -> 0.5 s at sf0.1).  The outer form
    skips the inference and is identical here: shingle_arrays already
    guarantees non-empty arrays (token-count guard)."""
    return shingle_arrays(docs, id_col, text_col).select(
        id_col, F.explode_outer("shingles").alias("shingle")
    )


def jaccard_pairs_capped(sharr: DataFrame, threshold: float, max_df: int) -> DataFrame:
    """Exact Jaccard under a hot-shingle cap, at index scale.

    The self-join + per-pair count runs ONLY over cold postings
    (df <= max_df), so no bucket costs more than max_df^2 pairs; the
    intersection is then completed exactly by adding the hot-shingle
    overlap, computed from tiny per-doc hot arrays (each doc carries at
    most a handful of > max_df shingles, joined narrow).  Output =
    pairs sharing >=1 cold shingle, scored on FULL shingle sets —
    byte-identical to the capped-candidates oracle, but without ever
    shipping full shingle arrays onto the (large) candidate set or
    self-joining hot postings.
    """
    # explode_outer: see shingle_sets — avoids the inferred-filter
    # re-evaluation of the shingle expression below the exchange
    sh = sharr.select("doc_id", F.explode_outer("shingles").alias("shingle"))
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > max_df)
        .select("shingle")
    )
    cold = sh.join(F.broadcast(hot), "shingle", "left_anti")
    a, b = cold.alias("a"), cold.alias("b")
    inter_cold = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("left_id"), F.col("b.doc_id").alias("right_id"))
        .agg(F.count(F.lit(1)).alias("n_cold"))
    )
    sizes = sharr.select("doc_id", F.size("shingles").alias("n_sh"))
    hot_per_doc = (
        sh.join(F.broadcast(hot), "shingle")
        .groupBy("doc_id")
        .agg(F.collect_list("shingle").alias("hot_sh"))
    )
    empty = F.array().cast("array<string>")
    sa = sizes.select(F.col("doc_id").alias("left_id"), F.col("n_sh").alias("n_left"))
    sb = sizes.select(F.col("doc_id").alias("right_id"), F.col("n_sh").alias("n_right"))
    ha = hot_per_doc.select(F.col("doc_id").alias("left_id"), F.col("hot_sh").alias("hot_a"))
    hb = hot_per_doc.select(F.col("doc_id").alias("right_id"), F.col("hot_sh").alias("hot_b"))
    n_common = F.col("n_cold") + F.size(
        F.array_intersect(F.coalesce(F.col("hot_a"), empty), F.coalesce(F.col("hot_b"), empty))
    )
    jac = n_common.cast("double") / (
        F.col("n_left") + F.col("n_right") - n_common
    ).cast("double")
    return (
        inter_cold.join(sa, "left_id").join(sb, "right_id")
        .join(ha, "left_id", "left")
        .join(hb, "right_id", "left")
        .select("left_id", "right_id", jac.alias("jaccard"))
        .filter(F.coalesce(F.col("jaccard") >= threshold, F.lit(False)))
    )


def jaccard_verify(sharr: DataFrame, candidates: DataFrame,
                   threshold: float,
                   sharr_right: DataFrame | None = None) -> DataFrame:
    """Exact Jaccard for candidate pairs via array intersection.

    Two equi-joins pull each side's shingle ARRAY onto the candidate
    row; |A ∩ B| is ``array_intersect`` inside the row — no exploded
    index is shuffled and no per-pair groupBy runs, so verification
    cost is |candidates| x shingles-per-doc with zero wide stages
    beyond the two hash joins.  Exactly equivalent to the exploded
    intersection count (arrays are per-doc distinct).

    ``sharr_right`` serves the cross-set (history-vs-batch) probe:
    left_ids resolve against ``sharr`` (e.g. a PERSISTED shingle
    store) and right_ids against the batch's own arrays — a re-ingested
    doc id present on both sides then resolves each side exactly once
    instead of fanning out through a unioned frame.
    """
    a = sharr.select(F.col("doc_id").alias("left_id"), F.col("shingles").alias("__sh_a"))
    b = (sharr if sharr_right is None else sharr_right).select(
        F.col("doc_id").alias("right_id"), F.col("shingles").alias("__sh_b"))
    inter = F.size(F.array_intersect(F.col("__sh_a"), F.col("__sh_b")))
    jac = inter.cast("double") / (
        F.size("__sh_a") + F.size("__sh_b") - inter
    ).cast("double")
    return (
        candidates.join(a, "left_id").join(b, "right_id")
        .select("left_id", "right_id", jac.alias("jaccard"))
        .filter(F.coalesce(F.col("jaccard") >= threshold, F.lit(False)))
    )


def minhash_signatures_arrays(sharr: DataFrame) -> DataFrame:
    """Shuffle-free MinHash signatures from shingle arrays.

    One ``aggregate`` fold computes all 16 permutation minimums in a
    single traversal of ``transform(shingles, md5-hash)`` — the hash
    array is the fold's input child, so md5 runs ONCE per shingle (16
    separate array_min(transform(...)) expressions get inlined by the
    optimizer and re-hash per permutation — measured 2x slower).  The
    fold lands behind an alias barrier in its own projection:
    CollapseProject refuses to merge a non-cheap producer referenced 16
    times, pinning single evaluation.  No explode, no groupBy, no
    exchange.
    """
    zero = F.struct(
        *[F.lit(MINHASH_P).cast("bigint").alias(f"m{i}") for i in range(N_PERM)]
    )

    def merge(acc, h):
        return F.struct(
            *[
                F.least(
                    acc[f"m{i}"],
                    (F.lit(PERM_A[i]) * h + F.lit(PERM_B[i])) % F.lit(MINHASH_P),
                ).alias(f"m{i}")
                for i in range(N_PERM)
            ]
        )

    sig = F.aggregate(
        F.transform(F.col("shingles"), lambda s: hash32(s)), zero, merge
    )
    staged = sharr.select("doc_id", sig.alias("__sig"))
    return staged.select(
        "doc_id",
        *[F.col("__sig").getField(f"m{i}").alias(f"mh{i}") for i in range(N_PERM)],
    )


def lsh_candidate_pairs(signatures: DataFrame) -> DataFrame:
    """Banded LSH: docs agreeing on any full band become candidates.

    Band key is md5 over the band's signature values — a string both
    engines render identically.  One narrow unionByName per band, an
    equi-join per bucket; no quadratic stage anywhere.
    """
    all_bands = lsh_band_keys(signatures)
    a, b = all_bands.alias("a"), all_bands.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("left_id"), F.col("b.doc_id").alias("right_id"))
        .distinct()
    )


def lsh_band_keys(signatures: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) rows — the banded-bucket index one
    side of an LSH join publishes.  Factored out of
    :func:`lsh_candidate_pairs` so a PROBE side (a new batch) can meet
    a BUILD side (the historical index) without recomputing history:
    at 100 TB the band keys are what an incremental pipeline persists
    (bands x docs rows, ~40 bytes each), never the shingle sets."""
    bands = []
    for band in range(N_BANDS):
        cols = [F.col(f"mh{band * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
        bands.append(
            signatures.select(
                "doc_id",
                F.lit(band).alias("band"),
                F.md5(F.concat_ws(",", *cols)).alias("band_key"),
            )
        )
    out = bands[0]
    for b in bands[1:]:
        out = out.unionByName(b)
    return out


def lsh_probe_pairs(hist_sigs: DataFrame, batch_sigs: DataFrame) -> DataFrame:
    """Cross-set LSH candidates: (hist_id, batch_id) pairs agreeing on
    any full band — the incremental form of
    :func:`lsh_candidate_pairs`, probing a new batch against an
    already-indexed corpus without comparing history to itself.

    One equi-join on (band, band_key); candidate cost is the bucket
    collision count, never |hist| x |batch|.  Band keys are the same
    md5 strings as the batch-mode path, so an index built by one and
    probed by the other agrees bucket for bucket.  A doc present on
    BOTH sides (re-ingest of an already-indexed doc) is excluded from
    pairing with itself — the cross-set analogue of
    lsh_candidate_pairs' a.doc_id < b.doc_id self-guard — so a
    replayed doc surfaces its true nearest duplicate, not itself."""
    h = lsh_band_keys(hist_sigs).alias("h")
    b = lsh_band_keys(batch_sigs).alias("b")
    return (
        h.join(b, (F.col("h.band") == F.col("b.band"))
               & (F.col("h.band_key") == F.col("b.band_key"))
               & (F.col("h.doc_id") != F.col("b.doc_id")))
        .select(F.col("h.doc_id").alias("left_id"),
                F.col("b.doc_id").alias("right_id"))
        .distinct()
    )


def lsh_probe_pairs_kernel(hist_rows: DataFrame,
                           batch_rows: DataFrame) -> DataFrame:
    """:func:`lsh_probe_pairs` over :func:`lsh_build_kernel` frames —
    the same (band, band_key) equi-join and same md5 band keys (kernel
    parity is byte-exact, tests/test_dedup_kernel.py), but signatures
    come from the one-pass Arrow kernel instead of the interpreted
    higher-order-function expression route (~7x per gram, the
    winnowing stage-profile measurement).  The expression route
    remains the oracle surface; this is the production fast path the
    driver-checked incremental query rides (round 8, r7 verdict
    item 6)."""
    h = hist_rows.select(
        "doc_id", F.posexplode("band_keys").alias("band", "band_key")
    ).alias("h")
    b = batch_rows.select(
        "doc_id", F.posexplode("band_keys").alias("band", "band_key")
    ).alias("b")
    return (
        h.join(b, (F.col("h.band") == F.col("b.band"))
               & (F.col("h.band_key") == F.col("b.band_key"))
               & (F.col("h.doc_id") != F.col("b.doc_id")))
        .select(F.col("h.doc_id").alias("left_id"),
                F.col("b.doc_id").alias("right_id"))
        .distinct()
    )


def duck_simhash_pieces() -> tuple[str, str]:
    """DuckDB SQL fragments (per-bit sums, fingerprint fold) mirroring
    :func:`simhash` — the single source for every SimHash oracle."""
    h = "CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT)"
    sums = ",\n    ".join(
        f"sum(CASE WHEN ({h} & {1 << j}) != 0 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(SIMHASH_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(SIMHASH_BITS))
    return sums, fp


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document SimHash fingerprint over whitespace tokens.

    Token multiset (not set: repeats weigh) hashed to 32 bits; bit j of
    the fingerprint is the sign of sum(+1/-1 over tokens' bit j).
    Integer arithmetic end to end — exact on every engine.
    """
    from ..functions.text import ws_tokens

    # The hash is projected ONCE as a named column and the per-bit
    # aggregates are parsed from SQL text (round 9): building 32 x
    # ~10 Column objects cost ~400 py4j round trips of pure driver
    # time per call; the parsed expressions are identical (codegen
    # already CSE'd the repeated hash).
    toks = docs.select(
        id_col, F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("tok")
    ).select(id_col, hash32(F.col("tok")).alias("__h32"))
    sums = toks.groupBy(id_col).agg(*[
        F.expr(f"sum(CASE WHEN (__h32 & {1 << j}) != 0 THEN 1 ELSE -1 END)")
        .alias(f"s{j}")
        for j in range(SIMHASH_BITS)
    ])
    fp = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(SIMHASH_BITS))
    return sums.select(
        id_col, F.expr(fp).cast("bigint").alias("simhash"))


# ---------------------------------------------------------------------------
# Arrow build kernel: shingles + MinHash + band keys in ONE pass (round 7)
# ---------------------------------------------------------------------------

_LSH_BUILD_SCHEMA = ("doc_id bigint, shingles array<string>, "
                     "band_keys array<string>")


def _lsh_build_batches_factory(n: int):
    """Per-batch kernel behind :func:`lsh_build_kernel` — grams, md5
    hashes, the 16 modular permutations, and the 4 band-key md5s all
    happen here, exactly one traversal of each doc's token list."""
    def op(batches):
        import hashlib

        import numpy as np
        import pyarrow as pa

        A = np.array(PERM_A, dtype=np.int64)[None, :]
        B = np.array(PERM_B, dtype=np.int64)[None, :]
        P = np.int64(MINHASH_P)
        md5 = hashlib.md5
        for b in batches:
            if not len(b):
                continue
            ids = b.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            col = b.column(1)
            off = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            toks = col.flatten().to_pylist()
            off = off - off[0]
            out_ids, out_sh, out_bk = [], [], []
            for i in range(len(b)):
                t = toks[off[i]:off[i + 1]]
                if len(t) < n:
                    continue  # same drop rule as shingle_arrays' filter
                grams = list(dict.fromkeys(  # first-occurrence distinct,
                    " ".join(t[j:j + n])     # the array_distinct order
                    for j in range(len(t) - n + 1)))
                h = np.fromiter(
                    (int.from_bytes(md5(g.encode()).digest()[:4], "big")
                     for g in grams),
                    dtype=np.int64, count=len(grams))
                # (g, 16) modular permutations: a*h < 2^30 * 2^32 stays
                # exact in int64, matching the JVM bigint fold
                sig = ((h[:, None] * A + B) % P).min(axis=0)
                out_bk.append([
                    md5(",".join(
                        str(int(sig[band * ROWS_PER_BAND + r]))
                        for r in range(ROWS_PER_BAND)).encode()).hexdigest()
                    for band in range(N_BANDS)
                ])
                out_ids.append(ids[i])
                out_sh.append(grams)
            yield pa.RecordBatch.from_arrays(
                [pa.array(out_ids, pa.int64()),
                 pa.array(out_sh, pa.list_(pa.string())),
                 pa.array(out_bk, pa.list_(pa.string()))],
                ["doc_id", "shingles", "band_keys"],
            )

    return op


def lsh_build_kernel(docs: DataFrame, n: int = 3,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """(doc_id, shingles, band_keys) in ONE Arrow pass over the corpus
    — the index-build production path.

    Byte-for-byte the same values as the expression route
    (``lsh_band_keys(minhash_signatures_arrays(shingle_arrays(docs)))``
    plus the shingle arrays themselves; tests/test_dedup_kernel.py
    pins equality), but the gram construction moves out of the
    interpreted higher-order ``transform(sequence, slice+concat_ws)``
    lambda: the winnowing stage profile measured that expression at
    ~7 µs/gram (88 s of a 114 s pass at 250k docs / 12.35M grams)
    versus ~1 µs/gram for the identical strings+md5 here.  Hash parity
    is exact — hash32's first-8-md5-hex-chars == the digest's first 4
    bytes big-endian, and the permutation arithmetic stays inside
    int64 like the JVM bigint fold.

    The registered in-memory queries keep the expression route (it is
    the DuckDB-oracle surface); this kernel is what
    ``operators/index_store.build_lsh_index`` and the probe batch side
    run, where the corpus-sized pass is the cost that matters.
    """
    from ..functions.text import ws_tokens

    toked = docs.select(
        F.col(id_col).alias("doc_id"),
        ws_tokens(F.lower(F.col(text_col))).alias("__t"),
    )
    return toked.mapInArrow(_lsh_build_batches_factory(n),
                            schema=_LSH_BUILD_SCHEMA)
