"""Training-data curation operators: chunking, redaction, mixture
sampling, SimHash near-dup pairs.

These are the document-prep steps a 100 TB corpus pipeline runs after
dedup: split documents into model-window chunks, scrub PII-shaped
substrings, and downsample sources to a target mixture — all as
native expressions, all deterministic (hash-based sampling, not
rand()), all oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..functions.text import DUCK_HASH60, hash60, ws_tokens
from ..operators import scope
from ..operators.dedup import simhash
from ..operators.layout import spread_for_compute
from ..sources.catalog import load_table
from .catalog import register

# --------------------------------------------------------------------------
# SimHash banding: near-dup candidate pairs by hamming distance.
# --------------------------------------------------------------------------

_SIMHASH_PAIRS_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
  FROM documents
),
sums AS (
  SELECT doc_id,
    {sums}
  FROM toks GROUP BY doc_id
),
fp AS (
  SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM sums
),
bands AS (
  SELECT doc_id, simhash, b.band, (simhash >> (b.band * 8)) & 255 AS band_val
  FROM fp, (SELECT unnest(range(0, 4)) AS band) b
),
cand AS (
  SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id,
         a.simhash AS left_hash, b.simhash AS right_hash
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
)
SELECT left_id, right_id,
       CAST(bit_count(xor(left_hash, right_hash)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(left_hash, right_hash)) <= 6
"""


from ..operators.dedup import duck_simhash_pieces

_sums, _fp = duck_simhash_pieces()


@register("dedup_simhash_pairs", oracle=_SIMHASH_PAIRS_ORACLE.format(sums=_sums, fp=_fp))
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str,
                        bucket_cap: int | None = None) -> DataFrame:
    """SimHash near-dup pairs: byte-band candidates, hamming <= 6 verify.

    The 32-bit fingerprint splits into 4 byte bands; docs agreeing on
    any band become candidates (pigeonhole: hamming <= 6 over 4 bands
    guarantees at least one untouched band... for <= 3; <= 6 trades a
    little recall for candidate volume), then exact popcount verifies.

    ``bucket_cap``: optional LSH hot-bucket guard — band buckets
    holding more than this many fingerprints are dropped BEFORE
    pairing (a bucket of size m costs m^2/2 candidates, so one
    boilerplate byte-value would otherwise dominate the edge list).
    PageRank's production edge set passes PR_BUCKET_CAP here; its
    DuckDB oracle applies the same HAVING.  When a cap is active the
    vertex-sized fingerprint table is checkpointed once so the
    tokenize+vote expression isn't re-derived per join branch (bucket
    counts + both self-join sides = 4x otherwise).
    """
    docs = spread_for_compute(spark, load_table(spark, sf_dir, "documents"))
    fp = simhash(docs)
    if bucket_cap is not None:
        fp = scope.checkpoint(fp)
    bands = fp.select(
        "doc_id", "simhash",
        F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("band"),
    ).withColumn("band_val", F.expr("(simhash >> (band * 8)) & 255"))
    if bucket_cap is not None:
        kept = (
            bands.groupBy("band", "band_val")
            .agg(F.count(F.lit(1)).alias("m"))
            .filter(F.col("m") <= bucket_cap)
            .select("band", "band_val")
        )
        bands = bands.join(kept, ["band", "band_val"])
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.band_val") == F.col("b.band_val"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("left_id"),
            F.col("b.doc_id").alias("right_id"),
            F.col("a.simhash").alias("left_hash"),
            F.col("b.simhash").alias("right_hash"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("left_hash").bitwiseXOR(F.col("right_hash")))
    return (
        cand.withColumn("hamming", hamming.cast("bigint"))
        .filter(F.col("hamming") <= 6)
        .select("left_id", "right_id", "hamming")
    )


# --------------------------------------------------------------------------
# Star-contraction clustering of the SimHash pair graph.
# --------------------------------------------------------------------------

from ..operators.clusters import connected_components_two_phase, duck_components_sql

_CLUSTERS_STAR_ORACLE = f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
  FROM documents
),
sums AS (
  SELECT doc_id,
    {_sums}
  FROM toks GROUP BY doc_id
),
fp AS (
  SELECT doc_id, CAST({_fp} AS BIGINT) AS simhash FROM sums
),
bands AS (
  SELECT doc_id, simhash, b.band, (simhash >> (b.band * 8)) & 255 AS band_val
  FROM fp, (SELECT unnest(range(0, 4)) AS band) b
),
pairs AS (
  SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
),
{duck_components_sql("pairs")}
SELECT vertex_id AS doc_id, cluster_id,
       vertex_id = cluster_id AS is_canonical,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM components
"""


@register("dedup_clusters_star", oracle=_CLUSTERS_STAR_ORACLE)
def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters via alternating large-star/small-star
    contraction (Kiveris et al., SoCC 2014) over the SimHash pair graph.

    `dedup_clusters` (in-window) labels the capped-Jaccard graph with
    min-label propagation — rounds ~ diameter, the right default for
    shallow near-dup clusters.  This query drives the documented
    high-diameter upgrade (operators/clusters.py:
    connected_components_two_phase, O(log n) rounds regardless of
    diameter) through the driver's differential check on a DIFFERENT
    pair emitter: SimHash byte-band candidates at hamming <= 3, the
    pigeonhole-EXACT threshold (4 byte bands absorb at most 3 flipped
    bits while leaving one band untouched, so banding loses no pair at
    this radius — unlike the pairs query's recall-trading <= 6, which
    also keeps this graph sparse enough that clustering cost tracks
    true near-dup mass, not candidate noise).  Both component
    algorithms and both graph shapes carry hard signal.  The oracle is
    DuckDB's recursive transitive closure over the same pair SQL —
    exact, because both algorithms provably converge to the same
    min-id component labeling.

    Reference scope: SURVEY.md §2.12 dedup family (the reference dedups
    by exact key only; clustering is the transitive-closure
    generalization its corpus users need).
    """
    pairs = dedup_simhash_pairs(spark, sf_dir).filter(F.col("hamming") <= 3)
    comp = connected_components_two_phase(
        pairs.select("left_id", "right_id"))
    w_sz = W.partitionBy("cluster_id")
    return comp.select(
        F.col("vertex_id").alias("doc_id"),
        "cluster_id",
        (F.col("vertex_id") == F.col("cluster_id")).alias("is_canonical"),
        F.count(F.lit(1)).over(w_sz).alias("cluster_size"),
    )


# --------------------------------------------------------------------------
# Document chunking: fixed token windows with overlap.
# --------------------------------------------------------------------------

_CHUNK = 32   # tokens per chunk
_STRIDE = 24  # 8-token overlap

_CHUNKING_ORACLE = f"""
WITH words AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM documents
),
chunks AS (
  SELECT doc_id,
         t.i AS chunk_no,
         array_to_string(ws[t.i * {_STRIDE} + 1 : t.i * {_STRIDE} + {_CHUNK}], ' ') AS chunk_text,
         least(len(ws) - t.i * {_STRIDE}, {_CHUNK}) AS n_tokens
  FROM words,
       UNNEST(range(0, greatest((len(ws) - {_CHUNK} + {_STRIDE} - 1) // {_STRIDE}, 0) + 1)) AS t(i)
  WHERE t.i * {_STRIDE} < len(ws)
)
SELECT doc_id, CAST(chunk_no AS BIGINT) AS chunk_no, chunk_text, CAST(n_tokens AS BIGINT) AS n_tokens
FROM chunks
"""


def chunk_documents(docs: DataFrame) -> DataFrame:
    """Reusable chunking plan: (doc_id, chunk_no, chunk_text, n_tokens)."""
    toks = ws_tokens(F.col("text"))
    n = F.size(toks)
    n_chunks = F.greatest(
        F.ceil((n - _CHUNK).cast("double") / _STRIDE).cast("int"), F.lit(0)
    ) + 1
    idx = F.sequence(F.lit(0), n_chunks - 1)
    return (
        docs.select(
            "doc_id",
            toks.alias("ws"),
            F.explode(idx).alias("chunk_no"),
        )
        .filter(F.col("chunk_no") * _STRIDE < F.size("ws"))
        .select(
            "doc_id",
            F.col("chunk_no").cast("long").alias("chunk_no"),
            F.concat_ws(
                " ", F.slice(F.col("ws"), F.col("chunk_no") * _STRIDE + 1, _CHUNK)
            ).alias("chunk_text"),
            F.least(
                F.size("ws") - F.col("chunk_no") * _STRIDE, F.lit(_CHUNK)
            ).cast("long").alias("n_tokens"),
        )
    )


@register("doc_chunking", oracle=_CHUNKING_ORACLE)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split documents into 32-token chunks with 8-token overlap.

    The standard pre-training window cut: chunk i covers tokens
    [i*stride, i*stride + chunk); the final partial chunk is kept.
    Pure array expressions + one explode — no Python, no shuffle
    beyond the source partitioning.
    """
    return chunk_documents(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# PII-shaped redaction (regexp_replace, RE2-safe patterns only).
# --------------------------------------------------------------------------

_REDACT_ORACLE = r"""
SELECT doc_id,
  regexp_replace(
    regexp_replace(
      'contact ' || CAST(doc_id AS VARCHAR) || '@example.com or +1-555-0' || CAST(doc_id AS VARCHAR) || ' re: ' || substr(text, 1, 40),
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
    '\+?[0-9][0-9()\-]{6,}[0-9]', '<PHONE>', 'g') AS redacted
FROM documents
"""


@register("text_redact", oracle=_REDACT_ORACLE)
def text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-shaped scrubbing: email + phone patterns replaced with tags.

    Patterns stay inside the RE2-compatible subset (no lookarounds) so
    Java regex (Spark) and RE2 (DuckDB) agree; the synthetic prefix
    plants one of each per row so the rule demonstrably fires.
    """
    docs = load_table(spark, sf_dir, "documents")
    synth = F.concat(
        F.lit("contact "), F.col("doc_id").cast("string"), F.lit("@example.com or +1-555-0"),
        F.col("doc_id").cast("string"), F.lit(" re: "), F.substring(F.col("text"), 1, 40),
    )
    emails = F.regexp_replace(
        synth, r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"
    )
    phones = F.regexp_replace(emails, r"\+?[0-9][0-9()\-]{6,}[0-9]", "<PHONE>")
    return docs.select("doc_id", phones.alias("redacted"))


# --------------------------------------------------------------------------
# Deterministic mixture sampling per source.
# --------------------------------------------------------------------------

# target per-source keep rates (percent) — a curation mixture spec
_MIX = {"src0": 100, "src1": 50, "src2": 25}
_DEFAULT_RATE = 10

_mix_cases = " ".join(f"WHEN '{s}' THEN {r}" for s, r in _MIX.items())
_MIXTURE_ORACLE = f"""
SELECT doc_id, source, lang,
       {DUCK_HASH60.format(col="CAST(doc_id AS VARCHAR)")} % 100 AS bucket
FROM documents
WHERE {DUCK_HASH60.format(col="CAST(doc_id AS VARCHAR)")} % 100
      < CASE source {_mix_cases} ELSE {_DEFAULT_RATE} END
"""


@register("mixture_sampling", oracle=_MIXTURE_ORACLE)
def mixture_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source downsampling to a target mixture.

    Hash-bucket sampling (hash(doc_id) % 100 < rate) instead of
    rand(): reproducible across runs/engines/retries, stable under
    repartitioning — the property corpus curation needs for auditable
    mixtures.  Rates: src0 100%, src1 50%, src2 25%, others 10%.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = hash60(F.col("doc_id").cast("string")) % 100
    rate = F.when(F.col("source") == "src0", _MIX["src0"]) \
        .when(F.col("source") == "src1", _MIX["src1"]) \
        .when(F.col("source") == "src2", _MIX["src2"]) \
        .otherwise(_DEFAULT_RATE)
    return (
        docs.withColumn("bucket", bucket)
        .filter(F.col("bucket") < rate)
        .select("doc_id", "source", "lang", "bucket")
    )
