"""Graph centrality over the near-dup similarity graph: distributed
PageRank with an exactly-checkable fixed-point iteration.

PageRank (Page et al. 1999) over the SimHash near-dup pair graph —
the "which documents sit at the center of a duplication neighborhood"
signal a curation pipeline uses to pick cluster canonicals and to
spot template farms (a hub with hundreds of near-dup neighbors is a
boilerplate generator, not content).

**Exactness design** — the reason this loop can be hash-checked
instead of invariant-checked: every arithmetic step is integer.
Ranks live in fixed-point units of 1e12; the damping multiply and
the per-out-edge split are floor divisions ((85 * r // 100) // deg),
and the teleport term is the same floor expression in both engines.
There is no float anywhere, so 8 iterations produce bit-identical
bigints in Spark and DuckDB, and the oracle simply UNROLLS the
iteration as 8 generated CTE pairs.  (Floor losses mean total mass
slightly undershoots 1e12 — deterministically, identically in both
engines; dangling/isolated vertices keep the bare teleport rank, the
standard simplification, applied identically.)

Scale (100 TB): the edge list is the banded SimHash candidate graph
— bounded by real near-duplication, never all-pairs (dedup_plans'
cap machinery).  Each iteration is one edges-joins-ranks shuffle
plus a dst-keyed aggregate — the Pregel shape — so cost is
O(iterations x |E|) with |E| sparse by construction.  Edges and
degrees are computed once and persisted; each iteration's rank table
is localCheckpoint'ed so the 8-deep lineage never re-derives the
pair graph (at cluster scale: checkpoint to storage instead).  The
final join back to degrees is vertex-sized.

Reference parity: the reference engine has no graph operators; this
extends the dedup family (dedup_clusters_star picks components, this
ranks WITHIN and ACROSS them).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import scope
from ..operators.dedup import duck_simhash_pieces
from ..sources.catalog import load_table
from .catalog import register

PR_ITERS = 8            # power iterations (unrolled in the oracle)
PR_BUCKET_CAP = 64      # LSH hot-bucket drop: band buckets larger than
                        # this are template-farm artifacts, not edges —
                        # the same df-cap stance as jaccard_pairs_capped
                        # (at the synthetic sf0.1 the uncapped band
                        # graph is a 913k-edge near-clique; the cap
                        # keeps candidate pairs ~90k with identical
                        # semantics on real sparse corpora)
PR_UNIT = 10**12        # fixed-point rank unit
PR_DAMP_NUM = 85        # damping 0.85 as an integer ratio
PR_DAMP_DEN = 100
_HAMMING_MAX = 6        # same near-dup threshold as dedup_simhash_pairs


def _pagerank_oracle() -> str:
    """Generate the unrolled-iteration DuckDB twin: the SimHash pair
    CTEs (dedup_simhash_pairs' shape + the hot-bucket HAVING),
    symmetric edges + degrees,
    then PR_ITERS mechanical (contribution, rank) CTE pairs in the
    same all-integer arithmetic as the Spark loop."""
    sums, fp = duck_simhash_pieces()
    parts = [f"""WITH toks AS (
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
kept AS (
  SELECT band, band_val FROM bands
  GROUP BY band, band_val HAVING count(*) <= {PR_BUCKET_CAP}
),
cold AS (
  SELECT bd.* FROM bands bd JOIN kept k
    ON k.band = bd.band AND k.band_val = bd.band_val
),
pairs AS (
  SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
  FROM cold a
  JOIN cold b ON a.band = b.band AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= {_HAMMING_MAX}
),
edges AS (
  SELECT left_id AS src, right_id AS dst FROM pairs
  UNION ALL
  SELECT right_id AS src, left_id AS dst FROM pairs
),
deg AS (
  SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src
),
verts AS (SELECT doc_id FROM documents),
params AS (
  SELECT ({PR_DAMP_DEN - PR_DAMP_NUM} * {PR_UNIT} // {PR_DAMP_DEN})
           // CAST(count(*) AS BIGINT) AS tp,
         {PR_UNIT} // CAST(count(*) AS BIGINT) AS seed
  FROM documents
),
r0 AS (
  SELECT doc_id, (SELECT seed FROM params) AS rank_fp FROM verts
)"""]
    for i in range(PR_ITERS):
        parts.append(f""", c{i} AS (
  SELECT e.dst,
         CAST(sum(({PR_DAMP_NUM} * r.rank_fp // {PR_DAMP_DEN}) // d.deg)
              AS BIGINT) AS inflow
  FROM edges e
  JOIN r{i} r ON r.doc_id = e.src
  JOIN deg d ON d.src = e.src
  GROUP BY e.dst
), r{i + 1} AS (
  SELECT v.doc_id,
         CAST((SELECT tp FROM params) + COALESCE(c.inflow, 0) AS BIGINT)
           AS rank_fp
  FROM verts v LEFT JOIN c{i} c ON c.dst = v.doc_id
)""")
    parts.append(f"""
SELECT r.doc_id, COALESCE(d.deg, 0) AS deg, r.rank_fp
FROM r{PR_ITERS} r LEFT JOIN deg d ON d.src = r.doc_id
ORDER BY r.doc_id""")
    return "".join(parts)


@register("pagerank_neardup_graph", oracle=_pagerank_oracle())
def pagerank_neardup_graph(spark: SparkSession, sf_dir: str,
                           iters: int | None = None) -> DataFrame:
    """Fixed-point PageRank over the SimHash near-dup graph: per-doc
    (degree, rank) after PR_ITERS exact integer power iterations.

    Each iteration joins the persisted (src, dst, deg) edge table to
    the current rank vector on src, floor-splits the damped rank
    across out-edges, aggregates inflow by dst, and adds the teleport
    floor — the Pregel message-pass as two narrow DataFrame ops.  The
    per-iteration localCheckpoint truncates lineage so iteration k
    never re-derives the pair graph (under ``scope.inspect()`` pass
    iters=1 to see ONE iteration's shape — the fully lazy 8-deep
    plan textually unrolls the lineage that caching+checkpointing
    truncate in real execution and is not the executed shape).
    """
    from .text_plans2 import dedup_simhash_pairs

    pairs = dedup_simhash_pairs(
        spark, sf_dir, bucket_cap=PR_BUCKET_CAP
    ).select("left_id", "right_id")
    return _pagerank_over_pairs(spark, sf_dir, pairs, iters=iters)


def _pagerank_over_pairs(spark: SparkSession, sf_dir: str,
                         pairs: DataFrame,
                         iters: int | None = None) -> DataFrame:
    """The PageRank power loop over an explicit undirected pair list
    — shared by the in-query derivation (pagerank_neardup_graph) and
    the persisted-edge-table form (pagerank_persisted_edges)."""
    verts = load_table(spark, sf_dir, "documents").select("doc_id")
    edges = pairs.select(
        F.col("left_id").alias("src"), F.col("right_id").alias("dst")
    ).unionByName(pairs.select(
        F.col("right_id").alias("src"), F.col("left_id").alias("dst")
    ))
    # vertex-sized; reused every iteration + the output join
    deg = scope.cache(edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    ))
    edges_deg = scope.cache(edges.join(deg, "src"))
    tp_num = (PR_DAMP_DEN - PR_DAMP_NUM) * PR_UNIT // PR_DAMP_DEN
    params = verts.agg(
        F.expr(f"{tp_num} div count(*)").alias("tp"),
        F.expr(f"{PR_UNIT} div count(*)").alias("seed"),
    )
    # The power loop runs over the ACTIVE vertex set only (round 9,
    # guide §1.2 — don't compute what you throw away): edges are
    # symmetric, so in-degree > 0 <=> out-degree > 0, and a vertex
    # with no edges holds the bare teleport rank from iteration 1
    # onward.  The old loop left-joined the CORPUS-sized verts
    # table every iteration to re-emit those constant rows; at
    # 100 TB the active set is the near-dup neighborhood — orders
    # of magnitude smaller than the corpus — and isolated vertices
    # now rejoin exactly once, after the loop, with the identical
    # teleport value.
    active = deg.select(F.col("src").alias("doc_id"))
    # materialize the tiny active-vertex list once so each
    # iteration's left join reads a bounded RDD instead of
    # re-projecting through the cached deg lineage (A/B'd:
    # without it the loop paid ~0.5 s/run more on local[32])
    active = scope.checkpoint(active)
    ranks = (
        active.crossJoin(F.broadcast(params))
        .select("doc_id", F.col("seed").cast("bigint").alias("rank_fp"))
    )
    n_iters = PR_ITERS if iters is None else iters
    for i in range(n_iters):
        inflow = (
            ranks.join(edges_deg, ranks.doc_id == edges_deg.src)
            .select(
                F.col("dst").alias("doc_id"),
                F.expr(
                    f"(({PR_DAMP_NUM} * rank_fp) div {PR_DAMP_DEN})"
                    " div deg"
                ).alias("c"),
            )
            .groupBy("doc_id")
            .agg(F.sum("c").cast("bigint").alias("inflow"))
        )
        ranks = (
            active.join(inflow, "doc_id", "left")
            .crossJoin(F.broadcast(params))
            .select(
                "doc_id",
                (F.col("tp") + F.coalesce(F.col("inflow"), F.lit(0)))
                .cast("bigint").alias("rank_fp"),
            )
        )
        # Materialize every SECOND iteration (and the last): the
        # two-iteration lazy plan is still bounded, and halving
        # the eager barriers halves the rank-table
        # materializations the loop pays (guide §5 — a
        # localCheckpoint per iteration was pure overhead).
        if i % 2 == 1 or i == n_iters - 1:
            ranks = scope.checkpoint(ranks)
    # isolated vertices re-enter with the bare teleport rank —
    # identical to the value the old per-iteration left join gave
    # them (seed if the loop never ran)
    out = (
        verts.join(ranks, "doc_id", "left")
        .join(deg.withColumnRenamed("src", "doc_id"), "doc_id",
              "left")
        .crossJoin(F.broadcast(params))
        .select(
            "doc_id",
            F.coalesce(F.col("deg"), F.lit(0)).cast("bigint")
            .alias("deg"),
            F.coalesce(
                F.col("rank_fp"),
                (F.col("tp") if n_iters > 0 else F.col("seed"))
                .cast("bigint"),
            ).alias("rank_fp"),
        )
        .orderBy("doc_id")
    )
    return scope.checkpoint(out)


# ---------------------------------------------------------------------------
# Triangle counting + local clustering coefficient (degree-oriented join)
# ---------------------------------------------------------------------------

def _triangle_oracle() -> str:
    """DuckDB twin: the shared MinHash-LSH + exact-Jaccard pair CTEs
    (single-sourced from dedup_plans so a banding change reaches this
    oracle too), then the SAME degree-ordered orientation and
    wedge-close join as the Spark plan (row-value comparisons keep the
    total order identical)."""
    from .dedup_plans import _duck_sig_bands_cte, _JACCARD_TAIL, _SHINGLE_CTE

    return f"""WITH {_SHINGLE_CTE},
{_duck_sig_bands_cte()},
cand AS (
  SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
),
{_JACCARD_TAIL},
pairs AS (
  SELECT c.left_id, c.right_id
  FROM cand c JOIN jac j ON j.left_id = c.left_id AND j.right_id = c.right_id
  WHERE j.jaccard >= 0.5
),
deg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS deg FROM (
    SELECT left_id AS doc_id FROM pairs
    UNION ALL
    SELECT right_id AS doc_id FROM pairs
  ) GROUP BY doc_id
),
oriented AS (
  SELECT CASE WHEN (dl.deg, p.left_id) < (dr.deg, p.right_id)
              THEN p.left_id ELSE p.right_id END AS src,
         CASE WHEN (dl.deg, p.left_id) < (dr.deg, p.right_id)
              THEN p.right_id ELSE p.left_id END AS dst
  FROM pairs p
  JOIN deg dl ON dl.doc_id = p.left_id
  JOIN deg dr ON dr.doc_id = p.right_id
),
tri AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM oriented e1
  JOIN oriented e2 ON e2.src = e1.dst
  JOIN oriented e3 ON e3.src = e1.src AND e3.dst = e2.dst
),
tri_nodes AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS tri_cnt FROM (
    SELECT a AS doc_id FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY doc_id
)
SELECT d.doc_id,
       d.deg,
       COALESCE(t.tri_cnt, 0) AS tri_cnt,
       CASE WHEN d.deg >= 2
            THEN CAST(2 * COALESCE(t.tri_cnt, 0) AS DOUBLE)
               / CAST(d.deg * (d.deg - 1) AS DOUBLE)
            ELSE 0.0 END AS clust_coeff
FROM deg d LEFT JOIN tri_nodes t USING (doc_id)
ORDER BY d.doc_id"""


@register("triangle_clustering_coeff", oracle=_triangle_oracle())
def triangle_clustering_coeff(spark: SparkSession, sf_dir: str,
                              pairs: DataFrame | None = None) -> DataFrame:
    """Exact triangle count + local clustering coefficient per node of
    the SimHash near-dup graph — the densest-neighborhood signal
    (clust_coeff ~1 at high degree = a template farm whose variants
    all near-duplicate EACH OTHER, vs a hub of unrelated neighbors).

    The MPC-standard oriented wedge-close algorithm (Suri &
    Vassilvitskii, WWW 2011): orient every undirected edge from the
    (degree, id)-smaller endpoint to the larger, join oriented edges
    dst-to-src to enumerate wedges, and close each wedge with one more
    join — each triangle is produced exactly once, and the wedge
    fan-out per vertex is bounded by its OUT-degree under the
    orientation, O(sqrt(|E|)) for any graph (arboricity bound), so no
    high-degree hub can explode the join the way naive id-ordering
    lets it.  All counts are integers; the coefficient is one exact
    int/int IEEE division — bit-identical cross-engine.

    Scale: two self-joins of the oriented edge list, both key-hashed
    shuffles; the orientation needs the degree table (one groupBy of
    the symmetric edges, vertex-sized, reused for the output join).

    The edge set is the VERIFIED near-dup graph (MinHash-LSH
    candidates that passed the exact-Jaccard >= 0.5 check), not the
    raw candidate graph: triangle density only means something when an
    edge means real near-duplication, and the verified graph is sparse
    by construction (at sf0.1 the SimHash candidate set is ~913k edges
    over 5k docs — a 32-bit-fingerprint artifact of the synthetic
    corpus — while the verified graph is ~256 edges; wedge work is
    quadratic in degree, so the candidate graph would cost ~3e8 wedges
    for zero extra signal).  pagerank stays on the broader candidate
    graph deliberately — its per-iteration cost is LINEAR in |E|.
    """
    if pairs is None:
        # Default: derive the verified edge set in-query (the honest
        # standalone cost; at 1M docs the MinHash pipeline is ~all of
        # the wall).  Production passes the persisted dedup byproduct
        # here — (left_id, right_id) rows — and pays only the graph
        # stages, the ivfpq_rerank warm-index argument.
        from .dedup_plans import dedup_minhash_lsh

        pairs = dedup_minhash_lsh(spark, sf_dir)
    # The verified pair list is edge-sized (true near-dups only) but
    # its LINEAGE is the whole MinHash pipeline — checkpoint it first
    # so degree build + orientation read the materialized edges
    # instead of re-running signatures/banding/verification.
    pairs = scope.checkpoint(pairs.select("left_id", "right_id"))
    # vertex-sized; used by orientation + output
    deg = scope.cache(
        pairs.select(F.col("left_id").alias("doc_id"))
        .unionByName(pairs.select(F.col("right_id").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
    dl = deg.select(F.col("doc_id").alias("left_id"),
                    F.col("deg").alias("dl"))
    dr = deg.select(F.col("doc_id").alias("right_id"),
                    F.col("deg").alias("dr"))
    lo_first = (
        F.struct(F.col("dl"), F.col("left_id"))
        < F.struct(F.col("dr"), F.col("right_id"))
    )
    # edge-sized; joined 3x below
    oriented = scope.cache(
        pairs.join(dl, "left_id").join(dr, "right_id")
        .select(
            F.when(lo_first, F.col("left_id"))
            .otherwise(F.col("right_id")).alias("src"),
            F.when(lo_first, F.col("right_id"))
            .otherwise(F.col("left_id")).alias("dst"),
        )
    )
    e1 = oriented.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = oriented.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = oriented.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = scope.cache(e1.join(e2, "b").join(e3, ["a", "c"]))
    tri_nodes = (
        tri.select(F.col("a").alias("doc_id"))
        .unionByName(tri.select(F.col("b").alias("doc_id")))
        .unionByName(tri.select(F.col("c").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tri_cnt"))
    )
    tri_cnt = F.coalesce(F.col("tri_cnt"), F.lit(0)).cast("bigint")
    out = (
        deg.join(tri_nodes, "doc_id", "left")
        .select(
            "doc_id",
            "deg",
            tri_cnt.alias("tri_cnt"),
            F.when(
                F.col("deg") >= 2,
                (F.lit(2) * tri_cnt).cast("double")
                / (F.col("deg") * (F.col("deg") - 1)).cast("double"),
            ).otherwise(F.lit(0.0)).alias("clust_coeff"),
        )
        .orderBy("doc_id")
    )
    return scope.checkpoint(out)


# ---------------------------------------------------------------------------
# Persisted-edge-table forms: the production amortization path
# ---------------------------------------------------------------------------

def _write_edge_table(spark: SparkSession, pairs: DataFrame,
                      path: str) -> DataFrame:
    """Materialize an undirected pair list as a parquet edge table and
    reload it — the amortization seam both persisted graph queries
    share.  The write repartitions by left_id so a cluster-scale edge
    table lands key-clustered (min/max footer stats make later
    per-vertex reads prunable); the reload is a plain columnar scan
    whose lineage is the FILES, not the dedup pipeline that produced
    them — the property the persisted forms exist to measure.
    """
    (pairs.select("left_id", "right_id")
     .repartition(8, "left_id")
     .write.mode("overwrite").parquet(path))
    return spark.read.parquet(path)


@register("pagerank_persisted_edges", oracle=_pagerank_oracle())
def pagerank_persisted_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank served from a PERSISTED edge table (round 7, the r6
    verdict's item 5): the capped SimHash candidate pairs are written
    to parquet ONCE, then the identical integer power loop runs over
    the reloaded files — the ivfpq_index_persisted convention, with
    the same oracle as pagerank_neardup_graph certifying that the
    save/load round trip changes no rank.

    This is the production shape: the near-dup pair graph is a dedup
    byproduct that pipelines already materialize (the dedup sweep
    writes it; centrality, triangles, and cluster canonicalization
    all consume it), so per-run cost is iterations x |E| joins over a
    columnar scan — the fingerprint/banding derivation is paid once
    per corpus snapshot, not once per graph query (r6 measured the
    equivalent triangle split at 1M docs: 3.9 s amortized vs 226 s
    rederived — docs/BENCH_COMPARE.md).
    """
    from .ingest_plans import _io_dir
    from .text_plans2 import dedup_simhash_pairs

    pairs = dedup_simhash_pairs(
        spark, sf_dir, bucket_cap=PR_BUCKET_CAP
    ).select("left_id", "right_id")
    stored = _write_edge_table(
        spark, pairs, _io_dir(sf_dir, "neardup_edges_simhash"))
    return _pagerank_over_pairs(spark, sf_dir, stored)


@register("triangle_persisted_pairs", oracle=_triangle_oracle())
def triangle_persisted_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + clustering coefficient over a PERSISTED
    verified-edge table (round 7): the MinHash-LSH + exact-Jaccard
    pair list is written to parquet once, and the degree-oriented
    wedge-close stages run over the reloaded files via
    triangle_clustering_coeff's ``pairs=`` seam — same oracle as the
    in-query form, so the hash certifies the round trip changes no
    count or coefficient.

    The split this registers is the one r6 measured at 1M docs:
    3.9 s for the graph stages against persisted pairs vs 226 s with
    the MinHash pipeline rederived in-query (docs/BENCH_COMPARE.md:
    470-480) — the wedge-close joins are bounded by the arboricity
    orientation either way; only the edge-set derivation amortizes.
    """
    from .dedup_plans import dedup_minhash_lsh
    from .ingest_plans import _io_dir

    pairs = dedup_minhash_lsh(spark, sf_dir).select("left_id", "right_id")
    stored = _write_edge_table(
        spark, pairs, _io_dir(sf_dir, "neardup_edges_verified"))
    return triangle_clustering_coeff(spark, sf_dir, pairs=stored)
