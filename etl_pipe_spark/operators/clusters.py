"""Connected components over near-dup pair graphs (dedup clustering).

Pair emitters (Jaccard / MinHash-LSH / SimHash) answer "which docs are
near-dups of each other"; an actual dedup pass needs the transitive
closure — every doc labeled with its cluster, one canonical survivor
per cluster.  Reference scope: the dedup family of SURVEY.md §2.12
(the reference deduplicates by key only; clustering is the near-dup
generalization its users need at corpus scale).

Spark-first shape: iterative min-label propagation on DataFrames.
Each round is ONE shuffle (groupBy over the symmetrized edge list);
a cluster's label converges in rounds ~ its graph diameter, and
near-dup clusters are shallow (a dup of a dup of a dup is rare), so
3-6 rounds close real corpora.  Convergence is checked with a 1-row
aggregate per round — the only driver-side data is that scalar, never
the label table.  For adversarial long-chain graphs,
:func:`connected_components_two_phase` implements the alternating
large-star/small-star scheme (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC 2014): O(log N) rounds regardless of
diameter, at ~2x the per-round shuffle cost — propagation stays the
default because shallow dedup diameters make it strictly cheaper.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window as W, functions as F

from . import scope


def connected_components(
    edges: DataFrame,
    left: str = "left_id",
    right: str = "right_id",
    max_rounds: int = 20,
) -> DataFrame:
    """Label every vertex of the pair graph with min(id) of its component.

    Returns (vertex_id, cluster_id).  Only vertices appearing in
    ``edges`` are labeled (singletons are their own implicit cluster —
    callers union them back if needed).

    Each round: label(v) := min(label(v), min over neighbors' labels)
    — one symmetric edge join + one groupBy.  Early-stops when a round
    changes nothing (checked via a count aggregate, a driver scalar).
    """
    # Symmetrize once; cache the (small relative to corpus) edge list —
    # it is re-joined every round.
    with scope.cached(
        edges.select(F.col(left).alias("src"), F.col(right).alias("dst"))
        .unionByName(
            edges.select(F.col(right).alias("src"), F.col(left).alias("dst"))
        )
        .distinct()
    ) as sym:
        labels = (
            sym.select(F.col("src").alias("vertex_id"))
            .distinct()
            .withColumn("cluster_id", F.col("vertex_id"))
        )
        for round_no in range(max_rounds):
            neighbor_min = (
                sym.join(labels, sym.dst == labels.vertex_id)
                .groupBy(F.col("src").alias("vertex_id"))
                .agg(F.min("cluster_id").alias("nbr_min"))
            )
            # localCheckpoint (eager) truncates the lineage each round —
            # without it the label plan nests one more join per round and
            # Catalyst re-analysis cost grows superlinearly with rounds.
            # The convergence count rides the checkpoint's own job via
            # observe(): one Spark job per round, no second aggregate pass.
            obs = Observation(f"cc_round_{round_no}")
            new_labels = (
                labels.join(neighbor_min, "vertex_id", "left")
                .select(
                    "vertex_id",
                    F.least(
                        F.col("cluster_id"), F.coalesce(F.col("nbr_min"), F.col("cluster_id"))
                    ).alias("cluster_id"),
                    (F.col("nbr_min") < F.col("cluster_id")).alias("__changed"),
                )
                .observe(obs, F.count_if(F.col("__changed")).alias("n"))
                .localCheckpoint(eager=True)
            )
            labels = new_labels.drop("__changed")
            if obs.get["n"] == 0:
                break
    return labels


def connected_components_two_phase(
    edges: DataFrame,
    left: str = "left_id",
    right: str = "right_id",
    max_rounds: int = 50,
) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC 2014)
    — the high-diameter alternative to :func:`connected_components`.

    Min-label propagation needs rounds ~ graph DIAMETER; fine for
    near-dup clusters (shallow), quadratic-feeling on adversarial
    chains (a 1,000-link path needs 1,000 shuffles).  The two-phase
    star scheme contracts every vertex toward its component minimum
    and converges in O(log n) rounds regardless of diameter:

    * large-star: each vertex links its LARGER neighbors to the
      minimum of its neighborhood (incl. itself);
    * small-star: each vertex links its smaller-or-equal neighbors
      (and itself) to that minimum.

    Each phase is one window-min over the neighbor list plus a
    distinct — ~4 shuffles per round vs propagation's 2, which is why
    propagation stays the default for shallow dedup graphs and this is
    the documented upgrade once diameters grow (the crossover is
    rounds_prop > 2 x rounds_star).  Fixed point = the edge set is a
    union of stars rooted at component minima; detected by edge-set
    equality.  Returns (vertex_id, cluster_id), the same contract as
    :func:`connected_components`, and the same caller-unions-singletons
    caveat.
    """
    obs0 = Observation("cc_star_init")
    e = (
        edges.select(F.col(left).alias("u"), F.col(right).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .observe(obs0, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    prev_n = obs0.get["n"]
    converged = False
    for round_no in range(max_rounds):
        # ---- large star: larger neighbors hook onto the local min ----
        sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        local_min = F.least(F.col("u"), F.min("v").over(W.partitionBy("u")))
        large = (
            sym.withColumn("m", local_min)
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # ---- small star: smaller neighbors (and self) hook on ----
        oriented = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        small = oriented.withColumn("m", F.min("v").over(W.partitionBy("u")))
        obs = Observation(f"cc_star_{round_no}")
        out = (
            small.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(small.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            # edge count rides the checkpoint's own materialization job
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)  # truncate per-round lineage
        )
        # Fixed-point test, cheapest-first: both sides are distinct sets,
        # so equal cardinality + empty one-sided difference == equality.
        # The count is free (observed above); the exceptAll scan runs only
        # on rounds whose counts already agree — near-converged rounds —
        # instead of 2x every round.
        n = obs.get["n"]
        converged = n == prev_n and out.exceptAll(e).limit(1).count() == 0
        prev_n = n
        e = out
        if converged:
            break
    if not converged:
        # labeling a non-fixed-point edge set would silently split
        # components across cluster ids — refuse instead (O(log n)
        # convergence means hitting this implies max_rounds was set
        # far below log2 of the vertex count)
        raise RuntimeError(
            f"connected_components_two_phase did not reach the star "
            f"fixed point within max_rounds={max_rounds}")
    # fixed point is stars (v -> component min): label leaves by their
    # root and roots by themselves
    return (
        e.select(F.col("u").alias("vertex_id"), F.col("v").alias("cluster_id"))
        .unionByName(
            e.select(F.col("v").alias("vertex_id"), F.col("v").alias("cluster_id")))
        .groupBy("vertex_id")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )


def duck_components_sql(edges_cte: str, left: str = "left_id",
                        right: str = "right_id") -> str:
    """DuckDB recursive-CTE twin: transitive closure -> min(id) label.

    ``edges_cte`` must be the NAME of a CTE in the enclosing WITH that
    yields (left_id, right_id) pairs.  UNION (not UNION ALL) dedups
    frontier states so the recursion terminates on cyclic graphs.
    Exact at oracle scale; the Spark side is the one that scales.
    """
    return f"""
sym AS (
  SELECT {left} AS src, {right} AS dst FROM {edges_cte}
  UNION
  SELECT {right} AS src, {left} AS dst FROM {edges_cte}
),
reach(vertex_id, peer) AS (
  SELECT src, src FROM sym
  UNION
  SELECT r.vertex_id, s.dst FROM reach r JOIN sym s ON s.src = r.peer
),
components AS (
  SELECT vertex_id, min(peer) AS cluster_id FROM reach GROUP BY vertex_id
)"""
