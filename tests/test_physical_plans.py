"""Physical-plan assertions: the 100 TB readiness gate.

Correctness tests prove the answers; these prove the *plans* — filters
reach the parquet scan, small dimensions broadcast, top-k compiles to
TakeOrderedAndProject, aggregation is partial before the exchange, and
hot paths stay inside whole-stage codegen.  A regression here means a
query silently degraded to a shape that won't survive scale-up.
"""

from __future__ import annotations

import pytest

from etl_pipe_spark.operators import scope
from etl_pipe_spark.plans.catalog import queries


def _plan(spark, sf_dir, name: str) -> str:
    df = queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the scan must not read unused columns like l_partkey
    assert "l_partkey" not in plan


def test_incremental_scan_pushes_or_predicate(spark, sf_dir):
    # the watermark arm must compare the raw ts_ns column (pushable),
    # not the derived timestamp expression (not pushable)
    plan = _plan(spark, sf_dir, "incremental_scan")
    assert "PushedFilters: [Or(GreaterThanOrEqual(ts," in plan


def test_dimension_joins_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "denorm_join")
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_double_role_dim_broadcasts_both_roles(spark, sf_dir):
    plan = _plan(spark, sf_dir, "double_role_dim_join")
    # supp + nation x2 hinted; customer is unhinted (fact-scale at
    # production SF) but auto-broadcasts at test SF via size stats
    assert plan.count("BroadcastHashJoin") >= 4


def test_topk_is_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "topk_orders")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan  # no full shuffle for a bounded top-k


def test_aggregation_is_partial_before_exchange(spark, sf_dir):
    plan = _plan(spark, sf_dir, "pricing_summary")
    # partial_sum markers appear in the map-side HashAggregate
    assert "partial_sum" in plan


def test_hot_paths_are_codegen(spark, sf_dir):
    # "*(n)" prefixes mark WholeStageCodegen spans in the tree string.
    # AQE-wrapped plans don't render them pre-execution (and a write
    # runs a *fresh* execution), so pin the shuffle-free hot paths;
    # pricing_summary's shape is pinned via partial_sum above.
    for name in ["wide_projection", "timeline_union", "incremental_scan"]:
        plan = _plan(spark, sf_dir, name)
        assert "*(1)" in plan, f"{name} fell out of whole-stage codegen"


@pytest.mark.parametrize("name", ["similarity_topk_cosine", "similarity_ann_ivf"])
def test_vector_queries_broadcast_query_side(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_range_join_is_not_nested_loop(spark, sf_dir):
    # the bucket decomposition must keep the range join an equi-join
    plan = _plan(spark, sf_dir, "range_join_bucketed")
    assert "NestedLoop" not in plan


def test_shingle_pipeline_has_no_serial_reevaluation(spark, sf_dir):
    # The dedup family's base stage: the only filter below the spread
    # exchange must be the cheap token-count guard — if the full
    # shingle expression (transform/array_distinct) appears in a
    # Filter, Catalyst re-evaluates it serially at the scan's
    # partitioning (the 2-4x round-3 regression shape).
    plan = _plan(spark, sf_dir, "dedup_ngram_jaccard")
    for line in plan.splitlines():
        if "Filter" in line:
            assert "transform(" not in line, f"shingle expr in a Filter: {line[:160]}"
    # Generate prints outer as the boolean before the output column:
    # every shingle explode must be outer (skips InferFiltersFromGenerate)
    assert ", false, [shingle" not in plan
    assert ", true, [shingle" in plan


def test_q7_broadcasts_both_dimension_lineages(spark, sf_dir):
    # supplier-nation and customer-nation lineages are pre-filtered and
    # broadcast; the only shuffle join left is lineitem |><| orders.
    plan = _plan(spark, sf_dir, "tpch_q7_volume_shipping")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_q21_has_no_fact_self_join(spark, sf_dir):
    # The aggregation re-expression: lineitem appears ONCE (one scan of
    # its parquet file), never joined to itself.
    plan = _plan(spark, sf_dir, "tpch_q21_waiting_supplier")
    assert plan.count("lineitem.parquet") == 1
    assert "SortMergeJoin" not in plan


def test_salted_join_stays_shuffled_hash(spark, sf_dir):
    # Broadcasting the replicated dim would silently defeat the demo:
    # the point is a shuffle join whose keys carry the salt.
    plan = _plan(spark, sf_dir, "skew_salted_join")
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_stats_moments_is_one_pass(spark, sf_dir):
    # Five power sums in a single partial-aggregate pass: one scan, one
    # exchange, no Expand (the distinct-aggregate pathology).
    plan = _plan(spark, sf_dir, "stats_moments")
    assert plan.count("lineitem.parquet") == 1
    assert "Expand" not in plan
    assert "partial_sum" in plan


@pytest.mark.parametrize(
    "name",
    ["contamination_check", "quality_repetition_filter", "dedup_simhash"],
)
def test_text_pipelines_spread_before_expansion(spark, sf_dir, name):
    # Compute-heavy text pipelines must round-robin the docs before the
    # 10-100x expansion stage; without the exchange the whole shingle/
    # token stage inherits the scan's single test-SF input split and
    # runs serial (measured 2-4x at sf0.1).
    plan = _plan(spark, sf_dir, name)
    assert "Exchange RoundRobinPartitioning" in plan, f"{name} lost its spread"


def test_spread_skipped_for_already_wide_input(spark, sf_dir):
    # At 100 TB the scan is already wide: spreading it again is a full
    # extra shuffle of the corpus that buys nothing.  The operator must
    # return the input unchanged when its planned partition count is
    # already >= half the shuffle width, and insert the exchange for a
    # single-split input.
    from etl_pipe_spark.operators.layout import spread_for_compute
    from etl_pipe_spark.sources.catalog import load_table

    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    wide = spark.range(0, 10_000, numPartitions=width)
    assert spread_for_compute(spark, wide) is wide

    narrow = load_table(spark, sf_dir, "documents")  # one test-SF split
    assert narrow.rdd.getNumPartitions() < width // 2
    spread = spread_for_compute(spark, narrow)
    assert spread is not narrow
    assert spread.rdd.getNumPartitions() == width


def test_cosine_pair_stages_fold_only_cross_dot(spark, sf_dir):
    # Norms must be precomputed per vector: a post-join projection that
    # folds aggregate(zip_with(v, v)) (self-dot) on the pair stream
    # means the 3-folds-per-pair shape regressed.  The join output
    # should reference the precomputed v_norm columns instead.
    plan = _plan(spark, sf_dir, "embedding_neardup_pairs")
    assert "v_norm" in plan


def test_events_normalizer_handles_micros_layout(spark, sf_dir, tmp_path):
    # The events file's physical timestamp layout varies by environment
    # (TIMESTAMP(NANOS)-as-int64 vs plain NTZ micros).  Synthesize the
    # MICROS layout from the NANOS testdata and assert the normalizer
    # produces identical (ts, ts_ns) values AND that the watermark
    # predicate still reaches the parquet scan as a pushed filter.
    import datetime as dt
    import os

    from etl_pipe_spark.sources.catalog import (
        events_since, load_table)

    ev = load_table(spark, sf_dir, "events")
    micros_dir = str(tmp_path / "events_micros")
    ev.select("event_id", "ts", "user_id", "event_type", "value", "props") \
        .coalesce(1).write.parquet(micros_dir)
    import glob as g
    import shutil
    alt = str(tmp_path / "alt_sf")
    os.makedirs(alt)
    shutil.move(g.glob(os.path.join(micros_dir, "part-*.parquet"))[0],
                os.path.join(alt, "events.parquet"))

    ev2 = load_table(spark, alt, "events")
    cols = ["event_id", "ts", "ts_ns"]
    a = sorted(map(tuple, ev.select(cols).collect()))
    b = sorted(map(tuple, ev2.select(cols).collect()))
    assert a == b

    since = dt.datetime(2024, 1, 1)
    filtered = events_since(ev2, since)
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts," in plan
    assert filtered.count() == events_since(ev, since).count()


def test_zorder_layout_has_bucketed_windows_and_no_cartesian(spark, sf_dir):
    """Both layout rankings must go through the value-bucketed
    two-phase rank — a hash exchange on the derived __pid bucket, one
    per layout, NEVER a no-partition global sort/window of the data —
    the min/max side must broadcast, and nothing may degrade to a
    nested-loop/cartesian product."""
    plan = _plan(spark, sf_dir, "zorder_layout_skipping")
    assert plan.lower().count("hashpartitioning(__pid") >= 2
    assert "BroadcastNestedLoopJoin" in plan  # 1-row min/max aggregate side
    assert "CartesianProduct" not in plan


def test_length_buckets_rank_only_mode_drops_running_sum(spark, sf_dir):
    """Rank-only ranked_running_sum: no per-row windowed prefix sum
    survives in the plan (the review fix) — row_number only."""
    plan = _plan(spark, sf_dir, "length_bucket_batching")
    assert "row_number" in plan
    assert "__sum_in" not in plan and "__sum_off" not in plan


def test_incremental_neardup_has_no_cartesian(spark, sf_dir):
    """Candidates must come from the (band, band_key) equi-join —
    never a history x batch nested loop."""
    plan = _plan(spark, sf_dir, "incremental_neardup_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
        or "BroadcastHashJoin" in plan


def test_table_profile_is_single_scan_plus_expand(spark, sf_dir):
    """One wide aggregate restructured by explode — NOT one rescan per
    column (the review fix).  The Expand (multi-distinct) plus at most
    one auxiliary scan is the honest exact-ANALYZE shape."""
    plan = _plan(spark, sf_dir, "table_profile_stats")
    assert plan.count("Scan parquet") + plan.count("FileScan") <= 3
    assert "Expand" in plan
    assert "Generate explode" in plan or "explode" in plan


def test_snapshot_cdc_is_one_full_outer_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "snapshot_diff_cdc")
    assert "FullOuter" in plan
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") == 1


def test_ivfpq_rerank_shortlist_join_not_cartesian(spark, sf_dir):
    """The rerank stage joins the tiny ADC shortlist to raw vectors on
    equi-keys — never a nested loop over the corpus, and the final
    top-k must stay a partitioned window (no global sort of the
    corpus)."""
    # scope.inspect(): the registered (warm-path) form returns a
    # localCheckpoint scan whose plan hides the joins it already ran
    from etl_pipe_spark.plans.dedup_plans import ivfpq_rerank

    with scope.inspect():
        df = ivfpq_rerank(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # the single nested-loop is the deliberate broadcast k-row
    # centroid cross join inside _ivf_ranked (bounded build side);
    # every keyed join — shortlist->query vecs, shortlist->neighbor
    # vecs, codes->cells — must be a hash join
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert plan.count("BroadcastHashJoin") >= 3
    assert "Window" in plan


def test_orc_roundtrip_pushes_status_filter(spark, sf_dir):
    """The ORC read must receive the status equality as a pushed
    filter (same contract as the parquet scans); the modulo sampling
    term stays above the scan."""
    plan = _plan(spark, sf_dir, "orc_roundtrip_ingest")
    assert "FileScan orc" in plan  # the scan FORMAT, not just the path name
    assert "EqualTo(o_orderstatus,F)" in plan or \
        "o_orderstatus = F" in plan.replace("'", "")


def test_domain_cap_uses_window_group_limit(spark, sf_dir):
    """The per-domain cap must compile to WindowGroupLimit on BOTH
    sides of the rank exchange — the pre-filter that keeps a skewed
    mega-domain from sorting past the cap (the 100 TB contract the
    corpus6 sweep measured flat at three 83k-member domains)."""
    plan = _plan(spark, sf_dir, "domain_cap_sampling")
    assert plan.count("WindowGroupLimit") >= 2


def test_substring_dedup_index_join_and_partial_agg(spark, sf_dir):
    """The window-index groupBy partial-aggregates map-side (the
    df=0.3N hot window collapses before the exchange), and the
    dup-index join is hash-based, never a nested loop."""
    plan = _plan(spark, sf_dir, "substring_dedup_windows")
    assert "partial_count" in plan or "partial" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bpe_topk_is_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "bpe_pair_stats")
    assert "TakeOrderedAndProject" in plan


def test_sq8_dim_stats_join_broadcasts(spark, sf_dir):
    """The 64-row dimension-stats table must broadcast back onto the
    exploded stream — the corpus side never shuffles for the join."""
    plan = _plan(spark, sf_dir, "sq8_embedding_quantization")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_fuzzy_join_is_hash_blocked_not_allpairs(spark, sf_dir):
    """Blocking must compile to an equi-join (hash) with levenshtein
    evaluated AFTER the join — no cartesian/nested-loop all-pairs."""
    plan = _plan(spark, sf_dir, "fuzzy_join_blocked")
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "levenshtein" in plan


def test_rollup_merge_pushes_split_and_partial_aggregates(spark, sf_dir):
    """Both branches scan with the date split PUSHED to parquet, and
    each partial-aggregates before its exchange (the merge shuffle is
    rollup-sized, not history-sized)."""
    plan = _plan(spark, sf_dir, "incremental_rollup_merge")
    assert "LessThan(o_orderdate" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_bloom_probe_is_mapside_before_exchange(spark, sf_dir):
    """The Bloom membership test must evaluate INSIDE the fact scan
    stage (a Filter under the scan's codegen span, fed by a broadcast
    of the one-row word array) — pruned lineitem rows never reach an
    exchange, which is the operator's entire value at 100 TB."""
    plan = _plan(spark, sf_dir, "bloom_join_pruning")
    assert "CartesianProduct" not in plan
    # Plan text prints root-first, so "deeper = executes earlier".
    # The shape to pin, top to bottom: partial aggregate -> the
    # word-array broadcast (BNLJ) carrying the xxhash64 probe filter
    # -> the lineitem scan underneath it.  That IS "probe evaluates
    # map-side, before any exchange, inside the scan stage".
    i_partial = plan.index("partial_")
    i_bnlj = plan.index("BroadcastNestedLoopJoin")
    i_probe = plan.index("xxhash64")
    i_scan = plan.index("lineitem.parquet")
    assert i_partial < i_bnlj <= i_probe < i_scan


def test_temperature_quota_window_group_limits(spark, sf_dir):
    """The per-source rank must compile to WindowGroupLimit so a
    mega-source never sorts past its quota (the k_s cap is a runtime
    column, but Spark still group-limits the row_number itself when
    the filter is a literal bound; here we at least require the
    partitioned-window shape and broadcast quota join)."""
    plan = _plan(spark, sf_dir, "temperature_mixture_select")
    assert "Window" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pagerank_lineage_is_bounded(spark, sf_dir):
    """Two pins.  (1) The registered path's RESULT plan is a
    checkpoint scan — the 8-iteration lineage is truncated, so
    downstream consumers never re-derive the pair graph.  (2) A
    single iteration's lazy shape contains exactly one SimHash
    banding derivation feeding the edges-joins-ranks + dst aggregate
    Pregel step — the per-iteration cost is one |E|-shuffle, not a
    re-banding."""
    from etl_pipe_spark.plans.graph_plans import pagerank_neardup_graph

    real = _plan(spark, sf_dir, "pagerank_neardup_graph")
    assert "documents.parquet" not in real  # lineage truncated
    assert "xor" not in real

    with scope.inspect():
        one = pagerank_neardup_graph(spark, sf_dir, iters=1)
    plan = one._jdf.queryExecution().executedPlan().toString()
    # Both the degree table and the (edges ⋈ deg) table must be
    # cached scans — every banding derivation in the text sits UNDER
    # an InMemoryTableScan (the printer re-prints cached children per
    # reference; execution derives them once).
    assert plan.count("InMemoryTableScan") >= 2
    assert "HashAggregate" in plan       # the dst inflow aggregate


def test_exact_quantiles_has_no_global_window(spark, sf_dir):
    """The rank must come from the two-phase form: every Window in the
    plan is partitioned (the offset scan's partition key included) —
    no empty-partition-spec global window anywhere."""
    import re

    plan = _plan(spark, sf_dir, "exact_global_quantiles")
    assert not re.search(r"Window \[[^\]]*\], \[\],", plan)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_cooccurrence_pairs_are_mapside_no_self_join(spark, sf_dir):
    """Pair generation must be the nested-transform explode — no
    positional self-join (no extra corpus join before the pair
    groupBy), and the marginal joins attach to the top-K side via
    broadcast, never pair-space-sized."""
    from etl_pipe_spark.plans.corpus_plans3 import cooccurrence_pmi

    with scope.inspect():
        df = cooccurrence_pmi(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "transform(sequence(1" in plan  # the map-side generator


def test_priority_sample_is_take_ordered(spark, sf_dir):
    # the weighted k-sample must be a per-partition heap + k-row
    # reduce (TakeOrderedAndProject), never a global sort of the corpus
    plan = _plan(spark, sf_dir, "weighted_priority_sample")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_gapfill_spine_is_distributed_generate(spark, sf_dir):
    # the dense hourly grid must come from a distributed explode of
    # per-user sequence() arrays — no cross join against a calendar,
    # and partial aggregation must run before the bucket shuffle
    plan = _plan(spark, sf_dir, "timeseries_gapfill")
    assert "Generate explode" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "partial_count" in plan and "partial_min" in plan


def test_nfc_normalize_is_single_map_pass(spark, sf_dir):
    # the normalizer itself is shuffle-free: one Arrow-batched
    # MapInPandas over the scan; the only exchange is the final
    # presentation sort
    plan = _plan(spark, sf_dir, "unicode_nfc_normalize")
    assert "MapInPandas" in plan
    assert plan.count("Exchange") == 1


def test_hive_read_prunes_partitions(spark, sf_dir):
    # the day filter must resolve against the directory listing —
    # PartitionFilters on the scan, nothing left in PushedFilters/Filter
    plan = _plan(spark, sf_dir, "hive_partition_pruning")
    assert "PartitionFilters: [isnotnull(event_date" in plan
    assert "2024-01-15" in plan


def test_triangle_joins_are_hash_not_allpairs(spark, sf_dir):
    # wedge-build and wedge-close must be key-hashed joins of the
    # oriented edge list — any nested-loop shape means the orientation
    # stopped bounding the fan-out.  Built under scope.inspect(): the
    # registered query returns an eager localCheckpoint whose plan is
    # just the checkpoint scan.
    from etl_pipe_spark.plans.graph_plans import triangle_clustering_coeff

    with scope.inspect():
        df = triangle_clustering_coeff(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the wedge joins are real joins in the lazy plan
    assert plan.count("Join") >= 3


def test_funnel_stages_partial_aggregate_before_shuffle(spark, sf_dir):
    # each funnel stage must collapse to one row per user map-side
    # (partial min) before its exchange, and only user_id/ts/type may
    # survive the scan projection
    plan = _plan(spark, sf_dir, "event_funnel_conversion")
    assert plan.count("partial_min") >= 3  # one map-side min per stage
    assert "props" not in plan and "event_id" not in plan
