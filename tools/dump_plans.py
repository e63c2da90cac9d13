#!/usr/bin/env python
"""Regenerate docs/PLANS.md: the physical plan of every headline query.

Evidence artifact for scale review — shows pushdown (PushedFilters /
ReadSchema), join strategies (BroadcastHashJoin vs SortMergeJoin),
partial aggregation, TakeOrderedAndProject, and codegen spans per
query.  Run after any plan-affecting change:

    python tools/dump_plans.py
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "docs", "PLANS.md")


# Flagships registered after round 1 that the r1 HEADLINE list misses;
# kmeans_fit_clusters / ann_kmeans_recall_lift are omitted because their
# returned frame is a driver-computed invariant row (LocalTableScan —
# the interesting plans are the fit's linear passes, shown via
# ann_ivf_scaled / kmeans_update_step).
EXTRA_PLANS = [
    "semantic_dedup",
    "kmeans_update_step",
    "ann_ivf_scaled",
    "semantic_dedup_scaled",
    "sequence_packing",
    "contamination_check",
    "quality_repetition_filter",
    "dedup_clusters",
    "corpus_curation_pipeline",
    # r5 additions: the TPC-H completion trio + the two new
    # corpus-construction ops (budget selection shows the two-phase
    # rank/prefix-sum shape from operators/ordering.py)
    "tpch_q8_market_share",
    "tpch_q9_product_profit",
    "tpch_q20_dominant_supplier",
    "tpch_q6_forecast_revenue",
    "boilerplate_span_removal",
    "token_budget_selection",
    "train_test_split_hash",
    # late-r5 corpus-serving/model-prep quartet (the Gram plan shows
    # the mapInArrow partial + single groupBy reduce; the shuffle plan
    # shows the range-partition rank shape)
    "corpus_shuffle_shards",
    "vocab_top_coverage",
    "unigram_logprob_quality",
    "embedding_gram_matrix",
    # late-r5 layout/serving pair + the incremental LSH probe
    # (pca_top_component is omitted like kmeans_fit_clusters: the
    # returned frame is a driver-computed invariant row; its linear
    # passes are the embedding_gram_matrix plan plus one mapInArrow
    # projection of the same shape)
    "zorder_layout_skipping",
    "length_bucket_batching",
    "incremental_neardup_lsh",
    "bloom_incremental_filter",
    # late-r5 monitoring/CDC ops + the combined IVFADC search
    "table_profile_stats",
    "dq_audit_violations",
    "snapshot_diff_cdc",
    "ivfpq_ann_adc",
    # final-r5: the exact-rerank stage and the two ingestion round
    # trips (their plans show the explicit-schema JSON/CSV scans —
    # no inference pass, corrupt column carried, coercions codegen'd)
    "ivfpq_rerank",
    "jsonl_roundtrip_ingest",
    "csv_ingest_coerced",
    "orc_roundtrip_ingest",
    # r6: BM25 retrieval (the plan shows the broadcast query-term
    # filter AHEAD of the tf aggregation — matched postings only) and
    # the persisted-index search (PartitionFilters on cell_bucket)
    "bm25_retrieval",
    "ivfpq_index_persisted",
    # mid-r6 corpus quartet (the substring plan shows the single
    # window-index groupBy + AQE-downgradable join; the BPE plan shows
    # the vocabulary collapse BEFORE the pair explosion and the
    # TakeOrderedAndProject top-K; the SQ8 plan shows the broadcast
    # 64-row dim-stats join — the corpus never shuffles)
    "substring_dedup_windows",
    "domain_cap_sampling",
    "bpe_pair_stats",
    "sq8_embedding_quantization",
    # mid-r6 maintenance pair (the rollup plan shows partial aggs on
    # both branches BEFORE the union-merge exchange; the fuzzy plan
    # shows the block-key equi-join with levenshtein inside codegen)
    "incremental_rollup_merge",
    "fuzzy_join_blocked",
    # mid-r6 SQ8 search leg (the plan shows the mapInArrow candidate
    # scan feeding the bounded per-query merge window, and the
    # broadcast query join on the exact rerank stage)
    "sq8_ann_rerank",
    # mid-r6 LM scorer (the plan shows the count-model shuffle joins
    # and the eval stream zipped from each doc's own array — no
    # self-join, no window)
    "bigram_backoff_quality",
    # late-r6 selection trio (the DSIR plan shows the broadcast
    # 1024-bucket model join over the n-gram stream + the two-phase
    # rank; the CMS plan shows the 64-cell sketch broadcast back over
    # the vocabulary; the cluster-sample plan shows WindowGroupLimit
    # pre-capping each partition BEFORE the cell exchange)
    "dsir_importance_select",
    "cms_heavy_hitters",
    "cluster_balanced_sample",
    # late-r6 PageRank (dumped in its lazy form: the per-iteration
    # edges-joins-ranks + dst aggregate Pregel shape, with the
    # persisted edge table reused across iterations)
    "pagerank_neardup_graph",
    "temperature_mixture_select",
    "bloom_join_pruning",
    "exact_global_quantiles",
    "cooccurrence_pmi",
    # end-r6 session additions: gap-fill (distributed sequence spine +
    # per-key LOCF window), priority sample (TakeOrderedAndProject),
    # NFC (single MapInPandas pass), schema evolution (mergeSchema
    # union scan), hive pruning (PartitionFilters on the day read),
    # funnel (partial-min cascade), MMR (cogrouped Arrow greedy over
    # the checkpointed shortlist).
    "timeseries_gapfill",
    "weighted_priority_sample",
    "unicode_nfc_normalize",
    "schema_evolution_merge",
    "hive_partition_pruning",
    "event_funnel_conversion",
    "mmr_diversified_retrieval",
    "triangle_clustering_coeff",
    # r7 persisted forms: the plans must show the graph/search stages
    # reading a FileScan parquet of the edge/code tables — lineage is
    # the FILES, not the dedup pipeline that produced them (the
    # amortization these registrations exist to certify)
    "pagerank_persisted_edges",
    "triangle_persisted_pairs",
    "sq8_index_persisted",
    # r7 late additions: the LSH persisted probe (bands/shingles read
    # as FileScan parquet — the band join's history side is the files,
    # not a re-signature pipeline) and winnowing (one codegen'd
    # tokenize projection feeding a single MapInArrow — a pure map
    # pass, no exchange before the final sort)
    "lsh_index_persisted",
    "winnowing_fingerprints",
    # r8 corpus batch 4 + the binaryFile leg (paragraph dedup shows
    # the md5-keyed first-occurrence window; curriculum shows two
    # two-phase ranks separated by InMemoryRelations; novelty shows
    # the md5-key left join; binaryfile shows the whole-file scan)
    "paragraph_dedup_reassemble",
    "curriculum_quantile_interleave",
    "ngram_novelty_score",
    "binaryfile_ingest",
    "ivfsq8_ann_rerank",
]
# bpe_train_merges / bpe_encode_vocab are omitted like
# kmeans_fit_clusters: both run the 8-round merge loop (one 1-row
# argmax collect per round); the per-round plan is one vocab-sized
# explode+agg (TakeOrdered top-1).
# logreg_quality_fit is omitted like kmeans_fit_clusters: the returned
# frame is a driver-computed invariant row; its per-step plan is one
# codegen'd aggregate over the cached feature frame.


def main() -> None:
    from bench import HEADLINE
    from etl_pipe_spark.operators import scope
    from etl_pipe_spark.plans.catalog import queries
    from etl_pipe_spark.session import get_spark

    spark = get_spark("plan-dump", cpus=4)
    qs = queries()
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as f:
        f.write(
            "# Physical plans (auto-generated by tools/dump_plans.py)\n\n"
            f"Headline queries at `{SF_DIR}`; `explain(\"formatted\")` output.\n"
            "Things to check per plan: PushedFilters reaching the scan,\n"
            "ReadSchema pruned to referenced columns, BroadcastHashJoin on\n"
            "dimension sides, partial_* aggregation before Exchange,\n"
            "TakeOrderedAndProject for top-k, WholeStageCodegen coverage.\n"
        )
        # Built inside scope.inspect(): queries whose executed form
        # returns a localCheckpoint scan (warm-path precedent) stay
        # lazy, so the dump shows their operators instead of a bare
        # RDD scan.  The PageRank forms dump ONE iteration (iters=1):
        # the executed loop truncates lineage per iteration, and the
        # lazy 8-deep plan would textually unroll what execution never
        # re-derives.
        from etl_pipe_spark.plans.graph_plans import (
            PR_BUCKET_CAP, _pagerank_over_pairs, _write_edge_table,
            pagerank_neardup_graph)
        from etl_pipe_spark.plans.ingest_plans import _io_dir
        from etl_pipe_spark.plans.text_plans2 import dedup_simhash_pairs

        def _pagerank_persisted_lazy(s, d):
            pairs = dedup_simhash_pairs(
                s, d, bucket_cap=PR_BUCKET_CAP).select("left_id", "right_id")
            stored = _write_edge_table(
                s, pairs, _io_dir(d, "neardup_edges_simhash"))
            return _pagerank_over_pairs(s, d, stored, iters=1)

        one_iteration = {
            "pagerank_neardup_graph":
                lambda s, d: pagerank_neardup_graph(s, d, iters=1),
            "pagerank_persisted_edges": _pagerank_persisted_lazy,
        }
        for name in HEADLINE + [n for n in EXTRA_PLANS if n not in HEADLINE]:
            with scope.inspect():
                df = one_iteration.get(name, qs[name])(spark, SF_DIR)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            f.write(f"\n## {name}\n\n```\n{buf.getvalue().strip()}\n```\n")
            scope.release()
    spark.stop()
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
