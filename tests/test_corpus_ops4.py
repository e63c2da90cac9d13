"""Behavioral tests for corpus_plans4 (oracle parity for the
registered forms is covered by test_oracle_parity; these pin the
algorithmic invariants on adversarial micro-corpora the synthetic
documents table never produces).

All tests drive the SHARED frame-level implementations
(paragraph_dedup_frame / curriculum_frame / novelty_frame) — the same
code the registered queries run — so a bug in the production window
key, slice arithmetic, or hash cannot hide behind a hand-copied twin.
"""

from __future__ import annotations

from etl_pipe_spark.plans import corpus_plans4 as CP4
from etl_pipe_spark.plans.catalog import REGISTRY, _load_all

_load_all()


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _run_para(spark, rows):
    out = CP4.paragraph_dedup_frame(_docs(spark, rows))
    return {r["doc_id"]: r for r in out.collect()}


def test_paragraph_dedup_full_duplicate_doc_empties(spark):
    seg_a = " ".join(["tok%d" % i for i in range(CP4._SEG)])
    seg_b = " ".join(["other%d" % i for i in range(CP4._SEG)])
    rows = [
        (1, seg_a + " " + seg_b),   # owns both segments
        (2, seg_a + " " + seg_b),   # exact duplicate -> fully emptied
        (3, seg_b + " " + seg_a),   # same segments, reversed order -> emptied
    ]
    got = _run_para(spark, rows)
    assert got[1]["n_kept"] == 2 and got[1]["kept_text"] == seg_a + " " + seg_b
    assert got[2]["n_kept"] == 0 and got[2]["kept_text"] == ""
    assert got[3]["n_kept"] == 0 and got[3]["kept_text"] == ""


def test_paragraph_dedup_keeps_original_order_and_partial_tail(spark):
    seg_a = " ".join(["a%d" % i for i in range(CP4._SEG)])
    tail = "short tail"  # partial final segment, < _SEG tokens
    rows = [
        (5, seg_a),                      # owns seg_a first (doc_id 5 < 9)
        (9, seg_a + " " + tail),         # loses seg_a, keeps its tail
    ]
    got = _run_para(spark, rows)
    assert got[9]["n_segs"] == 2
    assert got[9]["n_kept"] == 1
    assert got[9]["kept_text"] == tail
    assert got[5]["n_kept"] == 1


def test_paragraph_dedup_first_occurrence_within_one_doc(spark):
    seg = " ".join(["x%d" % i for i in range(CP4._SEG)])
    rows = [(7, seg + " " + seg)]  # the SAME segment twice in one doc
    got = _run_para(spark, rows)
    assert got[7]["n_segs"] == 2
    assert got[7]["n_kept"] == 1
    assert got[7]["kept_text"] == seg


def test_curriculum_matches_sequential_ntile_semantics(spark, sf_dir):
    """The closed-form bucket/rib arithmetic must equal the sequential
    definition: rank rows, cut into _NB contiguous rank ranges of
    near-equal size (ntile), number within each range."""
    out = REGISTRY["curriculum_quantile_interleave"].fn(spark, sf_dir)
    rows = sorted((r["bucket"], r["rank_in_bucket"], r["doc_id"], r["n_tokens"])
                  for r in out.collect())
    n = len(rows)
    # reconstruct sequentially
    order = sorted(rows, key=lambda r: (r[3], r[2]))
    expect = {}
    for i, r in enumerate(order):
        rnk = i + 1
        b = (rnk - 1) * CP4._NB // n
        start = -((-b * n) // CP4._NB)  # ceil(b*n/NB)
        expect[r[2]] = (b, rnk - start)
    for b, rib, doc, _ in rows:
        assert expect[doc] == (b, rib), f"doc {doc}"
    # bucket sizes differ by at most one and cover everything
    sizes = {}
    for b, *_ in rows:
        sizes[b] = sizes.get(b, 0) + 1
    assert sum(sizes.values()) == n
    assert max(sizes.values()) - min(sizes.values()) <= 1
    assert set(sizes) == set(range(CP4._NB))


def test_curriculum_schedule_interleaves_buckets(spark, sf_dir):
    """schedule_pos order must visit rank-in-bucket levels in order,
    and within a level the buckets easiest-first."""
    out = REGISTRY["curriculum_quantile_interleave"].fn(spark, sf_dir)
    seq = [(r["schedule_pos"], r["rank_in_bucket"], r["bucket"])
           for r in out.collect()]
    seq.sort()
    assert [s[0] for s in seq] == list(range(1, len(seq) + 1))
    assert [(s[1], s[2]) for s in seq] == sorted((s[1], s[2]) for s in seq)
    # the first _NB scheduled docs are one from EACH bucket
    head = {s[2] for s in seq[:CP4._NB]}
    assert head == set(range(CP4._NB))


def test_novelty_bounds_and_reference_blindness(spark, sf_dir):
    """novelty in [0,1]; n_novel <= n_grams; only odd doc_ids scored."""
    out = REGISTRY["ngram_novelty_score"].fn(spark, sf_dir)
    rows = out.collect()
    assert rows, "no scored docs"
    for r in rows:
        assert r["doc_id"] % 2 == 1
        assert 0 <= r["n_novel"] <= r["n_grams"]
        assert abs(r["novelty"] - r["n_novel"] / r["n_grams"]) < 1e-15


def test_novelty_exact_on_micro_corpus(spark):
    """Hand-checked novelty THROUGH the production frame fn (hash60
    key included): target shares exactly one trigram with the
    reference."""
    docs = _docs(spark, [
        (0, "a b c d"),        # reference: trigrams {a b c, b c d}
        (1, "a b c x y"),      # target: {a b c, b c x, c x y} -> 2/3 novel
    ])
    got = CP4.novelty_frame(docs).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["doc_id"], r["n_grams"], r["n_novel"]) == (1, 3, 2)
    assert abs(r["novelty"] - 2 / 3) < 1e-15


def test_rank_caches_are_tracked_and_releasable(spark, sf_dir):
    """curriculum's correctness caches must drain via the shared
    scope once the query is fully materialized (the harness
    contract — no session-lifetime cache residue)."""
    from etl_pipe_spark.operators import scope

    scope.release()
    out = REGISTRY["curriculum_quantile_interleave"].fn(spark, sf_dir)
    out.count()  # fully materialize
    assert len(scope._TRACKED) >= 4  # base, bucketed, 2x within
    released = scope.release()
    assert released >= 4
    assert not scope._TRACKED


def test_novelty_persisted_reference_equals_inquery(spark, sf_dir, tmp_path):
    """The persisted-reference probe (ngram_novelty_persisted) must
    reproduce the in-query form row for row: the parquet round trip of
    the hash60 key set is result-neutral — locally pinning what the
    shared registered oracle certifies cross-engine."""
    from etl_pipe_spark.plans.corpus_plans4 import (
        novelty_frame, reference_gram_table)
    from etl_pipe_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ref = reference_gram_table(spark, docs, str(tmp_path / "ref_grams"))
    in_query = sorted(tuple(r) for r in novelty_frame(docs).collect())
    persisted = sorted(tuple(r) for r in novelty_frame(docs, ref=ref).collect())
    assert persisted == in_query and in_query
