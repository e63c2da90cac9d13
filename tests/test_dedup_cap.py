"""Hot-shingle document-frequency cap on the production Jaccard path.

A single corpus-wide stop phrase makes every doc pair a candidate
(O(N^2) through the inverted index); the df cap must cut exactly those
pairs while leaving genuine near-dup pairs — and their exact Jaccard
values — untouched.  ``jaccard_pairs_capped`` is checked against a
pure-Python set oracle over the same shingle sets.
"""

from itertools import combinations

from etl_pipe_spark.operators import dedup as DD

# 8 docs all opening with the same 6-word boilerplate phrase (every
# shingle of it has df=8), each with a unique tail; docs 6 and 7 share
# a long genuine overlap beyond the boilerplate.
_BOILER = "all rights reserved by the corporation"
_DOCS = [
    (0, f"{_BOILER} alpha beta gamma"),
    (1, f"{_BOILER} delta epsilon zeta"),
    (2, f"{_BOILER} eta theta iota"),
    (3, f"{_BOILER} kappa lam mu"),
    (4, f"{_BOILER} nu xi omicron"),
    (5, f"{_BOILER} pi rho sigma"),
    (6, f"{_BOILER} shared tail text here tau"),
    (7, f"{_BOILER} shared tail text here phi"),
]


def _py_shingles() -> dict[int, set[str]]:
    out = {}
    for doc_id, text in _DOCS:
        toks = text.lower().split()
        out[doc_id] = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
    return out


def _py_df() -> dict[str, int]:
    df: dict[str, int] = {}
    for s in _py_shingles().values():
        for sh in s:
            df[sh] = df.get(sh, 0) + 1
    return df


def _py_capped_pairs(max_df: int) -> dict[tuple[int, int], float]:
    """Pairs sharing >= 1 shingle of df <= max_df, with Jaccard over
    the FULL shingle sets."""
    sets, df = _py_shingles(), _py_df()
    out = {}
    for a, b in combinations(sorted(sets), 2):
        if any(df[sh] <= max_df for sh in sets[a] & sets[b]):
            out[(a, b)] = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
    return out


def _capped(spark, max_df: int) -> dict[tuple[int, int], float]:
    sharr = DD.shingle_arrays(spark.createDataFrame(_DOCS, ["doc_id", "text"]), n=3)
    assert {r.doc_id: set(r.shingles) for r in sharr.collect()} == _py_shingles()
    pairs = DD.jaccard_pairs_capped(sharr, threshold=0.0, max_df=max_df)
    return {(r.left_id, r.right_id): r.jaccard for r in pairs.collect()}


def test_uncapped_index_is_quadratic_in_hot_bucket(spark):
    # A cap above every df keeps the boilerplate shingles, so every
    # pair is a candidate: C(8,2).
    got = _capped(spark, max_df=len(_DOCS))
    assert len(got) == 28
    assert got == _py_capped_pairs(len(_DOCS))


def test_cap_cuts_boilerplate_pairs_keeps_real_overlap(spark):
    got = _capped(spark, max_df=4)
    assert got.keys() == {(6, 7)}
    assert got.keys() == _py_capped_pairs(4).keys()


def test_capped_postings_drops_exactly_hot_shingles(spark):
    # At every cap, a pair survives iff it shares a shingle of df <= cap:
    # the cap drops the hot shingles from candidate generation, no more.
    df = _py_df()
    hot = {sh for sh, n in df.items() if n > 4}
    assert hot and hot < set(df)  # fixture really has hot and cold shingles
    for max_df in (1, 2, 4, 7, 8):
        assert _capped(spark, max_df).keys() == _py_capped_pairs(max_df).keys(), max_df


def test_jaccard_value_exact_despite_cap(spark):
    # The surviving pair scores on FULL shingle sets, boilerplate
    # included: same value as the uncapped computation, not the
    # capped-index intersection.
    sets, df = _py_shingles(), _py_df()
    common, union = sets[6] & sets[7], sets[6] | sets[7]
    cold_common = {sh for sh in common if df[sh] <= 4}
    assert cold_common < common  # the pair shares hot shingles too
    assert _capped(spark, max_df=4)[(6, 7)] == len(common) / len(union)


def test_pipeline_dedup_stage_is_capped(spark):
    """The composed curation pipeline must call the CAPPED dedup shape:
    a corpus-wide boilerplate shingle (df > MAX_DF) may not generate
    candidate pairs, while genuine near-dups still drop."""
    from etl_pipe_spark.operators.dedup import jaccard_pairs_capped, shingle_arrays

    sharr = shingle_arrays(spark.createDataFrame(_DOCS, ["doc_id", "text"]), n=3)
    pairs = jaccard_pairs_capped(sharr, threshold=0.0, max_df=4)
    assert {(r.left_id, r.right_id) for r in pairs.collect()} == {(6, 7)}
    # and the pipeline module composes exactly this operator
    import inspect

    from etl_pipe_spark.plans import curation_pipeline as CP

    src = inspect.getsource(CP.corpus_curation_pipeline)
    assert "jaccard_pairs_capped" in src and "max_df=DD.MAX_DF" in src
