"""SRP-LSH plane-count parameterization: oracle parity at >=2 plane
counts, plus the corpus-sizing rule for the IVF cell-size dial."""

import pytest

from etl_pipe_spark.operators.similarity import ivf_centroids_for_corpus
from etl_pipe_spark.plans.dedup_plans import srp_oracle, srp_pairs
from etl_pipe_spark.sources.catalog import load_table
from tests.oracle_utils import compare, duckdb_connect


@pytest.mark.parametrize("n_planes", [8, 12])
def test_srp_pairs_match_oracle_at_plane_count(spark, sf_dir, n_planes):
    emb = load_table(spark, sf_dir, "embeddings")
    df = srp_pairs(emb, n_planes=n_planes)
    con = duckdb_connect(sf_dir)
    try:
        compare(df, con, srp_oracle(n_planes), name=f"srp_{n_planes}planes")
    finally:
        con.close()


def test_ivf_centroid_sizing_bounds_both_cost_terms():
    # k ~ sqrt(N): assignment (N*k) and per-query probe work (N/k)
    # both stay O(N^1.5 / N^0.5) — neither term can go quadratic.
    for n in (10**4, 10**6, 10**8):
        k = ivf_centroids_for_corpus(n)
        assert n / k <= 1.01 * n**0.5      # cell size bounded by sqrt(N)
        assert k <= 1.01 * n**0.5 + 32     # no centroid blow-up either
    # the oracle-pinned floor for tiny corpora
    assert ivf_centroids_for_corpus(100) == 32
    assert ivf_centroids_for_corpus(250_000) == 500


def test_ann_ivf_sized_centroids_still_return_topk(spark, sf_dir):
    # The parameterized path (production sizing) keeps the output
    # contract: 5 neighbors per query, same schema as the pinned form.
    from etl_pipe_spark.plans.dedup_plans import ann_ivf

    df = ann_ivf(spark, sf_dir, nprobe=2, n_centroids=48)
    rows = df.groupBy("query_id").count().collect()
    assert rows and all(r["count"] == 5 for r in rows)
