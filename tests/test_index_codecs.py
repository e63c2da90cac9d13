"""The index store's codecs: each vector family's frozen quantizer is a
driver-side ``quantizer.npz`` saved in the order search relies on and
loaded without a Spark job, and a store without it (built before that
format) asks to be rebuilt."""

from __future__ import annotations

import ast
import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from etl_pipe_spark.operators import index_store as IS
from etl_pipe_spark.operators.ann import centroid_matrix
from etl_pipe_spark.operators.bq import bq_thresholds
from etl_pipe_spark.operators.sq8 import sq8_stats
from etl_pipe_spark.sources.catalog import load_table

_PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "etl_pipe_spark")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))


def _expected_ivfpq(emb, meta):
    ids, mat = centroid_matrix(emb, meta["k"])
    order = np.argsort(ids)
    return {"cent_ids": ids[order], "cent_mat": mat[order]}


def _expected_sq8(emb, meta):
    lo, scale = sq8_stats(emb)
    return {"lo": lo, "scale": scale}


def _expected_bq(emb, meta):
    return {"thresholds": np.array(bq_thresholds(emb))}


@pytest.mark.parametrize("family, expected", [
    ("ivfpq", _expected_ivfpq), ("sq8", _expected_sq8), ("bq", _expected_bq)])
def test_quantizer_loads_without_spark_jobs(spark, emb, tmp_path, jobs_launched,
                                            family, expected):
    path = str(tmp_path / family)
    getattr(IS, f"build_{family}_index")(spark, emb, path)
    quantizer, jobs = jobs_launched(IS._load_quantizer, path)
    assert jobs == 0
    meta = IS.load_index_meta(spark, path)
    assert meta["family"] == family
    for name, want in expected(emb, meta).items():  # centroids by cent_id, stats by dim
        assert np.array_equal(quantizer[name], want), name


def test_store_without_quantizer_asks_for_rebuild(spark, emb, tmp_path):
    path = str(tmp_path / "bq")
    IS.build_bq_index(spark, emb, path)
    q = emb.filter(F.col("vec_id") < 3).select(F.col("vec_id").alias("query_id"),
                                               F.col("v").alias("qv"))
    os.remove(os.path.join(path, "quantizer.npz"))
    with pytest.raises(ValueError, match="rebuild"):
        IS.search_bq_index(spark, path, q, shortlist=5)
    with pytest.raises(ValueError, match="rebuild"):
        IS.append_to_bq_index(spark, emb.limit(1), path)
    assert IS.load_index_meta(spark, path)["epoch"] == 0  # nothing committed
    assert not [n for n in os.listdir(path) if n.startswith("_claim-epoch-")]


def test_store_of_another_format_asks_for_rebuild(spark, emb, tmp_path):
    """A COMMITTED meta without a family (the earlier format) or naming
    another family is refused before any claim."""
    path = str(tmp_path / "sq8")
    IS.build_sq8_index(spark, emb, path)
    with pytest.raises(ValueError, match="rebuild it with build_bq_index"):
        IS.compact_bq_index(spark, path)
    meta = IS.load_index_meta(spark, path)
    del meta["family"]
    with open(os.path.join(path, "COMMITTED"), "w") as f:
        f.write(json.dumps(meta))
    with pytest.raises(ValueError, match="rebuild it with build_sq8_index"):
        IS.compact_sq8_index(spark, path)
    assert not [n for n in os.listdir(path) if n.startswith("_claim-epoch-")]


def test_no_module_imports_a_private_index_store_name():
    found = []
    for root, _, files in os.walk(_PKG):
        for name in files:
            if not name.endswith(".py") or name == "index_store.py":
                continue
            with open(os.path.join(root, name)) as f:
                tree = ast.parse(f.read())
            for node in ast.walk(tree):
                if (isinstance(node, ast.ImportFrom)
                        and (node.module or "").endswith("index_store")):
                    found += [f"{name}: {a.name}" for a in node.names if a.name.startswith("_")]
                elif (isinstance(node, ast.Attribute) and node.attr.startswith("_")
                      and isinstance(node.value, ast.Name) and node.value.id == "index_store"):
                    found.append(f"{name}: index_store.{node.attr}")
    assert found == []
