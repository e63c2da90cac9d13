"""operators/scope.py: the one cache and checkpoint lifecycle."""

from __future__ import annotations

import os
import re

import pytest

from etl_pipe_spark.operators import scope

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = os.path.join(_REPO, "etl_pipe_spark")


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_cached_releases_when_block_raises(spark):
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError):
        with scope.cached(spark.range(10)) as df:
            assert df.count() == 10
            assert not _cache_is_empty(spark)
            raise RuntimeError("mid-block failure")
    assert _cache_is_empty(spark)


def test_release_empties_tracked_list(spark):
    spark.catalog.clearCache()
    scope.release()
    a = scope.cache(spark.range(5))
    b = scope.cache(spark.range(7))
    assert a.count() + b.count() == 12
    assert not _cache_is_empty(spark)
    assert scope.release() == 2
    assert scope.release() == 0
    assert _cache_is_empty(spark)


def test_cache_lifecycle_has_one_home():
    """Only operators/scope.py persists or releases frames (after
    test_commit_protocol_has_one_home): a hand-paired persist/unpersist
    anywhere else in the package, in ``tools/`` or in ``bench.py``
    fails here."""
    primitive = re.compile(r"\.persist\(|\.cache\(\)|\.unpersist\(")
    home = os.path.join(_PKG, "operators", "scope.py")
    paths = [os.path.join(_REPO, "bench.py")]
    for top in (_PKG, os.path.join(_REPO, "tools")):
        for root, _, files in os.walk(top):
            paths += [os.path.join(root, name) for name in files if name.endswith(".py")]
    found = []
    for full in paths:
        with open(full) as f:
            for n, line in enumerate(f, 1):
                if primitive.search(line) and full != home:
                    found.append(f"{os.path.relpath(full, _REPO)}:{n}: {line.strip()}")
    assert found == []
    with open(home) as f:
        text = f.read()
    assert ".persist(" in text and ".unpersist(" in text
