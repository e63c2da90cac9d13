"""Cache and checkpoint lifetimes: the one module that persists and
releases frames.

Spark keeps a persisted frame in its CacheManager until someone calls
``unpersist``; a long-lived session (the scheduler's poll loop, a
bench, a verify harness) therefore grows by every cache a query forgets.
Every cache in the package goes through one of two lifetimes here:

* **query lifetime** — :func:`cache`.  Plan functions persist what
  several consumers of one query read (a corpus projection, a rank's
  bucketed frame, a shortlist) and never release it themselves: the
  frame stays tracked until :func:`release`, which the registry
  (``plans/catalog.queries``) calls before each query builds.  A
  lazily returned plan may therefore read its caches at action time,
  and an exception leaves nothing untracked.  The caches are
  performance-only — releasing one early just recomputes the same
  deterministic plan (tests/test_ordering_scale.py pins this for the
  rank caches).
* **block lifetime** — :func:`cached`.  Eager, self-contained steps
  (index builds and appends, the ANN query probe, the
  connected-components edge list, a streaming micro-batch, a recall
  certificate's brute-force answer, a shortlist consumed before its
  query's checkpoint) persist a frame for one ``with`` block and
  release it on exit, including when the block raises.

:func:`checkpoint` is the eager ``localCheckpoint`` a plan takes to
materialize a small result once (its later actions then read the
checkpoint, not the pipeline).  Inside :func:`inspect` it returns the
frame unchanged, so a plan built there stays lazy and its physical
plan shows the operators instead of a checkpoint scan; plan-shape
tests and ``tools/dump_plans.py`` build queries that way.  Caches are
still taken inside ``inspect()``, so the inspected plan shows the same
in-memory reuse the executed one has.  Eager work that only certifies
a result (the ANN recall counts) asks :func:`inspecting` and is
skipped there.  Checkpoints a plan's control flow needs (a convergence
loop reading an observed count, a self-join lineage cut) are plain
``localCheckpoint`` calls and happen either way.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar
from typing import Iterator

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []
_INSPECTING: ContextVar[bool] = ContextVar("scope_inspecting", default=False)


def cache(df: DataFrame) -> DataFrame:
    """Persist ``df`` until the next :func:`release`."""
    df = df.persist()
    _TRACKED.append(df)
    return df


@contextmanager
def cached(df: DataFrame) -> Iterator[DataFrame]:
    """Persist ``df`` for the ``with`` block; released on exit."""
    df = df.persist()
    try:
        yield df
    finally:
        df.unpersist()


def checkpoint(df: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint``, or ``df`` unchanged inside :func:`inspect`."""
    return df if _INSPECTING.get() else df.localCheckpoint(eager=True)


def release() -> int:
    """Unpersist every frame :func:`cache` tracked; returns how many."""
    n = len(_TRACKED)
    while _TRACKED:
        _TRACKED.pop().unpersist()
    return n


def inspecting() -> bool:
    """True inside :func:`inspect`: plans skip their eager work."""
    return _INSPECTING.get()


@contextmanager
def inspect() -> Iterator[None]:
    """Build plans for inspection: :func:`checkpoint` stays lazy."""
    token = _INSPECTING.set(True)
    try:
        yield
    finally:
        _INSPECTING.reset(token)
