"""Fault set-up for commit-protocol tests: make a claim look like a
crashed writer's by back-dating it past the reclaim grace window."""

from __future__ import annotations

import glob
import os
import time

from etl_pipe_spark.operators.commit import STALE_AFTER_S


def backdate(path) -> None:
    """Set ``path``'s mtime to more than STALE_AFTER_S in the past."""
    old = time.time() - STALE_AFTER_S - 60
    os.utime(path, (old, old))


def backdate_epoch_claims(index_path: str) -> None:
    """Back-date every ``_claim-epoch-N`` marker of an index store."""
    for claim in glob.glob(os.path.join(index_path, "_claim-epoch-*")):
        backdate(claim)
