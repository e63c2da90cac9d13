"""The one commit protocol behind every versioned store in the engine.

Three stores keep state that must survive a crash: the merge sink
(``ParquetMergeSink``, ``snapshot-N`` directories + a ``CURRENT``
pointer + ``_meta_*`` commit metadata, whose ``_meta_manifest`` names
the snapshot's data files: the ones in its own directory and the
files it inherits unchanged from older ``snapshot-N`` directories), the persisted ANN/LSH indexes
(``index_store``, ``<table>/epoch=N`` data + ``_claim-epoch-N`` claims +
a ``COMMITTED`` JSON pointer carrying the meta) and the watermark store
(``WatermarkStore``, ``state-N`` JSON files + a ``CURRENT`` pointer).
All three commit the same way, a miniature of the Delta/Iceberg
protocol:

* **Write the new version beside the old.**  Data for version N lands
  where no reader looks yet: a fresh snapshot directory, an epoch
  directory above the committed epoch, a new state file.
* **Claim the version slot** (:func:`claim`, multi-writer stores only)
  by exclusive ``os.mkdir`` of a slot directory before writing any data.
  ``mkdir`` is atomic, so of two writers that both read version N-1
  exactly one claims N; the loser raises :class:`CommitConflict`
  BEFORE writing, and must re-read the committed state and re-derive
  its change (retrying the same data would resurrect lost updates —
  the compare-and-swap Delta performs with its ``N.json`` file).  The
  writes need not overlap in time: a writer that read N-1 but claims
  only after N was committed and its slot released or vacuumed wins
  the ``mkdir``, then re-reads the pointer, finds N, drops the slot and
  raises.  A writer that crashed after claiming leaves an orphan claim;
  a later writer reclaims it only while it is still uncommitted (the pointer
  never reached N) AND older than :data:`STALE_AFTER_S`, so a live slow
  writer is never clobbered within its grace window.
* **Publish by one pointer swap** (:func:`publish`): the pointer text
  is written to a tmp file, fsynced, and ``os.replace``-d over the
  pointer (atomic on POSIX).  A crash at any point before the replace
  leaves readers on the previous version — the new data is an
  invisible orphan and a leftover tmp file is ignored; after it the new
  version is fully visible, together with any metadata it carries.
* **Sweep old versions** (:func:`vacuum`) after the swap, keeping
  every file a retained version still names: a crash mid-sweep leaves
  only garbage no reader can reach.

Readers resolve the pointer first (:func:`read_pointer`) and read only
what it names.  The pointer swap, the claim and :func:`flatten` need a
rename- and mkdir-atomic file system (POSIX, HDFS, ABFS); on an object
store such as S3 a rename is a copy and creating a directory is not
exclusive, so this protocol does not hold there.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from typing import Callable

# Grace window before an uncommitted claim counts as a crashed writer's.
STALE_AFTER_S = 3600


class CommitConflict(RuntimeError):
    """Another writer holds this version slot (live claim) or already
    committed it.  Re-read the committed state and re-derive the change
    before retrying."""


def read_pointer(pointer: str) -> str | None:
    """The committed pointer's text, or None before the first commit."""
    try:
        with open(pointer) as f:
            return f.read()
    except FileNotFoundError:
        return None


def claim(slot: str, version: int, committed_version: Callable[[], int]) -> None:
    """Claim ``slot`` for ``version`` by exclusive ``mkdir``.

    ``committed_version`` re-reads the pointer on a lost race, so a slot
    the pointer has reached is never reclaimed, however old, and once
    more after a won ``mkdir``: a writer that read an old version finds
    the slot gone when the version's committer released or vacuumed it,
    and must not take it.  Raises :class:`CommitConflict` when the slot
    is committed or claimed live.
    """
    try:
        os.mkdir(slot)
        return _still_ahead(slot, version, committed_version)
    except FileExistsError:
        pass
    committed = committed_version()
    try:
        age = time.time() - os.path.getmtime(slot)
    except FileNotFoundError:
        age = 0.0  # released by its holder just now: not stale
    if committed < version and age > STALE_AFTER_S:
        # rmtree then re-claim exclusively, so two reclaimers still race safely
        shutil.rmtree(slot, ignore_errors=True)
        try:
            os.mkdir(slot)
            return _still_ahead(slot, version, committed_version)
        except FileExistsError:
            pass
    raise CommitConflict(
        f"slot {os.path.basename(slot)} for version {version} already claimed "
        f"(committed version {committed}, claim age {age:.0f}s); re-read the "
        f"committed state and re-derive the change before retrying"
    )


def _still_ahead(slot: str, version: int, committed_version: Callable[[], int]) -> None:
    """Keep a won slot only while the pointer is below ``version``."""
    committed = committed_version()
    if committed >= version:
        shutil.rmtree(slot, ignore_errors=True)
        raise CommitConflict(
            f"version {version} is already committed (committed version "
            f"{committed}); re-read the committed state and re-derive the "
            f"change before retrying")


def write_synced(path: str, text: str) -> None:
    with open(path, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())


def publish(pointer: str, text: str) -> None:
    """Atomically make ``text`` the pointer's content."""
    tmp = f"{pointer}.tmp-{uuid.uuid4().hex}"
    write_synced(tmp, text)
    os.replace(tmp, pointer)


def flatten(directory: str) -> None:
    """Move the data files of every ``<column>=<value>`` subdirectory of
    ``directory`` (a partitioned write's output) up into ``directory``
    as ``<value>-<file>``, and remove the subdirectories with what is
    left in them (checksum and other hidden files).

    Only for a claimed, unpublished version slot: no reader looks into
    it yet, so a crash midway leaves an orphan, never a torn version.
    """
    for sub in os.listdir(directory):
        full = os.path.join(directory, sub)
        if "=" not in sub or not os.path.isdir(full):
            continue
        value = sub.split("=", 1)[1]
        for name in os.listdir(full):
            if not name.startswith(("_", ".")):
                os.rename(os.path.join(full, name), os.path.join(directory, f"{value}-{name}"))
        shutil.rmtree(full)


def vacuum(directory: str, prefix: str, below: int, keep: frozenset[str] = frozenset()) -> None:
    """Remove every ``<prefix><N>`` file or directory with N < ``below``,
    except the files named in ``keep`` (paths relative to ``directory``):
    a directory holding one of them loses only its other entries."""
    try:
        names = os.listdir(directory)
    except FileNotFoundError:
        return
    kept_dirs = {path.split("/", 1)[0] for path in keep}
    for name in names:
        if not name.startswith(prefix):
            continue
        try:
            n = int(name[len(prefix):])
        except ValueError:
            continue
        if n >= below:
            continue
        full = os.path.join(directory, name)
        if name in kept_dirs:
            for entry in os.listdir(full):
                if f"{name}/{entry}" not in keep:
                    _remove(os.path.join(full, entry))
        else:
            _remove(full)


def _remove(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)
    else:
        os.remove(path)
