"""The commit protocol (operators/commit.py) shared by the merge sink,
the index store and the watermark store: crash between the tmp-pointer
write and the swap, fsync before the swap, and one home for the
protocol's file-system primitives."""

from __future__ import annotations

import datetime as dt
import glob
import os
import re

import pytest

from etl_pipe_spark.operators import commit
from tests.commit_faults import backdate, backdate_epoch_claims

_PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "etl_pipe_spark")


class _Sink:
    pointer = "CURRENT"

    def __init__(self, spark, path):
        from etl_pipe_spark.operators.merge import ParquetMergeSink

        self.spark, self.path = spark, path
        self.sink = ParquetMergeSink(spark, path, "id long")

    def commit(self, i):
        self.sink.write(self.spark.createDataFrame([(i,)], "id long"))

    def visible(self):
        return sorted(r.id for r in self.sink.read().collect())

    def expire_claims(self):
        for snap in glob.glob(os.path.join(self.path, "snapshot-*")):
            backdate(snap)


class _Index:
    pointer = "COMMITTED"

    def __init__(self, spark, path):
        from etl_pipe_spark.operators import index_store as IS

        self.spark, self.path, self.IS = spark, path, IS
        IS.build_bq_index(spark, self._vectors(0, 8), path)

    def _vectors(self, lo, hi):
        return self.spark.createDataFrame(
            [(i, [float((i * 7 + d) % 5) for d in range(8)]) for i in range(lo, hi)],
            "vec_id bigint, v array<double>")

    def commit(self, i):
        self.IS.append_to_bq_index(self.spark, self._vectors(100 + i, 101 + i),
                                   self.path)

    def visible(self):
        meta = self.IS.load_index_meta(self.spark, self.path)
        codes = self.spark.read.parquet(os.path.join(self.path, "codes"))
        ids = sorted(r.vec_id for r in self.IS._epoch_filter(codes, meta).collect())
        return meta["epoch"], meta["n_vectors"], ids

    def expire_claims(self):
        backdate_epoch_claims(self.path)


class _Watermark:
    pointer = "CURRENT"

    def __init__(self, spark, path):
        from etl_pipe_spark.streaming.watermark import WatermarkStore

        self.store = WatermarkStore(spark, path)

    def commit(self, i):
        self.store.advance("t", dt.datetime(2024, 1, 1 + i), 1)

    def visible(self):
        return self.store.get("t"), self.store.total_rows("t")

    def expire_claims(self):
        pass  # single writer: no claim


@pytest.mark.parametrize("store_cls", [_Sink, _Index, _Watermark],
                         ids=["merge_sink", "index_store", "watermark_store"])
def test_crash_between_tmp_pointer_and_swap(spark, tmp_path, monkeypatch, store_cls):
    """A crash after the tmp pointer is written but before ``os.replace``
    leaves readers on the previous version with the tmp file behind;
    once the dead writer's claim is stale the next commit succeeds."""
    path = str(tmp_path / "store")
    store = store_cls(spark, path)
    store.commit(1)
    before = store.visible()

    real_replace = os.replace

    def crash(src, dst):
        raise RuntimeError("simulated crash before the pointer swap")

    monkeypatch.setattr(commit.os, "replace", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        store.commit(2)
    monkeypatch.setattr(commit.os, "replace", real_replace)

    assert glob.glob(os.path.join(path, f"{store.pointer}.tmp-*"))  # left behind
    assert store.visible() == before

    store.expire_claims()
    store.commit(3)
    after = store.visible()
    assert after != before
    store.commit(4)  # and the store keeps committing past the leftover
    assert store.visible() != after


def test_publish_fsyncs_before_replace(tmp_path, monkeypatch):
    calls = []
    real_fsync, real_replace = os.fsync, os.replace
    monkeypatch.setattr(commit.os, "fsync",
                        lambda fd: (calls.append("fsync"), real_fsync(fd))[1])
    monkeypatch.setattr(commit.os, "replace",
                        lambda s, d: (calls.append("replace"), real_replace(s, d))[1])
    pointer = str(tmp_path / "CURRENT")
    commit.publish(pointer, "v1")
    commit.publish(pointer, "v2")
    assert calls == ["fsync", "replace", "fsync", "replace"]
    assert commit.read_pointer(pointer) == "v2"
    assert os.listdir(tmp_path) == ["CURRENT"]


def test_commit_protocol_has_one_home():
    """Only operators/commit.py swaps pointers or claims slots: a
    fourth copy of the protocol fails here."""
    primitive = re.compile(r"\bos\.(replace|rename|mkdir)\(")
    home = os.path.join(_PKG, "operators", "commit.py")
    found = []
    for root, _, files in os.walk(_PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            full = os.path.join(root, name)
            with open(full) as f:
                for n, line in enumerate(f, 1):
                    if primitive.search(line) and full != home:
                        found.append(f"{os.path.relpath(full, _PKG)}:{n}: {line.strip()}")
    assert found == []
    with open(home) as f:
        text = f.read()
    assert "os.replace(" in text and "os.mkdir(" in text


def test_interleaved_index_appender_cannot_take_a_committed_epoch(spark, tmp_path, monkeypatch):
    """Writer A reads epoch 0; writer B appends epoch 1, publishes it and
    releases its claim; only then does A append.  A's claim of epoch 1
    must raise before its orphan purge can delete B's committed rows."""
    from etl_pipe_spark.operators import index_store as IS

    store = _Index(spark, str(tmp_path / "store"))
    stale = IS._read_committed(store.path)        # A reads epoch 0
    store.commit(1)                               # B commits epoch 1
    after_b = store.visible()
    assert after_b[0] == 1 and 101 in after_b[2]

    reads = iter([stale])                         # A's read is the stale one
    real_read = IS._read_committed
    monkeypatch.setattr(IS, "_read_committed", lambda path: next(reads, None) or real_read(path))
    with pytest.raises(commit.CommitConflict):
        store.commit(2)
    monkeypatch.setattr(IS, "_read_committed", real_read)
    assert store.visible() == after_b             # B's epoch kept
    assert not glob.glob(os.path.join(store.path, "_claim-epoch-*"))  # A's slot dropped


def test_stale_merge_writer_cannot_reclaim_a_vacuumed_snapshot(spark, tmp_path):
    """A writer holding version 1 writes after snapshot-2 was committed
    and vacuumed: the free slot name must not let it commit on top of
    version 1 again."""
    store = _Sink(spark, str(tmp_path / "store"))
    store.commit(1)
    stale = store.sink.committed_version()
    for i in range(2, 6):                         # snapshot-2 falls out of retention
        store.commit(i)
    assert not os.path.exists(os.path.join(store.path, "snapshot-00000002"))
    before = store.visible()
    with pytest.raises(commit.CommitConflict):
        store.sink.write(spark.createDataFrame([(99,)], "id long"), read_version=stale)
    assert store.visible() == before
    assert not os.path.exists(os.path.join(store.path, "snapshot-00000002"))


def _keys(sink):
    return sorted(r.k for r in sink.read().collect())


def test_merge_sink_interleaved_writers_lose_no_update(spark, tmp_path):
    """A reads v1, B commits v2 with ``kb``, then A writes its read plus
    ``ka``: A's commit raises and the table keeps ``kb``."""
    from etl_pipe_spark.operators.merge import ParquetMergeSink

    path = str(tmp_path / "t")
    sink = ParquetMergeSink(spark, path, "k string")
    row = lambda k: spark.createDataFrame([(k,)], "k string")  # noqa: E731
    sink.write(row("k0"))
    a_version, a_read = sink.committed_version(), sink.read()      # A reads v1
    ParquetMergeSink(spark, path, "k string").write(sink.read().unionByName(row("kb")))  # B
    with pytest.raises(commit.CommitConflict):
        sink.write(a_read.unionByName(row("ka")), read_version=a_version)
    assert _keys(sink) == ["k0", "kb"]


def test_rollup_maintainer_carries_its_read_version(spark, tmp_path):
    """The read-modify-write callers pass the version they read: another
    writer committing between the maintainer's read and its write makes
    the maintainer raise instead of overwriting that commit."""
    from etl_pipe_spark.operators.merge import ParquetMergeSink
    from etl_pipe_spark.streaming.rollup import RollupMaintainer

    path = str(tmp_path / "t")
    schema = "k string, n bigint"
    sink = ParquetMergeSink(spark, path, schema)
    sink.write(spark.createDataFrame([("k0", 1)], schema))
    real_read = sink.read

    def read_then_other_writer_commits(*args, **kwargs):
        out = real_read(*args, **kwargs)
        other = ParquetMergeSink(spark, path, schema)
        other.write(other.read().unionByName(spark.createDataFrame([("kb", 1)], schema)))
        return out

    sink.read = read_then_other_writer_commits
    m = RollupMaintainer(sink, ["k"], {"n": "sum"})
    with pytest.raises(commit.CommitConflict):
        m.apply_batch(spark.createDataFrame([("ka", 1)], schema), 0)
    del sink.read
    assert _keys(sink) == ["k0", "kb"]
    assert m.last_epoch() == -1
