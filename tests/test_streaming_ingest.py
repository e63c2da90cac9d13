"""Streaming JSONL landing-zone ingest: micro-batched parse, dead-
letter quarantine, and exactly-once convergence across a restart.

Drives streaming/structured.stream_jsonl_ingest with AvailableNow over
a directory of shards (one file per micro-batch), then re-runs the
whole stream with a FRESH checkpoint — full redelivery — and asserts
the sink state is unchanged (insert-if-absent absorbs the replay) and
the dead-letter tree holds each corrupt line exactly once.
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import types as T

from etl_pipe_spark.operators.merge import ParquetMergeSink, insert_if_absent
from etl_pipe_spark.streaming.structured import stream_jsonl_ingest

SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("lang", T.StringType()),
    T.StructField("text", T.StringType()),
])
DDL = "doc_id bigint, lang string, text string"


def _write_shards(src: str) -> None:
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, "shard-000.jsonl"), "w") as f:
        for i in range(3):
            f.write(json.dumps(
                {"doc_id": i, "lang": "en", "text": f"doc {i}"}) + "\n")
    with open(os.path.join(src, "shard-001.jsonl"), "w") as f:
        f.write(json.dumps(
            {"doc_id": 3, "lang": "de", "text": "noch eins"}) + "\n")
        f.write("garbage line one\n")
        f.write(json.dumps(
            {"doc_id": 0, "lang": "en", "text": "doc 0"}) + "\n")  # dup key
        f.write('{"doc_id": 99, "la\n')


def _dead_lines(dead: str) -> list[str]:
    out = []
    for p in glob.glob(os.path.join(dead, "src_file=*", "part-*")):
        with open(p) as f:
            out.extend(json.loads(line)["_corrupt_record"]
                       for line in f if line.strip())
    return sorted(out)


def test_stream_jsonl_ingest_quarantine_and_replay(spark, tmp_path):
    src = str(tmp_path / "landing")
    dead = str(tmp_path / "dead")
    _write_shards(src)
    sink = ParquetMergeSink(spark, str(tmp_path / "sink"), DDL,
                            resolve=lambda rows: insert_if_absent(None, rows, ["doc_id"]))

    stream_jsonl_ingest(
        spark, src, SCHEMA, sink, dead,
        checkpoint_dir=str(tmp_path / "ckpt1"), max_files_per_trigger=1,
    )
    rows = {r["doc_id"]: r for r in sink.read().collect()}
    assert set(rows) == {0, 1, 2, 3}
    assert rows[3]["text"] == "noch eins"
    assert _dead_lines(dead) == ['garbage line one', '{"doc_id": 99, "la']

    # full redelivery: fresh checkpoint re-reads every shard, and with
    # DIFFERENT batching (all files in one epoch instead of one file
    # per epoch) — epoch numbering shifts, so only the file-keyed
    # dead-letter partitions keep this idempotent; the key-merge and
    # the dead-letter tree must both converge, not double up
    before = sorted(map(tuple, sink.read().collect()))
    stream_jsonl_ingest(
        spark, src, SCHEMA, sink, dead,
        checkpoint_dir=str(tmp_path / "ckpt2"),
    )
    assert sorted(map(tuple, sink.read().collect())) == before
    assert _dead_lines(dead) == ['garbage line one', '{"doc_id": 99, "la']
