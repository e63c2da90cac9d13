"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Design for 100 TB media pipelines: image/audio/video ride as
``binary`` columns next to relational metadata; decode / feature
extraction runs as Arrow-batched ``mapInPandas`` so each task
processes whole record batches without JVM<->Python row churn, and
partitioning/pushdown still work on the metadata columns.

The actual codec step is STUBBED (no PIL/ffmpeg in this build):
``extract_features`` computes deterministic byte-level features
(length, md5, magic sniff) and reports ``DECODE_STATUS_STUB``, so the
Spark-side plumbing — schema, batch iteration, binary Arrow transfer —
is real and oracle-testable.
"""

from __future__ import annotations

import hashlib
import sys
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F

# Python workers unpickle mapInPandas functions by reference, which
# requires this package on the *worker's* sys.path — not guaranteed
# when the driver imported us via an explicit path (e.g. the test
# harness).  Registering the module for by-value pickling makes the
# shipped closure self-contained.
try:
    from pyspark import cloudpickle as _cp
except ImportError:  # pragma: no cover
    import cloudpickle as _cp
_cp.register_pickle_by_value(sys.modules[__name__])

FEATURE_SCHEMA = (
    "doc_id long, n_bytes long, content_md5 string, sniffed_format string, "
    "decode_status string"
)

_MAGIC = [
    (b"\x89PNG", "png"),
    (b"\xff\xd8\xff", "jpeg"),
    (b"RIFF", "riff"),
    (b"%PDF", "pdf"),
]


# This build ships no media codecs (PIL/soundfile/ffmpeg absent), so the
# decode step is a documented constant stub: deterministic, environment-
# independent (the oracle pins the literal), and cheap (no per-row import
# probing).  A real deployment dispatches on the sniffed format to a
# codec and routes poison-pill media to the status column.
DECODE_STATUS_STUB = "stub:no-codec"


def _sniff(payload: bytes) -> str:
    for magic, name in _MAGIC:
        if payload[: len(magic)] == magic:
            return name
    return "raw"


def extract_features(binary_df: DataFrame, id_col: str = "doc_id",
                     payload_col: str = "payload") -> DataFrame:
    """Arrow-batched feature extraction over a binary column.

    One pandas batch in, one out — no per-row Python calls; this is
    the shape a real image-resize / frame-sample / embed step takes.
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf[payload_col]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "n_bytes": payloads.map(len).astype("int64"),
                    "content_md5": payloads.map(lambda b: hashlib.md5(b).hexdigest()),
                    "sniffed_format": payloads.map(_sniff),
                    "decode_status": DECODE_STATUS_STUB,
                }
            )

    return binary_df.mapInPandas(op, FEATURE_SCHEMA)


def documents_as_binary(docs: DataFrame) -> DataFrame:
    """Model the documents table as a multimodal source: payload is an
    opaque binary column (UTF-8 bytes here; JPEG/WAV in production)."""
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.col("lang").alias("lang"),
            F.col("source").alias("source"),
            F.col("n_chars").alias("n_chars"),
        ).alias("meta"),
    )


FRAME_SCHEMA = "doc_id long, frame_idx int, n_frame_chars long, frame_md5 string"
FRAME_CHARS = 64    # one "frame" = 64 chars of payload (stand-in for a decoded frame)
FRAME_STRIDE = 2    # keep every 2nd frame


def sample_frames(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Frame sampling (the 1 -> N multimodal shape), Arrow-batched.

    Real video frame-sampling decodes a container and keeps every
    k-th frame; with no codecs in this build the deterministic
    stand-in treats each ``FRAME_CHARS``-character window of the
    payload as one "frame" and keeps every ``FRAME_STRIDE``-th window.  The
    plumbing is the real thing: one record fans out to a variable
    number of frame rows inside a ``mapInPandas`` batch (never a
    per-row JVM<->Python call), each carrying the frame's digest —
    exactly the batch shape an ffmpeg-backed sampler produces, and the
    explode stays in the Python worker so Spark shuffles only the
    sampled frames, not the raw payloads.
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, lens, digests = [], [], [], []
            for did, txt in zip(pdf[id_col], pdf[text_col]):
                if txt is None:  # poison pill: contribute no frames
                    continue
                n_frames = -(-len(txt) // FRAME_CHARS)  # ceil
                for fi in range(0, n_frames, FRAME_STRIDE):
                    seg = txt[fi * FRAME_CHARS:(fi + 1) * FRAME_CHARS]
                    ids.append(did)
                    idxs.append(fi)
                    lens.append(len(seg))
                    digests.append(hashlib.md5(seg.encode("utf-8")).hexdigest())
            yield pd.DataFrame({
                "doc_id": pd.Series(ids, dtype="int64"),
                "frame_idx": pd.Series(idxs, dtype="int32"),
                "n_frame_chars": pd.Series(lens, dtype="int64"),
                "frame_md5": pd.Series(digests, dtype="object"),
            })

    return docs.select(id_col, text_col).mapInPandas(op, FRAME_SCHEMA)
