"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns + typed metadata structs, processed by Arrow-batched pandas UDFs.

The Spark-side architecture is real and tested — schemas, partitioning,
``mapInPandas`` batch shapes, metadata propagation.  The codec kernels
themselves are stand-ins: no image/audio decoder ships with the package,
so the pipeline runs deterministic fake kernels (byte statistics /
strided sampling) with the same signatures a real PIL/librosa kernel
would have.  Swapping in real codecs changes ONE function body, not the
pipeline.

Scale notes: binary payloads ride the same Arrow batches as every other
column; ``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds batch
memory (payload_size x batch_rows); metadata-only operations (filtering by
width/duration) never touch the bytes thanks to column pruning — keep
metadata in separate top-level columns, never inside the blob.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "doc_id bigint, n_bytes int, byte_mean double, byte_hist array<int>"
)
FRAME_SCHEMA = "doc_id bigint, frame_no int, frame binary"
N_HIST = 4  # byte-histogram buckets in extract_features
FRAME_STRIDE, FRAME_LEN = 16, 8  # sample_frames: frame step and size (bytes)


def synth_binary_column(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Deterministic fake media: utf-8 bytes of the text as the payload +
    derived metadata (what an ingest service would attach)."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        F.col(id_col).alias("doc_id"),
        payload.alias("payload"),
        F.struct(
            (F.length(payload) % 640 + 1).cast("int").alias("width"),
            (F.length(payload) % 480 + 1).cast("int").alias("height"),
            F.lit(3).alias("channels"),
            F.lit("FAKE").alias("format"),
        ).alias("meta"),
    )


def extract_features(df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    Fake-but-deterministic kernel: byte count, mean byte value, a
    ``N_HIST``-bucket coarse byte histogram.  The batch shape (pandas
    DataFrame in/out via ``mapInPandas``) is exactly what a real decoder
    uses.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pd.DataFrame()
            out["doc_id"] = pdf["doc_id"]
            blobs = pdf["payload"]
            out["n_bytes"] = blobs.map(lambda b: 0 if b is None else len(b))
            out["byte_mean"] = blobs.map(
                lambda b: round(sum(b) / len(b), 6) if b else 0.0
            )
            bucket = 256 // N_HIST

            def hist(b):
                h = [0] * N_HIST
                if b:
                    for x in b:
                        h[min(x // bucket, N_HIST - 1)] += 1
                return h

            out["byte_hist"] = blobs.map(hist)
            yield out

    return df.mapInPandas(run, FEATURE_SCHEMA)


def sample_frames(df: DataFrame) -> DataFrame:
    """Frame sampling from a fake "video" payload: every ``FRAME_STRIDE``
    bytes, one ``FRAME_LEN``-byte slice.  One row per (doc, frame) — the
    explode shape real video pipelines use (frames >> videos, so the
    fan-out repartitions naturally by hash of the new row count)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, nos, frames = [], [], []
            for doc_id, blob in zip(pdf["doc_id"], pdf["payload"]):
                if blob is None:
                    continue
                for k, off in enumerate(range(0, len(blob), FRAME_STRIDE)):
                    ids.append(doc_id)
                    nos.append(k)
                    frames.append(bytes(blob[off:off + FRAME_LEN]))
            yield pd.DataFrame({"doc_id": ids, "frame_no": nos, "frame": frames})

    return df.mapInPandas(run, FRAME_SCHEMA)
