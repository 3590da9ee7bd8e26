"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed via Arrow-batched ``mapInPandas``.

The Spark-side architecture is real and tested — schema, partitioning,
batch shapes, UDF signatures. The codecs are not: the environment ships
no imaging or audio library, so ``extract_features`` emits a
deterministic md5-derived stand-in embedding (the blob's digest expanded
to ``FEATURE_DIM`` floats) and ``sample_video_frames`` cuts the blob at
fixed byte offsets. A real encoder or frame decoder slots into the same
``mapInPandas`` iterator without changing the plan shape, partitioning or
memory profile.

Design for 100 TB of media:
- binary payloads live in their own column so column pruning skips them for
  metadata-only queries (parquet reads never touch the blob pages);
- ``mapInPandas`` streams Arrow batches — bounded memory per task no matter
  how large the table; ``spark.sql.execution.arrow.maxRecordsPerBatch``
  bounds rows per batch and ``repartition`` before the decode controls
  parallelism;
- feature extraction emits fixed-width ``array<float>`` embeddings that feed
  the similarity operators (operators/similarity.py) directly.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("media_type", StringType()),  # image | audio | video
        StructField("mime_type", StringType()),
        StructField("content", BinaryType()),
        StructField(
            "metadata",
            StructType(
                [
                    StructField("source_url", StringType()),
                    StructField("width", IntegerType()),
                    StructField("height", IntegerType()),
                    StructField("duration_ms", LongType()),
                    StructField("size_bytes", LongType()),
                ]
            ),
        ),
    ]
)

FEATURE_DIM = 64

FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("media_type", StringType()),
        StructField("size_bytes", LongType()),
        StructField("content_hash", StringType()),
        StructField("features", ArrayType(FloatType())),
    ]
)


def _expand_digest(digest: bytes, dim: int) -> list[float]:
    """Expand a 16-byte digest into ``dim`` floats in [-1, 1] by re-hashing
    (digest + counter) — fixed-size inputs, so expansion cost is O(dim)
    regardless of blob size."""
    out: list[float] = []
    i = 0
    while len(out) < dim:
        h = hashlib.md5(digest + i.to_bytes(4, "big")).digest()
        out.extend(b / 255.0 * 2.0 - 1.0 for b in h)
        i += 1
    return [float(x) for x in out[:dim]]


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the binary column.

    Real plumbing: partition-parallel ``mapInPandas`` with bounded batches;
    the per-item transform calls the (stubbed) encoder.
    """

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # single pass, single md5 per blob: the digest serves as both
            # the content hash and the feature seed (r12 — the old three
            # .map passes hashed every blob twice and walked the column
            # three times; q44 kernel marginal cost 21 -> ~7 µs/row)
            sizes: list[int] = []
            hashes: list[str | None] = []
            feats: list[list[float] | None] = []
            for b in pdf["content"]:
                if b is None:
                    sizes.append(0)
                    hashes.append(None)
                    feats.append(None)
                else:
                    bb = bytes(b)
                    d = hashlib.md5(bb)
                    sizes.append(len(bb))
                    hashes.append(d.hexdigest())
                    feats.append(_expand_digest(d.digest(), FEATURE_DIM))
            yield pd.DataFrame(
                {
                    # .to_numpy(): align positionally with the built lists
                    # whatever index the Arrow batch carries
                    "media_id": pdf["media_id"].to_numpy(),
                    "media_type": pdf["media_type"].to_numpy(),
                    "size_bytes": pd.Series(sizes, dtype="int64"),
                    "content_hash": hashes,
                    "features": feats,
                }
            )

    cols = media.select("media_id", "media_type", "content")
    return cols.mapInPandas(_extract, FEATURES_SCHEMA)


def sample_video_frames(media: DataFrame) -> DataFrame:
    """Frame-sampling plumbing for video rows: emits one row per pseudo-frame
    (offset markers every 64 KiB of the blob). The real frame decoder slots into the
    same iterator; the exploded shape, ordering column, and partitioning are
    what production code needs to be correct at scale."""
    frame_schema = StructType(
        [
            StructField("media_id", StringType(), False),
            StructField("frame_index", IntegerType()),
            StructField("frame_offset", LongType()),
            StructField("frame_hash", StringType()),
        ]
    )

    every_n_bytes = 1 << 16

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"media_id": [], "frame_index": [], "frame_offset": [], "frame_hash": []}
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                if content is None:
                    continue
                blob = bytes(content)
                for idx, off in enumerate(range(0, max(len(blob), 1), every_n_bytes)):
                    chunk = blob[off : off + every_n_bytes]
                    rows["media_id"].append(mid)
                    rows["frame_index"].append(idx)
                    rows["frame_offset"].append(off)
                    rows["frame_hash"].append(hashlib.md5(chunk).hexdigest())
            yield pd.DataFrame(rows)

    return (
        media.filter(F.col("media_type") == "video")
        .select("media_id", "content")
        .mapInPandas(_frames, frame_schema)
    )
