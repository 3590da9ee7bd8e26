"""Multimodal queries: the binary-column plumbing (multimodal/binary.py)
exercised under the oracle gate.

The testdata ships no media table, so media rows are derived
deterministically from ``documents`` (text bytes as the opaque blob,
media_type by ``doc_id % 3``) — the *plumbing* (binary column, typed
metadata struct, Arrow-batched ``mapInPandas`` decode path, exploded frame
shape) is exactly what a real image/audio/video table needs; only the codec
is a stand-in (see multimodal/binary.py docstring).

Oracle parity: the Python side hashes UTF-8 bytes with md5 and measures
``len(bytes)``; DuckDB's ``md5(varchar)`` / ``octet_length(encode(...))``
hash and measure the same bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..multimodal.binary import extract_features, sample_video_frames
from ..sources.tables import load_table

QUERIES: dict = {}
ORACLES: dict = {}


def _register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def media_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic media table over documents: blob = UTF-8 text bytes."""
    d = load_table(spark, sf_dir, "documents")
    mod3 = F.col("doc_id") % 3
    blob = F.encode(F.col("text"), "UTF-8")
    return d.select(
        F.concat(F.lit("m"), F.col("doc_id").cast("string")).alias("media_id"),
        F.when(mod3 == 0, "image").when(mod3 == 1, "audio").otherwise("video").alias(
            "media_type"
        ),
        F.lit("application/octet-stream").alias("mime_type"),
        blob.alias("content"),
        F.struct(
            F.lit(None).cast("string").alias("source_url"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.length(blob).cast("long").alias("size_bytes"),
        ).alias("metadata"),
    )


# --------------------------------------------------------------------------
# q44 — Arrow-batched feature extraction (mapInPandas) + per-type rollup.
# The decode/feature stage runs through the real multimodal plumbing; the
# rollup checks hash/size agreement with the oracle byte-for-byte.
@_register(
    "q44_media_features",
    """
    SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS media_type,
           COUNT(*) AS n_items,
           COUNT(DISTINCT md5(text)) AS n_distinct_hashes,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes
    FROM documents
    GROUP BY media_type
    """,
)
def q44_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = media_from_documents(spark, sf_dir)
    feats = extract_features(media)
    return feats.groupBy("media_type").agg(
        F.count("*").alias("n_items"),
        F.countDistinct("content_hash").alias("n_distinct_hashes"),
        F.sum("size_bytes").alias("total_bytes"),
    )


# --------------------------------------------------------------------------
# q45 — video frame sampling: one row per pseudo-frame (64 KiB stride).
# Test documents are < 64 KiB so each video yields exactly one frame whose
# hash is md5 of the whole blob — which the oracle can state in SQL.
@_register(
    "q45_video_frames",
    """
    SELECT 'm' || CAST(doc_id AS VARCHAR) AS media_id,
           CAST(0 AS INTEGER) AS frame_index,
           CAST(0 AS BIGINT) AS frame_offset,
           md5(text) AS frame_hash
    FROM documents
    WHERE doc_id % 3 = 2
    """,
)
def q45_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = media_from_documents(spark, sf_dir)
    return sample_video_frames(media)


# --------------------------------------------------------------------------
# q66 — audio feature extraction: the audio rows that carry a blob run
# through the same stand-in encoder as q44 (per-blob md5 + fixed feature
# width); size_bytes is the blob length the extractor measures.
@_register(
    "q66_audio_features",
    """
    SELECT 'm' || CAST(doc_id AS VARCHAR) AS media_id,
           md5(text) AS content_hash,
           CAST(64 AS INTEGER) AS feat_dim,
           CAST(octet_length(encode(text)) AS BIGINT) AS size_bytes
    FROM documents
    WHERE doc_id % 3 = 1
    """,
)
def q66_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = media_from_documents(spark, sf_dir)
    audio = media.filter((F.col("media_type") == "audio") & F.col("content").isNotNull())
    return extract_features(audio).select(
        "media_id",
        "content_hash",
        F.size("features").alias("feat_dim"),
        "size_bytes",
    )
