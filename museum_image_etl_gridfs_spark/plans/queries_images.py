"""Multimodal-column queries (C6 + training-pipeline extension).

The fixtures carry no real blobs, so images are synthesized
deterministically from ``doc_id`` (operators.images.synthesize_images)
and pushed through the REAL Spark plumbing: binary column -> Arrow
batch -> RAW0 header parse -> numpy nearest-neighbor resize ->
re-encoded blobs -> typed metadata. Every image stage is one
``mapInArrow`` stage; RawCodec rows are processed a whole Arrow batch
at a time over the column's buffers, and only rows it cannot batch
(or a non-Raw codec such as PILCodec) take the per-row codec path
(operators/images.py states the codec contract). The oracle states the
arithmetic consequences (dims, byte lengths, statuses), so the whole
decode-transform-encode path is hash-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..partitioning import spread
from ..operators.images import (
    RawCodec,
    decoded_length,
    image_features,
    synthesize_images,
    transform_images,
)
from .registry import query

_SRC_W, _SRC_H = 32, 24
_DST_W, _DST_H = 16, 12
_HEADER = 12  # RAW0 header bytes


@query(
    "multimodal_transform",
    oracle=f"""
    SELECT doc_id,
           CAST({_SRC_W * _SRC_H * 3} AS BIGINT)          AS src_pixels,
           CAST({_DST_W * _DST_H * 3 + _HEADER} AS BIGINT) AS out_len,
           {_DST_W} AS out_w, {_DST_H} AS out_h,
           'ok' AS status
    FROM documents
    """,
    tags=("multimodal", "binary", "extension"),
)
def multimodal_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image ETL slice: synthesize -> decode -> resize -> encode ->
    feature-extract, three mapInArrow stages, no shuffle (C6 at scale).

    ``src_pixels`` is read JVM-side from the typed header
    (decoded_length — no Python decode for planning-level metadata);
    ``out_w``/``out_h`` come from image_features' parse of the
    transformed blob's header and its exact length check, proving the
    resize actually happened.
    """
    docs = load(spark, "documents", sf_dir).select("doc_id")
    imgs = synthesize_images(
        spread(docs, "doc_id"), "doc_id", width=_SRC_W, height=_SRC_H
    )
    transformed = transform_images(imgs, "image", size=(_DST_W, _DST_H), codec=RawCodec)
    feats = image_features(
        transformed.select(
            "doc_id",
            F.col("image_transformed").alias("image"),
            F.col("image_transformed_status").alias("status"),
            decoded_length("image").alias("src_pixels"),
        )
    )
    return feats.select(
        "doc_id",
        "src_pixels",
        (F.length("image")).cast("long").alias("out_len"),
        F.col("width").alias("out_w"),
        F.col("height").alias("out_h"),
        "status",
    )


@query(
    "image_etl_gridfs",
    oracle=f"""
    SELECT doc_id,
           CAST({224 * 224 * 3 + _HEADER} AS BIGINT) AS transformed_len,
           CAST(1 AS BIGINT)                          AS n_chunks,
           CAST(doc_id AS VARCHAR) || '_transformed.jpg' AS filename,
           'ok' AS status
    FROM documents
    """,
    tags=("multimodal", "gridfs", "pipeline", "reference-parity"),
)
def image_etl_gridfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's image stage end-to-end AT ITS REAL PARAMETERS:
    resize to 224x224 (src/transform_load.py:97) and store via GridFS
    chunking at the 255 KB default — every transformed image fits one
    chunk, exactly as the reference's artifacts show
    (fs_transformed_chunks_view.png: only n=0; BASELINE.md).

    ONE linear pass, ZERO shuffles past the byte-sizing exchange:
    synthesize -> transform (two Arrow-batched mapInArrow stages) ->
    per-doc chunk layout. ``n_chunks`` is :func:`chunk_count`, the
    chunk arithmetic read off the blob length; the slicing, explode
    and reassembly themselves are oracle-exercised by
    gridfs_chunk_plan / gridfs_roundtrip. The three outputs are
    columns of one pass, not joined branches: Spark cannot
    common-subexpression a Python stage, so each branch would re-run
    the 224x224 synthesize + resize. Partitions are sized by bytes
    (~64 MB of output blobs per task, derived from the measured row
    count — the SURVEY §4 "size by bytes, not rows" rule, enforced
    here and inside the operators).
    """
    from ..operators.gridfs import GRIDFS_CHUNK_SIZE, chunk_count
    from ..operators.images import bytes_sized_partitions

    docs = load(spark, "documents", sf_dir).select("doc_id")
    # eager O(1)-result row-count probe (metadata-cheap on parquet) —
    # the byte-sizing input; same documented eager pattern as the
    # simjoin's occurrence probe
    out_blob = 224 * 224 * 3 + _HEADER
    nparts = bytes_sized_partitions(docs, docs.count(), out_blob)
    imgs = synthesize_images(
        spread(docs, "doc_id", target=nparts),
        "doc_id",
        width=_SRC_W,
        height=_SRC_H,
    )
    transformed = transform_images(imgs, "image", size=(224, 224), codec=RawCodec)
    return transformed.select(
        "doc_id",
        F.length("image_transformed").cast("long").alias("transformed_len"),
        chunk_count("image_transformed", GRIDFS_CHUNK_SIZE)
        .cast("long")
        .alias("n_chunks"),
        F.concat(F.col("doc_id").cast("string"), F.lit("_transformed.jpg")).alias(
            "filename"
        ),
        F.col("image_transformed_status").alias("status"),
    )


@query(
    "audio_resample_plan",
    oracle="""
    SELECT doc_id,
           CAST(2000 AS INTEGER) AS sample_rate,
           CAST(0.1 AS DOUBLE)   AS duration_s,
           CAST(200 AS BIGINT)   AS n_samples,
           'ok' AS status
    FROM documents
    """,
    tags=("multimodal", "audio", "extension"),
)
def audio_resample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio modality through the driver gate: synthesize 0.1 s PCM
    clips keyed by doc_id, resample 8 kHz -> 2 kHz, verify the typed
    metadata consequences (rate, preserved duration, sample count)."""
    from ..operators.audio import audio_features, resample_audio, synthesize_audio

    docs = load(spark, "documents", sf_dir).select("doc_id")
    clips = synthesize_audio(
        spread(docs, "doc_id"), "doc_id", sample_rate=8000, n_samples=800
    )
    out = resample_audio(clips, dst_rate=2000)
    feats = audio_features(
        out.select(
            "doc_id",
            F.col("audio_resampled").alias("audio"),
            F.col("resample_status").alias("status"),
        )
    )
    return feats.select(
        "doc_id",
        "sample_rate",
        "duration_s",
        (F.col("duration_s") * F.col("sample_rate")).cast("long").alias("n_samples"),
        "status",
    )


@query(
    "video_frame_sample_plan",
    oracle="""
    SELECT doc_id,
           CAST(4 AS INTEGER) AS n_frames_kept,
           CAST(2 AS INTEGER) AS fps,
           CAST(2.0 AS DOUBLE) AS duration_s,
           'ok' AS status
    FROM documents
    """,
    tags=("multimodal", "video", "extension"),
)
def video_frame_sample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video modality through the driver gate: 20-frame 10 fps clips,
    1-in-5 frame sampling (the pre-shuffle bandwidth lever), features
    confirm kept-frame count, scaled fps, and preserved duration."""
    from ..operators.video import sample_frames, synthesize_video, video_features

    docs = load(spark, "documents", sf_dir).select("doc_id")
    clips = synthesize_video(
        spread(docs, "doc_id"), "doc_id", fps=10, n_frames=20
    )
    sampled = sample_frames(clips, every=5)
    feats = video_features(
        sampled.select(
            "doc_id",
            F.col("video_sampled").alias("video"),
            "n_frames_kept",
            F.col("sample_status").alias("status"),
        )
    )
    return feats.select(
        "doc_id", "n_frames_kept", "fps", "duration_s", "status"
    )
