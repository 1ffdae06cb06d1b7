"""Multimodal image pipeline (C6): codec, transform, features.

The container has no PIL, so the RawCodec path is the tested one —
its resize is real numpy resampling, so the Spark plumbing (binary
schema, Arrow batches, quarantine rows) is genuinely exercised. The
batch kernels are checked against the per-row codec path on mixed
batches (two sizes, truncated, wrong magic, zero dims, NULL).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from museum_image_etl_gridfs_spark.operators.images import (
    _HEADER,
    PILCodec,
    RawCodec,
    _features_batch,
    _raw_headers,
    _transform_batch,
    _transform_row,
    decoded_length,
    image_features,
    synthesize_images,
    transform_images,
)


def test_rawcodec_roundtrip():
    arr = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    blob = RawCodec.encode(arr)
    assert np.array_equal(RawCodec.decode(blob), arr)


def test_rawcodec_resize_identity_and_downsample():
    arr = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    assert np.array_equal(RawCodec.resize(arr, (4, 4)), arr)
    half = RawCodec.resize(arr, (2, 2))
    assert half.shape == (2, 2, 3)
    assert np.array_equal(half[0, 0], arr[0, 0])  # nearest-neighbor


def test_synthesize_deterministic(spark):
    df = spark.range(3).select(F.col("id").alias("k"))
    a = {r["k"]: bytes(r["image"]) for r in synthesize_images(df, "k").collect()}
    b = {r["k"]: bytes(r["image"]) for r in synthesize_images(df, "k").collect()}
    assert a == b
    assert len(set(a.values())) == 3  # distinct keys -> distinct images


def test_transform_resizes_to_224(spark):
    df = synthesize_images(spark.range(4).select(F.col("id").alias("k")), "k")
    out = transform_images(df, "image", size=(224, 224)).collect()
    for r in out:
        assert r["image_transformed_status"] == "ok"
        arr = RawCodec.decode(bytes(r["image_transformed"]))
        assert arr.shape == (224, 224, 3)


def test_transform_quarantines_bad_blobs(spark):
    good = RawCodec.encode(np.zeros((2, 2, 3), dtype=np.uint8))
    df = spark.createDataFrame(
        [(1, good), (2, b"not an image")], "k long, image binary"
    )
    rows = {r["k"]: r for r in transform_images(df, "image").collect()}
    assert rows[1]["image_transformed_status"] == "ok"
    assert rows[2]["image_transformed_status"].startswith("error:")
    assert rows[2]["image_transformed"] is None


def test_image_features(spark):
    df = synthesize_images(
        spark.range(2).select(F.col("id").alias("k")), "k", width=8, height=6
    )
    feats = image_features(df).collect()
    for r in feats:
        assert (r["width"], r["height"]) == (8, 6)
        assert len(r["channel_means"]) == 3
        arr = RawCodec.decode(bytes(r["image"]))
        want = arr.mean(axis=(0, 1))
        got = np.array(r["channel_means"])
        assert np.allclose(got, want, atol=1e-4)


def test_decoded_length_header_read(spark):
    df = synthesize_images(
        spark.range(3).select(F.col("id").alias("k")), "k", width=10, height=7
    )
    rows = df.select(decoded_length("image")).collect()
    assert all(r["decoded_length"] == 10 * 7 * 3 for r in rows)


def test_pil_codec_gated():
    try:
        import PIL  # noqa: F401

        pytest.skip("PIL installed in this env")
    except ImportError:
        with pytest.raises(ImportError, match="Pillow"):
            PILCodec.decode(b"\xff\xd8")


def test_slices_skew_never_overshoots():
    """A size-skewed batch (a few huge blobs among many tiny ones) must
    never produce a range whose bytes exceed the target — a
    mean-derived fixed row count would."""
    from museum_image_etl_gridfs_spark.operators.images import (
        _TARGET_BATCH_BYTES,
        _slices,
    )

    # 990 tiny rows + 10 rows of 0.4*target each: the mean row size is
    # ~0.4% of target => a mean-derived slice takes ~250 rows and can
    # catch several huge rows at once (>1x target).
    big = int(_TARGET_BATCH_BYTES * 0.4)
    sizes = [64] * 990 + [big] * 10
    ranges = list(_slices(sizes))
    # in order and covering every row
    assert [i for a, b in ranges for i in range(a, b)] == list(range(len(sizes)))
    for a, b in ranges:
        assert sum(sizes[a:b]) <= _TARGET_BATCH_BYTES


def test_slices_single_oversize_row_gets_own_slice():
    from museum_image_etl_gridfs_spark.operators.images import (
        _TARGET_BATCH_BYTES,
        _slices,
    )

    sizes = [100, 3 * _TARGET_BATCH_BYTES, 100]
    assert list(_slices(sizes)) == [(0, 1), (1, 2), (2, 3)]


def _mixed_blobs() -> list:
    """Two source sizes plus every kind of row the batch kernels leave
    to the per-row codec path."""
    rng = np.random.default_rng(7)
    a = RawCodec.encode(rng.integers(0, 256, (6, 8, 3), dtype=np.uint8))
    b = RawCodec.encode(rng.integers(0, 256, (5, 3, 3), dtype=np.uint8))
    return [
        a,
        b,
        a[:-1],  # truncated
        b"RAWX" + b[4:],  # wrong magic
        _HEADER.pack(b"RAW0", 0, 4),  # zero-dimension header
        None,
        # negative width: the codec's reshape still infers a 1x1
        # raster, so the per-row path returns a blob
        _HEADER.pack(b"RAW0", -1, 1) + bytes(3),
        b,
        a,
    ]


class _PerRowRaw(RawCodec):
    """RawCodec's format under another codec class, which the batch
    kernels must send down the per-row path (as they do PILCodec)."""


@pytest.mark.parametrize("codec", [RawCodec, _PerRowRaw])
@pytest.mark.parametrize("typ", [pa.binary(), pa.large_binary()])
def test_transform_batch_matches_per_row_codec(typ, codec):
    """The batch kernel returns byte-identical blobs and identical
    statuses to the per-row codec path, for both Arrow offset widths
    and for sliced arrays (non-zero offset)."""
    col = pa.array(_mixed_blobs(), typ)
    for arr in (col, col.slice(2, 6)):
        blobs, status = _transform_batch(arr, (4, 3), codec)
        want = [_transform_row(RawCodec, b, (4, 3)) for b in arr.to_pylist()]
        assert blobs.to_pylist() == [w[0] for w in want]
        assert status.to_pylist() == [w[1] for w in want]
    assert status.to_pylist()[:4] == [
        "error:ValueError",
        "error:ValueError",
        "error:IndexError",
        "error:TypeError",
    ]


def test_features_batch_matches_codec_over_mixed_sizes():
    blobs = _mixed_blobs()
    good = [blobs[i] for i in (0, 1, 7, 8)]  # two sizes, interleaved
    width, height, means = _features_batch(pa.array(good), RawCodec)
    for blob, w, h, m in zip(good, width.to_pylist(), height.to_pylist(), means.to_pylist()):
        arr = RawCodec.decode(blob)
        assert (h, w) == arr.shape[:2]
        assert np.allclose(m, arr.mean(axis=(0, 1)), atol=1e-4)


def test_raw_headers_large_binary_and_sliced():
    blobs = _mixed_blobs()
    want_ok = [True, True, False, False, False, False, False, True, True]
    for typ in (pa.binary(), pa.large_binary()):
        col = pa.array(blobs, typ)
        ok, w, h = _raw_headers(col)
        assert ok.tolist() == want_ok
        assert (w[[0, 1]].tolist(), h[[0, 1]].tolist()) == ([8, 3], [6, 5])
        ok, w, h = _raw_headers(col.slice(1, 7))
        assert ok.tolist() == want_ok[1:8]
        assert (w[-1], h[-1]) == (3, 5)
