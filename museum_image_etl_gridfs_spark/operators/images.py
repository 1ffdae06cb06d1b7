"""Multimodal binary columns: image decode / resize / feature-extract.

Reference semantics (C6, the one operator Spark has no primitive
for): ``Image.open(bytes).resize((224,224)).convert("RGB")`` -> JPEG
bytes (src/transform_load.py:96-102). Spark-side each operator is one
``mapInArrow`` stage over a BinaryType column; the codec is pluggable
because image libraries (PIL) are not in this container:

- :class:`RawCodec` — a deterministic, dependency-free raster format
  (12-byte header ``RAW0|w|h`` + uint8 RGB bytes) with real
  nearest-neighbor resampling in numpy. Tests and oracle queries run
  on it; resize/feature semantics are genuinely exercised.
- :class:`PILCodec` — the production JPEG path, import-gated; decode
  raises ImportError (not a silent fake) when PIL is absent.

Codec contract — RawCodec is batched, every other codec runs per row:

- **RawCodec** rows are processed a whole Arrow batch at a time,
  straight from the binary column's offsets and data buffers. Every
  RAW0 header is parsed in one vectorized step (:func:`_raw_headers`:
  magic, width, height, exact length); valid rows are grouped by
  source ``(w, h)`` and resized with two nearest-neighbor ``np.take``
  gathers per group (columns, then whole rows); output blobs are written into one contiguous
  ``uint8`` buffer and wrapped as a ``pa.BinaryArray`` — no per-row
  ``bytes`` objects, no pandas frame.
- **Every other row** — any row of a non-Raw codec (PILCodec), and
  RawCodec rows the header check rejects (NULL, truncated, wrong
  magic, non-positive dimensions) — goes through the per-row
  ``codec.decode/resize/encode`` path, so quarantine statuses
  (``error:<ExceptionType>``) are exactly the codec's own.

Scale notes: binary work is sized by BYTES not rows, enforced at TWO
levels (SURVEY.md §4 hard-parts list):

- **inside the operators** — every stage cuts each Arrow batch into
  row ranges whose per-row byte counts (input blob + estimated output
  blob) sum to at most ``_TARGET_BATCH_BYTES`` (:func:`_slices`).
  Arrow caps input batches by ROWS (``maxRecordsPerBatch``, default
  10k), which is the wrong unit here: 10k rows of 2 KB thumbnails
  resized to 224×224 would be a 1.5 GB output batch per worker. The
  operator protects ANY caller.
- **in the queries** — :func:`bytes_sized_partitions` derives the
  partition count from estimated output bytes so task memory stays
  bounded and parallelism tracks blob volume, not input row count.

The transform itself is embarrassingly parallel (no shuffle).
"""

from __future__ import annotations

import struct
from collections.abc import Callable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MAGIC = b"RAW0"
_HEADER = struct.Struct("<4sii")  # magic, width, height

#: max estimated bytes (input + output blobs) one in-flight row range
#: of a blob stage may hold; also the per-partition byte target for
#: :func:`bytes_sized_partitions`. 64 MB keeps 32 concurrent Python
#: workers around ~2 GB of peak batch memory while staying far above
#: Arrow framing overhead.
_TARGET_BATCH_BYTES = 64 << 20


def _slices(row_bytes) -> Iterator[tuple[int, int]]:
    """Yield ``(start, stop)`` row ranges — in order, covering every
    row — whose summed ``row_bytes`` stay under ``_TARGET_BATCH_BYTES``;
    a single row larger than the target gets a range of its own.

    Cuts greedily on the cumulative sum, one binary search per range.
    A mean-derived fixed row count overshoots on size-skewed batches: a
    few very large blobs among many tiny ones pull the mean down while
    a range that happens to catch the large ones blows past the target.
    """
    cum = np.concatenate(([0], np.cumsum(row_bytes, dtype=np.int64)))
    n, start = len(cum) - 1, 0
    while start < n:
        stop = int(np.searchsorted(cum, cum[start] + _TARGET_BATCH_BYTES, "right"))
        stop = max(stop - 1, start + 1)
        yield start, stop
        start = stop


def _buffers(col: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """``(offsets, data)`` of a ``binary`` or ``large_binary`` array at
    any ``offset``: its ``len + 1`` row offsets as int64 and its whole
    data buffer as uint8 (Spark sends ``large_binary`` under
    ``spark.sql.execution.arrow.useLargeVarTypes``)."""
    _, offsets, values = col.buffers()
    width = np.dtype(np.int64 if pa.types.is_large_binary(col.type) else np.int32)
    offs = np.frombuffer(offsets, width, len(col) + 1, col.offset * width.itemsize)
    data = np.empty(0, np.uint8) if values is None else np.frombuffer(values, np.uint8)
    return offs.astype(np.int64), data


def _raw_headers(col: pa.Array) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized RAW0 header parse of a binary array: ``(ok, w, h)``.

    ``ok`` marks the rows RawCodec can be batched on: non-NULL, at
    least a header long, RAW0 magic, positive width and height, and
    exactly ``12 + w*h*3`` bytes. ``w``/``h`` (int64) are the header's
    dimensions wherever a full header is present.
    """
    offs, data = _buffers(col)
    start, length = offs[:-1], np.diff(offs)
    ok = length >= _HEADER.size
    if col.null_count:
        ok &= col.is_valid().to_numpy(zero_copy_only=False)
    rows = np.flatnonzero(ok)
    head = data[start[rows, None] + np.arange(_HEADER.size)]
    w = np.zeros(len(col), np.int64)
    h = np.zeros(len(col), np.int64)
    w[rows] = head[:, 4:8].copy().view("<i4")[:, 0]
    h[rows] = head[:, 8:12].copy().view("<i4")[:, 0]
    ok[rows] = (head[:, :4] == np.frombuffer(_MAGIC, np.uint8)).all(axis=1)
    # w*h < 2**62 cannot overflow; 3*w*h could, so divide the length
    pixels = length - _HEADER.size
    return ok & (w > 0) & (h > 0) & (pixels % 3 == 0) & (pixels // 3 == w * h), w, h


def _headers(col: pa.Array, codec) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """:func:`_raw_headers` for RawCodec; under any other codec no row
    is batched (all ``ok`` False, every row takes the per-row path)."""
    if codec is RawCodec:
        return _raw_headers(col)
    n = len(col)
    return np.zeros(n, bool), np.zeros(n, np.int64), np.zeros(n, np.int64)


def _size_groups(col: pa.Array, ok, w, h) -> Iterator[tuple]:
    """Yield ``(rows, w, h, pixels)`` per source size among the rows
    ``ok`` marks; ``pixels`` is the rows' ``(len(rows), h*w*3)`` uint8
    rasters, gathered by one Arrow ``take`` of the group's blobs."""
    valid = np.flatnonzero(ok)
    if not len(valid):
        return
    sizes, group = np.unique(
        np.stack([w[valid], h[valid]], axis=1), axis=0, return_inverse=True
    )
    for g, (gw, gh) in enumerate(sizes.tolist()):
        rows = valid[group.reshape(-1) == g]
        # every taken blob is blob_len long, so they sit back to back
        offs, data = _buffers(col.take(rows))
        blob_len = _HEADER.size + gw * gh * 3
        blobs = data[offs[0] : offs[0] + len(rows) * blob_len]
        yield rows, gw, gh, blobs.reshape(len(rows), blob_len)[:, _HEADER.size :]


def _nn(dst: int, src: int):
    """Nearest-neighbor source index of each of ``dst`` output steps."""
    return (np.arange(dst) * src // dst).clip(0, src - 1)


def _binary_array(ok, blob_len: int, data) -> pa.Array:
    """``binary`` array of ``len(ok)`` rows: rows marked ``ok`` hold the
    consecutive ``blob_len``-byte blobs of the uint8 buffer ``data``,
    the others are NULL."""
    n, k = len(ok), int(np.count_nonzero(ok))
    offsets = np.zeros(n + 1, np.int64)
    np.cumsum(np.where(ok, blob_len, 0), out=offsets[1:])
    if offsets[-1] >= 1 << 31:
        raise OverflowError(f"{offsets[-1]} output bytes exceed int32 Arrow offsets")
    validity = None if k == n else pa.array(ok).buffers()[1]
    return pa.BinaryArray.from_buffers(
        pa.binary(),
        n,
        [validity, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(data)],
        null_count=n - k,
    )


def _map_slices(
    df: DataFrame,
    new_fields: list[tuple[str, str]],
    row_bytes: Callable[[pa.RecordBatch], np.ndarray],
    kernel: Callable[[pa.RecordBatch], list[pa.Array]],
) -> DataFrame:
    """The mapInArrow stage all three operators share: cut each Arrow
    batch into byte-bounded row ranges (:func:`_slices` over
    ``row_bytes(batch)``) and yield each range's input columns followed
    by the ``new_fields`` columns ``kernel(range)`` computes."""
    fields = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
    fields += new_fields
    names = [name for name, _ in fields]

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for start, stop in _slices(row_bytes(batch)):
                part = batch.slice(start, stop - start)
                yield pa.RecordBatch.from_arrays(part.columns + kernel(part), names)

    return df.mapInArrow(run, ", ".join(f"{n} {t}" for n, t in fields))


def _blob_bytes(col: pa.Array, extra: int) -> np.ndarray:
    """Per-row byte estimate of a blob stage: input blob length (NULL
    counts 0) plus ``extra`` output bytes."""
    return pc.binary_length(col).fill_null(0).to_numpy().astype(np.int64) + extra


def bytes_sized_partitions(
    df: DataFrame, n_rows: int, est_row_bytes: int
) -> int:
    """Partition count for a blob stage: enough partitions that each
    holds ~``_TARGET_BATCH_BYTES`` of estimated OUTPUT blobs, floored
    at defaultParallelism so small inputs still use every core. The
    row count is the caller's (one metadata-cheap ``count()`` on the
    pruned scan — the same documented eager pattern as the simjoin's
    occurrence probe)."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    return max(cores, -(-int(n_rows) * int(est_row_bytes) // _TARGET_BATCH_BYTES))


class RawCodec:
    """Deterministic raster codec: RAW0 header + row-major RGB bytes."""

    @staticmethod
    def encode(arr) -> bytes:
        arr = np.asarray(arr, dtype=np.uint8)
        h, w, c = arr.shape
        assert c == 3, "RGB only"
        return _HEADER.pack(_MAGIC, w, h) + arr.tobytes()

    @staticmethod
    def decode(blob: bytes):
        magic, w, h = _HEADER.unpack_from(blob)
        if magic != _MAGIC:
            raise ValueError("not a RAW0 blob")
        return np.frombuffer(blob, dtype=np.uint8, offset=_HEADER.size).reshape(
            h, w, 3
        )

    @staticmethod
    def resize(arr, size: tuple[int, int]):
        """Nearest-neighbor resample to (width, height)."""
        w, h = size
        src_h, src_w, _ = arr.shape
        return arr[_nn(h, src_h)[:, None], _nn(w, src_w)[None, :], :]


class PILCodec:
    """Production JPEG codec — import-gated on Pillow."""

    @staticmethod
    def _pil():
        try:
            from PIL import Image
        except ImportError as e:  # pragma: no cover - container lacks PIL
            raise ImportError(
                "Pillow not installed; use RawCodec for the tested path"
            ) from e
        return Image

    @classmethod
    def decode(cls, blob: bytes):
        import io

        return np.asarray(cls._pil().open(io.BytesIO(blob)).convert("RGB"))

    @classmethod
    def encode(cls, arr) -> bytes:
        import io

        img = cls._pil().fromarray(arr, mode="RGB")
        buf = io.BytesIO()
        img.save(buf, format="JPEG")
        return buf.getvalue()

    @staticmethod
    def resize(arr, size: tuple[int, int]):
        Image = PILCodec._pil()
        return np.asarray(Image.fromarray(arr).resize(size))


def _synthesize_batch(keys: pa.Array, width: int, height: int) -> list[pa.Array]:
    """``[images]`` for one integer key array (see :func:`synthesize_images`)."""
    if keys.null_count:
        raise ValueError("synthesize_images: NULL key")
    y, x, c = np.ogrid[0:height, 0:width, 0:3]
    base = (y * 7 + x * 3 + c).astype(np.int64).ravel()
    # (k*31 + b) mod 256 == ((k mod 256)*31 + b) mod 256, no overflow
    k = keys.to_numpy().astype(np.int64) % 256
    blob_len = _HEADER.size + base.size
    blobs = np.empty((len(k), blob_len), np.uint8)
    blobs[:, : _HEADER.size] = np.frombuffer(_HEADER.pack(_MAGIC, width, height), np.uint8)
    blobs[:, _HEADER.size :] = (k[:, None] * 31 + base) % 256
    return [_binary_array(np.ones(len(k), bool), blob_len, blobs)]


def synthesize_images(
    df: DataFrame, key_col: str, *, width: int = 32, height: int = 24
) -> DataFrame:
    """Deterministic fake images keyed by an integer column — the
    fixture generator for multimodal tests (testdata has no blobs).
    Pixel (y, x, c) = (key*31 + y*7 + x*3 + c) mod 256."""
    est = width * height * 3 + 64  # output blob + key columns
    return _map_slices(
        df,
        [("image", "binary")],
        lambda b: np.full(b.num_rows, est),
        lambda part: _synthesize_batch(part.column(key_col), width, height),
    )


def _transform_row(codec, blob, size) -> tuple[bytes | None, str]:
    """The per-row path: one blob through ``codec``, PERMISSIVE-style."""
    try:
        arr = codec.decode(bytes(blob))
        return codec.encode(codec.resize(arr, size)), "ok"
    except Exception as e:  # noqa: BLE001 - quarantine row
        return None, f"error:{type(e).__name__}"


def _transform_batch(col: pa.Array, size: tuple[int, int], codec) -> list[pa.Array]:
    """``[blobs, statuses]`` for one binary array: RawCodec-valid rows
    batched per source size, every other row through
    :func:`_transform_row`."""
    n = len(col)
    ok, w, h = _headers(col, codec)
    out_w, out_h = (max(int(d), 0) for d in size)  # the codec's resize shape
    blob_len = _HEADER.size + out_h * out_w * 3
    blobs = np.empty((int(np.count_nonzero(ok)), blob_len), np.uint8)
    blobs[:, : _HEADER.size] = np.frombuffer(_HEADER.pack(_MAGIC, out_w, out_h), np.uint8)
    slot = np.cumsum(ok) - 1  # each valid row's line in ``blobs``
    for rows, gw, gh, pixels in _size_groups(col, ok, w, h):
        # nearest-neighbor is separable: gather the output columns of
        # each source row, then whole output rows
        cols = np.take(pixels.reshape(-1, gh, gw, 3), _nn(out_w, gw), axis=2)
        cols = cols.reshape(-1, gh, out_w * 3)
        rasters = np.take(cols, _nn(out_h, gh), axis=1)
        blobs[slot[rows], _HEADER.size :] = rasters.reshape(len(rows), -1)
    out = _binary_array(ok, blob_len, blobs)

    labels, codes = ["ok"], np.zeros(n, np.int32)
    decoded_rows, decoded = [], []
    for i in np.flatnonzero(~ok).tolist():
        blob, status = _transform_row(codec, col[i].as_py(), size)
        if blob is not None:
            decoded_rows.append(i)
            decoded.append(blob)
        if status != "ok":
            codes[i] = len(labels)
            labels.append(status)
    if decoded:
        # rows the header check rejected but the codec still decodes
        # (any non-Raw codec; negative-dimension RAW0 headers numpy can
        # reshape): splice their blobs in at their rows
        pick = np.arange(n)
        pick[decoded_rows] = n + np.arange(len(decoded))
        out = pa.concat_arrays([out, pa.array(decoded, pa.binary())]).take(pick)
    return [out, pa.array(labels, pa.string()).take(codes)]


def transform_images(
    df: DataFrame,
    image_col: str = "image",
    *,
    size: tuple[int, int] = (224, 224),
    codec=RawCodec,
    out_col: str = "image_transformed",
) -> DataFrame:
    """C6: decode -> resize -> re-encode, PERMISSIVE-style.

    Adds (out_col binary, ``{out_col}_status`` string): failures
    yield status='error:<ExceptionType>' quarantine rows instead of
    killed tasks (the reference's try/except-continue,
    src/transform_load.py:121-123, §2.11 convention). No shuffle;
    scales with executors.
    """
    # each output row carries BOTH the source blob (all input fields
    # pass through) and the resized one — bound ranges by their sum
    out_blob = size[0] * size[1] * 3 + 16
    return _map_slices(
        df,
        [(out_col, "binary"), (f"{out_col}_status", "string")],
        lambda b: _blob_bytes(b.column(image_col), out_blob),
        lambda part: _transform_batch(part.column(image_col), size, codec),
    )


def _features_batch(col: pa.Array, codec) -> list[pa.Array]:
    """``[width, height, channel_means]`` for one binary array:
    RawCodec-valid rows from the header and one mean per source size,
    every other row decoded by ``codec`` (which raises on a bad blob,
    failing the task)."""
    n = len(col)
    ok, w, h = _headers(col, codec)
    means = np.empty((n, 3))
    for rows, gw, gh, pixels in _size_groups(col, ok, w, h):
        means[rows] = pixels.reshape(len(rows), gh * gw, 3).mean(axis=1)
    for i in np.flatnonzero(~ok).tolist():
        arr = codec.decode(bytes(col[i].as_py()))
        h[i], w[i] = arr.shape[:2]
        means[i] = arr.mean(axis=(0, 1))
    return [
        pa.array(w, pa.int32()),
        pa.array(h, pa.int32()),
        pa.ListArray.from_arrays(
            pa.array(np.arange(0, 3 * n + 1, 3, dtype=np.int32)),
            pa.array(means.astype(np.float32).ravel()),
        ),
    ]


def image_features(
    df: DataFrame, image_col: str = "image", *, codec=RawCodec
) -> DataFrame:
    """Feature extraction: width/height from the typed header plus
    per-channel means — the embedding-stub shape a training pipeline
    feeds downstream (array<float> column)."""
    return _map_slices(
        df,
        [("width", "int"), ("height", "int"), ("channel_means", "array<float>")],
        lambda b: _blob_bytes(b.column(image_col), 64),
        lambda part: _features_batch(part.column(image_col), codec),
    )


def decoded_length(image_col) -> "F.Column":
    """JVM-side typed-metadata read: pixel-byte length implied by the
    RAW0 header (w*h*3), without decoding the raster. Filters and
    planning on image dims stay codegen'd; only the real pixel work
    crosses into Python."""
    c = F.col(image_col) if isinstance(image_col, str) else image_col
    # header is little-endian: magic(4) | int32 w | int32 h — read each
    # int32 by reversing its bytes into big-endian hex and converting
    w = (
        F.conv(
            F.concat(
                F.hex(F.substring(c, 8, 1)),
                F.hex(F.substring(c, 7, 1)),
                F.hex(F.substring(c, 6, 1)),
                F.hex(F.substring(c, 5, 1)),
            ),
            16,
            10,
        )
    ).cast("long")
    h = (
        F.conv(
            F.concat(
                F.hex(F.substring(c, 12, 1)),
                F.hex(F.substring(c, 11, 1)),
                F.hex(F.substring(c, 10, 1)),
                F.hex(F.substring(c, 9, 1)),
            ),
            16,
            10,
        )
    ).cast("long")
    return (w * h * 3).alias("decoded_length")
