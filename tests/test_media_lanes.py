"""The payload harness (`binaryops.map_payloads`) and the media lanes
built on it: every decode-side lane passes zero rows, decodes one row,
and degrades on a NULL or malformed payload instead of failing the
Python worker."""

from __future__ import annotations

import hashlib
import struct
import zlib

import numpy as np
import pytest
from pyspark.sql import types as T

from banking_data_etl_pipeline_spark.multimodal import binaryops as B
from banking_data_etl_pipeline_spark.multimodal import jpeg


def _media_png(body: bytes, w: int = 40, h: int = 33) -> bytes:
    """``synthesize_media``'s image container around ``body``."""
    ihdr = struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00"
    return (
        B.PNG_SIG
        + B._png_chunk_bytes(b"IHDR", ihdr)
        + B._png_chunk_bytes(b"IDAT", body)
        + B.PNG_IEND
    )


def _wav(samples: list[int]) -> bytes:
    data = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    return (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


_RGB = bytes([1, 2, 3, 4, 5, 6])  # a 2x1 raster: channel sums 5, 7, 9
_ZPNG = (
    B.PNG_SIG
    + B._png_chunk_bytes(b"IHDR", struct.pack(">II", 2, 1) + b"\x08\x02\x00\x00\x00")
    + B._png_chunk_bytes(b"IDAT", zlib.compress(B._png_filter_lines(_RGB, 2, 1, 0)))
    + B.PNG_IEND
)
_GRAY = jpeg.encode_gray_jpeg(np.full((8, 8), 100, np.uint8))
_COLOR = jpeg.encode_color_jpeg(
    np.full((16, 16), 100, np.uint8),
    np.full((8, 8), 50, np.uint8),
    np.full((8, 8), 200, np.uint8),
)
_PHASH_ABC = "0" * 10 + "1" + "0" * 5  # only "c" is above the mean of "abc"

# lane -> (kind, payload, its output row, its output row for a NULL
# payload, or None when the lane drops that row)
_LANES = {
    "extract_features": (
        B.extract_features, "image", _media_png(b"abc"),
        (1, "image", 33, 40, 3, None, None, None, 60),
        (1, "image") + (None,) * 7,
    ),
    "resize_media": (
        B.resize_media, "image", _media_png(b"abc"),
        (1, "image", 64, 64, 60, hashlib.sha256(b"abc").hexdigest()),
        (1, "image") + (None,) * 4,
    ),
    "decode_ppm": (
        B.decode_ppm, "image", b"P6\n2 1\n255\n" + _RGB,
        (1, 2, 1, 255, 2, 5, 7, 9),
        (1,) + (None,) * 7,
    ),
    "decode_pcm": (
        B.decode_pcm, "audio", _wav([1, -2, 3]), (1, 3, 2, 3, 2), None,
    ),
    "decode_png": (
        B.decode_png, "image", _ZPNG, (1, 2, 1, 2, 5, 7, 9), (1,) + (None,) * 6,
    ),
    "block_mean_hash": (
        B.block_mean_hash, "image", _media_png(b"abc"),
        (1, "image", 3, _PHASH_ABC),
        (1, "image", None, None),
    ),
    "decode_jpeg": (
        jpeg.decode_jpeg, "image", _GRAY,
        (1, 8, 8, 64, 6400, 100, 100),
        (1,) + (None,) * 6,
    ),
    "decode_color_jpeg_stats": (
        jpeg.decode_color_jpeg_stats, "image", _COLOR,
        (1, 16, 16, 256, 25600, 3200, 12800, 100, 100),
        (1,) + (None,) * 8,
    ),
}


def _run(spark, lane, rows):
    media = spark.createDataFrame(rows, B.MEDIA_SCHEMA)
    return [tuple(r) for r in lane(media).collect()]


@pytest.mark.parametrize("name", sorted(_LANES))
def test_lane_on_zero_rows_one_row_and_a_null_payload(spark, name):
    lane, kind, payload, row, null_row = _LANES[name]
    assert _run(spark, lane, []) == []
    assert _run(spark, lane, [(1, kind, payload, None)]) == [row]
    expect_null = [] if null_row is None else [null_row]
    assert _run(spark, lane, [(1, kind, None, None)]) == expect_null


@pytest.mark.parametrize(
    "payload",
    [b"\x89PNG", b"P6\n2 1\n255\n" + _RGB, _media_png(b"abc", w=0)],
    ids=["truncated_png", "ppm", "zero_width"],
)
def test_resize_media_degrades_on_a_malformed_image(spark, payload):
    rows = _run(spark, B.resize_media, [(1, "image", payload, None)])
    assert rows == [(1, "image") + (None,) * 4]


def test_map_payloads_drops_none_keeps_nulls_and_exact_longs(spark):
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("n", T.IntegerType()),
            T.StructField("total", T.LongType()),
            T.StructField("tag", T.StringType()),
        ]
    )
    big = 2**62 + 1  # float64 would round it

    def fn(i):
        if i == 2:
            return None
        if i == 3:
            return i, None, None, None
        return i, 7, sum([big, i]), "x"

    # one partition: the NULL and the big value share a batch
    ids = spark.range(1, 4).coalesce(1)
    out = sorted(tuple(r) for r in B.map_payloads(ids, fn, schema).collect())
    assert out == [(1, 7, big + 1, "x"), (3, None, None, None)]
