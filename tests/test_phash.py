"""Perceptual-hash image dedup: cross-format collapse, noise
tolerance, banded-blocking completeness."""

import numpy as np
import pytest
from pyspark.sql import Row

from etl_jlp_spark.multimodal.binary import MEDIA_SCHEMA, encode_bmp, encode_png
from etl_jlp_spark.multimodal.phash import (
    image_phash,
    phash64,
    phash_dedup_pairs,
)

W, H = 48, 32


def _ring(x, y):
    v = ((x - 24) ** 2 + (y - 16) ** 2) // 3 % 256
    return (v, v, v)


def _blocks(x, y):
    return (255 if (x // 8 + y // 8) % 2 else 0,) * 3


def _noisy_ring(x, y):
    r, g, b = _ring(x, y)
    if (x * 31 + y * 17) % 97 == 0:  # sparse deterministic noise
        return (min(255, r + 24), g, b)
    return (r, g, b)


def _media_df(spark, rows):
    return spark.createDataFrame(
        [
            Row(
                media_id=i,
                kind=kind,
                payload=bytearray(payload),
                meta=(f"src{i}", len(payload), W, H),
            )
            for i, (kind, payload) in enumerate(rows)
        ],
        MEDIA_SCHEMA,
    )


def test_phash_identical_across_formats():
    """Same pixels encoded as BMP and PNG must collapse to ONE hash."""
    from etl_jlp_spark.multimodal.binary import bmp_pixels, png_pixels

    h_bmp = phash64(bmp_pixels(encode_bmp(W, H, _ring)))
    h_png = phash64(png_pixels(encode_png(W, H, _ring)))
    assert h_bmp == h_png


def test_phash_noise_close_distinct_far():
    from etl_jlp_spark.multimodal.binary import bmp_pixels

    a = phash64(bmp_pixels(encode_bmp(W, H, _ring)))
    a2 = phash64(bmp_pixels(encode_bmp(W, H, _noisy_ring)))
    b = phash64(bmp_pixels(encode_bmp(W, H, _blocks)))
    ham = lambda x, y: bin(x ^ y).count("1")
    assert ham(a, a2) <= 7
    assert ham(a, b) > 12  # structurally different image


def test_phash_resize_invariant():
    """The same scene at 2× resolution keeps a small distance (the
    point of the fixed 32×32 resample)."""
    from etl_jlp_spark.multimodal.binary import bmp_pixels

    a = phash64(bmp_pixels(encode_bmp(W, H, _ring)))
    big = phash64(
        bmp_pixels(encode_bmp(W * 2, H * 2, lambda x, y: _ring(x // 2, y // 2)))
    )
    assert bin(a ^ big).count("1") <= 7


def test_phash_dedup_pairs_end_to_end(spark):
    rows = [
        ("bmp", encode_bmp(W, H, _ring)),  # 0
        ("png", encode_png(W, H, _ring)),  # 1: re-encode of 0
        ("bmp", encode_bmp(W, H, _noisy_ring)),  # 2: noisy variant
        ("bmp", encode_bmp(W, H, _blocks)),  # 3: different image
    ]
    hashed = image_phash(_media_df(spark, rows))
    out = hashed.collect()
    assert len(out) == 4 and all(r["phash"] >= 0 for r in out)
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in phash_dedup_pairs(hashed).collect()}
    assert pairs[(0, 1)] == 0  # cross-format exact dup
    assert (0, 2) in pairs and pairs[(0, 2)] <= 7
    assert all(3 not in p for p in pairs)  # the distinct image pairs with nothing


def test_phash_no_cartesian_plan(spark):
    rows = [("bmp", encode_bmp(W, H, _ring)), ("bmp", encode_bmp(W, H, _blocks))]
    plan = phash_dedup_pairs(image_phash(_media_df(spark, rows)))._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_phash_unknown_kind_raises(spark):
    df = _media_df(spark, [("mp4", b"\x00" * 64)])
    with pytest.raises(Exception, match="no pixel decoder"):
        image_phash(df).collect()


def test_phash_flat_image_stable():
    """Degenerate constant image: median threshold must not crash and
    the hash must be reproducible."""
    flat = np.full((H, W, 3), 128, dtype=np.uint8)
    assert phash64(flat) == phash64(flat)
