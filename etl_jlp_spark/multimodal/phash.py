"""Perceptual-hash (DCT pHash) image deduplication.

Byte-level dedup (md5 of the payload) misses the dominant duplication
mode in crawled image corpora: the SAME picture re-encoded (png↔bmp↔
jpeg), resized, or slightly noised. pHash — grayscale → fixed 32×32
resample → 2-D DCT-II → sign-of-low-frequency-coefficients — is the
classic content fingerprint (64 bits) whose Hamming distance tracks
visual similarity, so re-encodes collapse to distance 0 and noisy
variants to a small distance.

Spark shape (the same banded-LSH discipline as the text/embedding
dedups in operators/similarity.py):
- hashing is an Arrow-batched ``mapInPandas`` over the binary payload
  column — pixels never leave the executor, output is 1 long per image;
- candidate pairs come from an equi-join on 8-bit HASH BANDS (by the
  pigeonhole principle two hashes within Hamming distance 7 agree on at
  least one of the 8 bands), never a cross join;
- verification is ``bit_count(h_a ^ h_b)`` — JVM-side, codegen'd.

At 100 TB: the hashed relation is ~16 bytes/image, the band index 8
rows/image, both ≪ the media bytes; candidate volume is governed by
band-bucket sizes exactly like MinHash-LSH band joins.

The decode boundary is the in-repo codec registry (REAL for
bmp/png/jpeg/gif/tiff, loud ValueError otherwise) — consistent with
multimodal/binary.py's fail-loudly contract.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_jlp_spark.multimodal.binary import bmp_pixels, png_pixels

PHASH_SIZE = 32  # resample grid feeding the DCT
PHASH_DCT = 8  # low-frequency block kept (8×8 − DC = 63 sign bits + pad)
PHASH_BANDS = 8  # 8 bands × 8 bits; one exact band ⇒ candidate pair
DEFAULT_MAX_HAMMING = 7  # ≤7 is GUARANTEED caught by 8-band blocking

_PIXELS = {"bmp": bmp_pixels, "png": png_pixels}

# DCT-II basis, built once per process: C[u, x] = cos((2x+1)uπ/2N)
_DCT_BASIS = np.cos(
    np.pi * np.arange(PHASH_SIZE)[:, None] * (2 * np.arange(PHASH_SIZE)[None, :] + 1) / (2 * PHASH_SIZE)
)


def phash64(pixels: np.ndarray) -> int:
    """64-bit perceptual hash of an (h, w, ch) uint8 pixel plane.

    Deterministic everywhere: nearest-neighbor resample to 32×32 (no
    interpolation-library variance), exact float64 DCT via two basis
    matmuls, bits = coefficient > median of the 8×8 low-frequency block
    (DC excluded from both the bits and the median so global brightness
    cancels)."""
    if pixels.ndim == 2:
        pixels = pixels[:, :, None]
    h, w = pixels.shape[:2]
    if h < 1 or w < 1:
        raise ValueError("empty pixel plane")
    if pixels.shape[2] >= 3:
        gray = (
            0.299 * pixels[:, :, 0].astype(np.float64)
            + 0.587 * pixels[:, :, 1].astype(np.float64)
            + 0.114 * pixels[:, :, 2].astype(np.float64)
        )
    else:
        gray = pixels[:, :, 0].astype(np.float64)
    # area-averaged resample (box filter): each output cell is the mean
    # of its source rectangle — this is what makes the hash robust to
    # sparse pixel noise and resolution changes (nearest-neighbor picks
    # single pixels and transmits their noise straight into the DCT).
    # Integral image gives every box sum in O(1); for upsampled axes
    # (src < 32) cells clamp to ≥1 pixel, degrading to nearest.
    ii = np.zeros((h + 1, w + 1), dtype=np.float64)
    ii[1:, 1:] = gray.cumsum(axis=0).cumsum(axis=1)
    yb = (np.arange(PHASH_SIZE + 1) * h) // PHASH_SIZE
    xb = (np.arange(PHASH_SIZE + 1) * w) // PHASH_SIZE
    y0, y1 = yb[:-1], np.maximum(yb[1:], yb[:-1] + 1).clip(max=h)
    x0, x1 = xb[:-1], np.maximum(xb[1:], xb[:-1] + 1).clip(max=w)
    y0 = np.minimum(y0, y1 - 1)
    x0 = np.minimum(x0, x1 - 1)
    box = (
        ii[np.ix_(y1, x1)] - ii[np.ix_(y0, x1)] - ii[np.ix_(y1, x0)] + ii[np.ix_(y0, x0)]
    )
    area = (y1 - y0)[:, None] * (x1 - x0)[None, :]
    grid = box / area
    dct = _DCT_BASIS @ grid @ _DCT_BASIS.T
    low = dct[:PHASH_DCT, :PHASH_DCT].flatten()[1:]  # drop DC
    med = float(np.median(low))
    bits = low > med
    out = 0
    for b in bits:  # 63 bits; bit 63 stays 0
        out = (out << 1) | int(b)
    # keep the value in signed-64 range for Spark LongType (bit 63 is
    # always 0 here, but be explicit)
    return out & 0x7FFFFFFFFFFFFFFF


def image_phash(media: DataFrame) -> DataFrame:
    """(media_id, kind, phash) via Arrow-batched mapInPandas; only
    ``kind`` with an in-repo pixel decoder hash (others raise loudly —
    filter first if the table mixes in codec-library formats)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            hashes = []
            for kind, payload in zip(pdf["kind"], pdf["payload"]):
                fn = _PIXELS.get(kind)
                if fn is None:
                    raise ValueError(
                        f"no pixel decoder for kind={kind!r}; "
                        f"supported: {sorted(_PIXELS)}"
                    )
                hashes.append(phash64(fn(bytes(payload))))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "kind": pdf["kind"].values,
                    "phash": pd.array(hashes, dtype="int64"),
                }
            )

    return media.mapInPandas(batches, "media_id long, kind string, phash long")


def phash_bands(hashed: DataFrame) -> DataFrame:
    """(media_id, band, key): the 64-bit hash split into 8 one-byte
    bands — the blocking index."""
    cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftrightunsigned(F.col("phash"), 8 * b).bitwiseAND(F.lit(255)).alias("key"),
        )
        for b in range(PHASH_BANDS)
    ]
    return hashed.select(
        "media_id", F.explode(F.array(*cols)).alias("bk")
    ).select("media_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def phash_pairs_vs_index(
    probe: DataFrame,
    index: DataFrame,
    max_hamming: int = DEFAULT_MAX_HAMMING,
    dedupe_self: bool = False,
) -> DataFrame:
    """(id_a ∈ probe, id_b ∈ index, hamming) near-duplicate pairs.
    Banded equi-join generates candidates (complete for distances ≤
    ``PHASH_BANDS``−1 by pigeonhole); exact verification is one codegen'd
    ``bit_count(xor)``. No cross join at any scale. With
    ``dedupe_self`` (probe IS the index) only id_a < id_b survives;
    otherwise same-id hits are dropped (an image probing an index that
    already contains it is not a duplicate of itself)."""
    a = phash_bands(probe).alias("a")
    b = phash_bands(index).alias("b")
    idcmp = (
        (F.col("a.media_id") < F.col("b.media_id"))
        if dedupe_self
        else (F.col("a.media_id") != F.col("b.media_id"))
    )
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & idcmp,
        )
        .select(
            F.col("a.media_id").alias("id_a"),
            F.col("b.media_id").alias("id_b"),
        )
        .distinct()
    )
    ha = probe.select(F.col("media_id").alias("id_a"), F.col("phash").alias("ph_a"))
    hb = index.select(F.col("media_id").alias("id_b"), F.col("phash").alias("ph_b"))
    return (
        cand.join(ha, "id_a")
        .join(hb, "id_b")
        .withColumn(
            "hamming", F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b"))).cast("int")
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def phash_dedup_pairs(
    hashed: DataFrame, max_hamming: int = DEFAULT_MAX_HAMMING
) -> DataFrame:
    """Near-duplicate image pairs within one corpus (id_a < id_b)."""
    return phash_pairs_vs_index(hashed, hashed, max_hamming, dedupe_self=True)
