"""Perceptual image hashing + image near-duplicate detection.

Training-data pipelines dedup images the same way they dedup text:
a compact locality-sensitive signature per item, then a banded
equi-join so candidate generation never goes all-pairs. This module
implements dHash (difference hash — Krawetz's gradient hash: resize
to (HASH_H, HASH_W+1) grayscale, one bit per horizontal gradient
sign), which is the standard cheap near-dup signature for crawl
images, and a banded Hamming self-join over it.

Scale shape (the 100 TB contract):

* `dhash_images` is one Arrow-batched mapInPandas pass over the media
  table — payloads are read once and never re-emitted; the output is
  8 bytes per image.
* `image_neardup` explodes each 64-bit hash into `bands` fixed bit
  slices and equi-joins on (band_idx, band_val) — by pigeonhole two
  hashes within Hamming distance `bands - 1` agree on at least one
  slice, so for max_hamming <= bands-1 the banded join is EXACT (it
  is candidate generation + cheap JVM-side bit_count verify, not an
  approximation). The join is a plain shuffled equi-join on a
  16-bit-cardinality key space times band index; no all-pairs stage
  anywhere.

The reference repo (pandas/SQLite, text-only) has no image pipeline;
this extends the engine's dedup family (operators/dedup.py) to the
binary-media columns of the BASELINE input shape.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HASH_H = 8
HASH_W = 8  # bits per row; resize target is (HASH_H, HASH_W + 1)

_DHASH_SCHEMA = "media_id string, dhash long"


def luma(img: np.ndarray) -> np.ndarray:
    """Integer BT.601 luma (no float round-trip, so the value is
    exactly reproducible by any integer reimplementation):
    y = (299 R + 587 G + 114 B) // 1000. Grayscale passes through."""
    if img.ndim == 2:
        return img
    rgb = img[..., :3].astype(np.int64)
    return (
        (299 * rgb[..., 0] + 587 * rgb[..., 1] + 114 * rgb[..., 2]) // 1000
    ).astype(np.uint8)


def dhash(img: np.ndarray) -> int:
    """64-bit dHash of a decoded image: nearest-resize the luma plane
    to (HASH_H, HASH_W + 1), bit (r, c) = 1 iff px[r, c] > px[r, c+1],
    packed row-major MSB-first ((0,0) is bit 63). Returned as the
    int64 two's-complement view of the uint64 so it rides a Spark
    `long` column unchanged."""
    from .multimodal import resize_nearest

    g = resize_nearest(luma(img), HASH_H, HASH_W + 1)
    bits = (g[:, :HASH_W] > g[:, 1:]).reshape(-1)
    u = int.from_bytes(np.packbits(bits.astype(np.uint8)).tobytes(), "big")
    return u - (1 << 64) if u >= (1 << 63) else u


def dhash_images(media: DataFrame) -> DataFrame:
    """media table -> (media_id, dhash long). One Arrow pass; rows
    whose payload is missing or undecodable yield NULL dhash (crawl
    media is full of truncated payloads — never an error)."""
    from .multimodal import _decode_image

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for payload in pdf["payload"]:
                if payload is None or len(payload) == 0:
                    out.append(None)
                    continue
                try:
                    out.append(dhash(_decode_image(bytes(payload))))
                except (ValueError, NotImplementedError):
                    out.append(None)
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "dhash": pd.array(
                    out, dtype="Int64"
                )}
            )

    return media.mapInPandas(run, schema=_DHASH_SCHEMA)


def image_neardup(
    media: DataFrame, max_hamming: int = 6, bands: int = 8
) -> DataFrame:
    """Near-duplicate image pairs -> (media_a, media_b, hamming).

    EXACT for max_hamming <= bands - 1 (pigeonhole over `bands` bit
    slices of the 64-bit dHash); above that it degrades to recall-only
    candidate generation and raises to keep semantics honest. All
    post-hash work is JVM-side built-ins (shift/mask band keys, one
    equi-join, bit_count verify)."""
    if 64 % bands != 0:
        raise ValueError("bands must divide 64")
    if max_hamming > bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the exactness bound "
            f"bands-1={bands - 1}; raise bands or lower the threshold"
        )
    width = 64 // bands
    mask = (1 << width) - 1
    h = dhash_images(media).where(F.col("dhash").isNotNull())
    # both self-join sides consume the hash table; without a checkpoint
    # the MapInPandas decode subtree executes twice (the most
    # expensive stage of the whole plan)
    h = h.localCheckpoint(eager=False)
    slices = F.array(
        *[
            F.struct(
                F.lit(k).alias("band_idx"),
                (
                    F.shiftrightunsigned(F.col("dhash"), k * width)
                    .bitwiseAND(F.lit(mask))
                ).alias("band_val"),
            )
            for k in range(bands)
        ]
    )
    banded = h.select(
        "media_id", "dhash", F.explode(slices).alias("s")
    ).select("media_id", "dhash", "s.band_idx", "s.band_val")
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            on=[
                F.col("a.band_idx") == F.col("b.band_idx"),
                F.col("a.band_val") == F.col("b.band_val"),
                F.col("a.media_id") < F.col("b.media_id"),
            ],
        )
        .select(
            F.col("a.media_id").alias("media_a"),
            F.col("b.media_id").alias("media_b"),
            F.col("a.dhash").alias("ha"),
            F.col("b.dhash").alias("hb"),
        )
        .distinct()
    )
    return pairs.select(
        "media_a",
        "media_b",
        F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("hamming"),
    ).where(F.col("hamming") <= max_hamming)
