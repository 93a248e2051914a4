"""Perceptual image near-dup (llm/image_dedup.py): dHash over the
stdlib PNG codec + banded hamming grouping.  Fixtures are synthetic
PNGs minted by llm/png_codec.encode — real decode, zero optional deps."""

from __future__ import annotations

import numpy as np
import pytest

from verified_sources_spark.llm.image_dedup import (
    _dhash_of_pixels,
    image_dedup_groups,
    image_dedup_keep,
    image_dhash,
)
from verified_sources_spark.llm.png_codec import encode


def _gradient_img(w, h, seed, edits=0):
    """Deterministic structured image: a seeded low-res random pattern
    blown up to (h, w) — non-monotone content a difference hash can
    actually distinguish (a plain gradient hashes to constant bits).
    ``edits`` perturbs a few pixels, as a light retouch would."""
    rng = np.random.default_rng(seed)
    coarse = rng.integers(0, 256, size=(6, 8))
    gray = np.kron(coarse, np.ones((h // 6 + 1, w // 8 + 1)))[:h, :w].astype(
        np.uint8
    )
    rgb = np.stack([gray, gray, gray], axis=2).copy()
    for i in range(edits):
        rgb[(i * 7) % h, (i * 13) % w] = [255, 0, 0]
    return rgb


def _png(rgb):
    h, w, _ = rgb.shape
    return encode(w, h, rgb.tobytes(), "RGB")


def _upscale2x(rgb):
    return np.repeat(np.repeat(rgb, 2, axis=0), 2, axis=1)


def _hamming(a, b):
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def test_dhash_deterministic_and_rescale_invariant():
    img = _gradient_img(64, 48, seed=7)
    h1 = _dhash_of_pixels(img.tobytes(), 64, 48, 3, 8)
    h2 = _dhash_of_pixels(img.tobytes(), 64, 48, 3, 8)
    assert h1 == h2
    up = _upscale2x(img)
    h_up = _dhash_of_pixels(up.tobytes(), 128, 96, 3, 8)
    # area-mean pooling: a 2x nearest upscale averages the same blocks
    assert _hamming(h1, h_up) <= 2
    other = _gradient_img(64, 48, seed=99)
    # different content is far in hamming space
    assert _hamming(h1, _dhash_of_pixels(other.tobytes(), 64, 48, 3, 8)) > 10


def test_image_dhash_spark_and_corrupt_isolation(spark):
    base = _gradient_img(40, 40, seed=1)
    rows = [
        (1, bytearray(_png(base))),
        (2, bytearray(b"not a png at all")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, asset binary")
    got = {r.doc_id: r for r in image_dhash(df).collect()}
    assert got[1].decoded_ok and got[1].width == 40 and got[1].dhash is not None
    assert not got[2].decoded_ok and got[2].dhash is None


def test_image_dedup_groups_and_keep(spark):
    base = _gradient_img(64, 48, seed=3)
    edited = _gradient_img(64, 48, seed=3, edits=4)  # few pixels differ
    upscaled = _upscale2x(base)
    unrelated = _gradient_img(64, 48, seed=42)
    rows = [
        (1, bytearray(_png(base))),
        (2, bytearray(_png(edited))),
        (3, bytearray(_png(upscaled))),
        (4, bytearray(_png(unrelated))),
        (5, bytearray(b"corrupt")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, asset binary")
    groups = {r.doc_id: (r.group, r.group_size)
              for r in image_dedup_groups(df).collect()}
    assert len(groups) == 5  # every id labeled, corrupt included
    g1 = groups[1][0]
    assert groups[2][0] == g1 and groups[3][0] == g1
    assert groups[1][1] == 3
    assert groups[4][0] != g1 and groups[4][1] == 1
    assert groups[5][0] != g1 and groups[5][1] == 1  # singleton, not dropped

    kept = {r.doc_id for r in image_dedup_keep(df).collect()}
    assert kept == {1, 4, 5}  # lowest id per group; corrupt asset kept


def test_hash_size_guard():
    import pyspark.sql.functions as F  # noqa: F401

    with pytest.raises(ValueError, match="hash_size"):
        image_dhash(None, hash_size=12)


def test_cross_format_png_jpeg_dedup(spark):
    """The same photo stored as PNG and as JPEG (the most common dup
    class in a scraped corpus) lands in ONE perceptual group; a
    different photo stays out."""
    from verified_sources_spark.llm.jpeg_codec import encode as jpeg_encode

    img = _gradient_img(64, 48, seed=21)
    rows = [
        (1, bytearray(_png(img))),
        (2, bytearray(jpeg_encode(64, 48, img.tobytes(), quality=90))),
        (3, bytearray(jpeg_encode(64, 48, img.tobytes(), quality=90,
                                  subsampling="4:2:0"))),
        (4, bytearray(_png(_gradient_img(64, 48, seed=99)))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, asset binary")
    hashes = {r.doc_id: r for r in image_dhash(df).collect()}
    assert all(hashes[i].decoded_ok for i in (1, 2, 3, 4))
    assert _hamming(hashes[1].dhash, hashes[2].dhash) <= 4
    assert _hamming(hashes[1].dhash, hashes[3].dhash) <= 4

    groups = {r.doc_id: r.group
              for r in image_dedup_groups(df).collect()}
    assert groups[1] == groups[2] == groups[3]
    assert groups[4] != groups[1]


def test_dhash_exact_in_mixed_refusal_batches(spark):
    """A batch mixing refusal rows (None) with 64-bit hashes must NOT
    demote the hash column to float64 (53-bit mantissa) — the same
    asset must hash identically whether or not its batch also carried
    a corrupt file.  Regression for the pandas list-of-dicts dtype
    trap (boundary.map_rows builds long columns as nullable Int64)."""
    from verified_sources_spark.llm.image_dedup import image_dhash
    from verified_sources_spark.llm.png_codec import encode as penc
    import numpy as np

    rng = np.random.default_rng(3)
    rgb = rng.integers(0, 256, size=(16, 24, 3)).astype("uint8").tobytes()
    png = penc(24, 16, rgb)
    pure = spark.createDataFrame(
        [(1, bytearray(png))], "doc_id long, asset binary")
    mixed = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(b"junk"))],
        "doc_id long, asset binary").coalesce(1)
    h_pure = image_dhash(pure).filter("doc_id = 1").first().dhash
    h_mixed = image_dhash(mixed).filter("doc_id = 1").first().dhash
    assert h_pure == h_mixed
