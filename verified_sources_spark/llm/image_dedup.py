"""Perceptual image near-duplicate detection over binary asset columns.

Training-data image corpora are full of near-identical assets — the same
photo re-encoded, resized, letterboxed, or lightly edited — that exact
byte/sha dedup (llm/exact_dedup.py on ``asset_meta.sha256``) cannot see.
The standard cure is a perceptual hash + hamming grouping; this module
implements **dHash** (difference hash: compare adjacent cells of a
downsampled grayscale grid — robust to re-encoding and uniform rescales,
cheap, and deterministic) over the engine's always-on pure-stdlib image
codecs (llm/image_io.py: PNG via png_codec, baseline JPEG via
jpeg_codec — so the same photo stored in both formats dedups
cross-format), then groups within hamming distance using the
SAME banded sorted-probe machinery as text simhash
(llm/simhash.fingerprint_dedup_groups) — candidates are linear in the
corpus, never all-pairs.

Scale shape: hashing is a narrow ``boundary.map_rows`` stage over the binary column
(payload bytes never shuffle; each asset reduces to one 64-bit long on
the executor that read it); grouping shuffles only (id, hash) pairs —
16 bytes a row no matter how large the images are.  Undecodable assets
yield ``decoded_ok=false`` and come back as singleton groups: at 100 TB
a media corpus WILL contain broken objects and one bad byte-string must
not kill the stage.

The reference has no image operators (its unstructured_data source is
text extraction only) — this is part of the engine's LLM-pipeline
surface beyond reference parity.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from verified_sources_spark.boundary import map_rows
from verified_sources_spark.cut import cut

DHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("decoded_ok", T.BooleanType()),
        T.StructField("dhash", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)


def _dhash_of_pixels(pixels: bytes, w: int, h: int, channels: int, size: int) -> int:
    """64-bit dHash (size=8): integer-exact grayscale, AREA-MEAN pool to a
    (size+1, size) grid, bit = left cell > right cell, row-major."""
    import numpy as np

    arr = np.frombuffer(pixels, dtype=np.uint8).reshape(h, w, channels)
    # ITU-R 601 luma in integer math (deterministic across platforms)
    gray = (
        arr[:, :, 0].astype(np.int64) * 299
        + arr[:, :, 1].astype(np.int64) * 587
        + arr[:, :, 2].astype(np.int64) * 114
    )  # scaled by 1000; pooling averages preserve ordering
    gw, gh = size + 1, size
    # area-mean pooling via cumulative sums: cell (i,j) averages the
    # pixel block [ys[i]:ys[i+1], xs[j]:xs[j+1]] — robust to rescaled
    # variants in a way single-pixel nearest sampling is not
    ys = (np.arange(gh + 1) * h) // gh
    xs = (np.arange(gw + 1) * w) // gw
    integral = np.zeros((h + 1, w + 1), dtype=np.int64)
    np.cumsum(np.cumsum(gray, axis=0), axis=1, out=integral[1:, 1:])
    blocks = (
        integral[ys[1:, None], xs[None, 1:]]
        - integral[ys[:-1, None], xs[None, 1:]]
        - integral[ys[1:, None], xs[None, :-1]]
        + integral[ys[:-1, None], xs[None, :-1]]
    )
    areas = (ys[1:, None] - ys[:-1, None]) * (xs[None, 1:] - xs[None, :-1])
    cells = blocks // np.maximum(areas, 1)
    bits = (cells[:, :-1] > cells[:, 1:]).ravel()
    out = 0
    for b in bits:
        out = (out << 1) | int(b)
    return out


def image_dhash(
    df: DataFrame,
    id_col: str = "doc_id",
    asset_col: str = "asset",
    hash_size: int = 8,
) -> DataFrame:
    """(id, decoded_ok, dhash, width, height) — one 64-bit perceptual
    hash per PNG/JPEG asset, Arrow-batched, payloads never shuffled.  A
    non-image / corrupt payload yields ``decoded_ok=false, dhash=null``
    instead of failing the task."""
    # a (size+1, size) grid yields size*size adjacent comparisons = bits
    if hash_size * hash_size > 64:
        raise ValueError("hash_size too large for a 64-bit fingerprint")

    def run(_id, payload):
        from verified_sources_spark.llm.image_io import decode_image

        try:
            im = decode_image(bytes(payload))
            ch = 3 if im["mode"] == "RGB" else 4
            hv = _dhash_of_pixels(
                im["pixels"], im["width"], im["height"], ch, hash_size
            )
            # store as signed 64-bit long
            if hv >= 1 << 63:
                hv -= 1 << 64
            yield {
                "doc_id": _id,
                "decoded_ok": True,
                "dhash": hv,
                "width": im["width"],
                "height": im["height"],
            }
        except Exception:
            yield {"doc_id": _id, "decoded_ok": False}

    out = map_rows(df.select(F.col(id_col), F.col(asset_col)), run, DHASH_SCHEMA)
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out


TIFF_PAGES_SCHEMA = ("doc_id long, decoded_ok boolean, n_pages int, "
                     "page_idx int, width int, height int, dhash long")


def tiff_pages(
    df: DataFrame,
    id_col: str = "doc_id",
    asset_col: str = "asset",
    hash_size: int = 8,
) -> DataFrame:
    """One row PER PAGE of a multi-page TIFF — the scanned-document
    container shape (a fax/scan archive ships N pages per file, and
    page-level dedup is what finds the same page re-scanned into two
    documents).  Same contract as ``image_dhash``: Arrow-batched,
    payloads never shuffle, per-page 64-bit dHash, corrupt files
    isolate as one ``decoded_ok=false`` row (a single bad PAGE also
    isolates as its own false row while its siblings decode)."""

    def run(_id, payload):
        from verified_sources_spark.llm.tiff_codec import decode, probe

        payload = bytes(payload)
        try:
            n = probe(payload)["n_pages"]
        except Exception:
            yield {"doc_id": _id, "decoded_ok": False}
            return
        for p in range(n):
            try:
                im = decode(payload, page=p)
                hv = _dhash_of_pixels(
                    im["pixels"], im["width"], im["height"], 3,
                    hash_size)
                if hv >= 1 << 63:
                    hv -= 1 << 64
                yield {"doc_id": _id, "decoded_ok": True,
                       "n_pages": n, "page_idx": p,
                       "width": im["width"],
                       "height": im["height"], "dhash": hv}
            except Exception:
                yield {"doc_id": _id, "decoded_ok": False,
                       "n_pages": n, "page_idx": p}

    out = map_rows(
        df.select(F.col(id_col), F.col(asset_col)),
        run, TIFF_PAGES_SCHEMA)
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out


def image_dedup_groups(
    df: DataFrame,
    id_col: str = "doc_id",
    asset_col: str = "asset",
    max_hamming: int = 6,
    n_bands: int = 8,
    neighbor_window: int = 8,
    hash_size: int = 8,
    n_tables: int = 4,
) -> DataFrame:
    """(id, group, group_size) — perceptual near-duplicate image groups
    under transitive closure of dHash hamming <= ``max_hamming`` edges.

    Same guarantees as ``simhash_dedup_groups``: banded candidates are
    linear in the corpus (pigeonhole needs ``n_bands > max_hamming``),
    every edge is hamming-verified, under-merge-only sampling, and
    undecodable assets come back as singleton groups (never silently
    dropped — the caller decides whether broken assets are kept).
    ``n_tables=4`` (r15 default) runs the Manku multi-table permuted
    probe: measured under-merge on planted fingerprint corpora drops
    from ~16% (single table) to ~2% for 4x the (linear) candidate
    volume — tools/fingerprint_recall_sweep.py pins the numbers.
    """
    from verified_sources_spark.llm.simhash import fingerprint_dedup_groups

    sig = (
        image_dhash(df, id_col, asset_col, hash_size)
        .filter(F.col("decoded_ok"))
        .select(id_col, "dhash")
        .transform(cut)
    )
    return fingerprint_dedup_groups(
        sig, id_col, "dhash", bits=64, max_hamming=max_hamming,
        n_bands=n_bands, neighbor_window=neighbor_window,
        all_ids=df.select(id_col), n_tables=n_tables,
    )


def image_dedup_keep(
    df: DataFrame,
    id_col: str = "doc_id",
    asset_col: str = "asset",
    **group_kwargs,
) -> DataFrame:
    """One representative per perceptual group (lowest id — deterministic),
    undecodable assets kept as their own groups: the dedup-and-keep shape
    every curation pipeline wants."""
    groups = image_dedup_groups(df, id_col, asset_col, **group_kwargs)
    keep = groups.groupBy("group").agg(F.min(id_col).alias(id_col))
    return df.join(keep.select(id_col), id_col, "left_semi")
