"""Perceptual video near-duplicate detection over binary asset columns.

Completes the multimodal dedup triangle (llm/image_dedup.py for images,
llm/audio_dedup.py for audio): video corpora carry the same
near-identical redundancy — the same clip re-encoded, rescaled, or
frame-rate-converted.  The approach composes the two primitives the
engine already trusts:

* **Time-based frame sampling** (llm/video_io.sample_frames over
  AVI — BI_RGB or MJPG — and animated GIF containers):
  one frame per ``every_ms`` wall-clock window, so a 10 fps and a 20 fps
  encode of the same content sample the SAME instants — frame-rate
  conversion does not move the signature.  Sampling decodes only the
  frames it keeps; on a long clip that is a fraction of a percent of
  the payload.
* **dHash per sampled frame** (llm/image_dedup._dhash_of_pixels):
  area-mean pooled, so resolution changes don't move per-frame bits.
* **Temporal majority pooling**: the video fingerprint sets bit ``b``
  when more than half the sampled frames set bit ``b`` in their frame
  dHash — one 64-bit long per clip, robust to a few edited/inserted
  frames the way per-frame equality is not.

Grouping reuses the SAME banded sorted-probe machinery as text simhash
(llm/simhash.fingerprint_dedup_groups): candidates linear in the
corpus, never all-pairs, every edge hamming-verified.

Scale shape mirrors the image/audio modules: probing and
fingerprinting are narrow ``boundary.map_rows`` stages over the binary
column — payload bytes never shuffle, each clip reduces to one 64-bit
long on the executor that read it; grouping shuffles only (id,
fingerprint) pairs.  Undecodable clips and compressed fourccs the
stdlib codec refuses (MJPG, H264, …) yield ``decoded_ok=false`` and
come back as singleton groups — at 100 TB a media corpus WILL contain
broken and foreign objects and one bad byte-string must not kill the
stage.

The reference has no video operators — this is part of the engine's
LLM-pipeline surface beyond reference parity (SURVEY.md multimodal
row; decode is the pure-stdlib container seam llm/video_io.py over
avi_codec.py — BI_RGB and MJPG — and gif_codec.py for animated GIFs,
so the SAME clip as an AVI and as a GIF dedups cross-container).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from verified_sources_spark.boundary import map_rows
from verified_sources_spark.cut import cut

VIDEO_PROBE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("decoded_ok", T.BooleanType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("fps", T.DoubleType()),
        T.StructField("codec", T.StringType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)

VIDEO_FP_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("decoded_ok", T.BooleanType()),
        T.StructField("vfp", T.LongType()),
        T.StructField("n_sampled", T.IntegerType()),
        T.StructField("frame_hashes", T.ArrayType(T.LongType())),
    ]
)


def video_probe(
    df: DataFrame, id_col: str = "doc_id", asset_col: str = "asset"
) -> DataFrame:
    """(id, decoded_ok, width, height, n_frames, fps, codec,
    duration_ms) — header-only probe per asset (AVI or animated GIF,
    via llm/video_io), Arrow-batched, no frame materialization
    (manifest building over petabytes of video must not decode pixels).
    A corrupt / non-video payload yields ``decoded_ok=false``; an
    unknown compressed fourcc still PROBES fine (codec column carries
    the name) — only pixel decode refuses."""

    def run(_id, payload):
        from verified_sources_spark.llm.video_io import probe_video

        try:
            m = probe_video(bytes(payload))
            yield {
                "doc_id": _id,
                "decoded_ok": True,
                "width": m["width"],
                "height": m["height"],
                "n_frames": m["n_frames"],
                "fps": m["fps"],
                "codec": m["codec"],
                "duration_ms": m["duration_ms"],
            }
        except Exception:
            yield {"doc_id": _id, "decoded_ok": False}

    out = map_rows(
        df.select(F.col(id_col), F.col(asset_col)),
        run, VIDEO_PROBE_SCHEMA
    )
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out


def video_fingerprint(
    df: DataFrame,
    id_col: str = "doc_id",
    asset_col: str = "asset",
    every_ms: int = 500,
    hash_size: int = 8,
) -> DataFrame:
    """(id, decoded_ok, vfp, n_sampled, frame_hashes) — one 64-bit
    temporally-pooled perceptual fingerprint per decodable clip.
    Sampling is time-based so differing frame rates of the same content
    sample the same instants; each sampled frame is dHashed (area-mean
    pooled — resolution-robust) and ``vfp`` bit b is set when a strict
    majority of sampled frames set bit b.  ``frame_hashes`` (the
    per-frame dHash sequence, signed longs) is exposed for callers that
    want sequence-level verification or shot-boundary work; it is
    bounded by duration/every_ms, never by frame count."""
    if hash_size * hash_size > 64:
        raise ValueError("hash_size too large for a 64-bit fingerprint")
    if every_ms <= 0:
        raise ValueError("every_ms must be positive")
    nbits = hash_size * hash_size

    def run(_id, payload):
        from verified_sources_spark.llm.image_dedup import _dhash_of_pixels
        from verified_sources_spark.llm.video_io import probe_video, sample_frames

        try:
            data = bytes(payload)
            meta = probe_video(data)
            picks = sample_frames(data, meta, every_ms)
            if not picks:
                raise ValueError("no sampleable frames")
            hashes = []
            ones = [0] * nbits
            for _idx, _ts, rgb in picks:
                hv = _dhash_of_pixels(
                    rgb, meta["width"], meta["height"], 3, hash_size
                )
                for b in range(nbits):
                    ones[b] += (hv >> (nbits - 1 - b)) & 1
                if hv >= 1 << 63:
                    hv -= 1 << 64
                hashes.append(hv)
            n = len(hashes)
            vfp = 0
            for b in range(nbits):
                vfp = (vfp << 1) | int(ones[b] * 2 > n)
            if vfp >= 1 << 63:
                vfp -= 1 << 64
            yield {
                "doc_id": _id,
                "decoded_ok": True,
                "vfp": vfp,
                "n_sampled": n,
                "frame_hashes": hashes,
            }
        except Exception:
            yield {"doc_id": _id, "decoded_ok": False}

    out = map_rows(
        df.select(F.col(id_col), F.col(asset_col)),
        run, VIDEO_FP_SCHEMA
    )
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out


VIDEO_SHOTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("decoded_ok", T.BooleanType()),
        T.StructField("shot_idx", T.IntegerType()),
        T.StructField("start_frame", T.IntegerType()),
        T.StructField("end_frame", T.IntegerType()),
        T.StructField("keyframe", T.IntegerType()),
        T.StructField("keyframe_hash", T.LongType()),
    ]
)


def video_shots(
    df: DataFrame,
    id_col: str = "doc_id",
    asset_col: str = "asset",
    every_ms: int = 500,
    threshold: int = 16,
    hash_size: int = 8,
) -> DataFrame:
    """(id, decoded_ok, shot_idx, start_frame, end_frame, keyframe) —
    shot-boundary segmentation per clip: a new shot starts where the
    dHash of consecutive SAMPLED frames jumps by more than ``threshold``
    bits (hard cuts move ~half the 64 bits; within-shot motion moves a
    few).  ``end_frame`` is exclusive (= the next shot's start, or the
    clip frame count); ``keyframe`` is the middle sampled frame of the
    shot — the natural 'one representative frame per scene' pick a
    curation pipeline feeds to captioning or embedding models, far
    better coverage than blind one-frame-per-clip sampling — and
    ``keyframe_hash`` its dHash (signed long), the scene's perceptual
    identity for cross-clip scene matching.

    Per-clip local computation inside one narrow ``map_rows`` stage (the
    hashes are already in hand from sampling) — no shuffle at all, and
    only the shot TABLE (a few rows per clip) leaves the executor.
    Undecodable clips yield one ``decoded_ok=false`` row, never vanish.
    """
    if every_ms <= 0:
        raise ValueError("every_ms must be positive")
    if not 0 <= threshold < hash_size * hash_size:
        raise ValueError("threshold must be within the fingerprint width")

    def run(_id, payload):
        from verified_sources_spark.llm.image_dedup import _dhash_of_pixels
        from verified_sources_spark.llm.video_io import probe_video, sample_frames

        try:
            data = bytes(payload)
            meta = probe_video(data)
            picks = sample_frames(data, meta, every_ms)
            if not picks:
                raise ValueError("no sampleable frames")
            hashes = []
            for _idx, _ts, rgb in picks:
                hashes.append(
                    _dhash_of_pixels(
                        rgb, meta["width"], meta["height"], 3, hash_size
                    )
                )
            # cut positions in SAMPLED space -> shot spans
            starts = [0]
            for i in range(1, len(hashes)):
                if bin(hashes[i] ^ hashes[i - 1]).count("1") > threshold:
                    starts.append(i)
            n_frames = meta["n_frames"]
            for s_idx, s in enumerate(starts):
                e = (
                    starts[s_idx + 1]
                    if s_idx + 1 < len(starts)
                    else len(picks)
                )
                start_f = picks[s][0]
                end_f = picks[e][0] if e < len(picks) else n_frames
                khash = hashes[(s + e - 1) // 2]
                if khash >= 1 << 63:
                    khash -= 1 << 64
                yield {
                    "doc_id": _id,
                    "decoded_ok": True,
                    "shot_idx": s_idx,
                    "start_frame": start_f,
                    "end_frame": end_f,
                    "keyframe": picks[(s + e - 1) // 2][0],
                    "keyframe_hash": khash,
                }
        except Exception:
            yield {"doc_id": _id, "decoded_ok": False}

    out = map_rows(
        df.select(F.col(id_col), F.col(asset_col)),
        run, VIDEO_SHOTS_SCHEMA
    )
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out


VIDEO_KEYFRAMES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("shot_idx", T.IntegerType()),
        T.StructField("keyframe", T.IntegerType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("image", T.BinaryType()),
    ]
)


def video_keyframes(
    df: DataFrame,
    id_col: str = "doc_id",
    asset_col: str = "asset",
    every_ms: int = 500,
    threshold: int = 16,
) -> DataFrame:
    """(id, shot_idx, keyframe, ts_ms, image) — one PNG per detected
    shot: the hand-off from the video surface to the IMAGE surface
    (caption / embed / dedup one representative frame per scene).  The
    whole clip reduces to a handful of thumbnails on the executor that
    read it; undecodable clips simply produce no rows here (the probe
    and shots operators carry the decoded_ok accounting)."""
    if every_ms <= 0:
        raise ValueError("every_ms must be positive")

    def run(_id, payload):
        from verified_sources_spark.llm.image_dedup import _dhash_of_pixels
        from verified_sources_spark.llm.png_codec import encode as png_enc
        from verified_sources_spark.llm.video_io import probe_video, sample_frames

        try:
            data = bytes(payload)
            meta = probe_video(data)
            picks = sample_frames(data, meta, every_ms)
            if not picks:
                return
            hashes = [
                _dhash_of_pixels(rgb, meta["width"], meta["height"], 3, 8)
                for _i, _t, rgb in picks
            ]
            starts = [0]
            for i in range(1, len(hashes)):
                if bin(hashes[i] ^ hashes[i - 1]).count("1") > threshold:
                    starts.append(i)
            for s_idx, s in enumerate(starts):
                e = (
                    starts[s_idx + 1]
                    if s_idx + 1 < len(starts)
                    else len(picks)
                )
                k = (s + e - 1) // 2
                idx, ts, rgb = picks[k]
                yield {
                    "doc_id": _id,
                    "shot_idx": s_idx,
                    "keyframe": idx,
                    "ts_ms": ts,
                    "image": png_enc(
                        meta["width"], meta["height"], rgb, "RGB"
                    ),
                }
        except Exception:
            pass

    out = map_rows(
        df.select(F.col(id_col), F.col(asset_col)),
        run, VIDEO_KEYFRAMES_SCHEMA
    )
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out


def video_scene_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    asset_col: str = "asset",
    every_ms: int = 500,
    threshold: int = 16,
    max_hamming: int = 3,
    n_bands: int = 4,
    max_bucket_docs: int = 1024,
) -> DataFrame:
    """(id_a, id_b, n_shared_scenes) with id_a < id_b — pairs of clips
    sharing at least one hamming-verified scene.  This catches the
    CONTAINMENT near-dups whole-clip pooled fingerprints cannot: a
    compilation containing one scene of another video, a re-cut
    sharing half its shots — the dominant redundancy shape in web
    video corpora.

    Pipeline: shot segmentation (``video_shots``) → one keyframe dHash
    per scene → multi-index-hash candidate discovery (``n_bands``
    16-bit band equi-join between DIFFERENT clips; pigeonhole needs
    ``n_bands > max_hamming``) → ``bit_count``-verified hamming ≤
    ``max_hamming`` per scene pair → count distinct shared scenes per
    clip pair.  Only (id, shot, hash) rows shuffle — never frames.

    Stop-scene guard: a band value shared by more than
    ``max_bucket_docs`` distinct clips (black frames, title cards,
    channel intros) is dropped from CANDIDATE DISCOVERY before the
    self-join — the web-video analogue of boilerplate-shingle caps in
    text LSH; without it one stop scene makes the join quadratic in the
    corpus.  Genuinely shared content still pairs through its other
    scenes."""
    if not n_bands > max_hamming:
        raise ValueError("need n_bands > max_hamming (pigeonhole)")
    if 64 % n_bands != 0:
        raise ValueError("n_bands must divide 64")
    width = 64 // n_bands
    mask = (1 << width) - 1

    shots = (
        video_shots(df, id_col, asset_col, every_ms, threshold)
        .filter(F.col("decoded_ok"))
        .select(id_col, "shot_idx", "keyframe_hash")
        .transform(cut)
    )
    bands = shots.select(
        id_col,
        "shot_idx",
        "keyframe_hash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftrightunsigned(
                            F.col("keyframe_hash"), 64 - width * (i + 1)
                        ).bitwiseAND(F.lit(mask)).alias("band_val"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select(id_col, "shot_idx", "keyframe_hash", "b.band_idx", "b.band_val")
    hot = (
        bands.groupBy("band_idx", "band_val")
        .agg(F.countDistinct(id_col).alias("_n"))
        .filter(F.col("_n") > max_bucket_docs)
        .select("band_idx", "band_val")
    )
    bands = bands.join(hot, ["band_idx", "band_val"], "left_anti")
    a = bands.select(
        F.col(id_col).alias("id_a"),
        F.col("shot_idx").alias("shot_a"),
        F.col("keyframe_hash").alias("h_a"),
        "band_idx", "band_val",
    )
    b = bands.select(
        F.col(id_col).alias("id_b"),
        F.col("shot_idx").alias("shot_b"),
        F.col("keyframe_hash").alias("h_b"),
        "band_idx", "band_val",
    )
    verified = (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.expr("bit_count(h_a ^ h_b)") <= F.lit(max_hamming)
        )
        .select("id_a", "shot_a", "id_b", "shot_b")
        .distinct()
    )
    return (
        verified.groupBy("id_a", "id_b")
        .agg(F.countDistinct("shot_a", "shot_b").alias("n_shared_scenes"))
    )


def video_image_matches(
    videos: DataFrame,
    images: DataFrame,
    video_id_col: str = "doc_id",
    image_id_col: str = "doc_id",
    asset_col: str = "asset",
    every_ms: int = 500,
    threshold: int = 16,
    max_hamming: int = 3,
    n_bands: int = 4,
    max_bucket_docs: int = 1024,
) -> DataFrame:
    """(video_id, image_id, shot_idx, hamming) — still images that
    appear as scenes of videos: thumbnail-to-source lookup, meme-frame
    provenance, frame-leak decontamination between an image corpus and
    a video corpus.  CROSS-MODAL by construction: the video side
    reduces to per-shot keyframe dHashes (``video_shots``), the image
    side to plain dHashes (``image_dhash``), and the two meet in the
    same multi-index-hash candidate join + bit_count verify every other
    dedup op uses.  Only (id, hash) rows shuffle; the stop-scene guard
    drops band values shared by more than ``max_bucket_docs`` videos
    before the join."""
    if not n_bands > max_hamming:
        raise ValueError("need n_bands > max_hamming (pigeonhole)")
    if 64 % n_bands != 0:
        raise ValueError("n_bands must divide 64")
    from verified_sources_spark.llm.image_dedup import image_dhash

    width = 64 // n_bands
    mask = (1 << width) - 1

    def bands_of(df, id_alias, hash_col):
        b = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftrightunsigned(
                            F.col(hash_col), 64 - width * (i + 1)
                        ).bitwiseAND(F.lit(mask)).alias("band_val"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("b")
        return df.select(
            F.col(df.columns[0]).alias(id_alias),
            *df.columns[1:],
            b,
        ).select(id_alias, *df.columns[1:], "b.band_idx", "b.band_val")

    shots = (
        video_shots(videos, video_id_col, asset_col, every_ms, threshold)
        .filter(F.col("decoded_ok"))
        .select(
            F.col(video_id_col).alias("video_id"),
            "shot_idx",
            F.col("keyframe_hash").alias("khash"),
        )
        .transform(cut)
    )
    imgs = (
        image_dhash(images, image_id_col, asset_col)
        .filter(F.col("decoded_ok"))
        .select(F.col(image_id_col).alias("image_id"), F.col("dhash"))
    )
    v_bands = bands_of(shots, "video_id", "khash")
    hot = (
        v_bands.groupBy("band_idx", "band_val")
        .agg(F.countDistinct("video_id").alias("_n"))
        .filter(F.col("_n") > max_bucket_docs)
        .select("band_idx", "band_val")
    )
    v_bands = v_bands.join(hot, ["band_idx", "band_val"], "left_anti")
    i_bands = bands_of(imgs, "image_id", "dhash")
    return (
        v_bands.join(i_bands, ["band_idx", "band_val"])
        .withColumn("hamming", F.expr("bit_count(khash ^ dhash)"))
        .filter(F.col("hamming") <= F.lit(max_hamming))
        .select("video_id", "image_id", "shot_idx", "hamming")
        .distinct()
    )


def video_dedup_groups(
    df: DataFrame,
    id_col: str = "doc_id",
    asset_col: str = "asset",
    max_hamming: int = 6,
    n_bands: int = 8,
    neighbor_window: int = 8,
    every_ms: int = 500,
    hash_size: int = 8,
    n_tables: int = 4,
) -> DataFrame:
    """(id, group, group_size) — perceptual near-duplicate video groups
    under transitive closure of pooled-fingerprint hamming <=
    ``max_hamming`` edges.  Same guarantees as ``image_dedup_groups``:
    banded candidates linear in the corpus (pigeonhole needs
    ``n_bands > max_hamming``), every edge hamming-verified, and
    undecodable / compressed-codec clips come back as singleton groups
    (never silently dropped).
    ``n_tables=4`` (r15 default) runs the Manku multi-table permuted
    probe: measured under-merge on planted fingerprint corpora drops
    from ~16% (single table) to ~2% for 4x the (linear) candidate
    volume — tools/fingerprint_recall_sweep.py pins the numbers.
    """
    from verified_sources_spark.llm.simhash import fingerprint_dedup_groups

    sig = (
        video_fingerprint(df, id_col, asset_col, every_ms, hash_size)
        .filter(F.col("decoded_ok"))
        .select(id_col, "vfp")
        .transform(cut)
    )
    return fingerprint_dedup_groups(
        sig, id_col, "vfp", bits=64, max_hamming=max_hamming,
        n_bands=n_bands, neighbor_window=neighbor_window,
        all_ids=df.select(id_col), n_tables=n_tables,
    )


def video_dedup_keep(
    df: DataFrame,
    id_col: str = "doc_id",
    asset_col: str = "asset",
    **group_kwargs,
) -> DataFrame:
    """One representative per perceptual group (lowest id —
    deterministic), undecodable clips kept as their own groups."""
    groups = video_dedup_groups(df, id_col, asset_col, **group_kwargs)
    keep = groups.groupBy("group").agg(F.min(id_col).alias(id_col))
    return df.join(keep.select(id_col), id_col, "left_semi")
