"""Streaming media ingestion: perceptual dedup as a standing ledger.

The media analogue of :mod:`streaming.corpus_ingest`: binary assets
(PNG/JPEG images, WAV audio, AVI video — the engine's always-on stdlib
codecs) stream in per micro-batch, each batch dedups within itself and
against the STANDING corpus, and survivors append to a ManifestTable
under the same idempotent two-commit protocol (``TwoTableIngest``: docs
first, fingerprints second, batch-id + input-token replay detection).

The fingerprint table holds per accepted asset:

- ``kind='sha'`` — sha256 of the raw bytes (exact dedup, any payload);
- ``kind='pfp:{modality}'`` — the 64-bit perceptual fingerprint as a
  decimal string (hamming verification joins);
- ``kind='{modality}:pb{i}'`` — the i-th 16-bit band of that
  fingerprint (candidate discovery joins).

Modality is sniffed per asset from magic bytes (PNG signature, JPEG
SOI, RIFF/WAVE, RIFF/AVI) so one ingest handles a MIXED media corpus; the
modality participates in every join key, so an image can never
hamming-match an audio clip.  Undecodable assets fall back to
exact-only dedup — accepted once, rejected on byte-identical replays,
never dropped for being broken.

Scale shape: an increment semi-joins hash-sized tables — candidate
discovery is a 16-bit-band equi-join (multi-index hashing: with
``n_bands=4 > max_hamming=3`` the pigeonhole guarantees every true
near-dup collides on at least one whole band), and only COLLIDING pairs
pay the 64-bit hamming check (``bit_count(a ^ b)``, JVM-side).  A daily
increment therefore costs O(increment + collisions), independent of
corpus size; asset payload bytes never shuffle — each asset reduces to
one signed long in the map_rows stage that decodes it.

The reference has no media operators — this extends its incremental-
ledger idea (sources/pg_replication/__init__.py exactly-once slots;
chess archive dedup) to the multimodal surface.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from verified_sources_spark.boundary import map_rows
from verified_sources_spark.cut import cut

from verified_sources_spark.operators.table_format import ManifestTable
from verified_sources_spark.streaming.corpus_ingest import TwoTableIngest

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def perceptual_fingerprint(payload: bytes, every_ms: int = 500) -> tuple[str, int]:
    """(modality, signed 64-bit fingerprint) for one asset, by magic
    bytes: PNG/JPEG/BMP and STILL GIFs → dHash (cross-format: the same
    photo in any format collides), WAV → spectral fingerprint, AVI and
    ANIMATED GIFs → time-pooled frame dHash (cross-container: the same
    clip in either collides).  Raises on anything else (callers treat
    that as "exact-dedup only")."""
    from verified_sources_spark.llm.image_io import sniff_image_format
    from verified_sources_spark.llm.video_io import (
        probe_video,
        sample_frames,
        sniff_video_format,
    )

    vfmt = sniff_video_format(payload)
    meta = probe_video(payload) if vfmt else None
    if meta is not None and (
        vfmt in ("avi", "mp4", "webm") or meta["n_frames"] > 1
    ):
        # mp4/webm: the probe above succeeded (manifest facts are real)
        # but sample_frames refuses pixel decode with the codec named —
        # callers catch and ingest them exact-dedup-only by design
        from verified_sources_spark.llm.image_dedup import _dhash_of_pixels

        picks = sample_frames(payload, meta, every_ms)
        if not picks:
            raise ValueError("no sampleable frames")
        ones = [0] * 64
        for _idx, _ts, rgb in picks:
            hv = _dhash_of_pixels(rgb, meta["width"], meta["height"], 3, 8)
            for b in range(64):
                ones[b] += (hv >> (63 - b)) & 1
        fp = 0
        for b in range(64):
            fp = (fp << 1) | int(ones[b] * 2 > len(picks))
        modality = "video"
    elif sniff_image_format(payload) is not None:
        from verified_sources_spark.llm.image_dedup import _dhash_of_pixels
        from verified_sources_spark.llm.image_io import decode_image

        im = decode_image(payload)
        ch = 3 if im["mode"] == "RGB" else 4
        fp = _dhash_of_pixels(im["pixels"], im["width"], im["height"], ch, 8)
        modality = "image"
    elif payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        from verified_sources_spark.llm.audio_dedup import (
            _audio_fingerprint_of_samples,
        )
        from verified_sources_spark.llm.wav_codec import decode

        m = decode(payload)
        fp = _audio_fingerprint_of_samples(m["samples"], m["sample_rate"])
        modality = "audio"
    elif payload[:4] == b"FORM" and payload[8:12] in (b"AIFF", b"AIFC"):
        # AIFF PCM decodes fully, so the SAME recording stored as WAV
        # and as AIFF lands on the same spectral fingerprint and dedups
        # cross-format (AIFC compression types raise -> exact-only)
        from verified_sources_spark.llm.aiff_codec import decode as aiff_dec
        from verified_sources_spark.llm.audio_dedup import (
            _audio_fingerprint_of_samples,
        )

        m = aiff_dec(payload)
        fp = _audio_fingerprint_of_samples(m["samples"], m["sample_rate"])
        modality = "audio"
    elif payload[:4] == b"fLaC":
        # full FLAC frame decode (CRC + STREAMINFO-MD5 verified): the
        # SAME recording stored as WAV, AIFF or FLAC lands on one
        # spectral fingerprint and dedups cross-format
        from verified_sources_spark.llm.audio_dedup import (
            _audio_fingerprint_of_samples,
        )
        from verified_sources_spark.llm.flac_codec import decode as flac_dec

        m = flac_dec(payload)
        fp = _audio_fingerprint_of_samples(m["samples"], m["sample_rate"])
        modality = "audio"
    else:
        raise ValueError("unrecognized media payload")
    if fp >= 1 << 63:
        fp -= 1 << 64
    return modality, fp


class MediaIngest(TwoTableIngest):
    """Micro-batch media ingestion into (media, fingerprints) tables.

    ``media_table`` holds accepted asset rows (id + binary asset + any
    metadata columns the batch carries); ``fp_table`` holds their
    fingerprints as (id, kind, fp) string rows — see module docstring
    for the kind taxonomy.  Near-dedup is hamming-VERIFIED on both the
    in-batch and standing paths: a band collision alone never rejects,
    the 64-bit fingerprints must be within ``max_hamming`` bits
    (cheap — the pfps travel with the candidate join).  Set
    ``near_dedup=False`` for exact-only ingestion.

    ``n_bands`` 16-bit bands with ``n_bands > max_hamming`` guarantee
    candidate recall (pigeonhole); defaults (4, 3) are the multi-index-
    hashing standard for 64-bit perceptual hashes.
    """

    def __init__(
        self,
        media_table: ManifestTable,
        fp_table: ManifestTable,
        id_col: str = "doc_id",
        asset_col: str = "asset",
        near_dedup: bool = True,
        stream_id: str = "media-ingest",
        max_hamming: int = 3,
        n_bands: int = 4,
        every_ms: int = 500,
    ):
        super().__init__(media_table, fp_table, id_col, stream_id)
        if near_dedup and not n_bands > max_hamming:
            raise ValueError("need n_bands > max_hamming (pigeonhole)")
        if not 64 % n_bands == 0:
            raise ValueError("n_bands must divide 64")
        self.asset_col = asset_col
        self.near_dedup = near_dedup
        self.max_hamming = max_hamming
        self.n_bands = n_bands
        self.every_ms = every_ms

    # ---------------------------------------------------------- fingerprints
    def _pfps(self, df: DataFrame) -> DataFrame:
        """(id, modality, pfp) for the DECODABLE assets of ``df`` — one
        narrow map_rows stage; payload bytes never leave the executor that
        read them."""
        id_col, asset_col, every_ms = self.id_col, self.asset_col, self.every_ms

        def run(_id, payload):
            try:
                modality, fp = perceptual_fingerprint(
                    bytes(payload), every_ms
                )
                yield {"_mid": _id, "modality": modality, "pfp": fp}
            except Exception:
                pass  # exact-only dedup for undecodable assets

        return map_rows(
            df.select(F.col(id_col), F.col(asset_col)), run,
            "_mid long, modality string, pfp long",
        ).withColumnRenamed("_mid", id_col)

    def _band_rows(self, pfps: DataFrame) -> DataFrame:
        """(id, modality, band_idx, band_val) — the n_bands fixed-width
        slices of each fingerprint, JVM-side arithmetic."""
        width = 64 // self.n_bands
        mask = (1 << width) - 1
        bands = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftrightunsigned(
                            F.col("pfp"), 64 - width * (i + 1)
                        ).bitwiseAND(F.lit(mask)).alias("band_val"),
                    )
                    for i in range(self.n_bands)
                ]
            )
        ).alias("b")
        return pfps.select(
            self.id_col, "modality", "pfp", bands
        ).select(self.id_col, "modality", "pfp", "b.band_idx", "b.band_val")

    def _fingerprints(self, df: DataFrame, pfps: DataFrame | None = None) -> DataFrame:
        """(id, kind, fp) fingerprint rows for an accepted set.

        ``pfps``: an already-computed (id, modality, pfp) cut covering at
        least ``df``'s ids (r16) — reusing ``accepted()``'s checkpointed
        cut avoids a SECOND perceptual decode of every accepted asset;
        the semi-join restricts it to exactly ``df``'s rows."""
        shas = df.select(
            F.col(self.id_col),
            F.lit("sha").alias("kind"),
            F.sha2(F.col(self.asset_col), 256).alias("fp"),
        )
        if not self.near_dedup:
            return shas
        if pfps is None:
            pfps = self._pfps(df)
        else:
            pfps = pfps.join(df.select(self.id_col), self.id_col, "left_semi")
        pfp_rows = pfps.select(
            F.col(self.id_col),
            F.concat(F.lit("pfp:"), F.col("modality")).alias("kind"),
            F.col("pfp").cast("string").alias("fp"),
        )
        band_rows = self._band_rows(pfps).select(
            F.col(self.id_col),
            F.concat(
                F.col("modality"), F.lit(":pb"), F.col("band_idx").cast("string")
            ).alias("kind"),
            F.col("band_val").cast("string").alias("fp"),
        )
        return shas.unionByName(pfp_rows).unionByName(band_rows)

    # -------------------------------------------------------------- dedup
    def _hamming_ok(self, a, b):
        return F.expr(f"bit_count({a} ^ {b})") <= F.lit(self.max_hamming)

    def accepted(self, batch_df: DataFrame) -> DataFrame:
        """Batch rows surviving in-batch exact + perceptual dedup and the
        standing-ledger checks.  Deterministic in (batch content,
        fingerprint-table state)."""
        # in-batch exact dedup: keep the lowest id per byte-identical asset
        in_batch = (
            batch_df.withColumn("_sha", F.sha2(F.col(self.asset_col), 256))
            .withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("_sha").orderBy(F.col(self.id_col).asc())
                ),
            )
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        pfps = None
        if self.near_dedup:
            pfps = self._pfps(in_batch).transform(cut)
            bands = self._band_rows(pfps)
            # in-batch perceptual dedup: a hamming-verified collision with
            # a LOWER id drops the doc (pessimistic single-pass, matching
            # CorpusIngest's in-batch rule)
            lo = bands.select(
                F.col(self.id_col).alias("_ex"),
                F.col("pfp").alias("_ex_pfp"),
                "modality", "band_idx", "band_val",
            )
            hi = bands.select(
                F.col(self.id_col).alias("_inc"),
                F.col("pfp").alias("_inc_pfp"),
                "modality", "band_idx", "band_val",
            )
            near_ids = (
                lo.join(hi, ["modality", "band_idx", "band_val"])
                .filter(F.col("_ex") < F.col("_inc"))
                .filter(self._hamming_ok("_ex_pfp", "_inc_pfp"))
                .select(F.col("_inc").alias(self.id_col))
                .distinct()
            )
            in_batch = in_batch.join(near_ids, self.id_col, "left_anti")
            pfps = pfps.join(near_ids, self.id_col, "left_anti")

        def _with_cut(out: DataFrame) -> DataFrame:
            # survivors' (id, kind, fp) rows for apply_batch's fp append
            # (r16): sha rows re-hash the checkpointed batch bytes (cheap
            # JVM), pfp/band rows come from the checkpointed pfps cut —
            # no second perceptual decode of accepted assets.
            out._fp_cut = self._fingerprints(in_batch, pfps=pfps)
            return out

        if not self.fp_table.exists():
            return _with_cut(in_batch.drop("_sha"))
        standing = self.fp_table.read()
        exact_dups = (
            in_batch.select(self.id_col, F.col("_sha").alias("fp"))
            .join(
                standing.filter(F.col("kind") == "sha").select("fp"),
                "fp", "left_semi",
            )
            .select(self.id_col)
        )
        dup_ids = exact_dups
        if self.near_dedup:
            # standing perceptual: batch bands equi-join standing band rows
            # (16-bit keys + modality), then verify hamming against the
            # standing pfp fetched BY COLLIDING ID — all hash-sized tables.
            st_bands = standing.filter(F.col("kind").rlike(":pb[0-9]+$")).select(
                F.col(self.id_col).alias("_ex"),
                F.split(F.col("kind"), ":pb").getItem(0).alias("modality"),
                F.split(F.col("kind"), ":pb").getItem(1).cast("int").alias("band_idx"),
                F.col("fp").cast("bigint").alias("band_val"),
            )
            st_pfps = standing.filter(F.col("kind").startswith("pfp:")).select(
                F.col(self.id_col).alias("_ex"),
                F.substring(F.col("kind"), 5, 32).alias("modality"),
                F.col("fp").cast("bigint").alias("_ex_pfp"),
            )
            cand = (
                self._band_rows(pfps)
                .select(
                    F.col(self.id_col).alias("_inc"),
                    F.col("pfp").alias("_inc_pfp"),
                    "modality", "band_idx", "band_val",
                )
                .join(st_bands, ["modality", "band_idx", "band_val"])
                .select("_inc", "_inc_pfp", "_ex", "modality")
                .distinct()
            )
            near_dups = (
                cand.join(st_pfps, ["_ex", "modality"])
                .filter(self._hamming_ok("_ex_pfp", "_inc_pfp"))
                .select(F.col("_inc").alias(self.id_col))
                .distinct()
            )
            dup_ids = exact_dups.unionByName(near_dups).distinct()
        return _with_cut(in_batch.join(dup_ids, self.id_col, "left_anti").drop("_sha"))
