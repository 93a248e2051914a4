"""Perceptual audio near-duplicate detection over binary asset columns.

Audio corpora carry the same near-identical redundancy as images — the
same recording re-encoded, gain-normalized, resampled, or lightly
noise-dithered — invisible to exact byte/sha dedup.  The classic cure
is a spectral robust hash (Haitsma & Kalker's Philips fingerprint);
this module implements a 64-bit single-clip variant: split the clip
into ``time_slices`` equal segments, measure energy in ``freq_bands``
log-spaced FIXED-Hz bands per segment (rfft power), and set bit
``(band, t)`` when the band's energy RISES between adjacent segments.
Comparisons are within one band of one clip, so the fingerprint is
invariant to global gain and (for band-limited content) to the sample
rate, and small additive noise flips only near-tie bits — near-dups
land within a few bits of hamming distance.

Grouping reuses the SAME banded sorted-probe machinery as text simhash
and image dHash (llm/simhash.fingerprint_dedup_groups): candidates are
linear in the corpus, never all-pairs, and every edge is
hamming-verified.

Scale shape mirrors llm/image_dedup.py: fingerprinting is a narrow
``boundary.map_rows`` stage over the binary column — payload bytes never shuffle,
each clip reduces to one 64-bit long on the executor that read it;
grouping shuffles only (id, fingerprint) pairs.  Undecodable or
too-short clips yield ``decoded_ok=false`` and come back as singleton
groups — at 100 TB a media corpus WILL contain broken objects and one
bad byte-string must not kill the stage.

The reference has no audio operators — this is part of the engine's
LLM-pipeline surface beyond reference parity (SURVEY.md multimodal
row; decode itself is the pure-stdlib WAV codec, llm/wav_codec.py).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from verified_sources_spark.boundary import map_rows
from verified_sources_spark.cut import cut

AUDIO_FP_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("decoded_ok", T.BooleanType()),
        T.StructField("afp", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
    ]
)


def _audio_fingerprint_of_samples(
    samples,
    rate: int,
    time_slices: int = 9,
    freq_bands: int = 8,
    f_lo: float = 100.0,
    f_hi: float = 4000.0,
) -> int:
    """64-bit fingerprint (defaults: 8 bands x 8 adjacent-slice
    comparisons).  Band edges are log-spaced ABSOLUTE Hz so the same
    content at different sample rates lands in the same bands; clips
    whose Nyquist sits below ``f_hi`` get the upper bands clamped to
    Nyquist (deterministic, but only comparable among like rates there).
    Raises on clips shorter than ``time_slices`` frames."""
    import numpy as np

    mono = np.asarray(samples, dtype=np.float64)
    if mono.ndim == 2:
        mono = mono.mean(axis=1)
    n = mono.shape[0]
    if n < time_slices:
        raise ValueError(f"clip too short to fingerprint ({n} frames)")
    hi = min(f_hi, rate / 2.0)
    edges = np.geomspace(f_lo, hi, freq_bands + 1)
    cuts = (np.arange(time_slices + 1) * n) // time_slices
    energy = np.empty((time_slices, freq_bands), dtype=np.float64)
    for t in range(time_slices):
        seg = mono[cuts[t] : cuts[t + 1]]
        power = np.abs(np.fft.rfft(seg)) ** 2
        freqs = np.fft.rfftfreq(seg.shape[0], d=1.0 / rate)
        # mean power density per band: bin-count independent, so the
        # same band carries comparable magnitudes across segment lengths
        for b in range(freq_bands):
            mask = (freqs >= edges[b]) & (freqs < edges[b + 1])
            energy[t, b] = power[mask].mean() if mask.any() else 0.0
    out = 0
    for b in range(freq_bands):
        for t in range(time_slices - 1):
            out = (out << 1) | int(energy[t + 1, b] > energy[t, b])
    return out


def audio_fingerprint(
    df: DataFrame,
    id_col: str = "doc_id",
    asset_col: str = "asset",
    time_slices: int = 9,
    freq_bands: int = 8,
) -> DataFrame:
    """(id, decoded_ok, afp, sample_rate, n_frames) — one 64-bit
    spectral fingerprint per WAV asset, Arrow-batched, payloads never
    shuffled.  A corrupt / non-WAV / too-short payload yields
    ``decoded_ok=false, afp=null`` instead of failing the task."""
    if freq_bands * (time_slices - 1) > 64:
        raise ValueError("freq_bands * (time_slices - 1) exceeds 64 bits")

    def run(_id, payload):
        from verified_sources_spark.llm.wav_codec import decode

        try:
            m = decode(bytes(payload))
            fp = _audio_fingerprint_of_samples(
                m["samples"], m["sample_rate"], time_slices, freq_bands
            )
            if fp >= 1 << 63:  # store as signed 64-bit long
                fp -= 1 << 64
            yield {
                "doc_id": _id,
                "decoded_ok": True,
                "afp": fp,
                "sample_rate": m["sample_rate"],
                "n_frames": m["n_frames"],
            }
        except Exception:
            yield {"doc_id": _id, "decoded_ok": False}

    out = map_rows(
        df.select(F.col(id_col), F.col(asset_col)),
        run, AUDIO_FP_SCHEMA
    )
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out


AUDIO_SEGMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("decoded_ok", T.BooleanType()),
        T.StructField("seg_idx", T.IntegerType()),
        T.StructField("start_ms", T.LongType()),
        T.StructField("end_ms", T.LongType()),
    ]
)


def audio_segments(
    df: DataFrame,
    id_col: str = "doc_id",
    asset_col: str = "asset",
    frame_ms: int = 25,
    threshold: float = 0.01,
) -> DataFrame:
    """(id, decoded_ok, seg_idx, start_ms, end_ms) — activity
    segmentation per clip: frame the waveform into ``frame_ms`` windows,
    mark a window active when its RMS exceeds ``threshold`` (linear
    amplitude), and emit each maximal active run as a segment — the
    energy-gate VAD shape every ASR-prep pipeline runs before feeding
    clips to a transcription model (silence is cost, segments are
    units of work).  A clip with no active window emits one
    ``decoded_ok=true`` row with null segment fields (silent ≠ broken);
    an undecodable clip emits ``decoded_ok=false``.  Same scale shape
    as the fingerprint ops: per-clip local math inside one narrow
    ``map_rows`` stage, zero shuffle, only the segment table leaves the
    executor."""
    if frame_ms <= 0:
        raise ValueError("frame_ms must be positive")
    if threshold < 0:
        raise ValueError("threshold must be non-negative")

    def run(_id, payload):
        import numpy as np

        from verified_sources_spark.llm.wav_codec import decode

        try:
            m = decode(bytes(payload))
            mono = np.asarray(m["samples"], dtype=np.float64)
            if mono.ndim == 2:
                mono = mono.mean(axis=1)
            rate = m["sample_rate"]
            w = max(1, (rate * frame_ms) // 1000)
            n_win = len(mono) // w
            if n_win == 0:
                raise ValueError("clip shorter than one frame")
            rms = np.sqrt(
                (mono[: n_win * w].reshape(n_win, w) ** 2).mean(axis=1)
            )
            active = rms > threshold
            segs = []
            start = None
            for i, a in enumerate(active):
                if a and start is None:
                    start = i
                elif not a and start is not None:
                    segs.append((start, i))
                    start = None
            if start is not None:
                segs.append((start, n_win))
            if not segs:
                yield {"doc_id": _id, "decoded_ok": True}
            for s_idx, (s, e) in enumerate(segs):
                yield {
                    "doc_id": _id,
                    "decoded_ok": True,
                    "seg_idx": s_idx,
                    "start_ms": s * w * 1000 // rate,
                    "end_ms": e * w * 1000 // rate,
                }
        except Exception:
            yield {"doc_id": _id, "decoded_ok": False}

    out = map_rows(
        df.select(F.col(id_col), F.col(asset_col)),
        run, AUDIO_SEGMENTS_SCHEMA
    )
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out


def audio_dedup_groups(
    df: DataFrame,
    id_col: str = "doc_id",
    asset_col: str = "asset",
    max_hamming: int = 6,
    n_bands: int = 8,
    neighbor_window: int = 8,
    time_slices: int = 9,
    freq_bands: int = 8,
    n_tables: int = 4,
) -> DataFrame:
    """(id, group, group_size) — perceptual near-duplicate audio groups
    under transitive closure of fingerprint hamming <= ``max_hamming``
    edges.  Same guarantees as ``image_dedup_groups``: banded candidates
    linear in the corpus (pigeonhole needs ``n_bands > max_hamming``),
    every edge hamming-verified, and undecodable clips come back as
    singleton groups (never silently dropped).
    ``n_tables=4`` (r15 default) runs the Manku multi-table permuted
    probe: measured under-merge on planted fingerprint corpora drops
    from ~16% (single table) to ~2% for 4x the (linear) candidate
    volume — tools/fingerprint_recall_sweep.py pins the numbers.
    """
    from verified_sources_spark.llm.simhash import fingerprint_dedup_groups

    sig = (
        audio_fingerprint(df, id_col, asset_col, time_slices, freq_bands)
        .filter(F.col("decoded_ok"))
        .select(id_col, "afp")
        .transform(cut)
    )
    return fingerprint_dedup_groups(
        sig, id_col, "afp", bits=64, max_hamming=max_hamming,
        n_bands=n_bands, neighbor_window=neighbor_window,
        all_ids=df.select(id_col), n_tables=n_tables,
    )


def audio_dedup_keep(
    df: DataFrame,
    id_col: str = "doc_id",
    asset_col: str = "asset",
    **group_kwargs,
) -> DataFrame:
    """One representative per perceptual group (lowest id —
    deterministic), undecodable clips kept as their own groups."""
    groups = audio_dedup_groups(df, id_col, asset_col, **group_kwargs)
    keep = groups.groupBy("group").agg(F.min(id_col).alias(id_col))
    return df.join(keep.select(id_col), id_col, "left_semi")


MP3_PROBE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("decoded_ok", T.BooleanType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("bitrate_kbps", T.IntegerType()),
    ]
)


def mp3_probe(
    df: DataFrame, id_col: str = "doc_id", asset_col: str = "asset"
) -> DataFrame:
    """(id, decoded_ok, sample_rate, channels, n_frames, duration_ms,
    bitrate_kbps) — header-only MP3 frame-walk per asset
    (llm/mp3_codec.probe: ID3v2 skip, Xing/Info, CBR walk), Arrow-
    batched, payloads never shuffled, no sample synthesis (manifest
    building over petabytes of audio must not decode PCM — and for MP3
    pure-stdlib CANNOT: ``decode_samples`` refuses with the codec
    named, so media ingestion treats MP3 exact-dedup-only).  A corrupt
    / truncated / non-MPEG payload yields ``decoded_ok=false``."""

    def run(_id, payload):
        from verified_sources_spark.llm.mp3_codec import probe

        try:
            m = probe(bytes(payload))
            yield {
                "doc_id": _id,
                "decoded_ok": True,
                "sample_rate": m["sample_rate"],
                "channels": m["channels"],
                "n_frames": m["n_frames"],
                "duration_ms": m["duration_ms"],
                "bitrate_kbps": m["bitrate_kbps"],
            }
        except Exception:
            yield {"doc_id": _id, "decoded_ok": False}

    out = map_rows(
        df.select(F.col(id_col), F.col(asset_col)),
        run, MP3_PROBE_SCHEMA
    )
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out


AUDIO_PROBE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("decoded_ok", T.BooleanType()),
        T.StructField("container", T.StringType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("codec", T.StringType()),
    ]
)


def audio_probe(
    df: DataFrame, id_col: str = "doc_id", asset_col: str = "asset"
) -> DataFrame:
    """(id, decoded_ok, container, sample_rate, channels, n_samples,
    duration_ms, codec) — normalized header probe per asset across ALL
    stdlib audio containers (WAV family, FLAC, MP3) via the
    llm/audio_io sniffing seam — the audio mirror of
    llm/video_dedup.video_probe.  Arrow-batched, payloads never
    shuffle, samples never materialize; a corrupt / unknown payload
    yields ``decoded_ok=false``."""

    def run(_id, payload):
        from verified_sources_spark.llm.audio_io import probe_audio

        try:
            m = probe_audio(bytes(payload))
            yield {
                "doc_id": _id,
                "decoded_ok": True,
                "container": m["container"],
                "sample_rate": m["sample_rate"],
                "channels": m["channels"],
                "n_samples": m["n_samples"],
                "duration_ms": m["duration_ms"],
                "codec": m["codec"],
            }
        except Exception:
            yield {"doc_id": _id, "decoded_ok": False}

    out = map_rows(
        df.select(F.col(id_col), F.col(asset_col)),
        run, AUDIO_PROBE_SCHEMA
    )
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out
