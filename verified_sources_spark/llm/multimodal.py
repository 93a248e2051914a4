"""Multimodal column plumbing: image/audio/video as opaque binary columns.

The decode step is pluggable: ``decoder="fake"`` (default — deterministic,
codec-free, what the oracle-graded queries use) or ``decoder="pil"`` —
real Pillow decode/resize behind an import-try, the same optional-
dependency gating as ``requests`` in sources/rest.py. The container
ships no codecs, so the PIL paths are exercised by import-gated tests
that run wherever Pillow IS installed; everything Spark-side (schema,
Arrow-batched ``map_rows`` plumbing, batch shapes, partition sizing,
per-object error isolation) is identical across decoders and tested
here with the fake.

Schema convention for a multimodal asset column ``asset``:
    asset: binary                       -- raw bytes
    asset_meta: struct<mime: string, width: int, height: int,
                       duration_ms: long, sha256: string, byte_len: long>

At 100 TB the binary payloads dominate; feature extraction must stream
through executors without reshuffling payloads — ``boundary.map_rows`` keeps
rows in place (narrow transform), and `spark.sql.files.maxPartitionBytes`
bounds per-task memory.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from verified_sources_spark.boundary import map_rows

ASSET_META_TYPE = T.StructType(
    [
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("sha256", T.StringType()),
        T.StructField("byte_len", T.LongType()),
    ]
)


def attach_binary_column(df: DataFrame, text_col: str, asset_col: str = "asset") -> DataFrame:
    """Test helper: fabricate a deterministic binary payload + metadata from
    a text column (utf-8 bytes stand in for undecodable media)."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.withColumn(asset_col, payload).withColumn(
        f"{asset_col}_meta",
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.sha2(payload, 256).alias("sha256"),
            F.length(payload).cast("long").alias("byte_len"),
        ),
    )


def _load_pil():
    """Import-gated Pillow (optional dependency, same pattern as
    HttpTransport/requests): returns PIL.Image or raises ImportError with
    a message naming the switch that needed it."""
    try:
        from PIL import Image
    except ImportError as e:
        raise ImportError(
            "decoder='pil' requires the Pillow package; install it or use "
            "decoder='fake' (deterministic, codec-free)"
        ) from e
    return Image


def _fake_decode(payload: bytes) -> dict:
    """STUB decode — deterministic fake. A real deployment plugs PIL/ffmpeg
    here; the container ships neither, and the Spark-side contract (bytes
    in, fixed-schema features out) is what this module tests."""
    return {
        "decoded_ok": True,
        "fake_pixel_sum": sum(payload[:64]) if payload else 0,
        "n_bytes": len(payload),
    }


FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("decoded_ok", T.BooleanType()),
        T.StructField("fake_pixel_sum", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


PIL_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("decoded_ok", T.BooleanType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mode", T.StringType()),
        T.StructField("format", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def extract_features(
    df: DataFrame,
    id_col: str = "doc_id",
    asset_col: str = "asset",
    decoder: str = "fake",
) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    One ``boundary.map_rows`` stage: decode is inherently per-object, so
    each payload arrives as its own ``bytes`` value (a numpy-vectorizable
    feature would take the whole Arrow batch through ``map_batches``).

    ``decoder="pil"`` decodes real images (PIL_FEATURE_SCHEMA: dims, mode,
    container format). Corrupt/undecodable payloads yield
    ``decoded_ok=false`` rows instead of failing the task — at 100 TB a
    media corpus WILL contain broken objects and one bad byte-string must
    not kill a 1000-executor stage. Pillow availability is checked at
    PLAN BUILD time on the driver so a missing dependency fails fast, not
    N-tasks-deep into a job."""

    def refused(_id, p):
        return {"doc_id": _id, "decoded_ok": False,
                "n_bytes": len(p) if p is not None else 0}

    if decoder == "pil":
        _load_pil()  # fail fast on the driver; executors re-import below

        def run_pil(_id, p):
            import io

            Image = _load_pil()
            try:
                with Image.open(io.BytesIO(p)) as im:
                    row = {"doc_id": _id, "decoded_ok": True,
                           "width": im.width, "height": im.height,
                           "mode": im.mode, "format": im.format,
                           "n_bytes": len(p)}
            except Exception:
                row = refused(_id, p)
            yield row

        return map_rows(df.select(id_col, asset_col), run_pil, PIL_FEATURE_SCHEMA)

    if decoder == "png":
        # pure-stdlib real decode (llm/png_codec.py) — always available,
        # so the real path runs in codec-free environments too
        def run_png(_id, p):
            from verified_sources_spark.llm.png_codec import probe

            try:
                info = probe(bytes(p))
                row = {"doc_id": _id, "decoded_ok": True,
                       "width": info["width"], "height": info["height"],
                       "mode": info["mode"], "format": "PNG",
                       "n_bytes": len(p)}
            except Exception:
                row = refused(_id, p)
            yield row

        return map_rows(df.select(id_col, asset_col), run_png, PIL_FEATURE_SCHEMA)

    if decoder == "image":
        # format-sniffing header probe (PNG or baseline JPEG) — the
        # manifest-building mode for mixed-format corpora, pure stdlib
        def run_img(_id, p):
            from verified_sources_spark.llm.image_io import sniff_image_format
            from verified_sources_spark.llm.jpeg_codec import probe as jprobe
            from verified_sources_spark.llm.png_codec import probe as pprobe

            try:
                raw = bytes(p)
                fmt = sniff_image_format(raw)
                if fmt == "png":
                    info = pprobe(raw)
                    mode = info["mode"]
                elif fmt == "jpeg":
                    info = jprobe(raw)
                    mode = "L" if info["n_components"] == 1 else "RGB"
                elif fmt == "gif":
                    from verified_sources_spark.llm.gif_codec import (
                        probe as gprobe,
                    )

                    info = gprobe(raw)
                    mode = "P"
                elif fmt == "bmp":
                    from verified_sources_spark.llm.bmp_codec import (
                        probe as bprobe,
                    )

                    info = bprobe(raw)
                    mode = "RGB"
                elif fmt == "webp":
                    from verified_sources_spark.llm.image_io import (
                        probe_webp,
                    )

                    info = probe_webp(raw)
                    mode = None  # header-only: pixel decode refuses
                else:
                    raise ValueError("not an image")
                row = {"doc_id": _id, "decoded_ok": True,
                       "width": info["width"], "height": info["height"],
                       "mode": mode, "format": fmt.upper(),
                       "n_bytes": len(p)}
            except Exception:
                row = refused(_id, p)
            yield row

        return map_rows(df.select(id_col, asset_col), run_img, PIL_FEATURE_SCHEMA)

    if decoder != "fake":
        raise ValueError(
            f"decoder must be 'fake', 'png', 'image' or 'pil', got {decoder!r}"
        )

    def run(_id, p):
        yield {"doc_id": _id, **_fake_decode(p)}

    return map_rows(df.select(id_col, asset_col), run, FEATURE_SCHEMA)


AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("decoded_ok", T.BooleanType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("bits_per_sample", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.DoubleType()),
        T.StructField("zero_crossing_rate", T.DoubleType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def audio_features(
    df: DataFrame, id_col: str = "doc_id", asset_col: str = "asset"
) -> DataFrame:
    """REAL audio decode + per-object signal features — the audio
    analogue of ``decoder="png"``: llm/wav_codec.py parses RIFF/PCM with
    the stdlib, numpy computes RMS / peak / zero-crossing rate per
    payload inside the Arrow batch.  Same contract as the image path:
    narrow transform (payloads never shuffle), corrupt bytes yield a
    ``decoded_ok=false`` row instead of a failed task."""
    import numpy as np

    def run(_id, p):
        from verified_sources_spark.llm.wav_codec import decode

        try:
            m = decode(bytes(p))
            s = m["samples"]  # (frames, channels) float64
            zc = 0.0
            if s.shape[0] > 1:
                zc = float(
                    np.mean(np.diff(np.signbit(s), axis=0).sum(axis=0))
                    / (s.shape[0] - 1)
                )
            row = {
                "doc_id": _id,
                "decoded_ok": True,
                "sample_rate": m["sample_rate"],
                "channels": m["channels"],
                "bits_per_sample": m["bits_per_sample"],
                "duration_ms": m["duration_ms"],
                "n_frames": m["n_frames"],
                "rms": float(np.sqrt(np.mean(s**2))) if s.size else 0.0,
                "peak": float(np.max(np.abs(s))) if s.size else 0.0,
                "zero_crossing_rate": zc,
                "n_bytes": len(p),
            }
        except Exception:
            row = {"doc_id": _id, "decoded_ok": False,
                   "n_bytes": len(p) if p is not None else 0}
        yield row

    return map_rows(df.select(id_col, asset_col), run, AUDIO_FEATURE_SCHEMA)


def frame_sample_plan(df: DataFrame, asset_col: str = "asset", every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: explode sample timestamps from metadata
    duration (decode stubbed).  Yields one row per (asset, sample_ms)."""
    return df.withColumn(
        "sample_ms",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                F.coalesce(F.col(f"{asset_col}_meta.duration_ms"), F.lit(0).cast("long")),
                F.lit(every_ms).cast("long"),
            )
        ),
    )


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("resized", T.BinaryType()),
    ]
)


def resize_images(
    df: DataFrame,
    id_col: str = "doc_id",
    asset_col: str = "asset",
    width: int = 224,
    height: int = 224,
    decoder: str = "fake",
) -> DataFrame:
    """Image resize over binary payloads: one ``map_rows`` stage whose
    decoder picks only the per-payload function.

    ``decoder="pil"``: real Pillow decode → RGB convert → LANCZOS resize →
    PNG re-encode; undecodable payloads produce a NULL ``resized`` (error
    isolation per object, same rationale as extract_features).
    ``"png"`` decodes with the stdlib PNG codec and ``"image"`` any
    stdlib-decodable format (PNG/JPEG/GIF/BMP, through image_io), both
    with a nearest-neighbor resample and PNG re-encode under the same
    isolation. The default ``"fake"`` emits a deterministic byte slice
    tagged with the target dimensions, so schema, batch shape, and
    partitioning — the Spark-side contract the real codec plugs into —
    are testable with no codecs in the environment."""

    if decoder == "pil":
        _load_pil()  # fail fast on the driver

        def resize(p):
            import io

            Image = _load_pil()
            try:
                with Image.open(io.BytesIO(p)) as im:
                    buf = io.BytesIO()
                    im.convert("RGB").resize(
                        (width, height), Image.Resampling.LANCZOS
                    ).save(buf, format="PNG")
                    return buf.getvalue()
            except Exception:
                return None

    elif decoder in ("png", "image"):
        _any = decoder == "image"

        def resize(p):
            from verified_sources_spark.llm.image_io import decode_image
            from verified_sources_spark.llm.png_codec import (
                decode,
                encode,
                resize_nearest,
            )

            try:
                im = decode_image(p) if _any else decode(p)
                ch = 4 if im["mode"] == "RGBA" else 3
                px = resize_nearest(
                    im["pixels"], im["width"], im["height"], width, height, ch
                )
                return encode(width, height, px, im["mode"])
            except Exception:
                return None

    elif decoder == "fake":

        def resize(p):
            # fake resize: size-capped deterministic slice of input
            return p[: width * height // 4096]

    else:
        raise ValueError(
            f"decoder must be 'fake', 'png', 'image' or 'pil', got {decoder!r}"
        )

    def run(_id, p):
        yield {"doc_id": _id, "width": width, "height": height, "resized": resize(p)}

    return map_rows(df.select(id_col, asset_col), run, RESIZE_SCHEMA)
