"""Pure-stdlib WAV (RIFF/PCM) codec — the audio analogue of png_codec.

Makes the multimodal AUDIO decode path REAL with zero dependencies
(stdlib struct only, numpy for sample math): parse the RIFF container,
locate ``fmt `` / ``data`` chunks, and expose integer PCM samples for
feature extraction on executors.  Like png_codec, this exists so the
Spark-side plumbing (``boundary.map_rows`` stages, schema, per-object error
isolation) is exercised end-to-end against genuine media bytes, not a
byte-sum fake — the reference's unstructured/filesystem sources treat
media as opaque payloads plus typed metadata (SURVEY.md §2.1 #31/#32);
the decode itself is the part their container also outsources.

Supports the overwhelmingly common on-disk shapes: PCM (format 1) and
IEEE float (format 3), 8/16/24/32-bit, any channel count/rate, plus the
G.711 telephony codings A-law (format 6) and μ-law (format 7) — call
recordings and voicemail corpora are full of them.  Everything else
raises ``WavError`` — per-object isolation in ``audio_features`` maps a
poisoned payload to an error row, never a failed task.
"""

from __future__ import annotations

import struct

__all__ = ["WavError", "probe", "decode", "encode"]


class WavError(ValueError):
    pass


def _chunks(data: bytes):
    """Yield (chunk_id, payload) over a RIFF body; tolerant of the odd
    trailing pad byte chunks carry when their size is odd."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise WavError("not a RIFF/WAVE payload")
    pos = 12
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        (size,) = struct.unpack_from("<I", data, pos + 4)
        body = data[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise WavError(f"truncated {cid!r} chunk: {len(body)} < {size}")
        yield cid, body
        pos += 8 + size + (size & 1)


def probe(data: bytes) -> dict:
    """Header-only metadata — no sample materialization (the cheap path
    for manifest building over 100 TB of audio)."""
    fmt = None
    data_len = None
    for cid, body in _chunks(data):
        if cid == b"fmt " and fmt is None:
            if len(body) < 16:
                raise WavError("fmt chunk too short")
            (audio_format, channels, rate, _br, block_align, bits) = struct.unpack_from(
                "<HHIIHH", body, 0
            )
            fmt = {
                "format": audio_format,
                "channels": channels,
                "sample_rate": rate,
                "block_align": block_align,
                "bits_per_sample": bits,
                "_fmt_body": bytes(body),
            }
        elif cid == b"data" and data_len is None:
            data_len = len(body)
    if fmt is None or data_len is None:
        raise WavError("missing fmt/data chunk")
    if fmt["format"] not in (1, 3, 6, 7, 17):
        raise WavError(f"unsupported WAV format code {fmt['format']}")
    if fmt["format"] == 3 and fmt["bits_per_sample"] not in (32, 64):
        raise WavError("IEEE-float WAV must be 32- or 64-bit")
    if fmt["format"] == 1 and fmt["bits_per_sample"] not in (8, 16, 24, 32):
        raise WavError(f"unsupported PCM depth {fmt['bits_per_sample']}")
    if fmt["format"] in (6, 7) and fmt["bits_per_sample"] != 8:
        raise WavError("G.711 A-law/mu-law WAV must be 8-bit")
    if fmt["block_align"] == 0 or fmt["channels"] == 0 or fmt["sample_rate"] == 0:
        raise WavError("degenerate fmt chunk")
    if fmt["format"] == 17:  # IMA ADPCM: frames live in fixed blocks
        if fmt["bits_per_sample"] != 4:
            raise WavError("IMA ADPCM WAV must be 4-bit")
        if fmt["_fmt_body"] is None or len(fmt["_fmt_body"]) < 20:
            raise WavError("IMA ADPCM fmt chunk missing samplesPerBlock")
        (spb,) = struct.unpack_from("<H", fmt["_fmt_body"], 18)
        ch = fmt["channels"]
        expect = ((spb - 1) // 2 + 4) * ch
        if fmt["block_align"] != expect:
            raise WavError(
                f"IMA ADPCM block_align {fmt['block_align']} inconsistent "
                f"with samplesPerBlock {spb} ({expect} expected)"
            )
        fmt["samples_per_block"] = spb
        n_frames = (data_len // fmt["block_align"]) * spb
    else:
        n_frames = data_len // fmt["block_align"]
    fmt.pop("_fmt_body", None)
    fmt["n_frames"] = n_frames
    fmt["duration_ms"] = int(n_frames * 1000 // fmt["sample_rate"])
    return fmt


_IMA_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 81, 89, 98, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]
_IMA_INDEX = [-1, -1, -1, -1, 2, 4, 6, 8]


def _ima_step(pred: int, idx: int, n: int) -> tuple[int, int]:
    """One IMA ADPCM predictor update — shared by decode AND encode
    (the encoder must track the decoder's state exactly or blocks
    drift)."""
    step = _IMA_STEPS[idx]
    diff = step >> 3
    if n & 1:
        diff += step >> 2
    if n & 2:
        diff += step >> 1
    if n & 4:
        diff += step
    pred = pred - diff if n & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    idx = max(0, min(88, idx + _IMA_INDEX[n & 7]))
    return pred, idx


def _decode_ima(body: bytes, meta: dict):
    import numpy as np

    ch = meta["channels"]
    ba = meta["block_align"]
    spb = meta["samples_per_block"]
    n_blocks = len(body) // ba
    out = np.zeros((n_blocks * spb, ch), dtype=np.float64)
    for blk in range(n_blocks):
        base = blk * ba
        for c in range(ch):
            hoff = base + 4 * c
            pred = struct.unpack_from("<h", body, hoff)[0]
            idx = body[hoff + 2]
            if idx > 88:
                raise WavError("IMA ADPCM step index out of range")
            pos = blk * spb
            out[pos, c] = pred
            k = 1
            doff = base + 4 * ch
            # nibble groups: 4 bytes per channel, interleaved
            group = 0
            while k < spb:
                goff = doff + (group * ch + c) * 4
                for byte_i in range(4):
                    b = body[goff + byte_i]
                    for nib in (b & 0x0F, b >> 4):
                        if k >= spb:
                            break
                        pred, idx = _ima_step(pred, idx, nib)
                        out[pos + k, c] = pred
                        k += 1
                group += 1
    meta = dict(meta)
    meta["samples"] = out / 32768.0
    return meta


def decode(data: bytes) -> dict:
    """Full decode → probe fields plus ``samples``: a float64 numpy array
    of shape (n_frames, channels), normalized to [-1, 1] for integer PCM
    (8-bit unsigned is centered first, per spec)."""
    import numpy as np

    meta = probe(data)
    body = next(b for cid, b in _chunks(data) if cid == b"data")
    if meta["format"] == 17:
        return _decode_ima(body, meta)
    bits, ch = meta["bits_per_sample"], meta["channels"]
    usable = meta["n_frames"] * meta["block_align"]
    body = body[:usable]
    if meta["format"] == 3:
        arr = np.frombuffer(body, dtype="<f4" if bits == 32 else "<f8").astype(
            np.float64
        )
    elif meta["format"] == 7:  # G.711 mu-law
        u = (~np.frombuffer(body, dtype=np.uint8).astype(np.int32)) & 0xFF
        mag = ((((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 7)) - 0x84
        arr = np.where(u & 0x80, -mag, mag).astype(np.float64) / 32768.0
    elif meta["format"] == 6:  # G.711 A-law
        a = np.frombuffer(body, dtype=np.uint8).astype(np.int32) ^ 0x55
        seg = (a >> 4) & 7
        mant = a & 0x0F
        mag = np.where(
            seg == 0,
            (mant << 4) + 8,
            ((mant << 4) + 0x108) << np.maximum(seg - 1, 0),
        )
        # A-law sign convention: bit 7 SET means positive
        arr = np.where(a & 0x80, mag, -mag).astype(np.float64) / 32768.0
    elif bits == 8:
        arr = (np.frombuffer(body, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    elif bits == 16:
        arr = np.frombuffer(body, dtype="<i2").astype(np.float64) / 32768.0
    elif bits == 32:
        arr = np.frombuffer(body, dtype="<i4").astype(np.float64) / 2147483648.0
    else:  # 24-bit: no native dtype — widen via a zero-padded int32 view
        raw = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        padded = np.zeros((raw.shape[0], 4), dtype=np.uint8)
        padded[:, 1:] = raw  # little-endian: pad the LOW byte, then >> 8
        arr = (padded.view("<i4").ravel() >> 8).astype(np.float64) / 8388608.0
    meta["samples"] = arr.reshape(-1, ch)
    return meta


def encode(
    samples, sample_rate: int, bits: int = 16, encoding: str = "pcm"
) -> bytes:
    """float samples in [-1, 1] (array-like, 1-D mono or (frames,
    channels)) → WAV bytes.  ``encoding``: 'pcm' (8/16-bit), 'ulaw' or
    'alaw' (G.711 companding, 8-bit).  Deterministic: fixture generator
    for tests and the executor-side round-trip check."""
    import numpy as np

    arr = np.asarray(samples, dtype=np.float64)
    if arr.ndim == 1:
        arr = arr[:, None]
    if encoding == "ulaw":
        lin = np.clip(np.round(arr * 32767.0), -32635, 32635).astype(np.int64)
        sign = np.where(lin < 0, 0x80, 0)
        x = np.abs(lin) + 0x84
        # exponent = bit position of the leading 1 above bit 7
        exp = np.maximum(
            np.int64(np.floor(np.log2(np.maximum(x, 1)))) - 7, 0
        )
        mant = (x >> (exp + 3)) & 0x0F
        pcm = ((~(sign | (exp << 4) | mant)) & 0xFF).astype(np.uint8).tobytes()
        fmt_code, bits = 7, 8
    elif encoding == "alaw":
        lin = np.clip(np.round(arr * 32767.0), -32767, 32767).astype(np.int64)
        sign = np.where(lin >= 0, 0x80, 0)
        x = np.abs(lin)
        bl = np.int64(np.floor(np.log2(np.maximum(x, 1)))) + 1
        seg = np.maximum(bl - 8, 0)
        a = np.where(seg == 0, x >> 4, ((x >> (seg + 3)) & 0x0F) | (seg << 4))
        pcm = ((a | sign) ^ 0x55).astype(np.uint8).tobytes()
        fmt_code, bits = 6, 8
    elif encoding == "ima":
        # IMA ADPCM (format 17): 505 samples/block (block data divisible
        # into 4-byte nibble groups), encoder tracks the decoder's
        # predictor state exactly
        spb = 505
        channels = arr.shape[1]
        lin = np.clip(np.round(arr * 32767.0), -32768, 32767).astype(np.int64)
        n = lin.shape[0]
        n_blocks = (n + spb - 1) // spb
        pad = n_blocks * spb - n
        if pad:
            lin = np.vstack([lin, np.repeat(lin[-1:], pad, axis=0)])
        ba = ((spb - 1) // 2 + 4) * channels
        blocks = bytearray()
        idx_state = [0] * channels
        for blk in range(n_blocks):
            seg = lin[blk * spb : (blk + 1) * spb]
            headers = bytearray()
            payload = [bytearray() for _ in range(channels)]
            for c in range(channels):
                pred = int(seg[0, c])
                idx = idx_state[c]
                headers += struct.pack("<hBB", pred, idx, 0)
                nibbles = []
                for k in range(1, spb):
                    x = int(seg[k, c])
                    step = _IMA_STEPS[idx]
                    diff = x - pred
                    nib = 8 if diff < 0 else 0
                    diff = abs(diff)
                    if diff >= step:
                        nib |= 4
                        diff -= step
                    if diff >= step >> 1:
                        nib |= 2
                        diff -= step >> 1
                    if diff >= step >> 2:
                        nib |= 1
                    pred, idx = _ima_step(pred, idx, nib)
                    nibbles.append(nib)
                for i in range(0, len(nibbles), 2):
                    payload[c].append(
                        nibbles[i] | (nibbles[i + 1] << 4 if i + 1 < len(nibbles) else 0)
                    )
                idx_state[c] = idx
            blocks += headers
            for g in range(len(payload[0]) // 4):
                for c in range(channels):
                    blocks += payload[c][4 * g : 4 * g + 4]
        fmt = struct.pack(
            "<HHIIHHHH", 17, channels, sample_rate,
            sample_rate * ba // spb, ba, 4, 2, spb,
        )
        pcm = bytes(blocks)
        pad_b = b"\x00" if len(pcm) % 2 else b""
        body = (
            b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(pcm)) + pcm + pad_b
        )
        return b"RIFF" + struct.pack("<I", len(body)) + body
    elif encoding != "pcm":
        raise WavError(f"encode supports pcm/ulaw/alaw/ima, not {encoding!r}")
    elif bits == 16:
        pcm = np.clip(np.round(arr * 32767.0), -32768, 32767).astype("<i2").tobytes()
        fmt_code = 1
    elif bits == 8:
        pcm = (
            np.clip(np.round(arr * 127.0) + 128, 0, 255).astype(np.uint8).tobytes()
        )
        fmt_code = 1
    else:
        raise WavError("encode supports 8- or 16-bit PCM")
    channels = arr.shape[1]
    block_align = channels * bits // 8
    fmt = struct.pack(
        "<HHIIHH", fmt_code, channels, sample_rate, sample_rate * block_align,
        block_align, bits,
    )
    # RIFF chunks are word-aligned: an odd-sized data chunk carries a
    # trailing pad byte EXCLUDED from the chunk size but included in the
    # RIFF size (8-bit mono with an odd frame count hits this)
    pad = b"\x00" if len(pcm) % 2 else b""
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm + pad
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body
