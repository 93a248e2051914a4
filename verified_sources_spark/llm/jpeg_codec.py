"""Pure-stdlib/numpy baseline JPEG codec.

JPEG is the dominant image format in any web-scale corpus; an image
pipeline that only reads PNG leaves most assets opaque.  This module
implements **baseline sequential DCT** (ITU-T T.81): DQT/DHT/SOF0/SOS
marker parsing, Huffman entropy decode (DC predictors + run-length AC),
dequantize → dezigzag → 8×8 IDCT, chroma upsampling for 4:4:4 / 4:2:2 /
4:2:0, BT.601 full-range YCbCr→RGB, and restart-interval handling.
8-bit extended sequential (SOF1) decodes through the same path — its
only deltas over SOF0 are 12-bit precision and Huffman table ids 2-3,
both handled generically.  Progressive (SOF2) routes to
llm/jpeg_progressive; arithmetic-coded, hierarchical, and 12-bit
variants REFUSE loudly with the variant named — the same honest-refusal contract
as the table-format readers.

The encoder emits baseline 4:4:4 JPEG with the T.81 Annex K example
quantization tables (quality-scaled per the IJG convention) and the
Annex K typical Huffman tables — enough to mint deterministic fixtures
and to round-trip-test the decoder against an INDEPENDENT naive IDCT in
the tests.

Scale shape: like png_codec/wav_codec/avi_codec this is plain per-asset
math executed inside ``boundary.map_rows`` stages — numpy does the DCT and
color math vectorized per image; nothing here touches Spark.

The reference has no image operators — this is part of the engine's
multimodal surface beyond reference parity (SURVEY.md multimodal row).
"""

from __future__ import annotations

import struct

__all__ = ["JpegError", "probe", "decode", "encode"]


class JpegError(ValueError):
    pass


# zigzag order: index i of the scan order -> (row, col) flat index
_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# T.81 Annex K.1 example quantization tables (luminance, chrominance)
_Q_LUMA = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]
_Q_CHROMA = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
]

# T.81 Annex K.3 typical Huffman tables: (bits[1..16], values)
_H_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_H_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_H_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_H_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)

_REFUSE_SOF = {
    0xC1: "extended sequential (SOF1)",
    0xC2: "progressive (SOF2)",
    0xC3: "lossless (SOF3)",
    0xC5: "differential sequential (SOF5)",
    0xC6: "differential progressive (SOF6)",
    0xC7: "differential lossless (SOF7)",
    0xC9: "arithmetic sequential (SOF9)",
    0xCA: "arithmetic progressive (SOF10)",
    0xCB: "arithmetic lossless (SOF11)",
    0xCD: "differential arithmetic sequential (SOF13)",
    0xCE: "differential arithmetic progressive (SOF14)",
    0xCF: "differential arithmetic lossless (SOF15)",
}


def _dct_matrix():
    """The 8x8 type-II DCT basis C with orthonormal scaling:
    block_coeffs = C @ pixels @ C.T ; pixels = C.T @ coeffs @ C."""
    import numpy as np

    k = np.arange(8)
    C = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16) / 2.0
    C[0, :] /= np.sqrt(2.0)
    return C


# ------------------------------------------------------------------ parse

def _segments(data: bytes):
    """Yield (marker, payload_start, payload_len) for each segment up to
    SOS; the caller handles the entropy-coded stream after SOS itself."""
    if data[:2] != b"\xff\xd8":
        raise JpegError("not a JPEG payload (missing SOI)")
    pos = 2
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise JpegError(f"marker sync lost at offset {pos}")
        marker = data[pos + 1]
        if marker == 0xD8 or 0xD0 <= marker <= 0xD7:  # SOI / RSTn: no body
            pos += 2
            continue
        if marker == 0xD9:  # EOI
            return
        (ln,) = struct.unpack_from(">H", data, pos + 2)
        if ln < 2 or pos + 2 + ln > len(data):
            raise JpegError(f"truncated segment 0xFF{marker:02X}")
        yield marker, pos + 4, ln - 2
        pos += 2 + ln
        if marker == 0xDA:  # SOS: entropy data follows; stop segment scan
            return
    raise JpegError("ran off the end without SOS/EOI")


def probe(data: bytes) -> dict:
    """Header-only metadata: width, height, n_components, sampling
    (e.g. '4:2:0'), progressive flag, bits.  No pixel work; progressive
    files PROBE fine (manifests need the inventory) — only ``decode``
    refuses them."""
    out = None
    for marker, start, ln in _segments(data):
        if marker == 0xC0 or marker in _REFUSE_SOF:
            if ln < 6:
                raise JpegError("SOF segment too short")
            bits, h, w, ncomp = struct.unpack_from(">BHHB", data, start)
            samp = []
            for c in range(ncomp):
                base = start + 6 + 3 * c
                samp.append((data[base + 1] >> 4, data[base + 1] & 0xF))
            if ncomp == 1:
                s = "gray"
            elif ncomp == 3 and samp[0] == (2, 2):
                s = "4:2:0"
            elif ncomp == 3 and samp[0] == (2, 1):
                s = "4:2:2"
            elif ncomp == 3 and samp[0] == (1, 1):
                s = "4:4:4"
            else:
                s = "x".join(f"{a}{b}" for a, b in samp)
            out = {
                "width": w,
                "height": h,
                "bits": bits,
                "n_components": ncomp,
                "sampling": s,
                "variant": _REFUSE_SOF.get(marker, "baseline"),
            }
    if out is None:
        raise JpegError("no SOF frame header found")
    return out


class _HuffTable:
    """Canonical table compiled two-level, libjpeg-style: an 8-bit
    first-level LUT decodes codes of <=8 bits (the overwhelming
    majority of emitted symbols) in O(1); longer codes fall back to a
    canonical maxcode/delta compare walk.  A full 16-bit LUT would be
    O(1) for every code but costs 65536 writes to build — optimized
    JPEGs (mozjpeg et al.) carry per-image tables, so build cost is
    per-image, and at 256 writes it's ~250x cheaper with no measurable
    loss in the entropy loop."""

    __slots__ = ("fast8", "maxcode", "delta", "values")

    def __init__(self, bits, values):
        # fast8[p] = (symbol << 5) | code_length for every 8-bit prefix
        # p whose code is <=8 bits; 0 marks "longer than 8 / invalid".
        fast8 = [0] * 256
        # canonical walk state for 9..16-bit codes: a code c of length
        # ln is valid iff c <= maxcode[ln]; its symbol is
        # values[delta[ln] + c].
        maxcode = [-1] * 17
        delta = [0] * 17
        if sum(bits) > len(values):
            raise JpegError("Huffman table BITS/values mismatch")
        code = 0
        k = 0
        for ln in range(1, 17):
            n = bits[ln - 1]
            if n:
                # a canonical table can hold at most 2^ln codes of
                # length ln; a corrupted BITS array over-subscribes and
                # would walk fast8/values out of range
                if code + n > (1 << ln):
                    raise JpegError("over-subscribed Huffman table")
                delta[ln] = k - code
                if ln <= 8:
                    shift = 8 - ln
                    for _ in range(n):
                        packed = (values[k] << 5) | ln
                        base = code << shift
                        for p in range(base, base + (1 << shift)):
                            fast8[p] = packed
                        code += 1
                        k += 1
                else:
                    code += n
                    k += n
                maxcode[ln] = code - 1
            code <<= 1
        self.fast8 = fast8
        self.maxcode = maxcode
        self.delta = delta
        self.values = list(values)


_HTABLE_CACHE: dict[tuple, _HuffTable] = {}


def _huff(bits, values) -> _HuffTable:
    """Compile-once cache: the 65536-entry fast table costs more to
    build than one image costs to decode, and real corpora reuse a
    handful of tables (most JPEGs ship the Annex K set verbatim)."""
    key = (tuple(bits), tuple(values))
    t = _HTABLE_CACHE.get(key)
    if t is None:
        t = _HTABLE_CACHE[key] = _HuffTable(bits, values)
    return t


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00
    unstuffing; stops at any real marker (caller checks RST)."""

    __slots__ = ("data", "pos", "acc", "nbits", "marker")

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.marker = None

    def _fill(self):
        while self.nbits <= 24:
            if self.marker is not None:
                self.acc = (self.acc << 8) & 0xFFFFFFFF
                self.nbits += 8  # pad past the end with zeros
                continue
            if self.pos >= len(self.data):
                raise JpegError("entropy stream truncated")
            b = self.data[self.pos]
            if b == 0xFF:
                nxt = self.data[self.pos + 1] if self.pos + 1 < len(self.data) else None
                if nxt == 0x00:
                    self.pos += 2
                elif nxt is None:
                    raise JpegError("entropy stream truncated at 0xFF")
                else:
                    self.marker = nxt  # real marker: stop consuming
                    continue
            else:
                self.pos += 1
            self.acc = ((self.acc << 8) | b) & 0xFFFFFFFFFF
            self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        if n == 0:
            return 0
        if n > 25:
            # _fill tops out at 25-32 buffered bits, so a larger run
            # can never be satisfied — a corrupted Huffman VALUES byte
            # decoding as a 255 DC category would spin here forever
            raise JpegError(f"bit run of {n} exceeds T.81 categories")
        while self.nbits < n:
            self._fill()
        self.nbits -= n
        return (self.acc >> self.nbits) & ((1 << n) - 1)

    def decode_symbol(self, table: _HuffTable) -> int:
        if self.nbits < 16:
            self._fill()
        code = (self.acc >> (self.nbits - 8)) & 0xFF
        packed = table.fast8[code]
        ln = packed & 0x1F
        if ln:
            self.nbits -= ln
            return packed >> 5
        # 9..16-bit code: extend bit by bit down the canonical ladder
        maxcode = table.maxcode
        ln = 9
        while True:
            if ln > 16:
                raise JpegError("invalid Huffman code")
            code = (code << 1) | ((self.acc >> (self.nbits - ln)) & 1)
            if code <= maxcode[ln]:
                break
            ln += 1
        self.nbits -= ln
        return table.values[table.delta[ln] + code]

    def align_to_marker(self):
        """Drop buffered bits and consume an expected RST marker."""
        self.acc = 0
        self.nbits = 0
        if self.marker is None:
            # scan forward: bits to the next marker are padding
            while self.pos + 1 < len(self.data):
                if self.data[self.pos] == 0xFF and self.data[self.pos + 1] != 0x00:
                    self.marker = self.data[self.pos + 1]
                    break
                self.pos += 1
        m = self.marker
        if m is not None and 0xD0 <= m <= 0xD7:
            self.pos += 2
            self.marker = None
        return m


def _extend(v: int, t: int) -> int:
    """T.81 EXTEND: map t-bit magnitude v to the signed coefficient."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def decode(data: bytes) -> dict:
    """Full decode → probe fields plus ``pixels`` (h*w*3 RGB bytes,
    top-down) and ``mode`` ('RGB') — the same contract as
    png_codec.decode, so image operators treat the two
    interchangeably.  Grayscale JPEGs decode with Y replicated to RGB.
    Non-baseline variants refuse with their name."""
    import numpy as np

    meta = probe(data)
    if meta["variant"] == "progressive (SOF2)":
        from verified_sources_spark.llm.jpeg_progressive import (
            decode_progressive,
        )

        return decode_progressive(data)
    if meta["variant"] not in ("baseline", "extended sequential (SOF1)"):
        raise JpegError(
            f"cannot decode {meta['variant']} JPEG (baseline/progressive only)"
        )
    if meta["bits"] != 8:
        raise JpegError(f"cannot decode {meta['bits']}-bit JPEG")

    qtables: dict[int, "np.ndarray"] = {}
    htables: dict[tuple[int, int], _HuffTable] = {}
    frame = None
    restart_interval = 0
    scan = None
    for marker, start, ln in _segments(data):
        seg = data[start : start + ln]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                prec, tid = seg[p] >> 4, seg[p] & 0xF
                p += 1
                if prec == 0:
                    q = np.frombuffer(seg[p : p + 64], dtype=np.uint8).astype(np.int32)
                    p += 64
                else:
                    q = np.frombuffer(seg[p : p + 128], dtype=">u2").astype(np.int32)
                    p += 128
                tbl = np.zeros(64, dtype=np.int32)
                tbl[_ZIGZAG] = q  # stored in zigzag order
                qtables[tid] = tbl.reshape(8, 8)
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                cls, tid = seg[p] >> 4, seg[p] & 0xF
                bits = list(seg[p + 1 : p + 17])
                n = sum(bits)
                values = list(seg[p + 17 : p + 17 + n])
                htables[(cls, tid)] = _huff(bits, values)
                p += 17 + n
        elif marker in (0xC0, 0xC1):  # SOF0 / SOF1 (8-bit: same decode)
            if len(seg) < 6:
                raise JpegError("truncated SOF segment")
            _bits, h, w, ncomp = struct.unpack_from(">BHHB", seg, 0)
            if len(seg) < 6 + 3 * ncomp:
                raise JpegError(
                    f"SOF declares {ncomp} components but segment "
                    f"holds {len(seg)} bytes")
            comps = []
            for c in range(ncomp):
                cid = seg[6 + 3 * c]
                hv = seg[7 + 3 * c]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0xF, "q": seg[8 + 3 * c]}
                )
            frame = {"w": w, "h": h, "comps": comps}
        elif marker == 0xDD:  # DRI
            if len(seg) < 2:
                raise JpegError("truncated DRI segment")
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS
            if not seg:
                raise JpegError("empty SOS segment")
            ns = seg[0]
            if len(seg) < 1 + 2 * ns:
                raise JpegError(
                    f"SOS declares {ns} scan components but segment "
                    f"holds {len(seg)} bytes")
            comp_tables = {}
            for c in range(ns):
                cid, tt = seg[1 + 2 * c], seg[2 + 2 * c]
                comp_tables[cid] = (tt >> 4, tt & 0xF)
            scan = {"tables": comp_tables, "data_start": start + ln}
    if frame is None or scan is None:
        raise JpegError("missing SOF0/SOS")

    comps = frame["comps"]
    for c in comps:
        # T.81 B.2.2: sampling factors are 1..4; a corrupted SOF byte
        # with h/v = 0 would divide by zero in the upsampler, and the
        # SOS component map must cover every frame component or the
        # table lookup KeyErrors past the refusal net
        if not (1 <= c["h"] <= 4 and 1 <= c["v"] <= 4):
            raise JpegError(
                f"component {c['id']}: sampling {c['h']}x{c['v']} "
                "outside T.81 range")
        if c["id"] not in scan["tables"]:
            raise JpegError(
                f"SOS lists no entropy tables for component {c['id']}")
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    w, h = frame["w"], frame["h"]
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)

    C = _dct_matrix()
    planes = []
    pending: list[list] = []  # per comp: (y0, x0, dequantized 8x8) tuples
    for c in comps:
        pw, ph = mcux * 8 * c["h"], mcuy * 8 * c["v"]
        planes.append(np.zeros((ph, pw), dtype=np.float64))
        pending.append([])

    reader = _BitReader(data, scan["data_start"])
    preds = [0] * len(comps)
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                m = reader.align_to_marker()
                if m is None or not 0xD0 <= m <= 0xD7:
                    raise JpegError("expected restart marker")
                preds = [0] * len(comps)
            for ci, c in enumerate(comps):
                dc_t, ac_t = scan["tables"][c["id"]]
                dc_table = htables.get((0, dc_t))
                ac_table = htables.get((1, ac_t))
                q = qtables.get(c["q"])
                if dc_table is None or ac_table is None:
                    # MJPG convention: streams omit DHT and rely on the
                    # T.81 Annex K typical tables (OpenDML spec says so)
                    dc_table = dc_table or _huff(
                        *(_H_DC_LUMA if dc_t == 0 else _H_DC_CHROMA)
                    )
                    ac_table = ac_table or _huff(
                        *(_H_AC_LUMA if ac_t == 0 else _H_AC_CHROMA)
                    )
                    htables[(0, dc_t)] = dc_table
                    htables[(1, ac_t)] = ac_table
                if q is None:
                    raise JpegError("scan references undefined DQT table")
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        coeffs = np.zeros(64, dtype=np.float64)
                        t = reader.decode_symbol(dc_table)
                        diff = _extend(reader.read_bits(t), t)
                        preds[ci] += diff
                        coeffs[0] = preds[ci]
                        k = 1
                        while k < 64:
                            rs = reader.decode_symbol(ac_table)
                            r, s = rs >> 4, rs & 0xF
                            if s == 0:
                                if r == 15:  # ZRL
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise JpegError("AC run past block end")
                            coeffs[_ZIGZAG[k]] = _extend(reader.read_bits(s), s)
                            k += 1
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        pending[ci].append((y0, x0, coeffs.reshape(8, 8) * q))
            mcu_count += 1

    # batched IDCT: one einsum per component instead of two tiny matmuls
    # per block — the block loop above is entropy-bound, this is math-bound
    for ci, blocks in enumerate(pending):
        if not blocks:
            continue
        stacked = np.stack([b for _y, _x, b in blocks])
        # batched BLAS matmul broadcasts (8,8) @ (n,8,8) @ (8,8)
        pix = np.matmul(np.matmul(C.T, stacked), C) + 128.0
        for (y0, x0, _b), blk in zip(blocks, pix):
            planes[ci][y0 : y0 + 8, x0 : x0 + 8] = blk

    # upsample each component to full resolution (nearest) and crop
    full = []
    for ci, c in enumerate(comps):
        p = planes[ci]
        if c["h"] != hmax or c["v"] != vmax:
            p = np.repeat(np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"], axis=1)
        full.append(p[:h, :w])
    if len(comps) == 3:
        y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
        r = y + 1.402 * cr
        g = y - 0.344136 * cb - 0.714136 * cr
        b = y + 1.772 * cb
        rgb = np.stack([r, g, b], axis=2)
    elif len(comps) == 1:
        rgb = np.stack([full[0]] * 3, axis=2)
    else:
        raise JpegError(f"unsupported component count {len(comps)}")
    pixels = np.clip(np.round(rgb), 0, 255).astype(np.uint8).tobytes()
    meta = dict(meta)
    meta["pixels"] = pixels
    meta["mode"] = "RGB"
    return meta


# ----------------------------------------------------------------- encode

class _BitWriter:
    __slots__ = ("out", "acc", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int):
        self.acc = (self.acc << n) | (value & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def flush(self):
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s per spec


def _encode_codes(bits, values):
    """symbol -> (code, length) for the canonical table."""
    out = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[values[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


def _magnitude(v: int) -> tuple[int, int]:
    """(category t, t-bit magnitude code) per T.81 F.1.2.1."""
    t = 0
    a = abs(v)
    while a:
        t += 1
        a >>= 1
    if v >= 0:
        return t, v
    return t, v + (1 << t) - 1


def _quality_scale(tbl, quality: int):
    import numpy as np

    quality = min(100, max(1, quality))
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (np.asarray(tbl, dtype=np.int64) * s + 50) // 100
    return np.clip(q, 1, 255).astype(np.int32)


def encode(
    width: int,
    height: int,
    pixels: bytes,
    quality: int = 90,
    subsampling: str = "4:4:4",
    grayscale: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Baseline JPEG from top-down RGB bytes (h*w*3) with the Annex K
    tables at the given IJG-convention quality.  ``subsampling`` picks
    4:4:4 or 4:2:0 (the wild's default) chroma layout; ``grayscale``
    emits a single-component scan; ``restart_interval`` > 0 writes DRI
    and RSTn markers every that many MCUs (predictor reset +
    byte-align, the resilience feature streaming encoders use).
    Deterministic: the fixture generator for tests and graded probes."""
    import numpy as np

    if len(pixels) != width * height * 3:
        raise JpegError("pixel buffer does not match width*height*3")
    if subsampling not in ("4:4:4", "4:2:2", "4:2:0"):
        raise JpegError(f"unsupported subsampling {subsampling!r}")
    rgb = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width, 3).astype(np.float64)
    r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0

    qy = _quality_scale(_Q_LUMA, quality)
    qc = _quality_scale(_Q_CHROMA, quality)
    qy_tbl = np.zeros(64, dtype=np.int32)
    qy_tbl[_ZIGZAG] = qy
    qc_tbl = np.zeros(64, dtype=np.int32)
    qc_tbl[_ZIGZAG] = qc
    qy2d, qc2d = qy_tbl.reshape(8, 8), qc_tbl.reshape(8, 8)

    if grayscale:
        hv_y = (1, 1)
    elif subsampling == "4:2:0":
        hv_y = (2, 2)
    elif subsampling == "4:2:2":
        hv_y = (2, 1)
    else:
        hv_y = (1, 1)
    sub = hv_y != (1, 1)
    hmax, vmax = hv_y
    mcux = (width + 8 * hmax - 1) // (8 * hmax)
    mcuy = (height + 8 * vmax - 1) // (8 * vmax)

    def pad_to(plane, pw, ph):
        h0, w0 = plane.shape
        out = np.empty((ph, pw), dtype=np.float64)
        out[:h0, :w0] = plane
        out[h0:, :w0] = plane[-1:, :]  # edge-replicate padding
        out[:, w0:] = out[:, w0 - 1 : w0]
        return out

    if sub:
        # average chroma over the sampling block (2x2 for 4:2:0,
        # 1x2 horizontal-only for 4:2:2), after padding to MCU multiples
        sh, sv = hv_y
        pw, ph = mcux * 8 * sh, mcuy * 8 * sv
        ye = pad_to(y, pw, ph)
        cbe = pad_to(cb, pw, ph)
        cre = pad_to(cr, pw, ph)
        down = lambda p: p.reshape(
            p.shape[0] // sv, sv, p.shape[1] // sh, sh
        ).mean(axis=(1, 3))
        comps = [
            (ye, qy2d, 0, sh, sv),
            (down(cbe), qc2d, 1, 1, 1),
            (down(cre), qc2d, 1, 1, 1),
        ]
    elif grayscale:
        comps = [(pad_to(y, mcux * 8, mcuy * 8), qy2d, 0, 1, 1)]
    else:
        comps = [
            (pad_to(y, mcux * 8, mcuy * 8), qy2d, 0, 1, 1),
            (pad_to(cb, mcux * 8, mcuy * 8), qc2d, 1, 1, 1),
            (pad_to(cr, mcux * 8, mcuy * 8), qc2d, 1, 1, 1),
        ]

    C = _dct_matrix()
    dc_codes = [_encode_codes(*_H_DC_LUMA), _encode_codes(*_H_DC_CHROMA)]
    ac_codes = [_encode_codes(*_H_AC_LUMA), _encode_codes(*_H_AC_CHROMA)]

    wtr = _BitWriter()
    out_stream = bytearray()
    preds = [0] * len(comps)
    mcu_count = 0
    rst_idx = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                wtr.flush()
                out_stream += wtr.out
                wtr = _BitWriter()
                out_stream += bytes([0xFF, 0xD0 + (rst_idx % 8)])
                rst_idx += 1
                preds = [0] * len(comps)
            for ci, (plane, q, ti, ch, cv) in enumerate(comps):
                for by in range(cv):
                    for bx in range(ch):
                        y0 = (my * cv + by) * 8
                        x0 = (mx * ch + bx) * 8
                        blk = plane[y0 : y0 + 8, x0 : x0 + 8] - 128.0
                        coeffs = C @ blk @ C.T
                        quant = np.round(coeffs / q).astype(np.int64)
                        zz = quant.ravel()[_ZIGZAG]
                        t, mag = _magnitude(int(zz[0]) - preds[ci])
                        preds[ci] = int(zz[0])
                        code, ln = dc_codes[ti][t]
                        wtr.write(code, ln)
                        if t:
                            wtr.write(mag, t)
                        run = 0
                        last_nz = max((k for k in range(1, 64) if zz[k]), default=0)
                        for k in range(1, last_nz + 1):
                            v = int(zz[k])
                            if v == 0:
                                run += 1
                                continue
                            while run > 15:
                                code, ln = ac_codes[ti][0xF0]  # ZRL
                                wtr.write(code, ln)
                                run -= 16
                            t, mag = _magnitude(v)
                            code, ln = ac_codes[ti][(run << 4) | t]
                            wtr.write(code, ln)
                            wtr.write(mag, t)
                            run = 0
                        if last_nz < 63:
                            code, ln = ac_codes[ti][0x00]  # EOB
                            wtr.write(code, ln)
            mcu_count += 1
    wtr.flush()
    out_stream += wtr.out

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    def dqt(tid: int, tbl2d) -> bytes:
        zz = tbl2d.ravel()[_ZIGZAG].astype(np.uint8).tobytes()
        return seg(0xDB, bytes([tid]) + zz)

    def dht(cls: int, tid: int, table) -> bytes:
        bits, values = table
        return seg(0xC4, bytes([(cls << 4) | tid]) + bytes(bits) + bytes(values))

    parts = [b"\xff\xd8", dqt(0, qy2d)]
    if not grayscale:
        parts.append(dqt(1, qc2d))
    parts += [dht(0, 0, _H_DC_LUMA), dht(1, 0, _H_AC_LUMA)]
    if not grayscale:
        parts += [dht(0, 1, _H_DC_CHROMA), dht(1, 1, _H_AC_CHROMA)]
    y_hv = (hv_y[0] << 4) | hv_y[1]
    if grayscale:
        sof_body = struct.pack(">BHHB", 8, height, width, 1) + bytes([1, 0x11, 0])
        sos_body = bytes([1, 1, 0x00, 0, 63, 0])
    else:
        sof_body = struct.pack(">BHHB", 8, height, width, 3) + bytes(
            [1, y_hv, 0, 2, 0x11, 1, 3, 0x11, 1]
        )
        sos_body = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    parts.append(seg(0xC0, sof_body))
    if restart_interval:
        parts.append(seg(0xDD, struct.pack(">H", restart_interval)))
    parts += [seg(0xDA, sos_body), bytes(out_stream), b"\xff\xd9"]
    return b"".join(parts)
