"""EXIF metadata probe + scrub for JPEG payloads — the PII/compliance
pass for image corpora.

Scraped photos carry EXIF: timestamps, camera serials and — the big
one — GPS coordinates.  A 100 TB image corpus needs (a) an INVENTORY
pass (which assets carry what metadata, does anything geolocate a
person) and (b) a SCRUB pass that removes the metadata without
touching a single pixel byte.  Both are pure segment/TIFF walking:

- ``probe_exif``: find the APP1 "Exif" segment, walk the TIFF IFDs
  (both endiannesses, IFD0 → ExifIFD → GPSIFD), and return the
  compliance-relevant facts: camera make/model, datetime, orientation,
  software, and ``has_gps`` with the decoded latitude/longitude.
  Bounds-checked; a malformed TIFF raises ``ExifError``.
- ``strip_metadata``: re-emit the JPEG with APP1/APP2/COM segments
  dropped (APP0/JFIF kept — decoders expect it; entropy data untouched,
  so the image decodes byte-identically).  The scrubbed file must
  still decode: verified in tests via the repo's own JPEG decoder.

Fixture writer ``build_exif_app1`` emits real TIFF IFD structures so
tests parse layouts with both byte orders, rational GPS values and
pointer chains.
"""

from __future__ import annotations

import struct

from verified_sources_spark.boundary import map_rows

__all__ = ["ExifError", "probe_exif", "strip_metadata", "build_exif_app1",
           "inject_app1"]


class ExifError(ValueError):
    pass


_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1, 9: 4, 10: 8}

# IFD0 / Exif tags of compliance interest
_TAG_MAKE = 0x010F
_TAG_MODEL = 0x0110
_TAG_ORIENTATION = 0x0112
_TAG_SOFTWARE = 0x0131
_TAG_DATETIME = 0x0132
_TAG_EXIF_IFD = 0x8769
_TAG_GPS_IFD = 0x8825
_TAG_DT_ORIGINAL = 0x9003
# GPS IFD
_TAG_GPS_LAT_REF = 0x0001
_TAG_GPS_LAT = 0x0002
_TAG_GPS_LON_REF = 0x0003
_TAG_GPS_LON = 0x0004


def _segments(data: bytes):
    if data[:2] != b"\xff\xd8":
        raise ExifError("not a JPEG payload (missing SOI)")
    pos = 2
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ExifError(f"marker sync lost at offset {pos}")
        marker = data[pos + 1]
        if marker == 0xD8 or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9:
            return
        (ln,) = struct.unpack_from(">H", data, pos + 2)
        if ln < 2 or pos + 2 + ln > len(data):
            raise ExifError(f"truncated segment 0xFF{marker:02X}")
        yield marker, pos, ln
        pos += 2 + ln
        if marker == 0xDA:
            return


def _read_ifd(data: bytes, base: int, off: int, bo: str) -> tuple[dict, int]:
    """Parse one IFD at tiff-offset ``off``: {tag: value} and the
    next-IFD offset.  Values resolve through the offset indirection for
    payloads wider than 4 bytes."""
    p = base + off
    if p + 2 > len(data):
        raise ExifError(f"truncated IFD header at tiff+{off}")
    (n,) = struct.unpack_from(bo + "H", data, p)
    p += 2
    if p + 12 * n + 4 > len(data):
        raise ExifError(f"truncated IFD: {n} entries at tiff+{off}")
    out = {}
    for i in range(n):
        e = p + 12 * i
        tag, typ, cnt = struct.unpack_from(bo + "HHI", data, e)
        size = _TYPE_SIZES.get(typ, 1) * cnt
        if size <= 4:
            voff = e + 8
        else:
            (rel,) = struct.unpack_from(bo + "I", data, e + 8)
            voff = base + rel
            if voff + size > len(data):
                raise ExifError(f"IFD value for tag 0x{tag:04X} out of range")
        if typ == 2:  # ASCII
            raw = data[voff : voff + cnt]
            out[tag] = raw.split(b"\x00")[0].decode("ascii", errors="replace")
        elif typ == 3:
            vals = struct.unpack_from(bo + "H" * cnt, data, voff)
            out[tag] = vals[0] if cnt == 1 else list(vals)
        elif typ == 4 or typ == 9:
            vals = struct.unpack_from(bo + "I" * cnt, data, voff)
            out[tag] = vals[0] if cnt == 1 else list(vals)
        elif typ == 5 or typ == 10:  # rationals
            vals = []
            for k in range(cnt):
                num, den = struct.unpack_from(bo + "II", data, voff + 8 * k)
                vals.append((num, den))
            out[tag] = vals
        else:
            out[tag] = data[voff : voff + size]
    (nxt,) = struct.unpack_from(bo + "I", data, p + 12 * n)
    return out, nxt


def _dms_to_deg(vals, ref: str) -> float:
    deg = 0.0
    for (num, den), scale in zip(vals, (1.0, 60.0, 3600.0)):
        if den:
            deg += (num / den) / scale
    if ref in ("S", "W"):
        deg = -deg
    return deg


def probe_exif(data: bytes) -> dict:
    """Compliance inventory for a JPEG: ``has_exif``, make, model,
    orientation, software, datetime, ``has_gps`` and decoded lat/lon
    (None when absent).  Pixels are never touched."""
    out = {
        "has_exif": False, "make": None, "model": None,
        "orientation": None, "software": None, "datetime": None,
        "has_gps": False, "latitude": None, "longitude": None,
    }
    for marker, pos, ln in _segments(data):
        if marker != 0xE1 or data[pos + 4 : pos + 10] != b"Exif\x00\x00":
            continue
        out["has_exif"] = True
        base = pos + 10  # TIFF header start
        order = data[base : base + 2]
        if order == b"II":
            bo = "<"
        elif order == b"MM":
            bo = ">"
        else:
            raise ExifError(f"bad TIFF byte order {order!r}")
        (magic,) = struct.unpack_from(bo + "H", data, base + 2)
        if magic != 42:
            raise ExifError(f"bad TIFF magic {magic}")
        (ifd0_off,) = struct.unpack_from(bo + "I", data, base + 4)
        ifd0, _ = _read_ifd(data, base, ifd0_off, bo)
        out["make"] = ifd0.get(_TAG_MAKE)
        out["model"] = ifd0.get(_TAG_MODEL)
        out["orientation"] = ifd0.get(_TAG_ORIENTATION)
        out["software"] = ifd0.get(_TAG_SOFTWARE)
        out["datetime"] = ifd0.get(_TAG_DATETIME)
        if _TAG_EXIF_IFD in ifd0:
            exif_ifd, _ = _read_ifd(data, base, ifd0[_TAG_EXIF_IFD], bo)
            out["datetime"] = exif_ifd.get(_TAG_DT_ORIGINAL, out["datetime"])
        if _TAG_GPS_IFD in ifd0:
            gps, _ = _read_ifd(data, base, ifd0[_TAG_GPS_IFD], bo)
            lat, lon = gps.get(_TAG_GPS_LAT), gps.get(_TAG_GPS_LON)
            if lat and lon:
                out["has_gps"] = True
                out["latitude"] = round(
                    _dms_to_deg(lat, gps.get(_TAG_GPS_LAT_REF, "N")), 6
                )
                out["longitude"] = round(
                    _dms_to_deg(lon, gps.get(_TAG_GPS_LON_REF, "E")), 6
                )
        break
    return out


def strip_metadata(data: bytes) -> bytes:
    """Re-emit the JPEG with APP1 (EXIF/XMP), APPn and COM segments
    removed; APP0/JFIF, quantization/Huffman tables, frame and scan
    data pass through byte-identical — the image decodes exactly as
    before, it just no longer says where it was taken.  Two APPn
    segments are DECODE-BEARING, not metadata, and are kept: APP14
    (Adobe DCT marker — decoders infer the YCCK/CMYK/RGB color
    transform from it, so dropping it recolors Adobe-encoded JPEGs)
    and APP2 ICC profiles (color management; carries no provenance)."""
    out = bytearray(b"\xff\xd8")
    pos = 2
    n = len(data)
    while pos + 4 <= n:
        if data[pos] != 0xFF:
            raise ExifError(f"marker sync lost at offset {pos}")
        marker = data[pos + 1]
        if marker == 0xD9:
            break
        (ln,) = struct.unpack_from(">H", data, pos + 2)
        if ln < 2 or pos + 2 + ln > n:
            raise ExifError(f"truncated segment 0xFF{marker:02X}")
        seg = data[pos : pos + 2 + ln]
        keep = not (0xE1 <= marker <= 0xEF or marker == 0xFE)
        if marker == 0xEE or (
            marker == 0xE2 and seg[4:16] == b"ICC_PROFILE\x00"
        ):
            keep = True
        if keep:
            out += seg
        pos += 2 + ln
        if marker == 0xDA:  # entropy data + EOI: copy the rest verbatim
            out += data[pos:]
            return bytes(out)
    out += b"\xff\xd9"
    return bytes(out)


# --------------------------------------------------------------- fixtures
def build_exif_app1(
    make: str = "ProbeCam",
    model: str = "PX-1",
    orientation: int = 1,
    datetime: str = "2026:01/01 00:00:00",
    gps: tuple[float, float] | None = None,
    byte_order: str = "II",
) -> bytes:
    """A real APP1/Exif segment: TIFF header + IFD0 (+ GPS IFD when
    ``gps`` given), little- or big-endian."""
    bo = "<" if byte_order == "II" else ">"

    def entry(tag, typ, cnt, val4):
        return struct.pack(bo + "HHI", tag, typ, cnt) + val4

    heap = bytearray()

    # layout: TIFF hdr (8) + IFD0 + [GPS IFD] + heap; compute sizes first
    n0 = 4 + (1 if gps else 0)
    ifd0_off = 8
    ifd0_size = 2 + 12 * n0 + 4
    gps_off = ifd0_off + ifd0_size
    gps_size = (2 + 12 * 4 + 4) if gps else 0
    heap_off = gps_off + gps_size

    def sref(s):
        raw = s.encode() + b"\x00"
        off = heap_off + len(heap)
        heap.extend(raw)
        if len(raw) <= 4:
            return len(raw), raw + b"\x00" * (4 - len(raw)), None
        return len(raw), struct.pack(bo + "I", off), None

    def rational3(deg):
        d = int(deg)
        m = int((deg - d) * 60)
        s = (deg - d - m / 60) * 3600
        off = heap_off + len(heap)
        for num, den in ((d, 1), (m, 1), (int(round(s * 1000)), 1000)):
            heap.extend(struct.pack(bo + "II", num, den))
        return struct.pack(bo + "I", off)

    entries0 = []
    cnt, v4, _ = sref(make)
    entries0.append(entry(_TAG_MAKE, 2, cnt, v4))
    cnt, v4, _ = sref(model)
    entries0.append(entry(_TAG_MODEL, 2, cnt, v4))
    entries0.append(entry(_TAG_ORIENTATION, 3, 1,
                          struct.pack(bo + "H", orientation) + b"\x00\x00"))
    cnt, v4, _ = sref(datetime)
    entries0.append(entry(_TAG_DATETIME, 2, cnt, v4))
    gps_ifd = b""
    if gps:
        lat, lon = gps
        entries0.append(entry(_TAG_GPS_IFD, 4, 1,
                              struct.pack(bo + "I", gps_off)))
        ge = [
            entry(_TAG_GPS_LAT_REF, 2, 2,
                  (b"N\x00" if lat >= 0 else b"S\x00") + b"\x00\x00"),
            entry(_TAG_GPS_LAT, 5, 3, rational3(abs(lat))),
            entry(_TAG_GPS_LON_REF, 2, 2,
                  (b"E\x00" if lon >= 0 else b"W\x00") + b"\x00\x00"),
            entry(_TAG_GPS_LON, 5, 3, rational3(abs(lon))),
        ]
        gps_ifd = struct.pack(bo + "H", 4) + b"".join(ge) + b"\x00" * 4
    ifd0 = (struct.pack(bo + "H", n0) + b"".join(entries0) + b"\x00" * 4)
    tiff = ((b"II" if bo == "<" else b"MM")
            + struct.pack(bo + "H", 42) + struct.pack(bo + "I", ifd0_off)
            + ifd0 + gps_ifd + bytes(heap))
    body = b"Exif\x00\x00" + tiff
    return b"\xff\xe1" + struct.pack(">H", len(body) + 2) + body


def inject_app1(jpeg: bytes, app1: bytes) -> bytes:
    """Insert an APP1 segment right after SOI (the standard position)."""
    if jpeg[:2] != b"\xff\xd8":
        raise ExifError("not a JPEG payload")
    return jpeg[:2] + app1 + jpeg[2:]


EXIF_INVENTORY_SCHEMA = (
    "doc_id long, decoded_ok boolean, has_exif boolean, make string, "
    "model string, orientation int, has_gps boolean, latitude double, "
    "longitude double, clean_after_scrub boolean"
)


def exif_inventory(df, id_col: str = "doc_id", asset_col: str = "asset"):
    """Arrow-batched compliance pass over JPEG payloads: per asset,
    probe the EXIF inventory (camera facts, GPS presence + decoded
    coordinates), then run ``strip_metadata`` and re-probe —
    ``clean_after_scrub`` certifies the scrub removed every metadata
    segment.  Payloads never shuffle; a corrupt JPEG isolates as
    ``decoded_ok=false`` (never kills the task)."""
    def run(_id, payload):
        try:
            payload = bytes(payload)
            m = probe_exif(payload)
            clean = not probe_exif(strip_metadata(payload))["has_exif"]
            yield {"doc_id": _id, "decoded_ok": True,
                   "has_exif": m["has_exif"], "make": m["make"],
                   "model": m["model"],
                   "orientation": m["orientation"],
                   "has_gps": m["has_gps"],
                   "latitude": m["latitude"],
                   "longitude": m["longitude"],
                   "clean_after_scrub": clean}
        except ExifError:
            yield {"doc_id": _id, "decoded_ok": False}

    from pyspark.sql import functions as F

    out = map_rows(
        df.select(F.col(id_col), F.col(asset_col)),
        run, EXIF_INVENTORY_SCHEMA
    )
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out
