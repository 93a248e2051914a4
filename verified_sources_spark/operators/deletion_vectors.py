"""Delta Lake deletion-vector codec + distributed row expansion.

Implements the PUBLIC Delta protocol spec ("Deletion Vectors" in
delta-io/delta PROTOCOL.md) from scratch:

- Descriptors: ``storageType`` ``u`` (relative file, pathOrInlineDv =
  ``<randomPrefix><20-char base85 UUID>``), ``i`` (inline, pathOrInlineDv
  = base85 of the DV data) or ``p`` (absolute file path); plus
  ``offset`` / ``sizeInBytes`` / ``cardinality``.  Base85 uses the RFC
  1924 character set — exactly Python's ``base64.b85decode``.
- DV files: 1-byte format version (=1), then each DV at its ``offset``
  as ``[dataSize: int32 BE][data: dataSize bytes][CRC-32 of data:
  uint32 BE]``.
- DV data: 4-byte little-endian magic ``1681511377`` followed by the
  64-bit RoaringBitmapArray "portable" serialization — ``[int64 LE
  bitmap count]`` then, in increasing key order, ``[int32 LE high-32
  key][standard 32-bit RoaringBitmap portable blob]`` (cookies
  12346/12347, array / bitset / run containers, per the published
  RoaringFormatSpec).

The reference engine delegates DV handling to the warehouses it loads
into (e.g. ``/root/reference/sources/mongodb_pipeline.py:22`` hands
Delta tables to external engines); here the format itself is decoded so
external Databricks-written tables read correctly.

Scale design: descriptors are log metadata (driver-side already); the
DV *blobs* are fetched and expanded to ``(file_path, row_index)`` rows
on EXECUTORS in one ``boundary.map_batches`` stage — one task per DV
file, no blob ever passes through the driver, and the expansion feeds a
distributed left-anti join against Spark's native ``_metadata.row_index``.
"""

from __future__ import annotations

import base64
import json
import posixpath
import struct
import uuid as _uuid
import zlib
from typing import Iterable

MAGIC = 1681511377
_COOKIE_RUN = 12347
_COOKIE_NORUN = 12346
_NO_OFFSET_THRESHOLD = 4  # runs-present bitmaps below this omit the offset header
_ARRAY_MAX = 4096  # non-run container with cardinality above this is a bitset


class DeletionVectorError(RuntimeError):
    pass


# ---------------------------------------------------------------- decode

def _decode_roaring32(buf: memoryview, pos: int) -> tuple[list[int], int]:
    """One standard-format 32-bit RoaringBitmap at *pos*; returns
    (sorted values, next position)."""
    if pos + 4 > len(buf):
        raise DeletionVectorError("truncated roaring bitmap (cookie)")
    cookie = int.from_bytes(buf[pos : pos + 4], "little")
    pos += 4
    if (cookie & 0xFFFF) == _COOKIE_RUN:
        n = (cookie >> 16) + 1
        nbytes = (n + 7) // 8
        run_flags = bytes(buf[pos : pos + nbytes])
        pos += nbytes
        has_offsets = n >= _NO_OFFSET_THRESHOLD
    elif cookie == _COOKIE_NORUN:
        n = int.from_bytes(buf[pos : pos + 4], "little")
        pos += 4
        run_flags = b"\x00" * ((n + 7) // 8)
        has_offsets = True
    else:
        raise DeletionVectorError(f"unknown roaring cookie {cookie}")
    keys: list[int] = []
    cards: list[int] = []
    for _ in range(n):
        keys.append(int.from_bytes(buf[pos : pos + 2], "little"))
        cards.append(int.from_bytes(buf[pos + 2 : pos + 4], "little") + 1)
        pos += 4
    if has_offsets:
        pos += 4 * n  # containers follow in order; offsets are redundant
    out: list[int] = []
    for i in range(n):
        base = keys[i] << 16
        if run_flags[i // 8] & (1 << (i % 8)):
            n_runs = int.from_bytes(buf[pos : pos + 2], "little")
            pos += 2
            for _ in range(n_runs):
                start = int.from_bytes(buf[pos : pos + 2], "little")
                length = int.from_bytes(buf[pos + 2 : pos + 4], "little")
                pos += 4
                out.extend(range(base + start, base + start + length + 1))
        elif cards[i] > _ARRAY_MAX:
            words = struct.unpack_from("<1024Q", buf, pos)
            pos += 8192
            for wi, w in enumerate(words):
                wb = base + (wi << 6)
                while w:
                    low = w & -w
                    out.append(wb + low.bit_length() - 1)
                    w ^= low
        else:
            vals = struct.unpack_from(f"<{cards[i]}H", buf, pos)
            pos += 2 * cards[i]
            out.extend(base + v for v in vals)
    return out, pos


def decode_blob(data: bytes) -> list[int]:
    """DV data segment (magic + portable RoaringBitmapArray) → sorted
    row indexes."""
    buf = memoryview(data)
    if len(buf) < 12:
        raise DeletionVectorError(f"DV blob too short ({len(buf)} bytes)")
    magic = int.from_bytes(buf[0:4], "little")
    if magic != MAGIC:
        raise DeletionVectorError(f"bad DV magic {magic} (want {MAGIC})")
    n_bitmaps = int.from_bytes(buf[4:12], "little")
    pos = 12
    out: list[int] = []
    last_key = -1
    for _ in range(n_bitmaps):
        key = int.from_bytes(buf[pos : pos + 4], "little")
        pos += 4
        if key <= last_key:
            raise DeletionVectorError("bitmap keys not strictly increasing")
        last_key = key
        vals, pos = _decode_roaring32(buf, pos)
        base = key << 32
        out.extend(base + v for v in vals)
    if pos != len(buf):
        raise DeletionVectorError(
            f"{len(buf) - pos} trailing bytes after DV bitmaps"
        )
    return out


# ---------------------------------------------------------------- encode

def _encode_roaring32(values: list[int]) -> bytes:
    """Standard no-run-container serialization (cookie 12346) — always a
    legal portable form; array containers ≤4096 values, bitsets above."""
    containers: dict[int, list[int]] = {}
    for v in values:
        containers.setdefault(v >> 16, []).append(v & 0xFFFF)
    keys = sorted(containers)
    head = struct.pack("<II", _COOKIE_NORUN, len(keys))
    desc = b"".join(
        struct.pack("<HH", k, len(containers[k]) - 1) for k in keys
    )
    bodies: list[bytes] = []
    for k in keys:
        vals = sorted(containers[k])
        if len(vals) > _ARRAY_MAX:
            words = [0] * 1024
            for v in vals:
                words[v >> 6] |= 1 << (v & 63)
            bodies.append(struct.pack("<1024Q", *words))
        else:
            bodies.append(struct.pack(f"<{len(vals)}H", *vals))
    offsets = []
    at = len(head) + len(desc) + 4 * len(keys)
    for b in bodies:
        offsets.append(at)
        at += len(b)
    return (
        head
        + desc
        + struct.pack(f"<{len(keys)}I", *offsets)
        + b"".join(bodies)
    )


def encode_blob(indexes: Iterable[int]) -> bytes:
    """Sorted-or-not row indexes → DV data segment (magic + portable
    RoaringBitmapArray)."""
    by_key: dict[int, list[int]] = {}
    for i in indexes:
        if i < 0:
            raise DeletionVectorError(f"negative row index {i}")
        by_key.setdefault(i >> 32, []).append(i & 0xFFFFFFFF)
    keys = sorted(by_key)
    parts = [struct.pack("<i", MAGIC), struct.pack("<q", len(keys))]
    for k in keys:
        parts.append(struct.pack("<i", k))
        parts.append(_encode_roaring32(sorted(set(by_key[k]))))
    return b"".join(parts)


# --------------------------------------------------- descriptors + files

def _b85_uuid(pid: str) -> str:
    """Last 20 chars of pathOrInlineDv → canonical UUID string."""
    raw = base64.b85decode(pid[-20:].encode("ascii"))
    return str(_uuid.UUID(bytes=raw))


def dv_absolute_path(table_path: str, desc: dict) -> str:
    st = desc["storageType"]
    pid = desc["pathOrInlineDv"]
    if st == "p":
        return pid
    if st != "u":
        raise DeletionVectorError(f"storageType {st!r} has no file path")
    prefix, name = pid[:-20], f"deletion_vector_{_b85_uuid(pid)}.bin"
    return posixpath.join(table_path, prefix, name) if prefix else posixpath.join(
        table_path, name
    )


def _read_file_bytes(path: str) -> bytes:
    """Executor-side DV file fetch: local paths via open(), URI schemes
    via pyarrow's filesystem resolution (same credentials executors use
    for the data files themselves)."""
    if "://" in path:
        import pyarrow.fs as pafs

        fs, p = pafs.FileSystem.from_uri(path)
        with fs.open_input_file(p) as f:
            return f.read()
    with open(path.removeprefix("file:"), "rb") as f:
        return f.read()


def load_dv_data(table_path: str, desc: dict) -> bytes:
    """Descriptor → validated DV data segment (size + CRC checked for
    on-disk DVs, declared size checked for inline)."""
    st = desc["storageType"]
    size = int(desc["sizeInBytes"])
    if st == "i":
        data = base64.b85decode(desc["pathOrInlineDv"].encode("ascii"))
        if len(data) != size:
            raise DeletionVectorError(
                f"inline DV is {len(data)} bytes, descriptor says {size}"
            )
        return data
    raw = _read_file_bytes(dv_absolute_path(table_path, desc))
    if not raw or raw[0] != 1:
        raise DeletionVectorError(
            f"DV file version {raw[0] if raw else '<empty>'} unsupported (want 1)"
        )
    off = int(desc.get("offset") or 1)
    if off + 4 > len(raw):
        raise DeletionVectorError("DV offset past end of file")
    (data_size,) = struct.unpack_from(">i", raw, off)
    if data_size != size:
        raise DeletionVectorError(
            f"DV dataSize {data_size} != descriptor sizeInBytes {size}"
        )
    data = raw[off + 4 : off + 4 + data_size]
    if len(data) != data_size:
        raise DeletionVectorError("truncated DV data")
    (crc,) = struct.unpack_from(">I", raw, off + 4 + data_size)
    if crc != (zlib.crc32(data) & 0xFFFFFFFF):
        raise DeletionVectorError("DV checksum mismatch")
    return data


def dv_row_indexes(table_path: str, desc: dict) -> list[int]:
    idx = decode_blob(load_dv_data(table_path, desc))
    card = int(desc["cardinality"])
    if len(idx) != card:
        raise DeletionVectorError(
            f"DV decodes to {len(idx)} rows, descriptor cardinality {card}"
        )
    return idx


def _write_file_bytes(path: str, data: bytes) -> None:
    """Executor-safe byte write mirroring :func:`_read_file_bytes`:
    local paths via open(), URI schemes via pyarrow's filesystem."""
    if "://" in path:
        import pyarrow.fs as pafs

        fs, p = pafs.FileSystem.from_uri(path)
        fs.create_dir(posixpath.dirname(p), recursive=True)
        with fs.open_output_stream(p) as f:
            f.write(data)
        return
    import os

    local = path.removeprefix("file:")
    os.makedirs(os.path.dirname(local), exist_ok=True)
    with open(local, "wb") as f:
        f.write(data)


def write_dv_file(
    table_path: str, indexes: Iterable[int], prefix: str = ""
) -> dict:
    """Write a spec-shaped DV file under *table_path*; returns the 'u'
    descriptor.  Local paths and pyarrow-resolvable URIs both work, so
    executor tasks can write DVs next to the data files they mask."""
    data = encode_blob(indexes)
    u = _uuid.uuid4()
    enc = base64.b85encode(u.bytes).decode("ascii")
    name = f"deletion_vector_{u}.bin"
    dir_ = posixpath.join(table_path, prefix) if prefix else table_path
    offset = 1
    body = (
        b"\x01"
        + struct.pack(">i", len(data))
        + data
        + struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF)
    )
    _write_file_bytes(posixpath.join(dir_, name), body)
    card = len(decode_blob(data))
    return {
        "storageType": "u",
        "pathOrInlineDv": f"{prefix}{enc}",
        "offset": offset,
        "sizeInBytes": len(data),
        "cardinality": card,
    }


def inline_descriptor(indexes: Iterable[int]) -> dict:
    data = encode_blob(indexes)
    return {
        "storageType": "i",
        "pathOrInlineDv": base64.b85encode(data).decode("ascii"),
        "sizeInBytes": len(data),
        "cardinality": len(decode_blob(data)),
    }


# ------------------------------------------------------- Spark expansion

def expanded_delete_rows(spark, table_path: str, descs: list[tuple[str, dict]]):
    """[(normalized data-file path, descriptor)] → DataFrame
    ``(__dv_fp string, __dv_pos long)`` of deleted row positions.

    One input row per DV; fetch + bitmap expansion run in executor tasks
    (``map_batches``), repartitioned so each DV is its own task — the
    anti-join input never materializes on the driver."""
    from itertools import chain

    import numpy as np

    from verified_sources_spark.boundary import map_batches

    desc_df = spark.createDataFrame(
        [(fp, json.dumps(d)) for fp, d in descs], "fp string, dv string"
    ).repartition(min(len(descs), 256))

    def expand(batch):
        idx = [dv_row_indexes(table_path, json.loads(dv)) for dv in batch.column("dv").to_pylist()]
        rows = np.repeat(np.arange(batch.num_rows), [len(i) for i in idx])
        return {"__dv_fp": batch.column("fp").take(rows), "__dv_pos": list(chain.from_iterable(idx))}

    return map_batches(desc_df, expand, "__dv_fp string, __dv_pos long")
