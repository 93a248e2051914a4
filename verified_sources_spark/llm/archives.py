"""Archive ingestion: zip / 7z / tar / tar.{gz,xz,bz2,zst} member
extraction + compressed single-file text shards (.jsonl.{gz,xz,bz2,zst}).

Curated text corpora ship as archives-of-files (a zip of .txt/.json
documents, a tar.gz dump per domain) or as compressed line-shards
(.jsonl.zst — The Pile / RedPajama / most HuggingFace dumps); the
ingestion front door must explode them into per-member or per-line
rows before any text operator can run.
This module wraps the stdlib's battle-tested ``zipfile``/``tarfile``
(no reason to hand-roll these — unlike the media codecs, the parsers
ship with Python) plus the capability-gated libzstd seam
(llm/zstd_system) behind the same sniff/iterate/refuse contract as
the media seams:

- ``sniff_archive_format``: 'zip' / '7z' / 'tar' / 'tgz' / 'txz' /
  'tbz2' / 'tzst' by magic bytes (tar sniffed by the ustar magic at offset 257;
  a gzip/xz/bz2/zstd stream is assumed tar here — ``shard_lines`` is
  the entry point that treats those magics as flat text).
- ``iter_members``: yield (name, payload bytes) per REGULAR member,
  skipping directories/links; a truncated or corrupt archive raises
  ``ArchiveError`` with the format named.  Zip-bomb guard: a member
  whose declared size exceeds ``max_member_bytes`` refuses loudly
  (at 100 TB someone WILL feed the pipeline a 10 PB-expanding bomb).
- ``archive_members``: the Spark operator — Arrow-batched explosion of
  binary archive payloads into (id, member_name, n_bytes, text) rows;
  corrupt archives isolate as ``decoded_ok=false`` rows.
- ``decompress_shard`` / ``shard_lines``: single-stream compressed
  text shards (gzip/xz/bz2/zstd/lz4 sniffed by magic) → one row per
  non-empty line, the jsonl-corpus front door.  Every codec path is
  expansion-capped (the same bomb gate).

Reference analogue: the filesystem source's read_location + fsspec
globbing (/root/reference/sources/filesystem/__init__.py) — this is
the same exploding step when the "filesystem" arrives as one archive
blob per row; fsspec's transparent compression= handling is the
shard-codec analogue.
"""

from __future__ import annotations

import bz2
import io
import lzma
import tarfile
import zipfile
import zlib

from verified_sources_spark.boundary import map_rows

__all__ = [
    "ArchiveError",
    "ArchiveExplosionError",
    "sniff_archive_format",
    "sniff_shard_codec",
    "iter_members",
    "iter_members_recursive",
    "archive_members",
    "decompress_shard",
    "shard_lines",
    "encode_zip",
    "encode_tar",
    "encode_shard",
]

_DEFAULT_MAX_MEMBER = 1 << 30  # 1 GiB per member: the zip-bomb gate


class ArchiveError(ValueError):
    pass


class ArchiveExplosionError(ArchiveError):
    """The member-count explosion gate tripped.  Distinct from a merely
    corrupt archive: callers that degrade corrupt inner archives to raw
    bytes must NOT swallow this — a zip-of-zips bomb has to refuse the
    whole payload, never partially explode."""


def sniff_archive_format(payload: bytes) -> str | None:
    """'zip' / 'tgz' / 'txz' / 'tbz2' / 'tar' / None — magic bytes
    only (compressed sniffs name the stream; whether a tar lives
    inside is decided on open)."""
    if payload[:4] in (b"PK\x03\x04", b"PK\x05\x06"):
        return "zip"
    if payload[:2] == b"\x1f\x8b":
        return "tgz"
    if payload[:6] == b"\xfd7zXZ\x00":
        return "txz"
    if payload[:3] == b"BZh" and len(payload) > 3 and 0x31 <= payload[3] <= 0x39:
        return "tbz2"
    if payload[:4] == b"\x28\xb5\x2f\xfd":
        return "tzst"
    if payload[:6] == b"7z\xbc\xaf\x27\x1c":
        return "7z"
    if len(payload) > 262 and payload[257:262] == b"ustar":
        return "tar"
    return None


def iter_members(
    payload: bytes, max_member_bytes: int = _DEFAULT_MAX_MEMBER
):
    """Yield (member_name, bytes) for every regular file in the
    archive, in archive order.  Directories and links are skipped;
    oversized members and corrupt archives raise ``ArchiveError``."""
    fmt = sniff_archive_format(payload)
    if fmt == "7z":
        from verified_sources_spark.llm.sevenzip import (
            SevenZipError, iter_7z_members,
        )

        try:
            yield from iter_7z_members(
                payload, max_member_bytes=max_member_bytes)
        except SevenZipError as e:
            raise ArchiveError(f"corrupt 7z archive: {e}") from None
        return
    if fmt == "zip":
        try:
            with zipfile.ZipFile(io.BytesIO(payload)) as zf:
                for info in zf.infolist():
                    if info.is_dir():
                        continue
                    if info.file_size > max_member_bytes:
                        raise ArchiveError(
                            f"zip member {info.filename!r} declares "
                            f"{info.file_size} bytes > cap {max_member_bytes}"
                        )
                    yield info.filename, zf.read(info)
        except (zipfile.BadZipFile, zlib.error, EOFError,
                NotImplementedError, OSError) as e:
            raise ArchiveError(f"corrupt zip archive: {e}") from None
        return
    if fmt == "tzst":
        # zstd has no stdlib codec: the system-libzstd seam serves it,
        # bomb-gated at the same member cap; absent library = named
        # refusal, same posture as lossy WebP
        from verified_sources_spark.llm.zstd_system import (
            ZstdError, available, decompress,
        )

        if not available():
            raise ArchiveError(
                "zstd-compressed tar — system libzstd not present; "
                "refusing by name")
        try:
            payload = decompress(payload, max_out=max_member_bytes)
        except ZstdError as e:
            raise ArchiveError(f"corrupt tar.zst archive: {e}") from None
        fmt = "tar"
        if payload[257:262] != b"ustar":
            raise ArchiveError(
                "zstd stream does not contain a tar archive")
    if fmt in ("tar", "tgz", "txz", "tbz2"):
        mode = {"tgz": "r:gz", "txz": "r:xz", "tbz2": "r:bz2"}.get(fmt, "r:")
        try:
            with tarfile.open(fileobj=io.BytesIO(payload), mode=mode) as tf:
                for info in tf:
                    if not info.isreg():
                        continue
                    if info.size > max_member_bytes:
                        raise ArchiveError(
                            f"tar member {info.name!r} declares "
                            f"{info.size} bytes > cap {max_member_bytes}"
                        )
                    f = tf.extractfile(info)
                    data = f.read() if f else b""
                    if len(data) != info.size:
                        raise ArchiveError(
                            f"truncated tar member {info.name!r}: "
                            f"{len(data)} bytes < {info.size}"
                        )
                    yield info.name, data
        except (tarfile.TarError, EOFError, OSError) as e:
            raise ArchiveError(f"corrupt {fmt} archive: {e}") from None
        return
    raise ArchiveError(
        "unrecognized archive payload (not zip/7z/tar/tar.{gz,xz,bz2,zst})"
    )


def iter_members_recursive(
    payload: bytes,
    max_member_bytes: int = _DEFAULT_MAX_MEMBER,
    max_depth: int = 2,
    max_total_members: int = 100_000,
):
    """Like :func:`iter_members`, but members that themselves sniff as
    archives EXPLODE IN PLACE (depth-capped — a zip-of-zips bomb is
    the recursive flavor of the expansion attack; member-count-capped
    for the many-tiny-files flavor), with paths joined as
    ``outer!inner``.  A nested archive that fails to open is yielded
    as the raw member instead — honest degradation, the outer layer
    stays usable.  Each nested archive is buffered before anything is
    yielded so the corrupt-inner fallback is all-or-nothing: a member
    list that dies mid-iteration must not leave already-yielded inner
    rows AND the raw blob in the output (duplicated bytes poison the
    dedup surface).  Buffer memory is bounded by the existing caps
    (max_member_bytes per member, max_total_members overall).  The
    explosion gate raises :class:`ArchiveExplosionError` and is
    re-raised past the fallback — a bomb refuses, never degrades."""
    count = 0

    def walk(blob: bytes, prefix: str, depth: int):
        nonlocal count
        for name, data in iter_members(blob, max_member_bytes):
            path = f"{prefix}{name}"
            if depth < max_depth and sniff_archive_format(data):
                saved = count
                try:
                    inner = list(walk(data, path + "!", depth + 1))
                except ArchiveExplosionError:
                    raise
                except ArchiveError:
                    count = saved  # discard partially-counted inner rows
                    inner = None
                if inner is not None:
                    yield from inner
                    continue
            count += 1
            if count > max_total_members:
                raise ArchiveExplosionError(
                    f"nested archive exceeds {max_total_members} "
                    f"members — explosion gate")
            yield path, data

    yield from walk(payload, "", 0)


ARCHIVE_MEMBERS_SCHEMA = (
    "doc_id long, decoded_ok boolean, archive_format string, "
    "member_name string, n_bytes long, text string"
)


def archive_members(df, id_col: str = "doc_id", asset_col: str = "asset"):
    """Arrow-batched archive explosion: one output row per regular
    member (utf-8 text decoded with replacement — binary members still
    land with their true byte counts).  A corrupt archive yields one
    ``decoded_ok=false`` row instead of failing the task."""
    def run(_id, payload):
        payload = bytes(payload)
        fmt = sniff_archive_format(payload)
        try:
            empty = True
            for name, data in iter_members(payload):
                empty = False
                yield {"doc_id": _id, "decoded_ok": True,
                       "archive_format": fmt, "member_name": name,
                       "n_bytes": len(data),
                       "text": data.decode("utf-8", errors="replace")}
            if empty:  # valid but empty archive
                yield {"doc_id": _id, "decoded_ok": True,
                       "archive_format": fmt, "n_bytes": 0}
        except ArchiveError:
            yield {"doc_id": _id, "decoded_ok": False}

    from pyspark.sql import functions as F

    out = map_rows(df.select(F.col(id_col), F.col(asset_col)), run,
                   ARCHIVE_MEMBERS_SCHEMA)
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out


# --------------------------------------------------------------- fixtures
def encode_zip(members: dict[str, bytes]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in members.items():
            zf.writestr(name, data)
    return buf.getvalue()


def encode_tar(
    members: dict[str, bytes], gz: bool = False, compression: str | None = None
) -> bytes:
    """Fixture tar; ``compression`` in (None, 'gz', 'xz', 'bz2',
    'zst') — ``gz=True`` is the legacy spelling of compression='gz'.
    'zst' wraps the plain tar through the system-libzstd seam."""
    comp = compression or ("gz" if gz else None)
    if comp not in (None, "gz", "xz", "bz2", "zst"):
        raise ArchiveError(f"unsupported tar compression {comp!r}")
    zst = comp == "zst"
    if zst:
        comp = None
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode=f"w:{comp}" if comp else "w") as tf:
        for name, data in members.items():
            info = tarfile.TarInfo(name)
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
    if zst:
        from verified_sources_spark.llm.zstd_system import compress

        return compress(buf.getvalue())
    return buf.getvalue()


# ------------------------------------------- compressed text shards

_SHARD_DECODERS = ("gzip", "xz", "bz2", "zstd")


def sniff_shard_codec(payload: bytes) -> str | None:
    """'gzip' / 'xz' / 'bz2' / 'zstd' / 'lz4' / None by magic bytes."""
    if payload[:2] == b"\x1f\x8b":
        return "gzip"
    if payload[:6] == b"\xfd7zXZ\x00":
        return "xz"
    if (payload[:3] == b"BZh" and len(payload) > 3
            and 0x31 <= payload[3] <= 0x39):
        return "bz2"
    if payload[:4] == b"\x28\xb5\x2f\xfd":
        return "zstd"
    if payload[:4] == b"\x04\x22\x4d\x18":
        return "lz4"
    return None


def decompress_shard(payload: bytes,
                     max_out: int = _DEFAULT_MAX_MEMBER) -> bytes:
    """A single-stream compressed text shard → bytes, expansion-capped
    at ``max_out`` for every codec (the decompression-bomb gate).
    Unrecognized or corrupt payloads raise with the codec named."""
    codec = sniff_shard_codec(payload)
    if codec == "zstd":
        from verified_sources_spark.llm.zstd_system import (
            ZstdError, available, decompress,
        )

        if not available():
            raise ArchiveError(
                "zstd shard — system libzstd not present; "
                "refusing by name")
        try:
            return decompress(payload, max_out=max_out)
        except ZstdError as e:
            raise ArchiveError(f"corrupt zstd shard: {e}") from None
    if codec == "lz4":
        from verified_sources_spark.llm.lz4_system import (
            Lz4Error, available as lz4_avail, decompress as lz4_dec,
        )

        if not lz4_avail():
            raise ArchiveError(
                "lz4 shard — system liblz4 not present; refusing by name")
        try:
            return lz4_dec(payload, max_out=max_out)
        except Lz4Error as e:
            raise ArchiveError(f"corrupt lz4 shard: {e}") from None
    if codec is None:
        raise ArchiveError(
            "unrecognized shard payload (not gzip/xz/bz2/zstd/lz4)")
    out = bytearray()
    data = payload
    try:
        # outer loop: concatenated members/streams (pigz -p, pbzip2,
        # xz --block-list all emit them); resume only when the residue
        # re-sniffs as the same codec, ignore trailing padding
        while data:
            if codec == "gzip":
                dec = zlib.decompressobj(wbits=31)
            elif codec == "xz":
                dec = lzma.LZMADecompressor()
            else:
                dec = bz2.BZ2Decompressor()
            feed = data
            while not dec.eof:
                chunk = dec.decompress(feed, 1 << 20)
                out += chunk
                if len(out) > max_out:
                    raise ArchiveError(
                        f"{codec} shard expands past cap {max_out} "
                        f"— decompression-bomb gate")
                if codec == "gzip":
                    nxt = dec.unconsumed_tail
                    if not dec.eof and not nxt and not chunk:
                        raise ArchiveError(f"truncated {codec} shard")
                    feed = nxt
                else:
                    if dec.needs_input and not dec.eof and not chunk:
                        raise ArchiveError(f"truncated {codec} shard")
                    feed = b""
            data = dec.unused_data
            if sniff_shard_codec(data) != codec:
                break
    except (zlib.error, lzma.LZMAError, OSError, EOFError) as e:
        raise ArchiveError(f"corrupt {codec} shard: {e}") from None
    return bytes(out)


SHARD_LINES_SCHEMA = ("shard_id long, decoded_ok boolean, codec string, "
                      "line_idx int, text string")


def shard_lines(df, id_col: str = "shard_id", asset_col: str = "asset"):
    """Arrow-batched compressed-shard explosion: one row per non-empty
    line of the decompressed utf-8 text — the ``.jsonl.zst`` corpus
    front door (The Pile / RedPajama shape).  Corrupt or refused
    shards isolate as one ``decoded_ok=false`` row; payloads never
    shuffle — lines leave the scan's executor, bytes do not."""
    def run(_id, payload):
        payload = bytes(payload)
        codec = sniff_shard_codec(payload)
        try:
            text = decompress_shard(payload).decode(
                "utf-8", errors="replace")
            idx = 0
            for line in text.split("\n"):
                if not line:
                    continue
                yield {"shard_id": _id, "decoded_ok": True,
                       "codec": codec, "line_idx": idx,
                       "text": line}
                idx += 1
            if idx == 0:  # valid but empty shard
                yield {"shard_id": _id, "decoded_ok": True, "codec": codec}
        except ArchiveError:
            yield {"shard_id": _id, "decoded_ok": False, "codec": codec}

    from pyspark.sql import functions as F

    out = map_rows(
        df.select(F.col(id_col), F.col(asset_col)),
        run, SHARD_LINES_SCHEMA)
    if id_col != "shard_id":
        out = out.withColumnRenamed("shard_id", id_col)
    return out


def encode_shard(text: bytes, codec: str = "zstd",
                 streamed: bool = False) -> bytes:
    """Fixture shard: compress ``text`` with one of the four shard
    codecs; ``streamed=True`` (zstd only) writes a frame without a
    content-size header, the streaming-writer shape."""
    if codec == "gzip":
        co = zlib.compressobj(wbits=31)
        return co.compress(text) + co.flush()
    if codec == "xz":
        return lzma.compress(text)
    if codec == "bz2":
        return bz2.compress(text)
    if codec == "zstd":
        from verified_sources_spark.llm.zstd_system import (
            compress, compress_streamed,
        )

        return compress_streamed(text) if streamed else compress(text)
    if codec == "lz4":
        from verified_sources_spark.llm.lz4_system import compress

        return compress(text)
    raise ArchiveError(f"unknown shard codec {codec!r}")
