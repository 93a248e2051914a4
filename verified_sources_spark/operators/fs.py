"""Filesystem abstraction for the sink commit protocols.

``ParquetSink`` and ``ManifestTable`` used to commit with ``os.replace`` /
``shutil`` — correct on a driver-local POSIX disk, non-executable against
the object store where a 100 TB table actually lives.  Every metadata /
commit file operation now goes through this interface:

- ``LocalFS`` — plain ``os``/``shutil``; exact previous behavior.
- ``HadoopFS`` — delegates to the JVM's ``org.apache.hadoop.fs.FileSystem``
  resolved per-path, so the SAME sink code runs against ``file://``,
  ``hdfs://``, ``s3a://``, ``abfs://`` … wherever Spark itself can read.
  (Public Hadoop FileSystem API via py4j; no extra dependency — the class
  is already on Spark's classpath.)

Only driver-side METADATA traffic flows through here (manifest commits,
partition-directory swaps, staging renames); bulk data bytes are written
by Spark executors as before.  Atomicity notes:

- ``rename`` requires the destination not to exist (callers delete first)
  — that is the portable subset of Hadoop vs POSIX rename semantics.
- ``create_exclusive`` is atomic on POSIX (O_EXCL) and HDFS
  (``create(path, overwrite=false)`` is namenode-arbitrated); on S3-like
  stores it degrades to check-then-create — NOT atomic.

The commit atom itself is therefore pluggable (``CommitBackend``): the
table log needs exactly one primitive — put-if-absent on the next
manifest path — and each storage class has a different correct
implementation:

- ``FSCommitBackend``        POSIX / HDFS (exclusive create; the default);
- ``ConditionalPutCommitBackend``  object stores with conditional write
  (S3 ``If-None-Match: *`` PUT, GCS ``ifGenerationMatch=0``, Azure Blob
  ``If-None-Match: *``) — the store arbitrates the race;
- ``LockTableCommitBackend``  object stores WITHOUT conditional write:
  an external CAS coordinator (DynamoDB-conditional-put-shaped) elects
  the single writer of each manifest path first, then only the winner
  writes the file.

``read_parquet`` is the package's one schema-inferring parquet read: it
takes the schema from the footers on the driver instead of a Spark job.
"""

from __future__ import annotations

import json
import os
import posixpath
import shutil
import threading
import time
from collections.abc import Iterator
from urllib.parse import unquote, urlparse

from py4j.protocol import Py4JJavaError
from pyspark.errors.exceptions.captured import CapturedException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from verified_sources_spark import sizing


def read_parquet(
    spark: SparkSession,
    *paths: str,
    merge_schema: bool = False,
    base_path: str | None = None,
) -> DataFrame:
    """``spark.read.parquet(*paths)`` (with the ``mergeSchema`` and
    ``basePath`` options when given) whose schema is read from the
    footers on the driver, so building the DataFrame runs no Spark job.

    Spark infers a parquet schema with a job (``mergeSchemasInParallel``)
    even for one file.  Here the files come from Spark's own file index
    (a read with an empty schema lists without a job), their footers are
    read with ``ParquetFileFormat.readParquetFootersInParallel`` and
    merged with ``ParquetFileFormat.readSchema``: Spark's conversion
    (nanosAsLong, int96, NTZ inference) and merge rules, minus the job.
    Every call reads the footers again; nothing is cached.  Spark infers
    as before wherever the two could differ or the job is the scale path:
    see ``_footer_schema``."""
    options = {}
    if merge_schema:
        options["mergeSchema"] = "true"
    if base_path is not None:
        options["basePath"] = base_path
    schema = _footer_schema(spark, paths, options)
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(*paths)


def _footer_schema(spark: SparkSession, paths, options: dict) -> T.StructType | None:
    """The schema Spark's parquet inference gives ``paths``, or None to
    let Spark infer it: when there are no files (Spark raises), when
    ``spark.sql.parquet.respectSummaryFiles`` is on, past
    ``sizing.footers_on_driver``, when a Java error stops the footer
    read or merge (Spark's own path then raises it as before), when a
    file column is also a partition column (a given schema would move
    it), and when a case-insensitive session merges names that differ
    only in case (``readSchema`` merges case-sensitively)."""
    conf = spark.conf
    if conf.get("spark.sql.parquet.respectSummaryFiles").lower() == "true":
        return None
    if not sizing.footers_on_driver(spark, len(paths)):
        return None
    merge = "mergeSchema" in options or (
        conf.get("spark.sql.parquet.mergeSchema").lower() == "true"
    )
    try:
        empty = spark.read.options(**options).schema(T.StructType([]))
        relation = empty.parquet(*paths)._jdf.queryExecution().analyzed().relation()
        location = relation.location()
        uris = list(location.inputFiles())  # one call; allFiles() order
        if not uris or not sizing.footers_on_driver(spark, len(uris)):
            return None
        touch = _files_to_touch(uris, merge)
        files = location.allFiles()
        if touch != list(range(len(uris))):
            picked = spark._jvm.java.util.ArrayList()
            for i in touch:
                picked.add(files.apply(i))
            files = spark._jvm.scala.jdk.javaapi.CollectionConverters.asScala(picked).toList()
        ignore_corrupt = conf.get("spark.sql.files.ignoreCorruptFiles").lower() == "true"
        jspark = spark._jsparkSession
        parquet = spark._jvm.org.apache.spark.sql.execution.datasources.parquet
        fmt = getattr(getattr(parquet, "ParquetFileFormat$"), "MODULE$")
        footers = fmt.readParquetFootersInParallel(
            jspark.sessionState().newHadoopConf(), files, ignore_corrupt
        )
        merged = fmt.readSchema(footers, jspark)
        if merged.isEmpty():
            return None
        schema = T.StructType.fromJson(json.loads(merged.get().json()))
        partition_cols = T.StructType.fromJson(json.loads(relation.partitionSchema().json()))
    except (Py4JJavaError, CapturedException):  # a Java error
        return None
    fold = conf.get("spark.sql.caseSensitive").lower() != "true"
    key = str.lower if fold else str
    overlap = {key(f.name) for f in schema.fields} & {key(p.name) for p in partition_cols.fields}
    if overlap or (fold and _differ_in_case(schema)):
        return None
    return schema


_SUMMARY_FILES = ("_common_metadata", "_metadata")


def _files_to_touch(uris: list[str], merge: bool) -> list[int]:
    """Indices of the files whose footers Spark's inference reads, in
    its order (``ParquetUtils.splitFiles``): sorted by path string, data
    files, then ``_metadata``, then ``_common_metadata``; without merge,
    only the first of ``_common_metadata``, ``_metadata``, data.  The
    order decides the merged column order under drift.  ``inputFiles``
    are URL-encoded and Spark sorts ``Path.toString`` (decoded) as Java
    strings, i.e. by UTF-16 code unit."""
    order = sorted(range(len(uris)), key=lambda i: unquote(uris[i]).encode("utf-16-be"))
    by_kind = {kind: [] for kind in ("data", *_SUMMARY_FILES)}
    for i in order:
        name = uris[i].rsplit("/", 1)[-1]
        by_kind[name if name in _SUMMARY_FILES else "data"].append(i)
    if merge:
        return by_kind["data"] + by_kind["_metadata"] + by_kind["_common_metadata"]
    first = by_kind["_common_metadata"] or by_kind["_metadata"] or by_kind["data"]
    return first[:1]


def _differ_in_case(dt: T.DataType) -> bool:
    """Some struct in ``dt`` has two field names equal but for case."""
    if isinstance(dt, T.StructType):
        lowered = [f.name.lower() for f in dt.fields]
        return len(set(lowered)) < len(lowered) or any(
            _differ_in_case(f.dataType) for f in dt.fields
        )
    if isinstance(dt, T.ArrayType):
        return _differ_in_case(dt.elementType)
    if isinstance(dt, T.MapType):
        return _differ_in_case(dt.keyType) or _differ_in_case(dt.valueType)
    return False


def _is_local_uri(path: str) -> bool:
    scheme = urlparse(path).scheme
    # windows drive letters parse as single-char schemes; treat as local
    return scheme in ("", "file") or len(scheme) == 1


class FS:
    """Minimal driver-side filesystem surface the sinks need."""

    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def isdir(self, path: str) -> bool:
        raise NotImplementedError

    def listdir(self, path: str) -> list[str]:
        raise NotImplementedError

    def makedirs(self, path: str) -> None:
        raise NotImplementedError

    def remove(self, path: str) -> None:
        raise NotImplementedError

    def size(self, path: str) -> int:
        """File length in bytes."""
        raise NotImplementedError

    def mtime_ms(self, path: str) -> int:
        """Last-modification time in epoch milliseconds."""
        raise NotImplementedError

    def rmtree(self, path: str, ignore_errors: bool = False) -> None:
        raise NotImplementedError

    def rename(self, src: str, dst: str) -> None:
        """Move a file or directory. The destination must not exist."""
        raise NotImplementedError

    def create_exclusive(self, path: str, text: str) -> None:
        """Create *path* with *text*; raise FileExistsError if present."""
        raise NotImplementedError

    def write_text(self, path: str, text: str) -> None:
        """Create or overwrite *path* with *text* (no exclusivity — used
        only by commit backends that arbitrate exclusivity elsewhere)."""
        raise NotImplementedError

    def promote_exclusive(self, src: str, dst: str) -> None:
        """Atomically make *src* visible as *dst* WITHOUT overwriting:
        raises FileExistsError if *dst* already exists, and on a race at
        most one promoter wins.  POSIX: hardlink (link(2) is
        atomic-exclusive); HDFS: rename, which refuses an existing
        destination.  The fencing half of LockTableCommitBackend."""
        raise NotImplementedError

    def read_text(self, path: str) -> str:
        raise NotImplementedError

    def write_bytes(self, path: str, data: bytes) -> None:
        """Create or overwrite *path* with binary *data* (Avro manifests,
        checkpoint payloads — anything not line-oriented)."""
        raise NotImplementedError

    def read_bytes(self, path: str) -> bytes:
        raise NotImplementedError

    def walk(self, path: str) -> Iterator[tuple[str, list[str], list[str]]]:
        """os.walk-alike over (dirpath, dirnames, filenames), top-down."""
        raise NotImplementedError


class LocalFS(FS):
    """POSIX implementation — byte-for-byte the sinks' historical behavior."""

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def listdir(self, path: str) -> list[str]:
        return os.listdir(path)

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def remove(self, path: str) -> None:
        os.remove(path)

    def size(self, path: str) -> int:
        return os.path.getsize(path)

    def mtime_ms(self, path: str) -> int:
        return int(os.path.getmtime(path) * 1000)

    def rmtree(self, path: str, ignore_errors: bool = False) -> None:
        shutil.rmtree(path, ignore_errors=ignore_errors)

    def rename(self, src: str, dst: str) -> None:
        os.replace(src, dst)

    def create_exclusive(self, path: str, text: str) -> None:
        with open(path, "x") as f:
            f.write(text)

    def write_text(self, path: str, text: str) -> None:
        with open(path, "w") as f:
            f.write(text)

    def promote_exclusive(self, src: str, dst: str) -> None:
        os.link(src, dst)  # atomic; FileExistsError if dst exists
        os.remove(src)

    def read_text(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def write_bytes(self, path: str, data: bytes) -> None:
        with open(path, "wb") as f:
            f.write(data)

    def read_bytes(self, path: str) -> bytes:
        with open(path, "rb") as f:
            return f.read()

    def walk(self, path: str):
        yield from os.walk(path)


class HadoopFS(FS):
    """Hadoop FileSystem implementation resolved per-path from the active
    Spark session's Hadoop configuration. Runs against any scheme Spark
    can, including object stores — the 100 TB commit path."""

    def __init__(self, spark):
        self._jvm = spark.sparkContext._jvm
        self._conf = spark.sparkContext._jsc.hadoopConfiguration()

    def _jpath(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(path)

    def _jfs(self, path: str):
        return self._jpath(path).getFileSystem(self._conf)

    def exists(self, path: str) -> bool:
        return bool(self._jfs(path).exists(self._jpath(path)))

    def isdir(self, path: str) -> bool:
        fs, p = self._jfs(path), self._jpath(path)
        return bool(fs.exists(p) and fs.getFileStatus(p).isDirectory())

    def listdir(self, path: str) -> list[str]:
        fs, p = self._jfs(path), self._jpath(path)
        return [s.getPath().getName() for s in fs.listStatus(p)]

    def makedirs(self, path: str) -> None:
        self._jfs(path).mkdirs(self._jpath(path))

    def remove(self, path: str) -> None:
        self._jfs(path).delete(self._jpath(path), False)

    def size(self, path: str) -> int:
        return int(self._jfs(path).getFileStatus(self._jpath(path)).getLen())

    def mtime_ms(self, path: str) -> int:
        return int(
            self._jfs(path).getFileStatus(self._jpath(path)).getModificationTime()
        )

    def rmtree(self, path: str, ignore_errors: bool = False) -> None:
        try:
            self._jfs(path).delete(self._jpath(path), True)
        except Exception:
            if not ignore_errors:
                raise

    def rename(self, src: str, dst: str) -> None:
        ok = self._jfs(src).rename(self._jpath(src), self._jpath(dst))
        if not ok:
            raise OSError(f"rename failed: {src} -> {dst}")

    def promote_exclusive(self, src: str, dst: str) -> None:
        if _is_local_uri(src):
            # RawLocalFileSystem rename silently overwrites; POSIX link
            # is the real atomic-exclusive primitive here
            s = urlparse(src).path if src.startswith("file:") else src
            d = urlparse(dst).path if dst.startswith("file:") else dst
            os.link(s, d)
            os.remove(s)
            return
        # HDFS rename REFUSES an existing destination (namenode-arbitrated)
        ok = self._jfs(src).rename(self._jpath(src), self._jpath(dst))
        if not ok:
            if self._jfs(dst).exists(self._jpath(dst)):
                raise FileExistsError(dst)
            raise OSError(f"promote failed: {src} -> {dst}")

    def create_exclusive(self, path: str, text: str) -> None:
        if _is_local_uri(path):
            # Hadoop's RawLocalFileSystem create(overwrite=false) is a
            # check-then-create; POSIX O_EXCL is the real atomic primitive
            local = urlparse(path).path if path.startswith("file:") else path
            with open(local, "x") as f:
                f.write(text)
            return
        try:
            out = self._jfs(path).create(self._jpath(path), False)
        except Exception as e:  # Py4JJavaError wrapping FileAlreadyExists
            if "AlreadyExists" in str(e):
                raise FileExistsError(path) from e
            raise
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    def write_text(self, path: str, text: str) -> None:
        out = self._jfs(path).create(self._jpath(path), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    def read_text(self, path: str) -> str:
        return self.read_bytes(path).decode("utf-8")

    def write_bytes(self, path: str, data: bytes) -> None:
        out = self._jfs(path).create(self._jpath(path), True)
        try:
            out.write(bytearray(data))
        finally:
            out.close()

    def read_bytes(self, path: str) -> bytes:
        stream = self._jfs(path).open(self._jpath(path))
        try:
            return bytes(self._jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
        finally:
            stream.close()

    def walk(self, path: str):
        fs, p = self._jfs(path), self._jpath(path)
        if not fs.exists(p):
            return
        dirs, files = [], []
        for s in fs.listStatus(p):
            (dirs if s.isDirectory() else files).append(s.getPath().getName())
        yield path, dirs, files
        for d in dirs:
            yield from self.walk(posixpath.join(path, d))


# --------------------------------------------------------------------------
# Commit backends: the pluggable put-if-absent atom of the table log.
# --------------------------------------------------------------------------


class CommitBackend:
    """Put-if-absent on a manifest path — ManifestTable's ONE commit atom.

    Contract: ``put_if_absent(path, text)`` either durably creates *path*
    with *text* such that any subsequent reader sees it, or raises
    ``FileExistsError`` — and under N concurrent callers for the same
    path, EXACTLY one succeeds.  Everything else in the table format
    (snapshot isolation, idempotent streaming batches, time travel) is
    built on this single guarantee.
    """

    def put_if_absent(self, path: str, text: str) -> None:
        raise NotImplementedError


class FSCommitBackend(CommitBackend):
    """Exclusive create on the filesystem — the default backend.

    Truly atomic on POSIX (``O_EXCL``) and HDFS (``create(path,
    overwrite=false)`` is arbitrated by the namenode).  On S3A this
    degrades to check-then-create: use ``ConditionalPutCommitBackend`` or
    ``LockTableCommitBackend`` there instead.
    """

    def __init__(self, fs: FS):
        self.fs = fs

    def put_if_absent(self, path: str, text: str) -> None:
        self.fs.create_exclusive(path, text)


class ConditionalPutCommitBackend(CommitBackend):
    """Conditional-write object stores: the store arbitrates the race.

    ``store`` is any client exposing ``put_if_none_match(path, data:
    bytes) -> bool`` — True iff the object was created because no object
    existed (S3 ``PutObject`` with ``If-None-Match: *``, GCS insert with
    ``ifGenerationMatch=0``, Azure Blob ``Put Blob`` with ``If-None-Match:
    *``).  All current major object stores support one of these, which
    makes this the preferred 100 TB backend; the HTTP client itself is
    environment-specific and injected, not vendored here.
    """

    def __init__(self, store):
        self.store = store

    def put_if_absent(self, path: str, text: str) -> None:
        if not self.store.put_if_none_match(path, text.encode("utf-8")):
            raise FileExistsError(path)


class Coordinator:
    """External CAS service electing the single writer of a key.

    ``claim(key, owner)`` returns a monotonic FENCING TOKEN iff *owner*
    now holds the claim (None otherwise): first-claimer wins, re-claims
    by the SAME owner return the SAME token (idempotent retry), a claim
    whose age exceeds the coordinator's TTL may be stolen — and every
    ownership change BUMPS the token, so a stalled winner's token is
    provably stale.  ``current(key)`` reports the standing
    (owner, token) pair for the write-visibility check.  Production
    shape: a DynamoDB/Spanner row per key written with a conditional put
    of ``attribute_not_exists(key) OR expiry < now``, token as an
    atomically incremented attribute.
    """

    def claim(self, key: str, owner: str) -> int | None:
        raise NotImplementedError

    def current(self, key: str) -> tuple[str, int] | None:
        raise NotImplementedError

    def try_claim(self, key: str, owner: str) -> bool:
        return self.claim(key, owner) is not None


class InProcessCoordinator(Coordinator):
    """Reference Coordinator for single-process multi-writer drivers and
    for tests; claim table under one mutex, monotonic-clock TTL,
    per-key monotonic fencing tokens."""

    def __init__(self, ttl_s: float = 300.0, clock=time.monotonic):
        self.ttl_s = ttl_s
        self._clock = clock
        self._lock = threading.Lock()
        self._claims: dict[str, tuple[str, float, int]] = {}

    def claim(self, key: str, owner: str) -> int | None:
        with self._lock:
            now = self._clock()
            cur = self._claims.get(key)
            if cur is not None:
                held_by, ts, token = cur
                if held_by == owner:
                    # idempotent re-claim: refresh the lease, SAME token
                    self._claims[key] = (owner, now, token)
                    return token
                if (now - ts) < self.ttl_s:
                    return None
                # steal: ownership changes, token bumps
                self._claims[key] = (owner, now, token + 1)
                return token + 1
            self._claims[key] = (owner, now, 1)
            return 1

    def current(self, key: str) -> tuple[str, int] | None:
        with self._lock:
            cur = self._claims.get(key)
            return None if cur is None else (cur[0], cur[2])


class LockTableCommitBackend(CommitBackend):
    """CAS-coordinator fallback for stores WITHOUT conditional write.

    Fenced three-step commit:

    1. win the claim on the manifest path — the coordinator hands back a
       monotonic FENCING TOKEN (bumped on every ownership change);
    2. write the content to a token-named FENCE file (unique name, plain
       write is safe), then re-check ``coordinator.current``: if the
       claim was stolen while this writer stalled, the token no longer
       matches and the write is abandoned — the stale bytes were never
       visible;
    3. promote fence → manifest path with the filesystem's
       atomic-no-overwrite primitive (POSIX link(2), HDFS rename), so
       even a writer that stalls BETWEEN the token check and the
       promote loses to the thief's already-promoted file instead of
       clobbering it.

    The remaining caveat is narrow and explicit: a store with neither a
    conditional write NOR an atomic no-overwrite promote cannot close
    the check→promote window — on such a store prefer
    ``ConditionalPutCommitBackend``.

    ``_stall_hook`` is a test seam invoked after the fence write (the
    stall window the fencing exists for); production callers leave it
    None.
    """

    def __init__(
        self,
        coordinator: Coordinator,
        fs: FS,
        owner: str | None = None,
        _stall_hook=None,
    ):
        self.coordinator = coordinator
        self.fs = fs
        self.owner = owner or f"{os.getpid()}-{id(self):x}"
        self._stall_hook = _stall_hook

    def put_if_absent(self, path: str, text: str) -> None:
        if self.fs.exists(path):
            raise FileExistsError(path)
        token = self.coordinator.claim(path, self.owner)
        if token is None:
            raise FileExistsError(path)
        # claim won but the file may have landed between check and claim
        # (a prior winner's promote racing our check)
        if self.fs.exists(path):
            raise FileExistsError(path)
        fence = f"{path}.fence.{self.owner}.{token}"
        self.fs.write_text(fence, text)
        if self._stall_hook is not None:
            self._stall_hook()
        cur = self.coordinator.current(path)
        if cur != (self.owner, token):
            # stolen while we stalled: our bytes must stay invisible
            try:
                self.fs.remove(fence)
            except OSError:
                pass
            raise FileExistsError(path)
        try:
            self.fs.promote_exclusive(fence, path)
        except FileExistsError:
            try:
                self.fs.remove(fence)
            except OSError:
                pass
            raise
