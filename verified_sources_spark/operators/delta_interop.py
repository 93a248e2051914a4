"""Delta Lake interop: read external Delta tables, export ManifestTable
snapshots as a Delta-compatible log.

ManifestTable has the right transactional semantics but a proprietary
log; a lakehouse user needs tables OTHER engines can read, and needs to
read tables other engines wrote (the reference hands data to real
warehouses, e.g. sources/mongodb_pipeline.py:22-35).  Both directions
speak the PUBLIC Delta transaction-log protocol (the delta.io PROTOCOL
spec): ``_delta_log/%020d.json`` NDJSON commits of
protocol/metaData/add/remove actions plus optional parquet checkpoints.

Scale shape: log replay is driver-side and metadata-sized (one dict per
live file — the same cardinality the ManifestTable log already holds);
big logs short-circuit through the parquet checkpoint, which Spark reads
distributed.  Data files are never touched — interop is a pure metadata
exchange.

No delta-spark dependency: the format is JSON + parquet, and the point
is reading/writing it with the stdlib + Spark alone.
"""

from __future__ import annotations

import json
import os
import posixpath
import time
import uuid
from urllib.parse import quote, unquote

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

from verified_sources_spark.operators.deletion_vectors import expanded_delete_rows
from verified_sources_spark.operators.fs import FS, HadoopFS, read_parquet
from verified_sources_spark.operators.iceberg_interop import (
    _fieldid_read_session,
    _norm_path_expr,
    _norm_path_py,
)


def _abs_table_path(path: str) -> str:
    """Absolutize a local relative table path.  DV masking and CDF
    anti-joins compare manifest-recorded paths against Spark's absolute
    ``_metadata.file_path`` — a relative path never matches, and the
    left-anti join would silently remove nothing (deleted rows
    resurrect).  Mirrors read_iceberg_snapshot's os.path.abspath guard."""
    if "://" not in path and not os.path.isabs(path):
        return os.path.abspath(path)
    return path

_LOG_DIR = "_delta_log"
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
# Reader versions this reader can honor: v1 is plain parquet semantics;
# v2 is column mapping ('name' and 'id' modes both implemented); v3
# gates on explicit readerFeatures, accepted only when every listed
# feature is one we implement — deletion vectors, timestampNtz and V2
# checkpoints included.  Unknown features/modes refuse rather than
# silently mis-read.
_SUPPORTED_READER_FEATURES = {
    "columnMapping",
    "timestampNtz",
    "deletionVectors",
    "v2Checkpoint",
}


class DeltaProtocolError(RuntimeError):
    pass


def _log_path(table_path: str, version: int) -> str:
    return f"{table_path}/{_LOG_DIR}/{version:020d}.json"


def _list_log_versions(fs: FS, table_path: str) -> list[int]:
    log_dir = f"{table_path}/{_LOG_DIR}"
    if not fs.isdir(log_dir):
        return []
    out = []
    for name in fs.listdir(log_dir):
        if name.endswith(".json") and name[:-5].isdigit():
            out.append(int(name[:-5]))
    return sorted(out)


class _Snapshot:
    """Replayed log state: live adds keyed by path + latest metaData.

    Protocol validation is deferred to :meth:`validate` — minReaderVersion
    2 is only readable once the metaData's column-mapping MODE is known,
    and the metaData action may replay after the protocol action.
    """

    def __init__(self):
        self.adds: dict[str, dict] = {}
        self.meta: dict | None = None
        self.protocol: dict | None = None
        # remove tombstones still standing (path not re-added since) —
        # irrelevant to snapshot reads, but the protocol requires unexpired
        # tombstones be carried into checkpoints so external writers'
        # conflict detection and VACUUM keep seeing them
        self.removes: dict[str, dict] = {}
        # latest SetTransaction per appId — external streaming writers'
        # idempotence watermark; checkpoints must retain them
        self.txns: dict[str, dict] = {}

    def apply(self, action: dict) -> None:
        if "protocol" in action:
            self.protocol = action["protocol"]
        elif "metaData" in action:
            self.meta = action["metaData"]
        elif "add" in action:
            add = action["add"]
            self.adds[add["path"]] = add
            self.removes.pop(add["path"], None)
        elif "remove" in action:
            rm = action["remove"]
            self.adds.pop(rm["path"], None)
            self.removes[rm["path"]] = rm
        elif "txn" in action:
            tx = action["txn"]
            if tx.get("appId") is not None:
                self.txns[tx["appId"]] = tx

    def validate(self) -> None:
        if self.protocol is None:
            return
        v = int(self.protocol.get("minReaderVersion", 1))
        mode = column_mapping_mode(self.meta) if self.meta else "none"
        if v == 2 or (v == 1 and mode != "none"):
            if mode not in ("none", "name", "id"):
                raise DeltaProtocolError(
                    f"unknown column mapping mode {mode!r}; refusing a "
                    "silently-wrong read"
                )
        elif v == 3:
            if self.protocol.get("readerFeatures") is None:
                # v3 REQUIRES the feature list; absent = malformed, and
                # guessing "no features" would mis-read feature tables
                raise DeltaProtocolError(
                    "minReaderVersion 3 protocol carries no readerFeatures"
                )
            feats = set(self.protocol.get("readerFeatures") or [])
            unsupported = feats - _SUPPORTED_READER_FEATURES
            if unsupported:
                raise DeltaProtocolError(
                    f"reader features {sorted(unsupported)} not implemented; "
                    "refusing a silently-wrong read"
                )
            if "columnMapping" in feats and mode not in ("none", "name", "id"):
                raise DeltaProtocolError(
                    f"unknown column mapping mode {mode!r}; refusing a "
                    "silently-wrong read"
                )
        elif v > 3:
            raise DeltaProtocolError(f"minReaderVersion {v} unsupported")


def column_mapping_mode(meta: dict | None) -> str:
    return str(
        ((meta or {}).get("configuration") or {}).get(
            "delta.columnMapping.mode", "none"
        )
    )


def _apply_checkpoint_row(snap: _Snapshot, d: dict, cols) -> None:
    for kind in ("protocol", "metaData", "add"):
        if kind in cols and d.get(kind) is not None:
            snap.apply({kind: d[kind]})
    # removes in a checkpoint are never live files, but they ARE
    # unexpired tombstones that the next checkpoint must carry forward
    if "remove" in cols and d.get("remove") is not None:
        rm = d["remove"]
        if rm["path"] not in snap.adds:
            snap.removes[rm["path"]] = rm
    if "txn" in cols and d.get("txn") is not None:
        snap.apply({"txn": d["txn"]})


def _read_checkpoint(
    spark: SparkSession, fs: FS, table_path: str, snap: _Snapshot,
    max_version: int | None = None,
) -> int | None:
    """Load ``_last_checkpoint`` state into *snap*; returns the checkpoint
    version or None.  ``max_version`` skips a checkpoint newer than a
    time-travel target (full state can't be rolled back).

    Three published checkpoint shapes are read:

    - classic single-file ``{v}.checkpoint.parquet`` and multi-part
      ``{v}.checkpoint.{i}.{n}.parquet`` (V1);
    - **V2** UUID-named ``{v}.checkpoint.{uuid}.parquet`` or ``.json``:
      the top-level file carries protocol/metaData/checkpointMetadata
      plus either inline file actions or ``sidecar`` references — each
      sidecar parquet under ``_delta_log/_sidecars/`` holds the
      add/remove actions and is applied in turn.
    """
    lc_path = f"{table_path}/{_LOG_DIR}/_last_checkpoint"
    if not fs.exists(lc_path):
        return None
    lc = json.loads(fs.read_text(lc_path))
    v, parts = int(lc["version"]), lc.get("parts")
    if max_version is not None and v > max_version:
        return None
    log_dir = f"{table_path}/{_LOG_DIR}"
    classic = f"{log_dir}/{v:020d}.checkpoint.parquet"
    if parts:
        files = [
            f"{log_dir}/{v:020d}.checkpoint.{i:010d}.{int(parts):010d}.parquet"
            for i in range(1, int(parts) + 1)
        ]
        _apply_parquet_checkpoint(spark, snap, files)
        return v
    if fs.exists(classic):
        _apply_parquet_checkpoint(spark, snap, [classic])
        return v
    # V2: UUID-named {v}.checkpoint.<uuid>.{parquet|json}
    prefix = f"{v:020d}.checkpoint."
    cands = sorted(
        n
        for n in fs.listdir(log_dir)
        if n.startswith(prefix) and n.endswith((".parquet", ".json"))
    )
    if not cands:
        raise DeltaProtocolError(
            f"_last_checkpoint names version {v} but no checkpoint file "
            f"matches {prefix}* under {log_dir}"
        )
    top = f"{log_dir}/{cands[-1]}"
    sidecars: list[dict] = []
    if top.endswith(".json"):
        rows = [
            json.loads(line)
            for line in fs.read_text(top).splitlines()
            if line.strip()
        ]
        for d in rows:
            _apply_checkpoint_row(snap, d, d.keys())
            if d.get("sidecar") is not None:
                sidecars.append(d["sidecar"])
    else:
        cp = read_parquet(spark, top)
        cols = set(cp.columns)
        for row in cp.toLocalIterator():
            d = row.asDict(recursive=True)
            _apply_checkpoint_row(snap, d, cols)
            if "sidecar" in cols and d.get("sidecar") is not None:
                sidecars.append(d["sidecar"])
    for sc in sidecars:
        p = sc["path"]
        full = p if "://" in p or p.startswith("/") else f"{log_dir}/_sidecars/{p}"
        _apply_parquet_checkpoint(spark, snap, [full])
    return v


def _apply_parquet_checkpoint(
    spark: SparkSession, snap: _Snapshot, files: list[str]
) -> None:
    cp = read_parquet(spark, *files)
    cols = set(cp.columns)
    for row in cp.toLocalIterator():  # one row per action — metadata-sized
        _apply_checkpoint_row(snap, row.asDict(recursive=True), cols)


def _replay_snapshot(
    spark: SparkSession, fs: FS, path: str, version: int | None
) -> tuple[_Snapshot, int]:
    """Replay checkpoint + contiguous commits to *version* (default
    latest); returns (snapshot, replayed_version).  ALL consumers of log
    state go through here so the gap/contiguity validation cannot be
    bypassed — a replay over missing commits raises, never silently
    reconstructs partial state."""
    versions = _list_log_versions(fs, path)
    snap = _Snapshot()
    # The checkpoint is needed for time travel too: writers clean up JSON
    # commits older than the retention window once a checkpoint exists, so
    # replaying "surviving jsons ≤ version" alone reconstructs PARTIAL
    # state.  Use the checkpoint whenever it is at-or-before the target;
    # a checkpoint NEWER than the target can't serve it (checkpoints are
    # full state, not invertible) — then the early commits must still
    # exist on disk or the travel is impossible.
    cp_version = _read_checkpoint(
        spark, fs, path, snap, max_version=version
    )
    if not versions and cp_version is None:
        raise FileNotFoundError(f"no Delta log at {path}/{_LOG_DIR}")
    target = version if version is not None else (versions[-1] if versions else cp_version)
    replay_floor = cp_version if cp_version is not None else -1
    expected = replay_floor + 1
    for v in versions:
        if v <= replay_floor:
            continue
        if v > target:
            break
        if v != expected:
            raise DeltaProtocolError(
                f"cannot reconstruct version {target}: commits "
                f"{expected}..{v - 1} are missing from {path}/{_LOG_DIR} "
                "(cleaned up past the checkpoint?)"
            )
        expected = v + 1
        for line in fs.read_text(_log_path(path, v)).splitlines():
            if line.strip():
                snap.apply(json.loads(line))
    if expected <= target:
        raise DeltaProtocolError(
            f"cannot reconstruct version {target}: log ends at {expected - 1}"
        )
    if snap.meta is None:
        raise DeltaProtocolError(f"no metaData action found in {path}/{_LOG_DIR}")
    snap.validate()
    return snap, target


def read_delta_log(
    spark: SparkSession, path: str, version: int | None = None, fs: FS | None = None
) -> tuple[list[dict], dict]:
    """Replay an external Delta log; returns (live add-actions, metaData).

    ``version`` pins time travel (replay commits ≤ version); default is
    the latest commit.  Raises on reader-version requirements above plain
    parquet semantics rather than mis-reading."""
    fs = fs or HadoopFS(spark)
    path = path.rstrip("/")
    snap, _ = _replay_snapshot(spark, fs, path, version)
    return list(snap.adds.values()), snap.meta


_PHYS_KEY = "delta.columnMapping.physicalName"
_ID_KEY = "delta.columnMapping.id"


def _to_fieldid_type(dt: T.DataType) -> T.DataType:
    """Column-mapping 'id' mode: keep LOGICAL names but annotate every
    struct field with ``parquet.field.id`` (from the table schema's
    ``delta.columnMapping.id``) so Spark's field-id scan path resolves
    columns by id — the spec's rule for 'id' tables, robust to renames
    and drop/re-add through other engines."""
    if isinstance(dt, T.StructType):
        out = []
        for f in dt.fields:
            fid = (f.metadata or {}).get(_ID_KEY)
            if fid is None:
                raise DeltaProtocolError(
                    f"column-mapping 'id' table field {f.name!r} carries no "
                    f"{_ID_KEY}; schema is malformed"
                )
            out.append(
                T.StructField(
                    f.name,
                    _to_fieldid_type(f.dataType),
                    f.nullable,
                    {"parquet.field.id": int(fid)},
                )
            )
        return T.StructType(out)
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_to_fieldid_type(dt.elementType), dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _to_fieldid_type(dt.keyType),
            _to_fieldid_type(dt.valueType),
            dt.valueContainsNull,
        )
    return dt


def _to_physical_type(dt: T.DataType) -> T.DataType:
    """Rename every nested struct field to its column-mapping physical
    name (identity for non-mapped tables — no metadata, names stay)."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(
                    (f.metadata or {}).get(_PHYS_KEY, f.name),
                    _to_physical_type(f.dataType),
                    f.nullable,
                )
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_to_physical_type(dt.elementType), dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _to_physical_type(dt.keyType),
            _to_physical_type(dt.valueType),
            dt.valueContainsNull,
        )
    return dt


def read_delta_table(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    fs: FS | None = None,
    timestamp_ms: int | None = None,
) -> DataFrame:
    """External Delta table → DataFrame (no delta-spark dependency).

    Partition columns are not stored in Delta data files; they are
    re-attached from each add-action's ``partitionValues`` and cast to
    the schema type.  Files are grouped by partition tuple — one Spark
    scan per distinct partition combination, unioned by name; fine for
    the metadata-exchange use, and each scan is itself distributed.

    Column mapping (mode "name", minReaderVersion 2/3): data files and
    ``partitionValues`` keys use each field's
    ``delta.columnMapping.physicalName``; the scan reads the PHYSICAL
    schema and a positional struct cast renames every nesting level back
    to logical names — one projection, no Python row work.

    Deletion vectors (the default row-level-delete mechanism on modern
    Databricks tables): each DV'd add's RoaringBitmap blob is fetched
    and expanded to ``(file_path, row_index)`` rows on executors
    (operators/deletion_vectors.py), then removed with a distributed
    LEFT ANTI join against Spark's native ``_metadata.file_path`` /
    ``_metadata.row_index`` — the same mechanism the Iceberg reader uses
    for position deletes.  No driver-side row work, one Catalyst DAG.
    """
    path = _abs_table_path(path.rstrip("/"))
    if timestamp_ms is not None:
        if version is not None:
            raise ValueError("pass either version or timestamp_ms, not both")
        version = resolve_version_at_timestamp(spark, path, timestamp_ms, fs)
    adds, meta = read_delta_log(spark, path, version, fs)
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    part_cols = list(meta.get("partitionColumns") or [])
    # the spec says physicalName metadata is honored ONLY when column
    # mapping is active — leftover metadata on a mode-'none' table (e.g.
    # a cloned schemaString) must be ignored or every mapped column
    # would read all-NULL from files that use logical names
    mode = column_mapping_mode(meta)
    mapped = mode == "name"
    id_mode = mode == "id"
    # partitionValues keys use PHYSICAL names in both mapping modes
    phys_of = {
        f.name: (f.metadata or {}).get(_PHYS_KEY, f.name)
        if (mapped or id_mode)
        else f.name
        for f in schema.fields
    }
    types = {f.name: f.dataType for f in schema.fields}
    if not adds:
        return spark.createDataFrame([], schema)

    scan_spark = spark
    if id_mode:
        # field-id resolution: logical names in the requested schema,
        # parquet.field.id annotations drive the match inside the scan.
        # The conf is pinned on a CLONED session so later unrelated reads
        # on the caller's session keep their resolution behavior.
        scan_spark = _fieldid_read_session(spark)
        data_schema = _to_fieldid_type(
            T.StructType([f for f in schema.fields if f.name not in part_cols])
        )
    else:
        data_schema = T.StructType(
            [
                T.StructField(
                    phys_of[f.name],
                    _to_physical_type(f.dataType) if mapped else f.dataType,
                    f.nullable,
                )
                for f in schema.fields
                if f.name not in part_cols
            ]
        )

    groups: dict[tuple, list[str]] = {}
    dv_descs: list[tuple[str, dict]] = []
    for a in adds:
        pv = a.get("partitionValues") or {}
        key = tuple(pv.get(phys_of[c], pv.get(c)) for c in part_cols)
        rel = unquote(a["path"])
        full = rel if "://" in rel else posixpath.join(path, rel)
        groups.setdefault(key, []).append(full)
        if a.get("deletionVector"):
            dv_descs.append((_norm_path_py(full), dict(a["deletionVector"])))

    parts_out = []
    for key, files in sorted(groups.items(), key=lambda kv: str(kv[0])):
        df = scan_spark.read.schema(data_schema).parquet(*files)
        cols = []
        for f in schema.fields:
            if f.name in part_cols:
                raw = dict(zip(part_cols, key))[f.name]
                cols.append(F.lit(raw).cast(types[f.name]).alias(f.name))
            else:
                # 'name' mode: positional struct cast renames physical →
                # logical at every nesting level in one expression;
                # 'id' mode already read under logical names
                src = f.name if id_mode else phys_of[f.name]
                cols.append(F.col(src).cast(f.dataType).alias(f.name))
        if dv_descs:
            cols.append(
                _norm_path_expr(F.col("_metadata.file_path")).alias("__dv_fp")
            )
            cols.append(F.col("_metadata.row_index").alias("__dv_pos"))
        parts_out.append(df.select(cols))
    out = parts_out[0]
    for df in parts_out[1:]:
        out = out.unionByName(df)
    if dv_descs:
        deleted = expanded_delete_rows(spark, path, dv_descs)
        out = out.join(
            deleted, ["__dv_fp", "__dv_pos"], "left_anti"
        ).drop("__dv_fp", "__dv_pos")
    return out


_CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField(
            "protocol",
            T.StructType(
                [
                    T.StructField("minReaderVersion", T.IntegerType()),
                    T.StructField("minWriterVersion", T.IntegerType()),
                    # v3 protocols are MALFORMED without their feature
                    # lists — a checkpoint must round-trip them
                    T.StructField("readerFeatures", T.ArrayType(T.StringType())),
                    T.StructField("writerFeatures", T.ArrayType(T.StringType())),
                ]
            ),
        ),
        T.StructField(
            "metaData",
            T.StructType(
                [
                    T.StructField("id", T.StringType()),
                    T.StructField(
                        "format",
                        T.StructType(
                            [
                                T.StructField("provider", T.StringType()),
                                T.StructField(
                                    "options", T.MapType(T.StringType(), T.StringType())
                                ),
                            ]
                        ),
                    ),
                    T.StructField("schemaString", T.StringType()),
                    T.StructField("partitionColumns", T.ArrayType(T.StringType())),
                    T.StructField(
                        "configuration", T.MapType(T.StringType(), T.StringType())
                    ),
                    T.StructField("createdTime", T.LongType()),
                ]
            ),
        ),
        T.StructField(
            "add",
            T.StructType(
                [
                    T.StructField("path", T.StringType()),
                    T.StructField(
                        "partitionValues", T.MapType(T.StringType(), T.StringType())
                    ),
                    T.StructField("size", T.LongType()),
                    T.StructField("modificationTime", T.LongType()),
                    T.StructField("dataChange", T.BooleanType()),
                    # a DV'd add MUST keep its descriptor through the
                    # checkpoint or deleted rows resurrect on replay
                    T.StructField(
                        "deletionVector",
                        T.StructType(
                            [
                                T.StructField("storageType", T.StringType()),
                                T.StructField("pathOrInlineDv", T.StringType()),
                                T.StructField("offset", T.IntegerType()),
                                T.StructField("sizeInBytes", T.IntegerType()),
                                T.StructField("cardinality", T.LongType()),
                            ]
                        ),
                    ),
                ]
            ),
        ),
        # latest SetTransaction per appId — streaming writers' idempotence
        # watermark survives log cleanup
        T.StructField(
            "txn",
            T.StructType(
                [
                    T.StructField("appId", T.StringType()),
                    T.StructField("version", T.LongType()),
                    T.StructField("lastUpdated", T.LongType()),
                ]
            ),
        ),
        # unexpired remove tombstones — the protocol requires checkpoints
        # retain them so external writers' conflict detection and VACUUM
        # still see recently-deleted files after JSON commits are cleaned
        T.StructField(
            "remove",
            T.StructType(
                [
                    T.StructField("path", T.StringType()),
                    T.StructField("deletionTimestamp", T.LongType()),
                    T.StructField("dataChange", T.BooleanType()),
                ]
            ),
        ),
    ]
)


def _tombstone_retention_millis(meta: dict | None) -> int:
    """Parse ``delta.deletedFileRetentionDuration`` (default
    ``interval 1 week``) into milliseconds.  Format per the Delta spec:
    ``interval <n> <unit>`` with calendar-free units."""
    raw = str(
        ((meta or {}).get("configuration") or {}).get(
            "delta.deletedFileRetentionDuration", "interval 1 week"
        )
    )
    parts = raw.strip().lower().split()
    unit_ms = {
        "millisecond": 1, "second": 1000, "minute": 60_000, "hour": 3_600_000,
        "day": 86_400_000, "week": 604_800_000,
    }
    try:
        if parts[0] == "interval":
            parts = parts[1:]
        n = int(parts[0])
        unit = parts[1].rstrip("s")
        return n * unit_ms[unit]
    except (IndexError, ValueError, KeyError):
        raise DeltaProtocolError(
            f"unparseable delta.deletedFileRetentionDuration: {raw!r}"
        )


def write_delta_checkpoint(
    spark: SparkSession, path: str, version: int | None = None, fs: FS | None = None
) -> str:
    """Write a classic single-file parquet checkpoint + ``_last_checkpoint``
    for the Delta log at *path*; returns the checkpoint file path.

    The spec's V1 checkpoint: one parquet file named
    ``%020d.checkpoint.parquet`` holding the full replayed state — one
    row per action with exactly one of protocol/metaData/add/remove
    non-null.  Unexpired remove tombstones (younger than
    ``delta.deletedFileRetentionDuration``, default 1 week) are retained
    as the protocol requires, so external writers' conflict detection
    and VACUUM still see them once the JSON commits are cleaned up.
    After this, readers (ours included — ``_read_checkpoint`` above)
    replay only commits AFTER the checkpoint version, and log-cleanup of
    older JSON commits becomes safe.  The row build is driver-side but
    metadata-sized (one dict per live file — the same cardinality the
    log replay already materializes).
    """
    fs = fs or HadoopFS(spark)
    path = path.rstrip("/")
    # the SAME validated replay readers use: a gap (commits cleaned up
    # past an unusable checkpoint, corrupted _last_checkpoint...) raises
    # here instead of silently persisting a checkpoint of partial state
    snap, target = _replay_snapshot(spark, fs, path, version)
    cp_path = f"{path}/{_LOG_DIR}/{target:020d}.checkpoint.parquet"
    lc_path = f"{path}/{_LOG_DIR}/_last_checkpoint"
    if fs.exists(cp_path):
        # idempotent re-run: the log below `target` is immutable, so an
        # existing checkpoint at that version is already this state.  But
        # a crash between the stage rename and the _last_checkpoint write
        # leaves it unregistered — repair that here, or every rerun would
        # return early and readers/clean_delta_log never see it.
        # (a corrupt pointer never reaches here — _replay_snapshot above
        # already refuses it loudly, the readers' contract)
        stale = (
            not fs.exists(lc_path)
            or int(json.loads(fs.read_text(lc_path))["version"]) < target
        )
        if stale:
            n = read_parquet(spark, cp_path).count()
            fs.write_text(lc_path, json.dumps({"version": target, "size": n}))
        return cp_path

    protocol = snap.protocol or {"minReaderVersion": 1, "minWriterVersion": 2}
    rows = [
        (
            (
                int(protocol.get("minReaderVersion", 1)),
                int(protocol.get("minWriterVersion", 2)),
                protocol.get("readerFeatures"),
                protocol.get("writerFeatures"),
            ),
            None,
            None,
            None,
            None,
        ),
        (
            None,
            (
                str(snap.meta.get("id", "")),
                (
                    str((snap.meta.get("format") or {}).get("provider", "parquet")),
                    dict((snap.meta.get("format") or {}).get("options") or {}),
                ),
                str(snap.meta.get("schemaString", "")),
                list(snap.meta.get("partitionColumns") or []),
                dict(snap.meta.get("configuration") or {}),
                int(snap.meta.get("createdTime") or 0),
            ),
            None,
            None,
            None,
        ),
    ]
    for tx in snap.txns.values():
        rows.append(
            (
                None,
                None,
                None,
                (
                    str(tx["appId"]),
                    int(tx.get("version") or 0),
                    None if tx.get("lastUpdated") is None else int(tx["lastUpdated"]),
                ),
                None,
            )
        )
    for a in snap.adds.values():
        dv = a.get("deletionVector")
        rows.append(
            (
                None,
                None,
                (
                    str(a["path"]),
                    {
                        k: (None if v is None else str(v))
                        for k, v in (a.get("partitionValues") or {}).items()
                    },
                    int(a.get("size") or 0),
                    int(a.get("modificationTime") or 0),
                    # spec: checkpoint actions carry dataChange=false —
                    # they describe state, not new data; a streaming
                    # reader bootstrapping from the checkpoint must not
                    # re-emit every file as a change event
                    False,
                    None
                    if not dv
                    else (
                        str(dv["storageType"]),
                        str(dv["pathOrInlineDv"]),
                        None if dv.get("offset") is None else int(dv["offset"]),
                        int(dv["sizeInBytes"]),
                        int(dv["cardinality"]),
                    ),
                ),
                None,
                None,
            )
        )
    # unexpired tombstones: deletionTimestamp within the retention window
    # (a missing deletionTimestamp can't be proven expired — retain it)
    expiry = int(time.time() * 1000) - _tombstone_retention_millis(snap.meta)
    for rm in snap.removes.values():
        ts = rm.get("deletionTimestamp")
        if ts is not None and int(ts) < expiry:
            continue
        rows.append(
            (
                None,
                None,
                None,
                None,
                (str(rm["path"]), None if ts is None else int(ts), False),
            )
        )
    df = spark.createDataFrame(rows, _CHECKPOINT_SCHEMA)
    stage = f"{path}/{_LOG_DIR}/.checkpoint_stage_{target}"
    try:
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(
            n for n in fs.listdir(stage) if n.endswith(".parquet")
        )
        fs.rename(f"{stage}/{part}", cp_path)
    finally:
        fs.rmtree(stage, ignore_errors=True)
    fs.write_text(
        f"{path}/{_LOG_DIR}/_last_checkpoint",
        json.dumps({"version": target, "size": len(rows)}),
    )
    return cp_path


def clean_delta_log(
    spark: SparkSession, path: str, fs: FS | None = None
) -> list[int]:
    """Remove JSON commits fully covered by the CURRENT checkpoint;
    returns the versions removed.

    Mirrors Delta's log-retention cleanup in its safe form: only commits
    ``<= _last_checkpoint.version`` are candidates (readers replay from
    the checkpoint), and the checkpoint is re-validated to exist before
    anything is deleted.  Time travel to versions below the checkpoint
    becomes impossible after cleanup — the same trade every Delta
    deployment makes when VACUUM/log-retention runs."""
    fs = fs or HadoopFS(spark)
    path = path.rstrip("/")
    lc_path = f"{path}/{_LOG_DIR}/_last_checkpoint"
    if not fs.exists(lc_path):
        return []
    lc = json.loads(fs.read_text(lc_path))
    cp_v, parts = int(lc["version"]), lc.get("parts")
    if parts:
        cp_files = [
            f"{path}/{_LOG_DIR}/{cp_v:020d}.checkpoint.{i:010d}.{int(parts):010d}.parquet"
            for i in range(1, int(parts) + 1)
        ]
        missing = [p for p in cp_files if not fs.exists(p)]
    elif fs.exists(f"{path}/{_LOG_DIR}/{cp_v:020d}.checkpoint.parquet"):
        missing = []
    else:
        # V2 UUID-named checkpoint counts too
        prefix = f"{cp_v:020d}.checkpoint."
        has_v2 = any(
            n.startswith(prefix) and n.endswith((".parquet", ".json"))
            for n in fs.listdir(f"{path}/{_LOG_DIR}")
        )
        missing = [] if has_v2 else [f"{path}/{_LOG_DIR}/{prefix}*"]
    if missing:
        raise DeltaProtocolError(
            f"_last_checkpoint names version {cp_v} but checkpoint file(s) "
            f"{missing} are missing; refusing to delete commits the "
            "checkpoint cannot replace"
        )
    removed = []
    for v in _list_log_versions(fs, path):
        if v <= cp_v:
            fs.remove(_log_path(path, v))
            removed.append(v)
    return removed


def export_manifest_as_delta(table, version: int | None = None) -> str:
    """Write/extend a Delta-compatible log describing a ManifestTable
    snapshot, so external Delta readers can consume the table in place.

    First export writes commit 0 with the full file list; later exports
    append ONE commit containing the add/remove diff against the last
    exported state — a real incremental log, not a rewrite, so a reader
    that cached version N replays N+1.. like any Delta table.  Returns
    the path of the commit file written.  The export is exactly as
    current as the manifest version exported (default latest); writes go
    through the table's commit backend, so concurrent exporters conflict
    instead of clobbering.

    Deletion vectors: a manifest entry's ``dv`` descriptor exports
    verbatim as the add's ``deletionVector`` (both roots resolve the
    same ``_deletes/`` files), the protocol upgrades to
    minReaderVersion 3 + the deletionVectors feature in the commit that
    first carries one, and a DV that WIDENED on an existing file exports
    as the spec's remove(old DV) + add(new DV) pair with
    ``dataChange=true`` — exactly the commit shape a Databricks
    row-level DELETE writes.

    Change data feed: when the exported manifest recorded ``changes``
    files (a ``change_data=True`` merge/delete) and this export covers
    exactly that one manifest version (tracked via ``commitInfo``), the
    commit also carries ``cdc`` actions — external CDF readers (and
    ``read_delta_changes``) then serve insert/delete/update_preimage/
    update_postimage rows instead of reconstructing from add/remove.
    A cdc-carrying commit also declares the feature as the spec
    requires: ``delta.enableChangeDataFeed=true`` in the metaData
    configuration (sticky from then on — CDCReader checks it over the
    whole requested range) and ``changeDataFeed`` in writerFeatures
    (minWriterVersion 7), mirroring the deletionVectors upgrade path.
    """
    fs = table.fs
    root = table.path
    exp_v = version if version is not None else table.latest_version()
    manifest = table._manifest(exp_v)
    entries = manifest["files"]
    schema_json = manifest.get("schema")
    if schema_json is None:
        raise DeltaProtocolError("manifest has no schema to export")

    prev_adds: dict[str, dict] = {}
    existing = _list_log_versions(fs, root)
    snap = _Snapshot()
    # the previous exported state may live partly in a checkpoint (JSON
    # commits at/below it can be legally cleaned up) — replay checkpoint
    # first, then the commits past it, or the diff and the next version
    # number are both computed against partial state
    cp_v = _read_checkpoint(table.spark, fs, root, snap)
    for v in existing:
        if cp_v is not None and v <= cp_v:
            continue
        for line in fs.read_text(_log_path(root, v)).splitlines():
            if line.strip():
                snap.apply(json.loads(line))
    if existing or cp_v is not None:
        prev_adds = snap.adds
    last_v = max(
        [v for v in existing] + ([cp_v] if cp_v is not None else [])
    ) if (existing or cp_v is not None) else None

    now_ms = 0  # deterministic export: mod times are advisory in the spec
    # deletionTimestamp is NOT advisory: external VACUUM uses it to decide
    # when a removed file is safe to physically delete, and checkpoint
    # writers use it for tombstone retention — epoch 0 would mark every
    # tombstone instantly expired and let VACUUM break older readers
    deleted_ms = int(time.time() * 1000)
    current: dict[str, dict] = {}
    for e in entries:
        rel = quote(e["path"], safe="/-_.~=")
        current[rel] = {
            "path": rel,
            # ManifestTable stores null partition values as the hive
            # sentinel dir name; Delta represents them as JSON null —
            # exporting the sentinel verbatim would materialize the
            # 26-char string as data in external readers.
            "partitionValues": {
                k: (None if v is None or str(v) == _HIVE_NULL else str(v))
                for k, v in (e.get("partition") or {}).items()
            },
            "size": int(e.get("bytes") or 0),
            "modificationTime": now_ms,
            "dataChange": True,
        }
        if e.get("dv"):
            current[rel]["deletionVector"] = dict(e["dv"])

    def _dv_sig(add: dict) -> str | None:
        dv = add.get("deletionVector")
        return json.dumps(dv, sort_keys=True) if dv else None

    actions: list[dict] = []
    next_v = (last_v + 1) if last_v is not None else 0
    has_dvs = any(a.get("deletionVector") for a in current.values())
    prev_protocol = snap.protocol if (existing or cp_v is not None) else None

    # change-data-feed eligibility must be known BEFORE protocol and
    # metaData are written: a commit that carries cdc actions must also
    # declare the feature (writerFeatures: changeDataFeed, minWriter 7)
    # and set delta.enableChangeDataFeed=true, or spec-compliant readers
    # (delta-spark's CDCReader) refuse to serve the feed.  The property
    # is STICKY once declared — CDCReader checks it over the whole
    # requested version range, so flipping it off on a later cdc-less
    # commit would poison range reads that span both.
    prev_mv = None
    if last_v is not None and fs.exists(_log_path(root, last_v)):
        for line in fs.read_text(_log_path(root, last_v)).splitlines():
            if line.strip():
                ci = json.loads(line).get("commitInfo")
                if ci and ci.get("manifestVersion") is not None:
                    prev_mv = int(ci["manifestVersion"])
    covers_one = (next_v == 0 and int(exp_v) == 1) or (
        prev_mv is not None and int(exp_v) == prev_mv + 1
    )
    emit_cdc = bool(covers_one and manifest.get("changes"))
    prev_conf = (
        (snap.meta or {}).get("configuration") or {}
        if (existing or cp_v is not None)
        else {}
    )
    cdf_on = emit_cdc or (
        str(prev_conf.get("delta.enableChangeDataFeed", "false")).lower()
        == "true"
    )

    # protocol: feature-vector form whenever any table feature is live
    # (deletionVectors is reader+writer; changeDataFeed is writer-only,
    # so it alone needs minWriterVersion 7 but not minReaderVersion 3)
    prev_reader = set((prev_protocol or {}).get("readerFeatures") or [])
    prev_writer = set((prev_protocol or {}).get("writerFeatures") or [])
    want_reader, want_writer = set(prev_reader), set(prev_writer)
    if has_dvs:
        want_reader.add("deletionVectors")
        want_writer.add("deletionVectors")
    if cdf_on:
        want_writer.add("changeDataFeed")
    if next_v == 0 or (want_reader - prev_reader) or (want_writer - prev_writer):
        if want_writer:
            proto: dict = {
                "minReaderVersion": 3 if want_reader else 1,
                "minWriterVersion": 7,
            }
            if want_reader:
                proto["readerFeatures"] = sorted(want_reader)
            proto["writerFeatures"] = sorted(want_writer)
            actions.append({"protocol": proto})
        else:
            actions.append(
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
            )
    # metaData rides in every exported commit: schema may have evolved
    actions.append(
        {
            "metaData": {
                "id": str(uuid.uuid5(uuid.NAMESPACE_URL, root)),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_json,
                "partitionColumns": list(manifest.get("partition_by") or []),
                "configuration": (
                    {"delta.enableChangeDataFeed": "true"} if cdf_on else {}
                ),
                "createdTime": now_ms,
            }
        }
    )
    n_meta = len(actions)
    # a path whose DV changed re-exports as the spec's remove(pre-image
    # DV) + add(post-image DV) pair — the commit shape of a DV DELETE
    dv_changed = {
        p
        for p in set(prev_adds) & set(current)
        if _dv_sig(prev_adds[p]) != _dv_sig(current[p])
    }
    for path_ in sorted((set(prev_adds) - set(current)) | dv_changed):
        rm: dict = {
            "path": path_,
            "deletionTimestamp": deleted_ms,
            "dataChange": True,
        }
        if prev_adds[path_].get("deletionVector"):
            rm["deletionVector"] = dict(prev_adds[path_]["deletionVector"])
        actions.append({"remove": rm})
    for path_ in sorted((set(current) - set(prev_adds)) | dv_changed):
        actions.append({"add": current[path_]})
    if next_v > 0 and len(actions) == n_meta:
        # nothing changed: no empty commit.  The last commit's JSON may
        # have been cleaned up past a checkpoint — return whichever form
        # of version `last_v` actually exists on disk.
        prev_path = _log_path(root, last_v)
        if fs.exists(prev_path):
            return prev_path
        return f"{root}/{_LOG_DIR}/{last_v:020d}.checkpoint.parquet"

    # change-data feed: attach cdc actions when this export covers
    # EXACTLY the one manifest version that recorded them (the previous
    # export's commitInfo carries its manifest version, computed above);
    # a multi-version export falls back to add/remove semantics, which
    # the readers mask correctly — never a wrong feed, only a coarser one.
    if emit_cdc:
        for ch in manifest["changes"]:
            size = 0
            try:
                size = fs.size(f"{root}/{ch['path']}")
            except Exception:
                pass
            actions.append(
                {
                    "cdc": {
                        "path": quote(ch["path"], safe="/-_.~="),
                        "partitionValues": {},
                        "size": int(size),
                        "dataChange": False,
                    }
                }
            )
    actions.append({"commitInfo": {"manifestVersion": int(exp_v)}})

    out_path = _log_path(root, next_v)
    fs.makedirs(f"{root}/{_LOG_DIR}")
    table.commit_backend.put_if_absent(
        out_path, "\n".join(json.dumps(a, separators=(",", ":")) for a in actions)
    )
    return out_path


def resolve_version_at_timestamp(
    spark: SparkSession, path: str, timestamp_ms: int, fs: FS | None = None
) -> int:
    """Version whose commit is the LAST at-or-before *timestamp_ms* —
    Delta's timestamp time-travel rule.

    Tables with ``delta.enableInCommitTimestamps`` resolve against the
    ``commitInfo.inCommitTimestamp`` of each commit (the spec REQUIRES
    it once the feature is on: file mtimes are rewritten by copies/
    restores and stop being authoritative); otherwise the commit file's
    modification time is used, exactly like delta-spark.  A table that
    enabled ICT mid-history legitimately has ICT-less older commits —
    the spec records the switchover in
    ``delta.inCommitTimestampEnablementVersion`` /
    ``-EnablementTimestamp``: commits BELOW the enablement version
    resolve by file mtime, commits at/above it by ICT (and an ICT
    missing there is a protocol violation).  Raises when *timestamp_ms*
    precedes the earliest available commit."""
    fs = fs or HadoopFS(spark)
    path = path.rstrip("/")
    versions = _list_log_versions(fs, path)
    if not versions:
        raise FileNotFoundError(f"no Delta log at {path}/{_LOG_DIR}")
    snap, latest = _replay_snapshot(spark, fs, path, None)
    table_conf = (snap.meta or {}).get("configuration") or {}
    use_ict = str(
        table_conf.get("delta.enableInCommitTimestamps", "false")
    ).lower() == "true"
    # absent enablement properties mean the feature was on from commit 0
    ict_floor = (
        int(table_conf.get("delta.inCommitTimestampEnablementVersion", 0))
        if use_ict
        else 0
    )

    def commit_ts(v: int) -> int:
        p = _log_path(path, v)
        if use_ict and v >= ict_floor:
            for line in fs.read_text(p).splitlines():
                if not line.strip():
                    continue
                a = json.loads(line)
                ci = a.get("commitInfo")
                if ci is not None and ci.get("inCommitTimestamp") is not None:
                    return int(ci["inCommitTimestamp"])
            raise DeltaProtocolError(
                f"commit {v} carries no commitInfo.inCommitTimestamp but "
                "delta.enableInCommitTimestamps is on from version "
                f"{ict_floor}"
            )
        return fs.mtime_ms(p)

    best: int | None = None
    for v in versions:
        if commit_ts(v) <= timestamp_ms:
            best = v
        else:
            break  # commit timestamps are monotonic per the protocol
    if best is None:
        raise DeltaProtocolError(
            f"timestamp {timestamp_ms} precedes the earliest available "
            f"commit ({versions[0]}) of {path}"
        )
    return best


def read_delta_changes(
    spark: SparkSession,
    path: str,
    starting_version: int,
    ending_version: int | None = None,
    fs: FS | None = None,
) -> DataFrame:
    """Change Data Feed read over a commit range — the published CDF
    protocol (reference analogue: the whole pg_replication CDC pillar;
    this is the LAKEHOUSE-side change feed other engines produce).

    Per commit: if the commit carries ``cdc`` actions, those
    ``_change_data/`` files alone represent ALL of its changes (they
    embed ``_change_type``: insert / delete / update_preimage /
    update_postimage).  Otherwise the commit's ``dataChange`` adds read
    as inserts and ``dataChange`` removes read as deletes (from the
    still-present removed files — immutability makes that sound).
    Actions carrying a ``deletionVector`` are MASKED by it (distributed
    anti-join on ``_metadata.row_index``, per commit so a file's earlier
    un-DV'd insert is untouched): a DV-DELETE commit's remove+add pair
    thus emits exactly the file's pre-delete survivors as deletes and
    its post-delete survivors as inserts — the newly-deleted rows are
    the difference, never silently dropped.
    Output = table schema + ``_change_type`` + ``_commit_version``.

    Column mapping ('name' and 'id' modes): change/data files use each
    field's stable PHYSICAL identity — ``columnMapping.physicalName``
    resp. ``parquet.field.id`` — which never changes across renames, so
    every commit in the range reads under the ENDING version's mapping
    and folds to its logical names (a column renamed mid-range reports
    its final name throughout; a column added mid-range reads NULL for
    older commits, exactly like delta-spark's CDF).  ``_change_type``
    itself is never mapped (the spec stores it literally in change
    files).

    Refusals: a gap in the commit range (CDF over missing commits would
    silently drop changes), an unknown column-mapping mode, and a
    dataChange remove on a PARTITIONED table whose action lacks
    partitionValues (the delete rows' partition columns would be
    unknowable)."""
    fs = fs or HadoopFS(spark)
    path = _abs_table_path(path.rstrip("/"))
    versions = _list_log_versions(fs, path)
    if not versions:
        raise FileNotFoundError(f"no Delta log at {path}/{_LOG_DIR}")
    if ending_version is None:
        ending_version = versions[-1]
    want = list(range(starting_version, ending_version + 1))
    missing = [v for v in want if v not in versions]
    if missing:
        raise DeltaProtocolError(
            f"CDF range {starting_version}..{ending_version} has missing "
            f"commits {missing} (cleaned up past a checkpoint?)"
        )
    snap, _ = _replay_snapshot(spark, fs, path, ending_version)
    mode = column_mapping_mode(snap.meta)
    if mode not in ("none", "name", "id"):
        raise DeltaProtocolError(
            f"unknown column mapping mode {mode!r}; refusing a CDF read"
        )
    mapped = mode == "name"
    id_mode = mode == "id"
    schema = T.StructType.fromJson(json.loads(snap.meta["schemaString"]))
    part_cols = list(snap.meta.get("partitionColumns") or [])
    types = {f.name: f.dataType for f in schema.fields}
    # partitionValues keys use PHYSICAL names in both mapping modes
    phys_of = {
        f.name: (f.metadata or {}).get(_PHYS_KEY, f.name)
        if (mapped or id_mode)
        else f.name
        for f in schema.fields
    }
    scan_spark = spark
    if id_mode:
        scan_spark = _fieldid_read_session(spark)
        data_schema = _to_fieldid_type(
            T.StructType([f for f in schema.fields if f.name not in part_cols])
        )
    else:
        data_schema = T.StructType(
            [
                T.StructField(
                    phys_of[f.name],
                    _to_physical_type(f.dataType) if mapped else f.dataType,
                    f.nullable,
                )
                for f in schema.fields
                if f.name not in part_cols
            ]
        )
    # _change_type is stored literally (never column-mapped) per spec
    cdc_schema = T.StructType(
        list(data_schema.fields) + [T.StructField("_change_type", T.StringType())]
    )

    # (version, change_type|None=embedded, partition_tuple)
    #   -> [(file, dv-descriptor|None)]
    groups: dict[tuple, list[tuple[str, dict | None]]] = {}
    for v in want:
        actions = [
            json.loads(line)
            for line in fs.read_text(_log_path(path, v)).splitlines()
            if line.strip()
        ]
        cdcs = [a["cdc"] for a in actions if "cdc" in a]
        entries: list[tuple[dict, str | None]] = []
        if cdcs:
            entries = [(c, None) for c in cdcs]
        else:
            for a in actions:
                if "add" in a and a["add"].get("dataChange"):
                    entries.append((a["add"], "insert"))
                elif "remove" in a and a["remove"].get("dataChange"):
                    rm = a["remove"]
                    if part_cols and rm.get("partitionValues") is None:
                        raise DeltaProtocolError(
                            f"commit {v}: dataChange remove of "
                            f"{rm['path']!r} has no partitionValues — "
                            "cannot reconstruct delete rows' partition "
                            "columns"
                        )
                    entries.append((rm, "delete"))
        for e, ctype in entries:
            pv = e.get("partitionValues") or {}
            key = (
                v,
                ctype,
                tuple(pv.get(phys_of[c], pv.get(c)) for c in part_cols),
            )
            rel = unquote(e["path"])
            full = rel if "://" in rel else posixpath.join(path, rel)
            # adds mask the rows their DV deletes (post-image of the
            # file); removes mask rows ALREADY deleted before this
            # commit (their pre-image DV) so prior deletes don't
            # re-emit.  cdc actions never carry DVs.
            dv = e.get("deletionVector") if ctype is not None else None
            groups.setdefault(key, []).append((full, dict(dv) if dv else None))

    out_fields = [f.name for f in schema.fields] + [
        "_change_type", "_commit_version",
    ]
    parts_out = []
    for (v, ctype, pkey), files in sorted(groups.items(), key=lambda kv: str(kv[0])):
        df = scan_spark.read.schema(
            cdc_schema if ctype is None else data_schema
        ).parquet(*[f for f, _ in files])
        cols = []
        for f in schema.fields:
            if f.name in part_cols:
                raw = dict(zip(part_cols, pkey)).get(f.name)
                cols.append(F.lit(raw).cast(types[f.name]).alias(f.name))
            else:
                # 'name' mode: the cast renames physical → logical at
                # every nesting level; 'id' mode read under logical names
                src = f.name if id_mode else phys_of[f.name]
                cols.append(F.col(src).cast(f.dataType).alias(f.name))
        if ctype is None:
            cols.append(F.col("_change_type"))
        else:
            cols.append(F.lit(ctype).alias("_change_type"))
        cols.append(F.lit(v).cast("long").alias("_commit_version"))
        # per-group DV mask: within one commit a path appears at most
        # once per action kind, so keying the anti-join on (file, pos)
        # inside the group is exact — and grouping by commit keeps a
        # file's earlier (un-DV'd) appearances out of the mask's reach
        dvs = [(_norm_path_py(f), dv) for f, dv in files if dv]
        if dvs:
            cols.append(
                _norm_path_expr(F.col("_metadata.file_path")).alias("__dv_fp")
            )
            cols.append(F.col("_metadata.row_index").alias("__dv_pos"))
            sel = (
                df.select(cols)
                .join(
                    expanded_delete_rows(spark, path, dvs),
                    ["__dv_fp", "__dv_pos"],
                    "left_anti",
                )
                .drop("__dv_fp", "__dv_pos")
            )
        else:
            sel = df.select(cols)
        parts_out.append(sel)
    if not parts_out:
        return spark.createDataFrame(
            [],
            T.StructType(
                list(schema.fields)
                + [
                    T.StructField("_change_type", T.StringType()),
                    T.StructField("_commit_version", T.LongType()),
                ]
            ),
        )
    out = parts_out[0]
    for df in parts_out[1:]:
        out = out.unionByName(df)
    return out.select(out_fields)
