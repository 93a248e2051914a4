"""Apache Iceberg interop: read external Iceberg tables, export the
ManifestTable log as an Iceberg table.

Same motivation as ``delta_interop`` (the reference hands data off to
real warehouses — sources/mongodb_pipeline.py:22-35 — and a lakehouse
user needs tables other engines can read): both directions speak the
PUBLIC Iceberg table spec (iceberg.apache.org/spec) with no iceberg
runtime dependency — the format is JSON metadata + Avro manifests +
parquet data, and ``operators.avro_codec`` covers the Avro part.

Read path: resolve the current metadata JSON (``version-hint.text`` or
highest ``*.metadata.json``), walk current snapshot → manifest list →
manifests → live data files (status != DELETED), then ONE distributed
parquet scan per partition tuple.  Iceberg v2 row-level deletes are
APPLIED, Spark-first, not row-by-row:

- position deletes (delete-file content=1: ``file_path``/``pos`` rows)
  become a distributed LEFT ANTI join against the data scan's
  ``_metadata.file_path`` / ``_metadata.row_index`` columns — Spark's
  native per-file row position, so no Python-side row counting;
- equality deletes (content=2) become one LEFT ANTI join per
  (equality-field-set, sequence-number) group with null-safe ``<=>``
  equality, matching the spec's "null equals null" rule;
- the spec's sequence-number visibility gates ride the join conditions:
  a position delete applies to data files with data sequence number
  ``<= `` the delete's, an equality delete STRICTLY ``<`` (v2 spec,
  Scan Planning) — so a delete committed with its data never kills it,
  and sequence numbers inherit from the manifest-list entry for ADDED
  entries exactly as the inheritance rules say.

Malformed mixes (a DATA manifest carrying delete files or vice versa)
raise instead of guessing.

Identity-partition columns may be absent from data files (the spec's
Hive-migration rule: resolve missing identity-source fields from the
partition tuple); the reader fills them with ``coalesce(column,
partition_value)``, which is exact for identity partitions — every row
in the file belongs to that partition, so a stored value can only equal
the tuple value (modulo both being null).

Export path: each export writes a COMPLETE snapshot (one manifest with
every live file, a manifest list, the next ``vN.metadata.json`` with the
snapshot appended, ``version-hint.text``).  Unlike Delta's replayed
commit diffs, Iceberg snapshots are self-contained by design, so a full
manifest per export IS the protocol, not a shortcut.  Field-ids are
assigned in schema order and stamped into the Avro schemas as the spec
requires.

Column resolution follows the spec's FIELD-ID rule when data files
carry parquet field ids (Spark's field-id scan path, one footer sniff
per scan group) — renames/drops/re-adds through other engines read
correctly; id-less files (Hive migrations, this engine's own
plain-parquet exports) fall back to name resolution.
"""

from __future__ import annotations

import datetime
import decimal
import json
import posixpath
import uuid

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

from verified_sources_spark.operators.avro_codec import read_container, write_container
from verified_sources_spark.operators.fs import FS, HadoopFS, read_parquet


class IcebergProtocolError(RuntimeError):
    pass


# ----------------------------------------------------------- type mapping
_ICE_TO_SPARK = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "date": T.DateType(),
    "timestamp": T.TimestampNTZType(),
    "timestamptz": T.TimestampType(),
    "string": T.StringType(),
    "uuid": T.StringType(),
    "binary": T.BinaryType(),
}


def _ice_type_to_spark(t) -> T.DataType:
    if isinstance(t, str):
        if t in _ICE_TO_SPARK:
            return _ICE_TO_SPARK[t]
        if t.startswith("decimal("):
            p, s = t[len("decimal(") : -1].split(",")
            return T.DecimalType(int(p), int(s))
        if t.startswith("fixed["):
            return T.BinaryType()
        raise IcebergProtocolError(f"unsupported iceberg type: {t!r}")
    kind = t.get("type")
    if kind == "struct":
        return T.StructType(
            [
                T.StructField(
                    f["name"],
                    _ice_type_to_spark(f["type"]),
                    not f.get("required", False),
                    # carry the Iceberg field id so scans can resolve
                    # columns by id (the spec's rule) when data files
                    # carry parquet field ids
                    {"parquet.field.id": int(f["id"])} if "id" in f else None,
                )
                for f in t["fields"]
            ]
        )
    if kind == "list":
        return T.ArrayType(
            _ice_type_to_spark(t["element"]), not t.get("element-required", False)
        )
    if kind == "map":
        return T.MapType(
            _ice_type_to_spark(t["key"]),
            _ice_type_to_spark(t["value"]),
            not t.get("value-required", False),
        )
    raise IcebergProtocolError(f"unsupported iceberg type: {t!r}")


_SPARK_TO_ICE = {
    T.BooleanType(): "boolean",
    T.IntegerType(): "int",
    T.ShortType(): "int",
    T.ByteType(): "int",
    T.LongType(): "long",
    T.FloatType(): "float",
    T.DoubleType(): "double",
    T.DateType(): "date",
    T.TimestampNTZType(): "timestamp",
    T.TimestampType(): "timestamptz",
    T.StringType(): "string",
    T.BinaryType(): "binary",
}


def _spark_type_to_ice(dt: T.DataType, next_id: list[int]):
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    if isinstance(dt, T.StructType):
        return {
            "type": "struct",
            "fields": [_ice_field(f, next_id) for f in dt.fields],
        }
    if isinstance(dt, T.ArrayType):
        eid = next_id[0]
        next_id[0] += 1
        return {
            "type": "list",
            "element-id": eid,
            "element": _spark_type_to_ice(dt.elementType, next_id),
            "element-required": not dt.containsNull,
        }
    if isinstance(dt, T.MapType):
        kid, vid = next_id[0], next_id[0] + 1
        next_id[0] += 2
        return {
            "type": "map",
            "key-id": kid,
            "key": _spark_type_to_ice(dt.keyType, next_id),
            "value-id": vid,
            "value": _spark_type_to_ice(dt.valueType, next_id),
            "value-required": not dt.valueContainsNull,
        }
    for k, v in _SPARK_TO_ICE.items():
        if dt == k:
            return v
    raise IcebergProtocolError(f"cannot export spark type {dt} to iceberg")


def _ice_field(f: T.StructField, next_id: list[int]) -> dict:
    fid = next_id[0]
    next_id[0] += 1
    return {
        "id": fid,
        "name": f.name,
        "required": not f.nullable,
        "type": _spark_type_to_ice(f.dataType, next_id),
    }


def iceberg_schema_from_spark(schema: T.StructType) -> dict:
    """Spark schema → Iceberg schema JSON with sequential field-ids."""
    next_id = [1]
    fields = [_ice_field(f, next_id) for f in schema.fields]
    return {"type": "struct", "schema-id": 0, "fields": fields}


def spark_schema_from_iceberg(ice: dict) -> T.StructType:
    return T.StructType(
        [
            T.StructField(
                f["name"],
                _ice_type_to_spark(f["type"]),
                not f.get("required", False),
                {"parquet.field.id": int(f["id"])} if "id" in f else None,
            )
            for f in ice["fields"]
        ]
    )


def _strip_field_ids(dt: T.DataType) -> T.DataType:
    """Schema without the parquet.field.id annotations — the name-based
    resolution fallback for data files written without field ids."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _strip_field_ids(f.dataType), f.nullable)
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_strip_field_ids(dt.elementType), dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _strip_field_ids(dt.keyType),
            _strip_field_ids(dt.valueType),
            dt.valueContainsNull,
        )
    return dt


def _parquet_has_field_ids(path: str) -> bool:
    """Footer sniff (driver-side, one file per scan group — metadata
    sized): do this file's parquet columns carry field ids?"""
    import pyarrow.parquet as pq

    if "://" in path:
        import pyarrow.fs as pafs

        fs, p = pafs.FileSystem.from_uri(path)
        sch = pq.read_schema(p, filesystem=fs)
    else:
        sch = pq.read_schema(_norm_path_py(path))
    return any(
        f.metadata is not None and b"PARQUET:field_id" in f.metadata for f in sch
    )


# -------------------------------------------------------------- read path
def _metadata_dir(path: str) -> str:
    return f"{path.rstrip('/')}/metadata"


def read_iceberg_metadata(
    spark: SparkSession, path: str, fs: FS | None = None,
    metadata_location: str | None = None,
) -> dict:
    """Resolve and parse the CURRENT table metadata JSON.

    ``metadata_location`` pins an exact metadata file — the catalog
    resolution path (a REST/Hive/Glue ``loadTable`` returns the
    location; filesystem hint/listing resolution is the no-catalog
    fallback)."""
    fs = fs or HadoopFS(spark)
    if metadata_location is not None:
        return json.loads(fs.read_text(metadata_location))
    md = _metadata_dir(path)
    hint = f"{md}/version-hint.text"
    name = None
    if fs.exists(hint):
        v = fs.read_text(hint).strip()
        for cand in (f"v{v}.metadata.json", f"{v}.metadata.json"):
            if fs.exists(f"{md}/{cand}"):
                name = cand
                break
    if name is None:
        if not fs.isdir(md):
            raise FileNotFoundError(f"no Iceberg metadata dir at {md}")
        cands = [n for n in fs.listdir(md) if n.endswith(".metadata.json")]
        if not cands:
            raise FileNotFoundError(f"no *.metadata.json under {md}")
        # Pick by NUMERIC version, not lexicographic: 'v10' must beat 'v9'
        # (the HadoopCatalog vN scheme is unpadded; only the '00010-uuid'
        # scheme happens to sort as text).
        name = max(cands, key=lambda n: (_metadata_version(n), n))
    return json.loads(fs.read_text(f"{md}/{name}"))


def _metadata_version(name: str) -> int:
    """Leading version number of a metadata file name; -1 if none.

    Handles both public naming schemes: ``v3.metadata.json`` and
    ``00010-<uuid>.metadata.json``."""
    stem = name[: -len(".metadata.json")]
    if stem.startswith("v"):
        stem = stem[1:]
    digits = ""
    for ch in stem:
        if ch.isdigit():
            digits += ch
        else:
            break
    return int(digits) if digits else -1


def _current_schema(meta: dict) -> dict:
    if "schemas" in meta:
        sid = meta.get("current-schema-id", 0)
        for s in meta["schemas"]:
            if s.get("schema-id") == sid:
                return s
    if "schema" in meta:
        return meta["schema"]
    raise IcebergProtocolError("metadata carries no schema")


_DERIVED_TRANSFORM_RE = (
    r"^(bucket\[\d+\]|truncate\[\d+\]|year|month|day|hour)$"
)


def _spec_identity_fields(fields: list[dict]) -> dict[str, int]:
    """partition field name → source field id, identity transforms only.

    Only IDENTITY partition columns can be absent from data files (the
    spec's Hive-migration rule) and need filling from the partition
    tuple.  DERIVED transforms (bucket/truncate/year/month/day/hour)
    always have their source column written to the data files — their
    tuple values are ignored here and the read proceeds.  An UNKNOWN
    transform still raises: we cannot know whether its source column is
    in the files."""
    import re

    out = {}
    for f in fields:
        tr = f.get("transform")
        if tr == "identity":
            out[f["name"]] = f["source-id"]
        elif tr == "void" or re.match(_DERIVED_TRANSFORM_RE, str(tr)):
            continue
        else:
            raise IcebergProtocolError(
                f"unknown partition transform {tr!r} "
                "(cannot tell whether its source column is in the data files)"
            )
    return out


class _SpecResolver:
    """spec-id → identity partition fields, resolved LAZILY — partition
    evolution means each manifest's files must be interpreted under the
    manifest's OWN spec, and an unreadable transform in an old spec no
    live manifest references must not fail the whole table.  An unknown
    spec-id raises (filling nothing would silently read identity
    partition columns as all-NULL — the refuse-don't-misread policy)."""

    def __init__(self, meta: dict):
        specs = meta.get("partition-specs")
        if specs:
            self._raw = {int(s.get("spec-id", 0)): s.get("fields", []) for s in specs}
        else:
            self._raw = {0: meta.get("partition-spec", [])}
        self._resolved: dict[int, dict[str, int]] = {}

    def identity_fields(self, spec_id: int) -> dict[str, int]:
        if spec_id not in self._resolved:
            if spec_id not in self._raw:
                raise IcebergProtocolError(
                    f"manifest references partition spec {spec_id} which the "
                    f"table metadata does not define (have {sorted(self._raw)})"
                )
            self._resolved[spec_id] = _spec_identity_fields(self._raw[spec_id])
        return self._resolved[spec_id]




def read_iceberg_snapshot(
    spark: SparkSession,
    path: str,
    fs: FS | None = None,
    snapshot_id: int | None = None,
    metadata_location: str | None = None,
    ref: str | None = None,
) -> tuple[list[dict], list[dict], list[dict], dict]:
    """Snapshot entries: (data_files, position_deletes,
    equality_deletes, metadata).  ``snapshot_id`` time-travels to any
    snapshot still listed in the metadata (Iceberg snapshots are
    self-contained, so no replay is needed — the chosen snapshot's
    manifest list IS the full state); default is the current snapshot.

    Data entries: {"file_path", "partition" (identity fields only, for
    column fill), "raw_partition" (canonical JSON of the FULL tuple, for
    delete partition-scoping), "spec_id", "record_count",
    "file_size_in_bytes", "sequence_number"}.  Position-delete entries
    add nothing; equality-delete entries add "equality_ids".  Sequence
    numbers follow the v2 inheritance rule: an ADDED entry with a null
    ``sequence_number`` inherits the manifest-list entry's; v1 tables
    have no sequence numbers and read as 0 everywhere.
    """
    import os

    fs = fs or HadoopFS(spark)
    path = path.rstrip("/")
    if "://" not in path and not path.startswith("/"):
        # a relative local path would leave the manifest-recorded file
        # paths relative while Spark's _metadata.file_path is absolute,
        # silently breaking the delete-application path joins
        path = os.path.abspath(path)
    meta = read_iceberg_metadata(spark, path, fs, metadata_location)
    if int(meta.get("format-version", 1)) > 2:
        raise IcebergProtocolError(f"format-version {meta['format-version']} unsupported")
    if ref is not None:
        if snapshot_id is not None:
            raise ValueError("pass either snapshot_id or ref, not both")
        refs = meta.get("refs") or {}
        if ref not in refs:
            raise IcebergProtocolError(
                f"snapshot ref {ref!r} not in table metadata (have {sorted(refs)})"
            )
        snapshot_id = int(refs[ref]["snapshot-id"])
    snap_id = (
        snapshot_id if snapshot_id is not None else meta.get("current-snapshot-id")
    )
    if snap_id in (None, -1):
        return [], [], [], meta
    snap = next(
        (s for s in meta.get("snapshots", []) if s.get("snapshot-id") == snap_id), None
    )
    if snap is None:
        have = [s.get("snapshot-id") for s in meta.get("snapshots", [])]
        raise IcebergProtocolError(
            f"snapshot-id {snap_id} not in snapshots (have {have})"
        )

    def _resolve_rel(p: str) -> str:
        return p if "://" in p or p.startswith("/") else posixpath.join(path, p)

    # (manifest_path, manifest_content, manifest_sequence_number, spec_id)
    manifests: list[tuple[str, int, int, int]] = []
    if snap.get("manifest-list"):
        _, entries = read_container(_read_bytes(fs, _resolve_rel(snap["manifest-list"])))
        for e in entries:
            manifests.append(
                (
                    _resolve_rel(e["manifest_path"]),
                    int(e.get("content") or 0),
                    int(e.get("sequence_number") or 0),
                    int(e.get("partition_spec_id") or 0),
                )
            )
    elif snap.get("manifests"):
        manifests = [(_resolve_rel(p), 0, 0, 0) for p in snap["manifests"]]
    else:
        raise IcebergProtocolError("snapshot has neither manifest-list nor manifests")

    data: list[dict] = []
    pos_del: list[dict] = []
    eq_del: list[dict] = []
    specs = _SpecResolver(meta)
    for mp, m_content, m_seq, m_spec in manifests:
        if m_content not in (0, 1):
            raise IcebergProtocolError(f"unknown manifest content {m_content}")
        part_names = list(specs.identity_fields(m_spec))
        _, entries = read_container(_read_bytes(fs, mp))
        for e in entries:
            if int(e.get("status") or 0) == 2:  # DELETED
                continue
            df_ = e["data_file"]
            f_content = int(df_.get("content") or 0)
            if m_content == 0 and f_content != 0:
                raise IcebergProtocolError(
                    f"DATA manifest {mp} carries a delete file (content={f_content})"
                )
            if m_content == 1 and f_content not in (1, 2):
                raise IcebergProtocolError(
                    f"DELETE manifest {mp} carries a data file (content={f_content})"
                )
            fmt = str(df_.get("file_format") or "").upper()
            if fmt != "PARQUET":
                raise IcebergProtocolError(f"unsupported data file format {fmt}")
            seq = e.get("sequence_number")
            if seq is None:
                # inheritance: ADDED entries inherit the manifest's sequence
                # number; EXISTING entries must carry their own (a writer
                # that omits it produced a spec-invalid manifest — treat as
                # the manifest's, the least-wrong visible choice for v1-ish
                # files, rather than crashing on real-world laxity)
                seq = m_seq
            part_rec = df_.get("partition") or {}
            entry = {
                "file_path": _resolve_rel(df_["file_path"]),
                # identity fields only — the ONLY partition values that
                # fill missing columns; derived-transform values (bucket
                # ordinals, day numbers) must never be injected as data
                "partition": {k: part_rec.get(k) for k in part_names},
                # full raw tuple, canonicalized, for delete partition
                # scoping (spec: a delete file from a partitioned spec
                # applies only within its partition)
                "raw_partition": json.dumps(
                    {k: _json_safe(v) for k, v in sorted(part_rec.items())},
                    separators=(",", ":"),
                ),
                "spec_id": m_spec,
                "record_count": int(df_.get("record_count") or 0),
                "file_size_in_bytes": int(df_.get("file_size_in_bytes") or 0),
                "sequence_number": int(seq),
            }
            if f_content == 0:
                data.append(entry)
            elif f_content == 1:
                pos_del.append(entry)
            else:
                ids = df_.get("equality_ids")
                if not ids:
                    raise IcebergProtocolError(
                        f"equality delete file {entry['file_path']} has no equality_ids"
                    )
                entry["equality_ids"] = [int(i) for i in ids]
                eq_del.append(entry)
    return data, pos_del, eq_del, meta


def read_iceberg_files(
    spark: SparkSession, path: str, fs: FS | None = None
) -> tuple[list[dict], dict]:
    """Live data-file entries of the current snapshot + the metadata dict.

    Each entry: {"file_path", "partition": {name: value}, "record_count",
    "file_size_in_bytes"}.  This is the FILE-LIST view (record counts are
    pre-delete), so a snapshot with row-level deletes raises — use
    ``read_iceberg_table`` for delete-applied rows."""
    data, pos_del, eq_del, meta = read_iceberg_snapshot(spark, path, fs)
    if pos_del or eq_del:
        raise IcebergProtocolError(
            "snapshot carries v2 row-level DELETE files; the file-list view "
            "cannot represent them (use read_iceberg_table, which applies them)"
        )
    return data, meta


# one shared scheme-stripping pattern for BOTH the driver-side helper and
# the Catalyst expression — the delete joins depend on the two producing
# identical normal forms, so the pattern must never drift between them
_SCHEME_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*:/+"
_SCHEME_PAT = None  # compiled lazily


def _norm_path_py(p: str) -> str:
    """Normalize a file URI/path so manifest-recorded paths and Spark's
    ``_metadata.file_path`` compare equal: ``file:///x``, ``file:/x`` and
    ``/x`` all become ``/x`` (scheme+slashes collapse to one slash)."""
    global _SCHEME_PAT
    if _SCHEME_PAT is None:
        import re

        _SCHEME_PAT = re.compile(_SCHEME_RE)
    return _SCHEME_PAT.sub("/", p)


def _norm_path_expr(col):
    return F.regexp_replace(col, _SCHEME_RE, "/")


def _json_safe(v):
    return v.hex() if isinstance(v, (bytes, bytearray)) else v


def _fieldid_read_session(spark: SparkSession) -> SparkSession:
    """A cloned session (shared SparkContext, runtime confs copied) with
    ``spark.sql.parquet.fieldId.read.enabled`` pinned on.

    Field-id resolution is a SESSION conf consumed at execution time, so
    setting it on the caller's session would silently change how every
    LATER read resolves schemas that carry ``parquet.field.id`` metadata
    — and restoring it after building the (lazy) scan would turn it off
    again before the scan ever runs.  A parquet relation captures the
    session that built it, so scans built on this clone keep id
    resolution no matter which session ultimately executes the plan,
    and the caller's session is never mutated."""
    clone = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
    clone.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    return clone


def _scan_data_files(
    spark: SparkSession, files: list[dict], schema: T.StructType, with_meta: bool
) -> DataFrame:
    """One scan per partition tuple, unioned; identity-partition source
    columns missing from data files are filled from the tuple.  With
    ``with_meta``, each row carries ``__ice_fp``/``__ice_pos`` (normalized
    file path + row position) for delete application."""
    types = {f.name: f.dataType for f in schema.fields}
    groups: dict[tuple, list[str]] = {}
    for e in files:
        key = tuple(sorted(e["partition"].items()))
        groups.setdefault(key, []).append(e["file_path"])

    out_cols = [f.name for f in schema.fields]
    schema_has_ids = any(
        "parquet.field.id" in (f.metadata or {}) for f in schema.fields
    )
    parts_out = []
    for key, paths in sorted(groups.items(), key=lambda kv: str(kv[0])):
        # the spec resolves columns by FIELD ID; data files written
        # without ids (added via migration tools, or our own export of
        # plain-parquet manifests) fall back to name resolution.  One
        # footer sniff per scan group decides — a group is one writer
        # lineage, so files within it are uniform.
        use_ids = schema_has_ids and _parquet_has_field_ids(paths[0])
        scan_spark = _fieldid_read_session(spark) if use_ids else spark
        read_schema = schema if use_ids else _strip_field_ids(schema)
        df = scan_spark.read.schema(read_schema).parquet(*paths)
        if with_meta:
            df = df.withColumn(
                "__ice_fp", _norm_path_expr(F.col("_metadata.file_path"))
            ).withColumn("__ice_pos", F.col("_metadata.row_index"))
        for name, raw in key:
            if name in types:
                df = df.withColumn(
                    name,
                    F.coalesce(
                        F.col(name),
                        F.lit(_partition_fill_value(raw, types[name])).cast(
                            types[name]
                        ),
                    ),
                )
        cols = out_cols + (["__ice_fp", "__ice_pos"] if with_meta else [])
        parts_out.append(df.select(cols))
    out = parts_out[0]
    for df in parts_out[1:]:
        out = out.unionByName(df)
    return out


_POS_DELETE_SCHEMA = T.StructType(
    [
        T.StructField("file_path", T.StringType(), False),
        T.StructField("pos", T.LongType(), False),
    ]
)


def read_iceberg_table(
    spark: SparkSession,
    path: str,
    fs: FS | None = None,
    snapshot_id: int | None = None,
    metadata_location: str | None = None,
    ref: str | None = None,
) -> DataFrame:
    """External Iceberg table → DataFrame (no iceberg runtime).

    One distributed scan per distinct partition tuple; identity-partition
    source columns missing from data files are filled from the tuple.
    ``snapshot_id`` time-travels (the Delta reader's ``version=``
    analogue — Iceberg snapshots are self-contained so any listed
    snapshot reads directly).  v2 row-level deletes are applied as
    distributed anti-joins (see the module docstring) — position deletes
    against Spark's native ``_metadata.row_index``, equality deletes
    with null-safe equality — with the spec's sequence-number visibility
    conditions in the join predicates, so the plan stays one Catalyst
    DAG with no driver-side row work."""
    files, pos_del, eq_del, meta = read_iceberg_snapshot(
        spark, path, fs, snapshot_id=snapshot_id,
        metadata_location=metadata_location, ref=ref,
    )
    schema = spark_schema_from_iceberg(_snapshot_schema(meta, snapshot_id))
    if not files:
        return spark.createDataFrame([], schema)
    out_cols = [f.name for f in schema.fields]
    has_deletes = bool(pos_del or eq_del)
    data = _scan_data_files(spark, files, schema, with_meta=has_deletes)
    if not has_deletes:
        return data

    # per-data-file attributes (sequence number, spec, raw partition
    # tuple) ride in as a tiny broadcast map keyed on the normalized file
    # path (metadata-sized: one row per data FILE).  A row whose scanned
    # _metadata.file_path fails to match its manifest entry would falsify
    # BOTH sequence-visibility gates, so a miss raises instead of
    # defaulting (assert_true evaluates inside the kept column — Catalyst
    # cannot prune it away).
    seq_rows = [
        (
            _norm_path_py(e["file_path"]),
            e["sequence_number"],
            e["spec_id"],
            e["raw_partition"],
        )
        for e in files
    ]
    seq_df = spark.createDataFrame(
        seq_rows, "__ice_fp string, __ice_data_seq long, __ice_spec long, __ice_part string"
    )
    data = data.join(F.broadcast(seq_df), "__ice_fp", "left").withColumn(
        "__ice_data_seq",
        F.when(
            F.assert_true(
                F.col("__ice_data_seq").isNotNull(),
                F.concat(
                    F.lit("iceberg read: scanned file path "),
                    F.col("__ice_fp"),
                    F.lit(
                        " matches no manifest entry — path normalization "
                        "drift would misapply row-level deletes"
                    ),
                ),
            ).isNull(),
            F.col("__ice_data_seq"),
        ),
    )

    if pos_del:
        # all position-delete files with one delete-sequence column each;
        # a delete applies to data files with data_seq <= delete_seq
        dfs = []
        for e in pos_del:
            dfs.append(
                spark.read.schema(_POS_DELETE_SCHEMA)
                .parquet(e["file_path"])
                .select(
                    _norm_path_expr(F.col("file_path")).alias("__del_fp"),
                    F.col("pos").alias("__del_pos"),
                    F.lit(e["sequence_number"]).alias("__del_seq"),
                )
            )
        pd_all = dfs[0]
        for d in dfs[1:]:
            pd_all = pd_all.unionByName(d)
        cond = (
            (F.col("__ice_fp") == F.col("__del_fp"))
            & (F.col("__ice_pos") == F.col("__del_pos"))
            & (F.col("__del_seq") >= F.col("__ice_data_seq"))
        )
        data = data.join(pd_all, cond, "left_anti")

    # equality deletes: one anti-join per (field set, sequence, partition
    # scope) group; null-safe equality (spec: "null equals null"),
    # STRICTLY-older sequence gate, and the spec's partition scoping — a
    # delete file written under a partitioned spec applies only to data
    # files of the SAME partition tuple; only an unpartitioned-spec
    # delete (empty tuple) is global.
    if eq_del:
        id_to_name = {
            f["id"]: f["name"]
            for f in _snapshot_schema(meta, snapshot_id)["fields"]
        }
        data_specs = {e["spec_id"] for e in files}
        eq_groups: dict[tuple, list[dict]] = {}
        for e in eq_del:
            key = (
                tuple(sorted(e["equality_ids"])),
                e["sequence_number"],
                e["spec_id"],
                e["raw_partition"],
            )
            eq_groups.setdefault(key, []).append(e)
        for (ids, seq, spec_id, raw_part), entries in sorted(eq_groups.items()):
            try:
                cols = [id_to_name[i] for i in ids]
            except KeyError as exc:
                raise IcebergProtocolError(
                    f"equality_ids {list(ids)} reference unknown/nested "
                    f"fields (have {sorted(id_to_name)})"
                ) from exc
            scoped = raw_part != "{}"
            if scoped and data_specs - {spec_id}:
                # a partition-scoped delete cannot be matched against
                # data files laid out under a DIFFERENT spec without
                # evaluating partition transforms — refuse, don't guess
                raise IcebergProtocolError(
                    f"equality delete under spec {spec_id} is partition-"
                    f"scoped but data files use specs {sorted(data_specs)}"
                )
            ed = (
                read_parquet(spark, *[e["file_path"] for e in entries])
                .select([F.col(c).alias(f"__eq_{c}") for c in cols])
                .dropDuplicates()
            )
            cond = F.lit(seq) > F.col("__ice_data_seq")
            if scoped:
                cond = cond & (F.col("__ice_part") == F.lit(raw_part))
            for c in cols:
                cond = cond & F.col(c).eqNullSafe(F.col(f"__eq_{c}"))
            data = data.join(ed, cond, "left_anti")

    return data.select(out_cols)


def _snapshot_schema(meta: dict, snapshot_id: int | None) -> dict:
    """Schema for the snapshot being read: a time-traveled snapshot reads
    under ITS recorded ``schema-id`` (reading old files under the current
    schema would surface renamed columns as all-NULL with this reader's
    by-name resolution); falls back to the current schema when the
    snapshot predates schema tracking."""
    snap = None
    if snapshot_id is not None:
        snap = next(
            (
                s
                for s in meta.get("snapshots", [])
                if s.get("snapshot-id") == snapshot_id
            ),
            None,
        )
    if snap is not None and snap.get("schema-id") is not None and "schemas" in meta:
        sid = snap["schema-id"]
        for s in meta["schemas"]:
            if s.get("schema-id") == sid:
                return s
    return _current_schema(meta)


def _read_bytes(fs: FS, path: str) -> bytes:
    return fs.read_bytes(path)


def _partition_fill_value(raw, dt: T.DataType):
    """Manifest partition value → a Python value ``F.lit`` can carry for
    the target Spark type.

    Iceberg manifests store identity-partition values in their Avro
    physical form (spec Appendix D): ``date`` as int days since epoch,
    ``timestamp``/``timestamptz`` as long micros since epoch, decimals as
    big-endian unscaled bytes — casting the raw int/long/bytes directly
    would fail analysis (int→date) or silently mis-scale (long cast as
    SECONDS to timestamp)."""
    if raw is None:
        return None
    if isinstance(dt, T.DateType) and isinstance(raw, int):
        return datetime.date(1970, 1, 1) + datetime.timedelta(days=raw)
    if isinstance(dt, T.TimestampType) and isinstance(raw, int):
        return datetime.datetime(
            1970, 1, 1, tzinfo=datetime.timezone.utc
        ) + datetime.timedelta(microseconds=raw)
    if isinstance(dt, T.TimestampNTZType) and isinstance(raw, int):
        return datetime.datetime(1970, 1, 1) + datetime.timedelta(microseconds=raw)
    if isinstance(dt, T.DecimalType) and isinstance(raw, (bytes, bytearray)):
        unscaled = int.from_bytes(bytes(raw), "big", signed=True)
        return decimal.Decimal(unscaled).scaleb(-dt.scale)
    return raw


# ------------------------------------------------------------ export path
# Avro field-ids per the Iceberg spec's manifest tables (Appendix C)
def _partition_avro_schema(part_fields: list[tuple[str, str]]) -> dict:
    """Avro record for the partition tuple; Iceberg partition field-ids
    start at 1000."""
    fields = []
    for i, (name, ice_type) in enumerate(part_fields):
        # dates ride as int day-ordinals — the spec's Avro physical form
        # for partition tuples (Appendix D)
        avro_t = {"int": "int", "long": "long", "string": "string",
                  "boolean": "boolean", "double": "double", "float": "float",
                  "date": "int"}.get(ice_type)
        if avro_t is None:
            raise IcebergProtocolError(
                f"partition column {name!r} of type {ice_type!r} not exportable"
            )
        fields.append(
            {"name": name, "type": ["null", avro_t], "default": None,
             "field-id": 1000 + i}
        )
    return {"type": "record", "name": "r102", "fields": fields}


def _manifest_entry_schema(part_schema: dict, format_version: int = 1) -> dict:
    """Manifest-entry Avro schema with the spec's field ids.  v2 adds
    ``data_file.content`` (0 data / 1 position deletes / 2 equality
    deletes), the optional per-entry ``sequence_number`` (null on ADDED
    entries → inherits the manifest-list entry's, the spec's inheritance
    rule), and drops v1's ``block_size_in_bytes``."""
    df_fields = [
        {"name": "file_path", "type": "string", "field-id": 100},
        {"name": "file_format", "type": "string", "field-id": 101},
        {"name": "partition", "type": part_schema, "field-id": 102},
        {"name": "record_count", "type": "long", "field-id": 103},
        {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
    ]
    entry_fields = [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"], "default": None, "field-id": 1},
    ]
    if format_version >= 2:
        df_fields.insert(
            0, {"name": "content", "type": "int", "field-id": 134}
        )
        entry_fields.append(
            {"name": "sequence_number", "type": ["null", "long"],
             "default": None, "field-id": 3}
        )
        entry_fields.append(
            {"name": "file_sequence_number", "type": ["null", "long"],
             "default": None, "field-id": 4}
        )
    else:
        df_fields.append(
            {"name": "block_size_in_bytes", "type": "long", "field-id": 105}
        )
    entry_fields.append(
        {
            "name": "data_file",
            "type": {"type": "record", "name": "r2", "fields": df_fields},
            "field-id": 2,
        }
    )
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": entry_fields,
    }


_MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "added_snapshot_id", "type": ["null", "long"], "default": None, "field-id": 503},
        {"name": "added_data_files_count", "type": ["null", "int"], "default": None, "field-id": 504},
        {"name": "existing_data_files_count", "type": ["null", "int"], "default": None, "field-id": 505},
        {"name": "deleted_data_files_count", "type": ["null", "int"], "default": None, "field-id": 506},
    ],
}

# v2 manifest-list entries additionally carry the manifest's content kind
# (0 data / 1 deletes) and the sequence numbers delete application keys
# off; field ids per the spec's manifest_file table
_MANIFEST_LIST_SCHEMA_V2 = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ],
}

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _typed_partition_value(raw, ice_type: str):
    if raw is None or raw == _HIVE_NULL or raw == "":
        return None
    if ice_type == "int" or ice_type == "long":
        return int(raw)
    if ice_type in ("double", "float"):
        return float(raw)
    if ice_type == "boolean":
        return str(raw).lower() == "true"
    if ice_type == "date":
        # hive dir value "YYYY-MM-DD" (or a date) → spec day-ordinal int
        d = (
            raw
            if isinstance(raw, datetime.date)
            else datetime.date.fromisoformat(str(raw))
        )
        return (d - datetime.date(1970, 1, 1)).days
    return str(raw)


def export_manifest_as_iceberg(table, version: int | None = None) -> str:
    """Write the next Iceberg metadata version describing a ManifestTable
    snapshot; returns the metadata JSON path.

    Each call appends one self-contained Iceberg snapshot (full manifest —
    that IS the Iceberg protocol; snapshots never replay).  Iceberg
    identity-partitioned tables resolve partition source columns missing
    from data files via the partition tuple, which matches how
    ManifestTable lays files out (hive dirs, columns dropped from files).

    Snapshots carrying DELETION VECTORS (``delete_where`` /
    ``merge(row_level=True)``) export as **format-version 2** with the
    DV bitmaps converted to Iceberg POSITION DELETE files: one sorted
    (file_path, pos) parquet referenced from a ``content=1`` delete
    manifest at the snapshot's sequence number, so any v2 reader masks
    exactly the rows the manifest's DVs mask.  DV-less tables keep the
    maximally-compatible v1 export; once v2, always v2 (the spec forbids
    downgrades)."""
    fs = table.fs
    root = table.path.rstrip("/")
    mv = version if version is not None else table.latest_version()
    manifest = table._manifest(mv)
    schema_json = manifest.get("schema")
    if schema_json is None:
        raise IcebergProtocolError("manifest has no schema to export")
    spark_schema = T.StructType.fromJson(json.loads(schema_json))
    ice_schema = iceberg_schema_from_spark(spark_schema)
    by_name = {f["name"]: f for f in ice_schema["fields"]}
    part_cols = list(manifest.get("partition_by") or [])
    for c in part_cols:
        if c not in by_name:
            raise IcebergProtocolError(f"partition column {c!r} missing from schema")
    part_fields = [(c, by_name[c]["type"]) for c in part_cols]
    for c, t in part_fields:
        if not isinstance(t, str):
            raise IcebergProtocolError(f"partition column {c!r} has a nested type")

    md = _metadata_dir(root)
    fs.makedirs(md)
    existing = sorted(
        int(n[1 : -len(".metadata.json")])
        for n in (fs.listdir(md) if fs.isdir(md) else [])
        if n.startswith("v") and n.endswith(".metadata.json")
        and n[1 : -len(".metadata.json")].isdigit()
    )
    next_v = (existing[-1] + 1) if existing else 1
    snapshot_id = next_v

    prev_snapshots: list[dict] = []
    prev_fmt = 1
    if existing:
        prev = json.loads(fs.read_text(f"{md}/v{existing[-1]}.metadata.json"))
        prev_snapshots = prev.get("snapshots", [])
        prev_fmt = int(prev.get("format-version", 1))
    dv_entries = [e for e in manifest["files"] if e.get("dv")]
    # DV'd snapshots need row-level deletes → format-version 2 with
    # position-delete files; once a table is v2 it stays v2 (the spec
    # forbids downgrades), DV-less tables keep the maximally-compatible
    # v1 export unchanged
    fmt = 2 if (dv_entries or prev_fmt >= 2) else 1
    seq = next_v  # one sequence number per exported snapshot (v2)

    part_avro = _partition_avro_schema(part_fields)
    entries = []
    for e in manifest["files"]:
        part_rec = {
            c: _typed_partition_value((e.get("partition") or {}).get(c), t)
            for c, t in part_fields
        }
        stats = e.get("stats") or {}
        df_rec = {
            "file_path": f"{root}/{e['path']}",
            "file_format": "PARQUET",
            "partition": part_rec,
            "record_count": int(stats.get("rows") or 0),
            "file_size_in_bytes": int(e.get("bytes") or 0),
        }
        entry = {
            "status": 1,  # ADDED (snapshot is self-contained)
            "snapshot_id": snapshot_id,
            "data_file": df_rec,
        }
        if fmt >= 2:
            df_rec["content"] = 0
            # null → inherits the manifest-list entry's sequence number
            # (the spec's ADDED-entry inheritance rule)
            entry["sequence_number"] = None
            entry["file_sequence_number"] = None
        else:
            df_rec["block_size_in_bytes"] = 64 * 1024 * 1024
        entries.append(entry)
    ice_schema_json = json.dumps(ice_schema, separators=(",", ":"))
    spec_fields = [
        {
            "name": c,
            "transform": "identity",
            "source-id": by_name[c]["id"],
            "field-id": 1000 + i,
        }
        for i, (c, _t) in enumerate(part_fields)
    ]
    # per-export unique names (real Iceberg embeds a commit UUID too):
    # two racing exporters computing the same next version must write
    # DIFFERENT avro files — the loser's metadata-JSON create fails, and
    # its orphaned avros are harmless, instead of the loser overwriting
    # the winner's manifest bytes under a shared deterministic name
    export_uid = uuid.uuid4().hex[:8]
    manifest_rel = f"metadata/manifest-{next_v}-{export_uid}.avro"
    # The Iceberg spec requires these keys in the manifest's Avro
    # file-metadata — runtimes' ManifestReaders key off them, not the
    # table metadata JSON.
    manifest_bytes = write_container(
        _manifest_entry_schema(part_avro, fmt),
        entries,
        metadata={
            "schema": ice_schema_json,
            "schema-id": "0",
            "partition-spec": json.dumps(spec_fields, separators=(",", ":")),
            "partition-spec-id": "0",
            "format-version": str(fmt),
            "content": "data",
        },
    )
    fs.write_bytes(f"{root}/{manifest_rel}", manifest_bytes)

    # ---- position deletes: each DV'd data file's masked row indexes
    # become (file_path, pos) rows, sorted by (path, pos) per spec, in
    # ONE delete parquet referenced from a content=1 manifest.  The
    # delete manifest rides the UNPARTITIONED spec (path-scoped position
    # deletes are global — the file_path column IS the scope), which for
    # a partitioned table is an extra spec entry in partition-specs.
    # Scale shape: Iceberg's position-delete format is inherently
    # row-per-deleted-position (unlike Delta's bitmap-sized DV export),
    # so this write is O(deleted rows) — driver-side pyarrow, bounded by
    # the table's total DV cardinality.
    delete_manifest: tuple[str, bytes, int] | None = None  # (rel, bytes, nrows)
    delete_spec_id = 0 if not part_fields else 1
    if dv_entries and fmt >= 2:
        from verified_sources_spark.operators.deletion_vectors import (
            dv_row_indexes,
        )

        paths: list[str] = []
        poss: list[int] = []
        for e in sorted(dv_entries, key=lambda e: e["path"]):
            fp = f"{root}/{e['path']}"
            for p in dv_row_indexes(root, e["dv"]):  # ascending per file
                paths.append(fp)
                poss.append(int(p))
        import io

        import pyarrow as pa
        import pyarrow.parquet as pq

        buf = io.BytesIO()
        pq.write_table(
            pa.table(
                {
                    "file_path": pa.array(paths, pa.string()),
                    "pos": pa.array(poss, pa.int64()),
                }
            ),
            buf,
        )
        delete_rel = f"metadata/delete-{next_v}-{export_uid}.parquet"
        delete_bytes = buf.getvalue()
        fs.write_bytes(f"{root}/{delete_rel}", delete_bytes)
        del_entry = {
            "status": 1,
            "snapshot_id": snapshot_id,
            "sequence_number": None,
            "file_sequence_number": None,
            "data_file": {
                "content": 1,  # position deletes
                "file_path": f"{root}/{delete_rel}",
                "file_format": "PARQUET",
                "partition": {},
                "record_count": len(poss),
                "file_size_in_bytes": len(delete_bytes),
            },
        }
        del_rel = f"metadata/manifest-del-{next_v}-{export_uid}.avro"
        del_bytes = write_container(
            _manifest_entry_schema(_partition_avro_schema([]), fmt),
            [del_entry],
            metadata={
                "schema": ice_schema_json,
                "schema-id": "0",
                "partition-spec": "[]",
                "partition-spec-id": str(delete_spec_id),
                "format-version": str(fmt),
                "content": "deletes",
            },
        )
        fs.write_bytes(f"{root}/{del_rel}", del_bytes)
        delete_manifest = (del_rel, del_bytes, len(poss))

    mlist_rel = f"metadata/snap-{snapshot_id}-{export_uid}-manifest-list.avro"
    total_rows = sum(e["data_file"]["record_count"] for e in entries)
    if fmt >= 2:
        mlist_entries = [
            {
                "manifest_path": f"{root}/{manifest_rel}",
                "manifest_length": len(manifest_bytes),
                "partition_spec_id": 0,
                "content": 0,
                "sequence_number": seq,
                "min_sequence_number": seq,
                "added_snapshot_id": snapshot_id,
                "added_files_count": len(entries),
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "added_rows_count": total_rows,
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
            }
        ]
        if delete_manifest is not None:
            del_rel, del_bytes, del_rows = delete_manifest
            mlist_entries.append(
                {
                    "manifest_path": f"{root}/{del_rel}",
                    "manifest_length": len(del_bytes),
                    "partition_spec_id": delete_spec_id,
                    "content": 1,
                    "sequence_number": seq,
                    "min_sequence_number": seq,
                    "added_snapshot_id": snapshot_id,
                    "added_files_count": 1,
                    "existing_files_count": 0,
                    "deleted_files_count": 0,
                    "added_rows_count": del_rows,
                    "existing_rows_count": 0,
                    "deleted_rows_count": 0,
                }
            )
        mlist_bytes = write_container(
            _MANIFEST_LIST_SCHEMA_V2,
            mlist_entries,
            metadata={
                "format-version": "2",
                "snapshot-id": str(snapshot_id),
                "sequence-number": str(seq),
            },
        )
    else:
        mlist_bytes = write_container(
            _MANIFEST_LIST_SCHEMA,
            [
                {
                    "manifest_path": f"{root}/{manifest_rel}",
                    "manifest_length": len(manifest_bytes),
                    "partition_spec_id": 0,
                    "added_snapshot_id": snapshot_id,
                    "added_data_files_count": len(entries),
                    "existing_data_files_count": 0,
                    "deleted_data_files_count": 0,
                }
            ],
            metadata={
                "format-version": "1",
                "snapshot-id": str(snapshot_id),
            },
        )
    fs.write_bytes(f"{root}/{mlist_rel}", mlist_bytes)

    snap_entry = {
        "snapshot-id": snapshot_id,
        "timestamp-ms": 0,
        "summary": {"operation": "overwrite" if dv_entries else "append"},
        "manifest-list": f"{root}/{mlist_rel}",
        "schema-id": 0,
    }
    partition_specs = [{"spec-id": 0, "fields": spec_fields}]
    if delete_spec_id == 1:
        partition_specs.append({"spec-id": 1, "fields": []})
    meta = {
        "format-version": fmt,
        "table-uuid": str(uuid.uuid5(uuid.NAMESPACE_URL, root)),
        "location": root,
        "last-updated-ms": 0,  # deterministic export, like the Delta path
        "last-column-id": max(
            [f["id"] for f in ice_schema["fields"]] + [0]
        ),
        "schema": ice_schema,
        "schemas": [ice_schema],
        "current-schema-id": 0,
        "partition-spec": spec_fields,
        "partition-specs": partition_specs,
        "default-spec-id": 0,
        "properties": {},
        "current-snapshot-id": snapshot_id,
        "snapshots": prev_snapshots + [snap_entry],
    }
    if fmt >= 2:
        snap_entry["sequence-number"] = seq
        # v1→v2 upgrade rule: pre-upgrade snapshots read as sequence 0
        for s in prev_snapshots:
            s.setdefault("sequence-number", 0)
        meta["last-sequence-number"] = seq
        meta["last-partition-id"] = 999 + len(spec_fields)
        meta["sort-orders"] = [{"order-id": 0, "fields": []}]
        meta["default-sort-order-id"] = 0
    out_path = f"{md}/v{next_v}.metadata.json"
    # the metadata JSON is the commit atom — route it through the table's
    # commit backend (same as the Delta export) so two concurrent
    # exporters conflict instead of silently clobbering one snapshot;
    # manifest/manifest-list files above are uniquely named per version
    # so their plain writes cannot collide once this create is exclusive
    table.commit_backend.put_if_absent(out_path, json.dumps(meta, indent=2))
    # the hint is an advisory pointer; guard against REGRESSING it when a
    # stalled earlier exporter resumes after a later one already advanced
    # it (self-heals on the next export either way — readers fall back to
    # the numeric listing when the hint is absent)
    hint_path = f"{md}/version-hint.text"
    try:
        current_hint = int(fs.read_text(hint_path).strip()) if fs.exists(hint_path) else -1
    except (ValueError, OSError):
        current_hint = -1
    if next_v > current_hint:
        fs.write_text(hint_path, str(next_v))
    return out_path


def inspect_iceberg(
    spark: SparkSession,
    path: str,
    table: str = "files",
    fs: FS | None = None,
) -> DataFrame:
    """Metadata inspection tables — the ``table$files`` /
    ``table$snapshots`` / ``table$history`` / ``table$refs`` surface
    every Iceberg engine exposes, as DataFrames:

    - ``files``:     one row per live data file of the current snapshot
                     (path, partition JSON, record_count, size, seq)
    - ``snapshots``: every snapshot in the metadata
    - ``history``:   (snapshot_id, timestamp_ms, is_current)
    - ``refs``:      named branches/tags

    All metadata-sized (driver-built rows over the already-parsed
    manifests) — inspection never touches data files."""
    fs = fs or HadoopFS(spark)
    meta = read_iceberg_metadata(spark, path.rstrip("/"), fs)
    if table == "snapshots":
        rows = [
            (
                int(s["snapshot-id"]),
                int(s.get("timestamp-ms") or 0),
                s.get("manifest-list"),
                str((s.get("summary") or {}).get("operation", "")),
                int(s["schema-id"]) if s.get("schema-id") is not None else None,
            )
            for s in meta.get("snapshots", [])
        ]
        return spark.createDataFrame(
            rows,
            "snapshot_id long, timestamp_ms long, manifest_list string, "
            "operation string, schema_id int",
        )
    if table == "history":
        cur = meta.get("current-snapshot-id")
        rows = [
            (int(s["snapshot-id"]), int(s.get("timestamp-ms") or 0),
             s["snapshot-id"] == cur)
            for s in meta.get("snapshots", [])
        ]
        return spark.createDataFrame(
            rows, "snapshot_id long, timestamp_ms long, is_current boolean"
        )
    if table == "refs":
        rows = [
            (name, str(r.get("type", "branch")), int(r["snapshot-id"]))
            for name, r in (meta.get("refs") or {}).items()
        ]
        return spark.createDataFrame(
            rows, "name string, type string, snapshot_id long"
        )
    if table == "files":
        files, pos_del, eq_del, _ = read_iceberg_snapshot(spark, path, fs)
        rows = [
            (
                e["file_path"],
                json.dumps(e.get("partition") or {}, sort_keys=True, default=_json_safe),
                int(e.get("record_count") or 0),
                int(e.get("file_size_in_bytes") or 0),
                int(e.get("sequence_number") or 0),
            )
            for e in files
        ]
        return spark.createDataFrame(
            rows,
            "file_path string, partition string, record_count long, "
            "file_size_in_bytes long, sequence_number long",
        )
    raise ValueError(
        f"unknown inspection table {table!r} "
        "(expected files|snapshots|history|refs)"
    )
