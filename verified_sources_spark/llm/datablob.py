"""Columnar data-file BLOBS: Parquet and Avro files arriving as bytes.

``spark.read.parquet`` owns path-addressed tables; this front door
exists for the data files that arrive as BYTES from inside something
else — a .parquet shard in a zip drop, an Avro container attached to
a mail, an export bundled into a tar.  The engine's other front doors
hand payloads around; without this one, the single most
machine-readable content in a document drop is the one that gets
refused as "binary".

- Parquet and ORC blobs read through pyarrow (already a Spark
  dependency —
  the one battle-tested parquet reader in the environment; the same
  no-hand-rolling call the stdlib zip/tar wrappers make), size- and
  cell-gated.
- Avro container blobs read through the repo's OWN pure-Python codec
  (operators/avro_codec — cross-validated against the Apache Java
  implementation for the Iceberg interop), so the Avro path has no
  new dependency at all.
- SQLite database blobs (round 14) read through the stdlib sqlite3
  C library via ``deserialize`` — .db/.sqlite application exports are
  the other machine-readable share of real drops; each user table
  emits its own row group.
- Arrow IPC blobs (round 15) — FILE format (Feather v2, ``ARROW1``
  magic both ends) and STREAM format — through pyarrow's own IPC
  reader with a MANDATORY full-validation pass: IPC decode is
  zero-copy, and without it a mutated offsets buffer aborts the
  worker process (mutation-battery find, not a theoretical hazard).

All emit the delimited-text contract (one row per record, cells
tab-joined in column order, header carried) so blob-borne tables land
in the SAME text shape as CSV/xlsx/ods — dedup and quality scoring
see one surface.  The document router dispatches by magic (``PAR1``
/ ``Obj\\x01`` / ``ORC`` / ``SQLite format 3`` / ``ARROW1``).
"""

from __future__ import annotations

from verified_sources_spark.boundary import map_rows

__all__ = [
    "DataBlobError", "parquet_rows_blob", "avro_rows_blob",
    "orc_rows_blob", "sqlite_tables_blob", "arrow_rows_blob",
    "data_blob_rows", "DATA_BLOB_ROWS_SCHEMA",
]


class DataBlobError(ValueError):
    """Named refusal: not a columnar data blob we can decode
    honestly."""


def _render_cell(v) -> str:
    if v is None:
        return ""
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float):
        import math

        if not math.isfinite(v):  # NaN/inf: int(v) would raise
            return str(v)
        if v == int(v):
            return str(int(v))
    if isinstance(v, bytes):
        return v.decode("utf-8", errors="replace")
    return str(v)


def _table_rows(table, max_cells: int, what: str) -> dict:
    """Shared pyarrow-Table → ``{columns, rows}`` tail for the three
    pyarrow-backed doors: cell gate, POSITIONAL column access (a
    corrupt blob can carry DUPLICATE column names — fuzz find — and
    name lookup raises KeyError), rendered-string rows."""
    if table.num_rows * max(1, table.num_columns) > max_cells:
        raise DataBlobError(
            f"{what} blob over cell gate "
            f"({table.num_rows}x{table.num_columns})")
    cols = list(table.column_names)
    pylists = [table.column(i).to_pylist()
               for i in range(table.num_columns)]
    rows = [[_render_cell(col[i]) for col in pylists]
            for i in range(table.num_rows)]
    return {"columns": cols, "rows": rows}


def parquet_rows_blob(data: bytes, max_bytes: int = 256 << 20,
                      max_cells: int = 50_000_000) -> dict:
    """One parquet blob → ``{columns, rows}`` (rows as rendered-string
    lists, column order preserved)."""
    if len(data) > max_bytes:
        raise DataBlobError(
            f"parquet blob over size gate ({len(data)} bytes)")
    if data[:4] != b"PAR1" or data[-4:] != b"PAR1":
        raise DataBlobError("not a parquet file (PAR1 magic missing)")
    import io

    import pyarrow.parquet as pq

    try:
        table = pq.read_table(io.BytesIO(data))
    except Exception as e:  # pyarrow raises its own zoo of errors
        raise DataBlobError(f"corrupt parquet blob: {e}") from None
    return _table_rows(table, max_cells, "parquet")


def arrow_rows_blob(data: bytes, max_bytes: int = 256 << 20,
                    max_cells: int = 50_000_000) -> dict:
    """One Arrow IPC blob — FILE format (``ARROW1`` magic both ends)
    or STREAM format (the 0xFFFFFFFF continuation marker) — →
    ``{columns, rows}``.  Arrow IPC is the wire format Spark itself
    ships batches over and the on-disk Feather v2 format, so blobs of
    it show up in document drops from analytics tooling; pyarrow (the
    environment's Arrow C++ binding, already the parquet/ORC reader
    here) decodes it, with the same size/cell gates as the other
    columnar doors."""
    if len(data) > max_bytes:
        raise DataBlobError(
            f"arrow blob over size gate ({len(data)} bytes)")
    import pyarrow as pa
    import pyarrow.ipc as ipc

    if data[:6] == b"ARROW1":
        if data[-6:] != b"ARROW1":
            raise DataBlobError(
                "arrow file blob without the trailing footer magic — "
                "truncated")
        opener = ipc.open_file
    elif data[:4] == b"\xff\xff\xff\xff":
        opener = ipc.open_stream
    else:
        raise DataBlobError("not an Arrow IPC file or stream")
    try:
        table = opener(pa.BufferReader(data)).read_all()
        # IPC decode is ZERO-COPY over the input buffer: without the
        # full (O(data)) validation pass a mutated offsets/length
        # buffer aborts the whole worker process inside to_pylist —
        # found by the mutation battery, not a theoretical hazard
        table.validate(full=True)
    except Exception as e:  # pyarrow raises its own zoo of errors
        raise DataBlobError(f"corrupt arrow blob: {e}") from None
    return _table_rows(table, max_cells, "arrow")


def avro_rows_blob(data: bytes, max_bytes: int = 256 << 20) -> dict:
    """One Avro container blob → ``{columns, rows}``; record schemas
    only (an Avro container of bare primitives is not a table)."""
    if len(data) > max_bytes:
        raise DataBlobError(
            f"avro blob over size gate ({len(data)} bytes)")
    from verified_sources_spark.operators.avro_codec import (
        AvroError, read_container,
    )

    import struct
    import zlib

    try:
        schema, records = read_container(data)
    except (AvroError, ValueError, KeyError, TypeError, IndexError,
            EOFError, OverflowError, zlib.error, struct.error) as e:
        # the container's embedded schema is JSON and the record walk
        # is length-prefixed — corruption surfaces as JSONDecodeError
        # (a ValueError), Key/Type/Index errors or struct overflows,
        # not just AvroError
        raise DataBlobError(f"corrupt avro blob: {e}") from None
    if not (isinstance(schema, dict) and schema.get("type") == "record"):
        raise DataBlobError(
            "avro container is not record-typed — not a table")
    cols = [f["name"] for f in schema.get("fields", [])]
    rows = [[_render_cell(r.get(c)) for c in cols] for r in records]
    return {"columns": cols, "rows": rows}


def _orc_decode(data: bytes, max_cells: int) -> dict:
    import io

    import pyarrow.orc as orc

    table = orc.ORCFile(io.BytesIO(data)).read()
    return _table_rows(table, max_cells, "orc")


def orc_rows_blob(data: bytes, max_bytes: int = 256 << 20,
                  max_cells: int = 50_000_000,
                  timeout_s: int = 60) -> dict:
    """One ORC blob → ``{columns, rows}`` (rows as rendered-string
    lists, column order preserved) — read through pyarrow.orc INSIDE
    A SACRIFICIAL FORKED CHILD.  Unlike the parquet reader (which
    survives the repo's mutation battery raising Python errors),
    pyarrow's ORC reader ABORTS the whole process on some corrupt
    inputs (SIGABRT, found by tests/test_fuzz_frontdoors.py) — on a
    real cluster that kills the executor and fails the task, the
    exact failure mode the refuse-or-row contract forbids.  The fork
    costs ~1 ms per blob; a crash or hang in the child surfaces as
    :class:`DataBlobError` like every other corrupt payload.  ORC
    files open with the ``ORC`` magic and close with a postscript
    before a trailing ``ORC`` marker; both ends are checked first so
    prose starting with 'ORC' never pays the fork."""
    if len(data) > max_bytes:
        raise DataBlobError(
            f"orc blob over size gate ({len(data)} bytes)")
    if data[:3] != b"ORC" or b"ORC" not in data[-8:]:
        raise DataBlobError("not an ORC file (magic missing)")
    import os
    import pickle
    import signal

    # POSIX-only fork (Spark Python workers are POSIX; there is no
    # Windows path here).  Import pyarrow.orc in the PARENT first:
    # fork() copies a locked import/thread-pool lock state, and a
    # child that then imports pyarrow (which spins Arrow thread
    # pools) can deadlock until the alarm kills it — misreporting
    # every ORC blob as a 60 s timeout.  With the module already
    # loaded, the child's _orc_decode call is import-free (sys.modules
    # hit) and touches no inherited locks before doing real work.
    import io  # noqa: F401 — pre-load for the child
    import pyarrow.orc  # noqa: F401 — pre-load for the child

    r, w = os.pipe()
    pid = os.fork()
    if pid == 0:  # sacrificial child
        status = 1
        try:
            os.close(r)
            # keep executor logs clean: the child's own crash dump
            # (faulthandler banner, abort message) is noise — the
            # parent reports the signal in the DataBlobError
            devnull = os.open(os.devnull, os.O_WRONLY)
            os.dup2(devnull, 2)
            signal.alarm(timeout_s)  # a hang is a crash with extra steps
            try:
                payload = pickle.dumps(("ok", _orc_decode(data, max_cells)))
            except Exception as e:  # noqa: BLE001 — shipped to parent
                payload = pickle.dumps(
                    ("err", f"{type(e).__name__}: {e}"))
            with os.fdopen(w, "wb") as f:
                f.write(payload)
            status = 0
        finally:
            os._exit(status)
    os.close(w)
    with os.fdopen(r, "rb") as f:
        raw = f.read()
    _, wait_status = os.waitpid(pid, 0)
    if not raw:
        sig = os.WTERMSIG(wait_status) if os.WIFSIGNALED(wait_status) \
            else None
        raise DataBlobError(
            "corrupt orc blob: pyarrow ORC reader crashed"
            + (f" (signal {sig})" if sig else ""))
    try:
        kind, val = pickle.loads(raw)
    except Exception:  # child killed mid-write: truncated pickle
        raise DataBlobError(
            "corrupt orc blob: ORC reader child died mid-result"
        ) from None
    if kind == "err":
        raise DataBlobError(f"corrupt orc blob: {val}")
    return val


DATA_BLOB_ROWS_SCHEMA = (
    "doc_id long, decoded_ok boolean, fmt string, row_idx int, "
    "n_rows int, n_cols int, header string, line string"
)


def sqlite_tables_blob(data: bytes, max_bytes: int = 256 << 20,
                       max_cells: int = 50_000_000) -> list[dict]:
    """One SQLite database blob → ``[{table, columns, rows}]`` per
    user table, in name order — the application-data share of real
    document drops (.db/.sqlite exports, browser/app artifacts).

    Read through the stdlib ``sqlite3`` module's ``deserialize``
    (Python 3.11+; the C library itself, i.e. an EXTERNAL
    battle-tested reader — the no-hand-rolling posture of the
    parquet/ORC paths, with upstream SQLite's own famous fuzzing
    behind it).  Only plain tables are read (``sqlite_master``
    ``type='table'``, internal ``sqlite_*`` names excluded); views
    and triggers are never executed; a virtual table's module is
    absent here, so selecting from one raises and the blob refuses.
    Corruption surfaces as :class:`DataBlobError` like every other
    blob format."""
    if len(data) > max_bytes:
        raise DataBlobError(
            f"sqlite blob over size gate ({len(data)} bytes)")
    if data[:16] != b"SQLite format 3\x00":
        raise DataBlobError(
            "not a SQLite database (magic missing)")
    import sqlite3

    con = sqlite3.connect(":memory:")
    try:
        try:
            con.deserialize(data)
            tables = [r[0] for r in con.execute(
                "SELECT name FROM sqlite_master WHERE type='table' "
                "AND name NOT LIKE 'sqlite_%' ORDER BY name")]
            out = []
            total = 0
            for t in tables:
                ident = t.replace('"', '""')
                cur = con.execute(f'SELECT * FROM "{ident}"')
                cols = [d[0] for d in cur.description]
                rows = []
                for rec in cur:
                    total += max(1, len(cols))
                    if total > max_cells:
                        raise DataBlobError(
                            "sqlite blob over cell gate")
                    rows.append([_render_cell(v) for v in rec])
                out.append({"table": t, "columns": cols,
                            "rows": rows})
        except sqlite3.Error as e:
            raise DataBlobError(
                f"corrupt sqlite blob: {e}") from None
    finally:
        con.close()
    if not out:
        raise DataBlobError(
            "SQLite database with no user tables — not a data blob")
    return out


def data_blob_rows(df, id_col: str = "doc_id",
                   asset_col: str = "asset"):
    """Arrow-batched columnar-blob explosion: sniffs parquet (PAR1) vs
    Avro (``Obj\\x01``) vs ORC (``ORC``) vs SQLite
    (``SQLite format 3``) vs Arrow IPC (``ARROW1`` file /
    0xFFFFFFFF stream), one output row per record, cells
    tab-joined — the same contract as llm/tabular.delimited_rows, so
    every blob-borne table lands in one text shape.  A SQLite blob is
    a CONTAINER of tables: each user table emits its own row group
    with ``fmt='sqlite:<table>'`` and per-table header/row counts.
    Corrupt/unknown blobs isolate as ``decoded_ok=false`` rows."""
    def emit(_id, fmt, out):
        base = {"doc_id": _id, "decoded_ok": True, "fmt": fmt,
                "n_rows": len(out["rows"]), "n_cols": len(out["columns"]),
                "header": "\t".join(out["columns"])}
        for i, r in enumerate(out["rows"]):
            yield {**base, "row_idx": i, "line": "\t".join(r)}
        if not out["rows"]:
            yield base

    def run(_id, payload):
        raw = bytes(payload)
        try:
            if raw[:4] == b"PAR1":
                yield from emit(_id, "parquet", parquet_rows_blob(raw))
            elif raw[:4] == b"Obj\x01":
                yield from emit(_id, "avro", avro_rows_blob(raw))
            elif raw[:3] == b"ORC":
                yield from emit(_id, "orc", orc_rows_blob(raw))
            elif raw[:16] == b"SQLite format 3\x00":
                for tbl in sqlite_tables_blob(raw):
                    yield from emit(_id, f"sqlite:{tbl['table']}", tbl)
            elif raw[:6] == b"ARROW1":
                yield from emit(_id, "arrow", arrow_rows_blob(raw))
            elif raw[:4] == b"\xff\xff\xff\xff":
                yield from emit(_id, "arrows", arrow_rows_blob(raw))
            else:
                raise DataBlobError(
                    "no parquet/avro/orc/sqlite/arrow magic")
        except DataBlobError:
            yield {"doc_id": _id, "decoded_ok": False}

    from pyspark.sql import functions as F

    out = map_rows(df.select(F.col(id_col), F.col(asset_col)), run,
                   DATA_BLOB_ROWS_SCHEMA)
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out
