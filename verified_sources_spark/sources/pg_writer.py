"""Postgres write-back sink: land DataFrames in a live PostgreSQL
database with the engine's write dispositions.

The reference's entire load path ends in a SQL destination — pipelines
are observed through ``pipeline.sql_client()`` (reference:
tests/utils.py:209-227) and every source declares its disposition
(``write_disposition="merge"`` etc., reference:
sources/mongodb/__init__.py:76-77).  This module is that destination
for PostgreSQL, built on the engine's own wire client
(sources/pg_wire.py — no driver dependency):

- **Executor-parallel COPY staging.**  Each Spark partition opens one
  connection and ``COPY``\\ s its rows into ONE shared UNLOGGED staging
  table inside a transaction that first deletes the partition's own
  prior rows (keyed by a ``__vss_part`` column) — a task retry replaces
  its slice atomically instead of duplicating it, so staging is
  exactly-once per partition without per-task staging tables.  COPY
  text is generated from each Arrow batch with ``pyarrow.compute``
  (one ``mapInArrow`` task per partition).

- **One finalize transaction** applies the disposition server-side:
  ``append`` (INSERT..SELECT), ``replace`` (TRUNCATE + INSERT..SELECT —
  MVCC keeps concurrent readers on the old snapshot), ``merge`` with
  the reference's delete-insert strategy (every source key deletes the
  old target row, deduped non-deleted rows insert — exactly
  ``operators.merge.merge_dataframes``), or ``merge`` with
  ``strategy="upsert"`` as a real PG15 ``MERGE`` statement
  (update-in-place, hard-delete rows become ``WHEN MATCHED THEN
  DELETE``).  The staging table is dropped in the same transaction.

- **Schema evolution**: the target is created from the Spark schema if
  absent; new source columns are ``ALTER TABLE .. ADD COLUMN``\\ ed;
  target columns missing from the source stay NULL on inserted rows —
  the dlt evolution contract.

- **Idempotent streaming**: :func:`postgres_batch_sink` returns a
  ``foreachBatch`` function that records ``(sink, batch_id)`` in a
  ledger table INSIDE the finalize transaction — a replayed micro-batch
  (crash between sink commit and Spark checkpoint) hits the ledger's
  primary key and skips, the same two-table idempotence contract as
  ``streaming/corpus_ingest.py``.

Scale shape (100 TB): COPY bandwidth scales with the number of writer
connections (= Spark partitions; cap with ``parallelism`` below the
server's ``max_connections``); the finalize transaction touches only
staging + touched target rows server-side, no data moves through the
driver.  Python cost is one vectorized text-encode pass per Arrow
batch; the bottleneck is the wire, as it should be.
"""

from __future__ import annotations

import uuid
from collections.abc import Sequence
from typing import Callable, Iterator

import pyspark.sql.types as T
from pyspark.sql import DataFrame


def _ident(name: str) -> str:
    """Quote a SQL identifier (embedded quotes doubled)."""
    return '"' + str(name).replace('"', '""') + '"'


def pg_type_for(dt: T.DataType) -> str:
    """Spark type → PostgreSQL column type.  Nested/array/map columns
    land as ``jsonb`` (queryable, lossless for the JSON-representable
    values Spark produces); unknown types refuse loudly."""
    if isinstance(dt, T.DecimalType):
        return f"numeric({dt.precision},{dt.scale})"
    if isinstance(dt, (T.ArrayType, T.MapType, T.StructType)):
        return "jsonb"
    simple = {
        T.LongType: "bigint",
        T.IntegerType: "integer",
        T.ShortType: "smallint",
        T.ByteType: "smallint",
        T.DoubleType: "double precision",
        T.FloatType: "real",
        T.StringType: "text",
        T.BooleanType: "boolean",
        T.DateType: "date",
        T.BinaryType: "bytea",
        T.TimestampType: "timestamptz",
        T.TimestampNTZType: "timestamp",
    }
    for cls, pg in simple.items():
        if isinstance(dt, cls):
            return pg
    raise TypeError(f"no PostgreSQL mapping for Spark type {dt}")


# ------------------------------------------------------ COPY text encode


def _escape_text(a):
    """Escape a string array for COPY text format: backslash first,
    then the delimiter/newline bytes."""
    import pyarrow.compute as pc

    for raw, escaped in (("\\", "\\\\"), ("\t", "\\t"), ("\n", "\\n"), ("\r", "\\r")):
        a = pc.replace_substring(a, raw, escaped)
    return a


def _json_value(v, dt: T.DataType):
    """A nested value as ``to_pylist`` gives it → its JSON form (a map
    arrives as (key, value) pairs)."""
    if v is None:
        return None
    if isinstance(dt, T.MapType):
        return {k: _json_value(x, dt.valueType) for k, x in v}
    if isinstance(dt, T.ArrayType):
        return [_json_value(x, dt.elementType) for x in v]
    if isinstance(dt, T.StructType):
        return {f.name: _json_value(v[f.name], f.dataType) for f in dt.fields}
    return v


def _col_to_copy_text(a, dt: T.DataType):
    """One Arrow column → COPY text values (a string array; nulls become
    the literal ``\\N``).  ``pyarrow.compute`` throughout, per value only
    for binary and json."""
    import json

    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(dt, T.TimestampType):
        # instants, printed in UTC with microseconds
        out = pc.strftime(a.cast(pa.timestamp("us", "UTC")), "%Y-%m-%d %H:%M:%S+00")
    elif isinstance(dt, T.TimestampNTZType):
        out = pc.strftime(a, "%Y-%m-%d %H:%M:%S")
    elif isinstance(dt, (T.BooleanType, T.LongType, T.IntegerType, T.ShortType, T.ByteType,
                         T.DoubleType, T.FloatType, T.DateType, T.DecimalType)):
        # exact integers; shortest round-trip floats; ISO dates
        out = a.cast(pa.string())
    elif isinstance(dt, T.StringType):
        out = _escape_text(a.cast(pa.string()))
    elif isinstance(dt, T.BinaryType):
        # one escaped backslash survives COPY unescaping → bytea hex form
        out = pa.array([None if v is None else "\\\\x" + v.hex() for v in a.to_pylist()], pa.string())
    elif isinstance(dt, (T.ArrayType, T.MapType, T.StructType)):
        out = _escape_text(pa.array(
            [None if v is None else json.dumps(_json_value(v, dt), separators=(",", ":"), default=str)
             for v in a.to_pylist()], pa.string()))
    else:
        raise TypeError(f"no COPY encoding for Spark type {dt}")
    return pc.fill_null(out, "\\N")


def copy_lines(batch, fields: Sequence[T.StructField], suffix: str = ""):
    """Arrow batch → iterator of COPY text lines (bytes).  *suffix* is
    appended verbatim before the newline (the staging partition tag)."""
    import pyarrow.compute as pc

    cols = [_col_to_copy_text(batch.column(f.name), f.dataType) for f in fields]
    joined = pc.binary_join_element_wise(*cols, "\t") if len(cols) > 1 else cols[0]
    for line in joined.to_pylist():
        yield (line + suffix + "\n").encode()


# ------------------------------------------------------------ DDL helpers


def _connect(dsn: dict):
    from verified_sources_spark.sources.pg_wire import PgQueryClient

    return PgQueryClient(
        dsn.get("host", "127.0.0.1"),
        int(dsn.get("port", 5432)),
        dsn["database"],
        dsn["user"],
        password=dsn.get("password"),
        tls=dsn.get("tls", False),
    )


def _lit(s: str) -> str:
    """Quote a SQL string literal (embedded quotes doubled)."""
    return "'" + str(s).replace("'", "''") + "'"


def _existing_columns(client, table: str) -> list[str] | None:
    rows = client.execute(
        "SELECT column_name FROM information_schema.columns "
        f"WHERE table_name = {_lit(table)} AND table_schema = current_schema() "
        "ORDER BY ordinal_position"
    )
    return [r[0] for r in rows] or None


def ensure_table(client, table: str, fields: Sequence[T.StructField]) -> list[str]:
    """Create *table* from the Spark fields if absent; ALTER in any new
    columns (nullable — old rows read NULL, the evolution contract).
    Returns the target's full column list after evolution."""
    existing = _existing_columns(client, table)
    if existing is None:
        cols = ", ".join(
            f"{_ident(f.name)} {pg_type_for(f.dataType)}" for f in fields
        )
        client.execute(f"CREATE TABLE {_ident(table)} ({cols})")
        return [f.name for f in fields]
    for f in fields:
        if f.name not in existing:
            client.execute(
                f"ALTER TABLE {_ident(table)} ADD COLUMN "
                f"{_ident(f.name)} {pg_type_for(f.dataType)}"
            )
            existing.append(f.name)
    return existing


# ------------------------------------------------------------- the sink


def _null_safe_on(keys: Sequence[str], left: str, right: str) -> str:
    return " AND ".join(
        f"{left}.{_ident(k)} IS NOT DISTINCT FROM {right}.{_ident(k)}"
        for k in keys
    )


def _dedup_select(
    cols: Sequence[str],
    src: str,
    merge_keys: Sequence[str],
    dedup_sort: Sequence[str] | None,
    descending: bool,
) -> str:
    """Staging → source relation SQL, one row per key when *dedup_sort*
    is given (DISTINCT ON keeps the first row per key in sort order —
    the native form of the engine's ``keep_latest`` in PostgreSQL and
    DuckDB alike).  *src* is relation SQL: a quoted staging table here,
    a ``read_parquet(...)`` call in sources/duckdb_writer.py."""
    col_sql = ", ".join(_ident(c) for c in cols)
    if not dedup_sort:
        return f"SELECT {col_sql} FROM {src}"
    direction = "DESC NULLS LAST" if descending else "ASC NULLS LAST"
    keys_sql = ", ".join(_ident(k) for k in merge_keys)
    order = keys_sql + ", " + ", ".join(
        f"{_ident(s)} {direction}" for s in dedup_sort
    )
    return (
        f"SELECT DISTINCT ON ({keys_sql}) {col_sql} "
        f"FROM {src} ORDER BY {order}"
    )


def write_postgres(
    df: DataFrame,
    dsn: dict,
    table: str,
    disposition: str = "append",
    merge_keys: Sequence[str] = (),
    dedup_sort: Sequence[str] | None = None,
    dedup_descending: bool = True,
    hard_delete_col: str | None = None,
    strategy: str = "delete-insert",
    parallelism: int | None = None,
    ledger: tuple[str, str, int] | None = None,
) -> dict:
    """Write *df* to PostgreSQL table *table* with the given write
    disposition.  Returns ``{"staged": n, "applied": bool}``.

    - ``disposition``: ``append`` | ``replace`` | ``merge``.
    - ``merge`` mirrors ``operators.merge.merge_dataframes``: every
      source key (including hard-deletes) removes the old target row;
      deduped (``dedup_sort``) non-deleted source rows insert.  With
      ``strategy="upsert"`` a real PostgreSQL 15 ``MERGE`` runs instead
      (update-in-place; requires unique source keys, so the staging
      rows are always DISTINCT ON-deduped — by ``dedup_sort`` when
      given, else arbitrarily).
    - ``hard_delete_col``: source rows with this column NON-NULL delete
      their key and are never inserted; the column itself is not
      written to the target (reference:
      sources/pg_replication/helpers.py:768-773).
    - ``ledger``: internal — ``(ledger_table, sink_name, batch_id)``
      recorded inside the finalize transaction for exactly-once
      streaming replay (see :func:`postgres_batch_sink`).
    """
    if disposition not in ("append", "replace", "merge"):
        raise ValueError(f"unknown write_disposition: {disposition}")
    if disposition == "merge" and not merge_keys:
        raise ValueError("merge disposition requires merge_keys")
    if strategy not in ("delete-insert", "upsert"):
        raise ValueError(f"unknown merge strategy: {strategy}")

    fields = list(df.schema.fields)
    data_cols = [f.name for f in fields if f.name != hard_delete_col]
    run = uuid.uuid4().hex[:12]
    staging = f"_vss_stg_{table[:30]}_{run}"

    if ledger is not None:
        ledger_table, sink_name, batch_id = ledger
        with _connect(dsn) as c:
            c.execute(
                f"CREATE TABLE IF NOT EXISTS {_ident(ledger_table)} "
                "(sink text, batch_id bigint, PRIMARY KEY (sink, batch_id))"
            )
            seen = c.execute(
                f"SELECT 1 FROM {_ident(ledger_table)} WHERE sink = "
                f"{_lit(sink_name)} AND batch_id = {int(batch_id)}"
            )
            if seen:
                return {"staged": 0, "applied": False}

    # driver: evolve/create the target and the shared staging table
    with _connect(dsn) as c:
        target_cols = ensure_table(
            c, table, [f for f in fields if f.name != hard_delete_col]
        )
        col_defs = ", ".join(
            f"{_ident(f.name)} {pg_type_for(f.dataType)}" for f in fields
        )
        c.execute(
            f"CREATE UNLOGGED TABLE {_ident(staging)} "
            f"({col_defs}, __vss_part integer)"
        )

    if parallelism:
        df = df.repartition(parallelism)

    def stage(batches: Iterator) -> Iterator:
        import pyarrow as pa
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        client = None
        n = 0
        try:
            # not map_batches: a sink that writes its partition in one transaction
            for batch in batches:
                if batch.num_rows == 0:
                    continue
                if client is None:
                    client = _connect(dsn)
                    client.begin()
                    # a retried task REPLACES its own slice: the failed
                    # attempt's txn rolled back, and this delete clears a
                    # committed-but-unacknowledged prior attempt
                    client.execute(
                        f"DELETE FROM {_ident(staging)} WHERE __vss_part = {pid}"
                    )
                    copy_sql = (
                        f"COPY {_ident(staging)} ("
                        + ", ".join(_ident(f.name) for f in fields)
                        + ", __vss_part) FROM STDIN"
                    )
                n += client.copy_in(copy_sql, copy_lines(batch, fields, f"\t{pid}"))
            if client is not None:
                client.commit()
        finally:
            if client is not None:
                client.close()
        yield pa.RecordBatch.from_pydict(
            {"pid": [pid], "staged": [n]},
            schema=pa.schema([("pid", pa.int32()), ("staged", pa.int64())]))

    try:
        reports = df.mapInArrow(stage, "pid int, staged long").collect()
        staged = sum(r.staged for r in reports)

        insert_cols = ", ".join(_ident(c) for c in data_cols)
        with _connect(dsn) as c:
            c.begin()
            if disposition == "append":
                c.execute(
                    f"INSERT INTO {_ident(table)} ({insert_cols}) "
                    f"SELECT {insert_cols} FROM {_ident(staging)}"
                )
            elif disposition == "replace":
                c.execute(f"TRUNCATE {_ident(table)}")
                c.execute(
                    f"INSERT INTO {_ident(table)} ({insert_cols}) "
                    f"SELECT {insert_cols} FROM {_ident(staging)}"
                )
            elif strategy == "upsert":
                _finalize_upsert(
                    c, table, _ident(staging), target_cols, data_cols,
                    merge_keys, dedup_sort, dedup_descending, hard_delete_col,
                )
            else:
                _finalize_delete_insert(
                    c, table, _ident(staging), data_cols, merge_keys,
                    dedup_sort, dedup_descending, hard_delete_col,
                )
            if ledger is not None:
                # same txn as the data: replayed batches conflict here
                # and roll the whole apply back
                c.execute(
                    f"INSERT INTO {_ident(ledger[0])} VALUES "
                    f"({_lit(ledger[1])}, {int(ledger[2])})"
                )
            c.execute(f"DROP TABLE {_ident(staging)}")
            c.commit()
    except BaseException:
        try:
            with _connect(dsn) as c:
                c.execute(f"DROP TABLE IF EXISTS {_ident(staging)}")
        except Exception:
            pass
        raise
    return {"staged": staged, "applied": True}


def _finalize_delete_insert(
    c, table, src, data_cols, merge_keys, dedup_sort, dedup_descending,
    hard_delete_col,
) -> None:
    """The reference's default merge strategy: delete every touched key,
    insert the deduped non-deleted source rows — the SQL twin of
    ``merge_dataframes`` (target ⟕anti src ∪ dedup(src ∖ deletes)).
    *c* is any client with ``execute(sql)`` (pg_wire or a DuckDB
    connection); *src* is relation SQL."""
    on = _null_safe_on(merge_keys, "t", "s")
    c.execute(
        f"DELETE FROM {_ident(table)} t USING (SELECT DISTINCT "
        + ", ".join(_ident(k) for k in merge_keys)
        + f" FROM {src}) s WHERE {on}"
    )
    sel = _dedup_select(
        data_cols + ([hard_delete_col] if hard_delete_col else []),
        src, merge_keys, dedup_sort, dedup_descending,
    )
    insert_cols = ", ".join(_ident(col) for col in data_cols)
    not_deleted = (
        f" WHERE {_ident(hard_delete_col)} IS NULL" if hard_delete_col else ""
    )
    c.execute(
        f"INSERT INTO {_ident(table)} ({insert_cols}) "
        f"SELECT {insert_cols} FROM ({sel}) src{not_deleted}"
    )


def _finalize_upsert(
    c, table, src, target_cols, data_cols, merge_keys, dedup_sort,
    dedup_descending, hard_delete_col,
) -> None:
    """PostgreSQL 15 ``MERGE``: update-in-place upsert.  Source rows are
    always key-deduped (MERGE refuses a source that touches a target row
    twice); target columns absent from the source are set NULL on
    update, mirroring the engine's replace-the-row semantics."""
    sel = _dedup_select(
        data_cols + ([hard_delete_col] if hard_delete_col else []),
        src, merge_keys,
        dedup_sort or list(merge_keys), dedup_descending,
    )
    on = _null_safe_on(merge_keys, "t", "s")
    sets = ", ".join(
        f"{_ident(col)} = " + (f"s.{_ident(col)}" if col in data_cols else "NULL")
        for col in target_cols
        if col not in merge_keys
    )
    insert_cols = ", ".join(_ident(col) for col in data_cols)
    insert_vals = ", ".join(f"s.{_ident(col)}" for col in data_cols)
    clauses = []
    if hard_delete_col:
        clauses.append(
            f"WHEN MATCHED AND s.{_ident(hard_delete_col)} IS NOT NULL THEN DELETE"
        )
    if sets:
        clauses.append(f"WHEN MATCHED THEN UPDATE SET {sets}")
    else:  # key-only table: a match is already up to date
        clauses.append("WHEN MATCHED THEN DO NOTHING")
    guard = (
        f" AND s.{_ident(hard_delete_col)} IS NULL" if hard_delete_col else ""
    )
    clauses.append(
        f"WHEN NOT MATCHED{guard} "
        f"THEN INSERT ({insert_cols}) VALUES ({insert_vals})"
    )
    c.execute(
        f"MERGE INTO {_ident(table)} t USING ({sel}) s ON {on} "
        + " ".join(clauses)
    )


def postgres_batch_sink(
    dsn: dict,
    table: str,
    disposition: str = "merge",
    sink_name: str | None = None,
    ledger_table: str = "_vss_sink_batches",
    **write_kwargs,
) -> Callable:
    """``foreachBatch`` function writing each micro-batch through
    :func:`write_postgres` exactly once: the ``(sink, batch_id)`` ledger
    row commits in the same transaction as the data, so a micro-batch
    replayed after a crash (sink committed, Spark checkpoint didn't) is
    detected and skipped — the idempotence contract Structured Streaming
    requires of a foreachBatch sink."""
    name = sink_name or table

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        write_postgres(
            batch_df, dsn, table, disposition=disposition,
            ledger=(ledger_table, name, int(batch_id)), **write_kwargs,
        )

    return apply
