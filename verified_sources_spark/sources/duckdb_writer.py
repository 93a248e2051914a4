"""DuckDB write-back sink: stage → disposition finalize, the engine's
destination parity for the reference's DEFAULT destination
(/root/reference/sources/mongodb_pipeline.py:22-35 — every demo
pipeline runs ``destination="duckdb"``; tests observe it through
``pipeline.sql_client()``, reference tests/utils.py:209-227).

Same disposition contract as sources/pg_writer.py (append / replace /
merge with delete-insert or upsert strategy, dedup_sort keep-latest,
hard_delete_col, schema evolution, exactly-once batch ledger), adapted
to DuckDB's execution model:

- **Stage is Spark-parallel, finalize is single-writer.**  Executors
  write the batch as PARQUET (the stage format DuckDB reads natively);
  the driver then applies the disposition in ONE DuckDB transaction
  over ``read_parquet``.  DuckDB is a single-process writer by design —
  funneling per-executor INSERT connections (the PG shape) would
  serialize on the file lock anyway, while parquet staging keeps the
  heavy lift (encode, shuffle, dedup pre-aggregation) on the cluster
  and hands DuckDB sealed columnar files.
- **No Spark→SQL type map**: the target table is created from the
  staged parquet itself (``CREATE TABLE … AS SELECT … LIMIT 0``) and
  evolved from its ``DESCRIBE`` types, so every type DuckDB can read
  from parquet round-trips without a mapping table.
- **Upsert strategy** is emulated (DuckDB 1.0 has no ``MERGE``):
  matched hard-deletes DELETE, matched keys UPDATE in place (target
  columns absent from the source reset to NULL — replace-the-row
  semantics, same as pg_writer's MERGE), unmatched non-deleted rows
  INSERT; the source is always key-deduped first, as MERGE requires.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame

from verified_sources_spark.sources.pg_writer import (
    _dedup_select,
    _finalize_delete_insert,
    _ident,
    _lit,
    _null_safe_on,
)


def _existing_columns(con, table: str) -> list[str] | None:
    rows = con.execute(
        "SELECT column_name FROM information_schema.columns "
        f"WHERE table_name = {_lit(table)} AND table_schema = current_schema() "
        "ORDER BY ordinal_position"
    ).fetchall()
    return [r[0] for r in rows] or None


def ensure_table(con, table: str, src: str, data_cols: Sequence[str]) -> list[str]:
    """Create *table* shaped like the staged source's *data_cols* if
    absent; ALTER in any new columns with the parquet-inferred DuckDB
    type (nullable — old rows read NULL, the evolution contract).
    Returns the target's full column list after evolution."""
    existing = _existing_columns(con, table)
    col_sql = ", ".join(_ident(c) for c in data_cols)
    if existing is None:
        con.execute(
            f"CREATE TABLE {_ident(table)} AS SELECT {col_sql} FROM {src} LIMIT 0"
        )
        return list(data_cols)
    types = dict(
        con.execute(
            f"SELECT column_name, column_type FROM (DESCRIBE SELECT * FROM {src})"
        ).fetchall()
    )
    for c in data_cols:
        if c not in existing:
            con.execute(
                f"ALTER TABLE {_ident(table)} ADD COLUMN {_ident(c)} {types[c]}"
            )
            existing.append(c)
    return existing


def write_duckdb(
    df: DataFrame,
    database: str,
    table: str,
    disposition: str = "append",
    merge_keys: Sequence[str] = (),
    dedup_sort: Sequence[str] | None = None,
    dedup_descending: bool = True,
    hard_delete_col: str | None = None,
    strategy: str = "delete-insert",
    staging_dir: str | None = None,
    ledger: tuple[str, str, int] | None = None,
) -> dict:
    """Write *df* to DuckDB *database* (a file path, or ``:memory:`` is
    NOT supported — the sink's point is durable write-back) with the
    given write disposition.  Returns ``{"staged": n, "applied": bool}``.
    Parameter semantics match :func:`pg_writer.write_postgres` verbatim;
    see the module docstring for the DuckDB-specific execution shape."""
    import duckdb

    if disposition not in ("append", "replace", "merge"):
        raise ValueError(f"unknown write_disposition: {disposition}")
    if disposition == "merge" and not merge_keys:
        raise ValueError("merge disposition requires merge_keys")
    if strategy not in ("delete-insert", "upsert"):
        raise ValueError(f"unknown merge strategy: {strategy}")

    fields = list(df.schema.fields)
    data_cols = [f.name for f in fields if f.name != hard_delete_col]
    run = uuid.uuid4().hex[:12]
    stage_root = staging_dir or os.path.join(
        tempfile.gettempdir(), f"_vss_duck_stg_{run}"
    )

    con = duckdb.connect(database)
    try:
        if ledger is not None:
            ledger_table, sink_name, batch_id = ledger
            con.execute(
                f"CREATE TABLE IF NOT EXISTS {_ident(ledger_table)} "
                "(sink VARCHAR, batch_id BIGINT, PRIMARY KEY (sink, batch_id))"
            )
            seen = con.execute(
                f"SELECT 1 FROM {_ident(ledger_table)} WHERE sink = "
                f"{_lit(sink_name)} AND batch_id = {int(batch_id)}"
            ).fetchall()
            if seen:
                return {"staged": 0, "applied": False}

        # stage: Spark-parallel parquet — executors do the heavy lift
        df.write.mode("overwrite").parquet(stage_root)
        parts = [
            f for f in os.listdir(stage_root) if f.endswith(".parquet")
        ]
        if parts:
            src = f"read_parquet({_lit(os.path.join(stage_root, '*.parquet'))})"
        else:
            # No part files visible on the driver.  Legitimate only for a
            # genuinely empty batch: on a multi-node cluster with a
            # non-shared staging_dir the executors' parquet lands on THEIR
            # disks and the driver would silently apply nothing while the
            # ledger still commits — permanent data loss.  Refuse that.
            if not df.isEmpty():
                raise RuntimeError(
                    "staged parquet not visible from the driver: staging_dir "
                    f"{stage_root!r} must be on a filesystem shared by the "
                    "driver and all executors (use a shared mount or "
                    "distributed FS path)"
                )
            # a 0-row df whose writer emitted no part files: an empty
            # arrow relation carrying the DataFrame's REAL types stands in
            # (pa.table({name: []}) would infer null->INTEGER and poison
            # the created/evolved target's column types)
            import pyarrow as pa
            from pyspark.sql.pandas.types import to_arrow_schema

            con.register(
                "_vss_empty_rel",
                pa.Table.from_pylist([], schema=to_arrow_schema(df.schema)),
            )
            src = "_vss_empty_rel"
        staged = con.execute(f"SELECT count(*) FROM {src}").fetchone()[0]

        con.execute("BEGIN")
        target_cols = ensure_table(con, table, src, data_cols)
        insert_cols = ", ".join(_ident(c) for c in data_cols)
        if disposition == "append":
            con.execute(
                f"INSERT INTO {_ident(table)} ({insert_cols}) "
                f"SELECT {insert_cols} FROM {src}"
            )
        elif disposition == "replace":
            con.execute(f"DELETE FROM {_ident(table)}")
            con.execute(
                f"INSERT INTO {_ident(table)} ({insert_cols}) "
                f"SELECT {insert_cols} FROM {src}"
            )
        elif strategy == "upsert":
            _finalize_upsert(
                con, table, src, target_cols, data_cols, merge_keys,
                dedup_sort, dedup_descending, hard_delete_col,
            )
        else:
            _finalize_delete_insert(
                con, table, src, data_cols, merge_keys,
                dedup_sort, dedup_descending, hard_delete_col,
            )
        if ledger is not None:
            # same txn as the data: a replayed batch conflicts here and
            # rolls the whole apply back
            con.execute(
                f"INSERT INTO {_ident(ledger[0])} VALUES "
                f"({_lit(ledger[1])}, {int(ledger[2])})"
            )
        con.execute("COMMIT")
    except BaseException:
        try:
            con.execute("ROLLBACK")
        except Exception:
            pass
        raise
    finally:
        con.close()
        if staging_dir is None:
            shutil.rmtree(stage_root, ignore_errors=True)
    return {"staged": int(staged), "applied": True}


def _finalize_upsert(
    con, table, src, target_cols, data_cols, merge_keys, dedup_sort,
    dedup_descending, hard_delete_col,
) -> None:
    """Update-in-place upsert, MERGE-emulated (DuckDB 1.0 has none):
    the key-deduped source lands in a temp table, then matched
    hard-deletes DELETE, matched keys UPDATE (target columns absent
    from the source go NULL — replace-the-row, same as pg_writer's
    MERGE), unmatched non-deleted rows INSERT."""
    sel = _dedup_select(
        data_cols + ([hard_delete_col] if hard_delete_col else []),
        src, merge_keys,
        dedup_sort or list(merge_keys), dedup_descending,
    )
    con.execute(f"CREATE TEMP TABLE _vss_upsert_src AS {sel}")
    try:
        on = _null_safe_on(merge_keys, "t", "s")
        if hard_delete_col:
            con.execute(
                f"DELETE FROM {_ident(table)} t USING _vss_upsert_src s "
                f"WHERE {on} AND s.{_ident(hard_delete_col)} IS NOT NULL"
            )
        sets = ", ".join(
            f"{_ident(c)} = " + (f"s.{_ident(c)}" if c in data_cols else "NULL")
            for c in target_cols
            if c not in merge_keys
        )
        guard = (
            f" AND s.{_ident(hard_delete_col)} IS NULL" if hard_delete_col else ""
        )
        if sets:
            con.execute(
                f"UPDATE {_ident(table)} t SET {sets} "
                f"FROM _vss_upsert_src s WHERE {on}{guard}"
            )
        insert_cols = ", ".join(_ident(c) for c in data_cols)
        insert_vals = ", ".join(f"s.{_ident(c)}" for c in data_cols)
        con.execute(
            f"INSERT INTO {_ident(table)} ({insert_cols}) "
            f"SELECT {insert_vals} FROM _vss_upsert_src s "
            f"WHERE NOT EXISTS (SELECT 1 FROM {_ident(table)} t WHERE {on})"
            + guard
        )
    finally:
        con.execute("DROP TABLE IF EXISTS _vss_upsert_src")


def duckdb_batch_sink(
    database: str,
    table: str,
    disposition: str = "merge",
    sink_name: str | None = None,
    ledger_table: str = "_vss_sink_batches",
    **write_kwargs,
) -> Callable:
    """``foreachBatch`` function writing each micro-batch through
    :func:`write_duckdb` exactly once — the (sink, batch_id) ledger row
    commits in the data transaction, so a replayed micro-batch is
    detected and skipped (postgres_batch_sink twin)."""
    name = sink_name or table

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        write_duckdb(
            batch_df, database, table, disposition=disposition,
            ledger=(ledger_table, name, int(batch_id)), **write_kwargs,
        )

    return apply
