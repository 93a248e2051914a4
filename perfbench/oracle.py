"""Independent output checks, run outside the timed loop.

- Registry entries: the Spark result is collected and compared with the
  entry's DuckDB query from ``plans/oracle.py`` ``ORACLE_SQL`` on the same
  generated files, by row count, column names and an order-insensitive
  value hash (the normalization of ``tools/check_correctness.py``).
- ``elt_merge``: DuckDB reads the parquet files the sink left behind and
  compares them, row for row, with a replay of the change log (latest row
  per key by ``lsn``, keys whose latest row is a delete dropped); the
  committed cursor must equal the log's largest ``updated_at``.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb

from gen import TABLES


def _norm_cell(v) -> str:
    if isinstance(v, float):
        return repr(0.0 if v == 0 else v)
    if isinstance(v, bool):
        return str(int(v))
    return "" if v is None else str(v)


def result_hash(cols, rows) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def duck(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    return con


def oracle_results(data_dir: str, queries: dict[str, str]) -> dict[str, tuple]:
    """``{name: (columns, rows)}`` of each DuckDB query on ``data_dir``."""
    con = duck(data_dir)
    out = {}
    for name, sql in queries.items():
        res = con.execute(sql)
        out[name] = ([d[0] for d in res.description], res.fetchall())
    con.close()
    return out


def check_entry(expected: tuple, scols: list[str], srows: list[tuple]) -> str | None:
    """None when Spark's ``scols``/``srows`` match the oracle's
    ``(columns, rows)``, else what differs."""
    dcols, drows = expected
    if len(srows) != len(drows):
        return f"rowcount spark={len(srows)} duckdb={len(drows)}"
    if sorted(scols) != sorted(dcols):
        return f"columns spark={sorted(scols)} duckdb={sorted(dcols)}"
    if result_hash(scols, srows) != result_hash(dcols, drows):
        return "value-hash mismatch"
    return None


REPLAY_SQL = """
WITH log AS (
    SELECT id, lsn, updated_at, amount, status, note, NULL::VARCHAR AS deleted
    FROM read_parquet('{log}/base.parquet')
    UNION ALL
    SELECT DISTINCT * FROM read_parquet('{log}/batch_*.parquet')
), latest AS (
    SELECT * FROM log QUALIFY row_number() OVER (PARTITION BY id ORDER BY lsn DESC) = 1
)
SELECT id, lsn, updated_at, amount, status, note FROM latest WHERE deleted IS NULL
"""


def check_merge(log_dir: str, sink_dir: str, state_path: str, table: str) -> str | None:
    """None when the sink and cursor match a replay of the change log."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    replay = REPLAY_SQL.format(log=log_dir)
    sink = (
        f"SELECT id, lsn, updated_at, amount, status, note "
        f"FROM read_parquet('{sink_dir}/*.parquet')"
    )
    n_sink = con.execute(f"SELECT count(*) FROM ({sink})").fetchone()[0]
    n_replay = con.execute(f"SELECT count(*) FROM ({replay})").fetchone()[0]
    if n_sink != n_replay:
        return f"sink rows {n_sink} != replay rows {n_replay}"
    diff = con.execute(
        f"SELECT count(*) FROM (({sink}) EXCEPT ALL ({replay}))"
    ).fetchone()[0]
    if diff:
        return f"{diff} sink rows differ from the replay"
    want = con.execute(
        f"SELECT max(updated_at) FROM read_parquet('{log_dir}/batch_*.parquet')"
    ).fetchone()[0]
    with open(state_path) as fh:
        got = json.load(fh).get(table, {}).get("last_value")
    if got != want:
        return f"cursor {got!r} != {want!r}"
    return None


def sink_stats(sink_dir: str) -> tuple[int, int]:
    """(data files, bytes) of a parquet sink directory."""
    files = [f for f in os.listdir(sink_dir) if f.endswith(".parquet")]
    return len(files), sum(os.path.getsize(os.path.join(sink_dir, f)) for f in files)
