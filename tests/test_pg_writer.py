"""Postgres write-back sink (sources/pg_writer.py) against a REAL
PostgreSQL server: a scratch cluster is initdb'd per test session and
every disposition is observed through psql-level queries over the
engine's own wire client — the destination contract the reference's
tests observe through ``pipeline.sql_client()`` (reference:
tests/utils.py:209-267).

Also the live counterpart of test_pg_wire.py's fake walsender: the
replication client + pgoutput decoders drain a REAL logical slot.
"""

from __future__ import annotations

import datetime
import decimal
import os
import shutil
import socket
import subprocess
import tempfile

import pytest

from verified_sources_spark.sources.pg_wire import PgError, PgQueryClient
from verified_sources_spark.sources.pg_writer import (
    postgres_batch_sink,
    write_postgres,
)

PG_BIN = "/usr/local/bin"
_HAVE_PG = (
    os.path.exists(f"{PG_BIN}/initdb")
    and shutil.which("runuser") is not None
    and os.geteuid() == 0
)

pytestmark = pytest.mark.skipif(
    not _HAVE_PG, reason="local PostgreSQL binaries not available"
)


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _pg(cmd: list[str]) -> None:
    subprocess.run(
        ["runuser", "-u", "postgres", "--"] + cmd,
        check=True,
        capture_output=True,
    )


@pytest.fixture(scope="session")
def pg_server():
    """A throwaway PostgreSQL cluster on a random port, trust auth,
    wal_level=logical (so the same server also exercises the live
    replication path).  Runs as the ``postgres`` system user — the
    server refuses root."""
    base = tempfile.mkdtemp(prefix="vss_pg_")
    os.chmod(base, 0o777)
    shutil.chown(base, "postgres", "postgres")
    data = os.path.join(base, "data")
    port = _free_port()
    _pg([f"{PG_BIN}/initdb", "-D", data, "-A", "trust", "-U", "pguser"])
    opts = (
        f"-p {port} -c listen_addresses=127.0.0.1 "
        f"-c unix_socket_directories={base} "
        "-c wal_level=logical -c max_wal_senders=4 -c max_replication_slots=4 "
        "-c fsync=off -c synchronous_commit=off"  # scratch cluster: speed
    )
    _pg([
        f"{PG_BIN}/pg_ctl", "-D", data, "-o", opts,
        "-l", os.path.join(base, "log"), "-w", "start",
    ])
    try:
        yield {
            "host": "127.0.0.1",
            "port": port,
            "database": "postgres",
            "user": "pguser",
        }
    finally:
        _pg([f"{PG_BIN}/pg_ctl", "-D", data, "-m", "immediate", "stop"])
        shutil.rmtree(base, ignore_errors=True)


@pytest.fixture()
def pgc(pg_server):
    c = PgQueryClient(
        pg_server["host"], pg_server["port"], pg_server["database"],
        pg_server["user"],
    )
    yield c
    c.close()


def _rows(pgc, sql):
    return set(pgc.execute(sql))


# ------------------------------------------------------- wire client


def test_query_client_roundtrip_and_copy(pgc):
    pgc.execute("DROP TABLE IF EXISTS wt")
    pgc.execute("CREATE TABLE wt (k bigint, v text)")
    n = pgc.copy_in(
        "COPY wt (k, v) FROM STDIN",
        [b"1\ta\n", b"2\twith\\ttab\n", b"3\t\\N\n"],
    )
    assert n == 3
    got = _rows(pgc, "SELECT k::text, v FROM wt ORDER BY k")
    assert got == {("1", "a"), ("2", "with\ttab"), ("3", None)}


def test_query_client_survives_errors(pgc):
    """The response cycle is drained after an ErrorResponse, so the SAME
    connection keeps working (a desynchronized client would return the
    stale ReadyForQuery to the next caller)."""
    with pytest.raises(PgError, match="syntax"):
        pgc.execute("SELEKT 1")
    assert pgc.execute("SELECT 41 + 1") == [("42",)]
    # mid-transaction error → rollback on the same connection
    pgc.begin()
    with pytest.raises(PgError):
        pgc.execute("SELECT * FROM table_that_does_not_exist")
    pgc.rollback()
    assert pgc.execute("SELECT 7") == [("7",)]
    # COPY into a missing table errors and recovers too
    with pytest.raises(PgError):
        pgc.copy_in("COPY nope (x) FROM STDIN", [b"1\n"])
    assert pgc.execute("SELECT 8") == [("8",)]


# ------------------------------------------------------ dispositions


def test_append_types_roundtrip(spark, pg_server, pgc):
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [
            (1, "plain", 1.5, True, datetime.date(2024, 6, 1),
             datetime.datetime(2024, 6, 1, 12, 30, 0, 123456),
             decimal.Decimal("12345.67"), bytearray(b"\x00\xffbin"),
             ["a", "b"]),
            (2, "tab\there\nand newline \\ backslash", None, None, None,
             None, None, None, None),
        ],
        "k long, s string, d double, b boolean, dt date, ts timestamp, "
        "dec decimal(10,2), bin binary, arr array<string>",
    )
    out = write_postgres(df, pg_server, "t_append", disposition="append")
    assert out == {"staged": 2, "applied": True}
    write_postgres(df, pg_server, "t_append", disposition="append")
    got = {
        tuple(r)
        for r in pgc.execute(
            "SELECT k::text, s, d::text, b::text, dt::text, "
            "to_char(ts AT TIME ZONE 'UTC', 'YYYY-MM-DD HH24:MI:SS.US'), "
            "dec::text, encode(bin, 'hex'), arr::text FROM t_append"
        )
    }
    assert len(pgc.execute("SELECT 1 FROM t_append")) == 4
    assert (
        "1", "plain", "1.5", "true", "2024-06-01",
        "2024-06-01 12:30:00.123456", "12345.67", "00ff62696e",
        '["a", "b"]',  # jsonb canonical text form
    ) in got
    assert (
        "2", "tab\there\nand newline \\ backslash",
        None, None, None, None, None, None, None,
    ) in got
    # no staging leftovers
    assert not pgc.execute(
        "SELECT tablename FROM pg_tables WHERE tablename LIKE '_vss_stg_%'"
    )


def test_nullable_long_round_trips_exactly(spark, pg_server, pgc):
    """One batch holding 2**62+1 beside a null: the COPY text carries the
    long as Arrow holds it (a pandas crossing widened the column to
    float64 and stored 4611686018427387904)."""
    big = (1 << 62) + 1
    df = spark.createDataFrame([(1, big), (2, None), (3, -big)], "k long, h long").coalesce(1)
    write_postgres(df, pg_server, "t_long", disposition="append")
    assert _rows(pgc, "SELECT k::text, h::text FROM t_long") == {
        ("1", str(big)), ("2", None), ("3", str(-big))}


def test_replace(spark, pg_server, pgc):
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    df2 = spark.createDataFrame([(9, "z")], "k long, v string")
    write_postgres(df1, pg_server, "t_replace", disposition="replace")
    write_postgres(df2, pg_server, "t_replace", disposition="replace")
    assert _rows(pgc, "SELECT k::text, v FROM t_replace") == {("9", "z")}


def test_merge_delete_insert_matches_engine_semantics(spark, pg_server, pgc):
    """The PG merge must be value-identical to the engine's
    merge_dataframes on the same inputs: composite keys, dedup_sort
    keep-latest, hard deletes."""
    from verified_sources_spark.operators.merge import merge_dataframes

    target = spark.createDataFrame(
        [(1, "x", "old1", 0), (2, "x", "old2", 0), (3, "y", "old3", 0)],
        "id long, grp string, val string, seq long",
    )
    src = spark.createDataFrame(
        [
            (2, "x", "new2-early", 1, None),     # upsert (loses dedup)
            (2, "x", "new2-late", 5, None),      # upsert winner
            (3, "y", None, 9, "gone"),           # hard delete of (3,y)
            (4, "z", "new4", 2, None),           # fresh insert
        ],
        "id long, grp string, val string, seq long, __deleted string",
    )
    write_postgres(target, pg_server, "t_merge", disposition="replace")
    write_postgres(
        src, pg_server, "t_merge", disposition="merge",
        merge_keys=["id", "grp"], dedup_sort=["seq"],
        hard_delete_col="__deleted",
    )
    got = _rows(pgc, "SELECT id::text, grp, val, seq::text FROM t_merge")
    expected = {
        tuple(None if v is None else str(v) for v in r)
        for r in merge_dataframes(
            target, src, ["id", "grp"], dedup_sort=["seq"],
            hard_delete_col="__deleted",
        ).collect()
    }
    assert got == expected
    assert got == {
        ("1", "x", "old1", "0"),
        ("2", "x", "new2-late", "5"),
        ("4", "z", "new4", "2"),
    }


def test_merge_upsert_strategy(spark, pg_server, pgc):
    """strategy='upsert' runs a real PG15 MERGE: update-in-place with
    hard-delete → WHEN MATCHED DELETE, and null-safe key matching."""
    t = spark.createDataFrame(
        [(1, "a", "keep"), (2, "b", "upd"), (None, "n", "nullkey"), (3, "c", "del")],
        "id long, v string, note string",
    )
    write_postgres(t, pg_server, "t_upsert", disposition="replace")
    src = spark.createDataFrame(
        [(2, "B2", "upd2", None), (None, "N2", "nullkey2", None),
         (3, None, None, "x"), (5, "e", "new", None)],
        "id long, v string, note string, __del string",
    )
    write_postgres(
        src, pg_server, "t_upsert", disposition="merge",
        merge_keys=["id"], hard_delete_col="__del", strategy="upsert",
    )
    got = _rows(pgc, "SELECT id::text, v, note FROM t_upsert")
    assert got == {
        ("1", "a", "keep"),
        ("2", "B2", "upd2"),
        (None, "N2", "nullkey2"),   # NULL key matched null-safely
        ("5", "e", "new"),
    }


def test_merge_without_dedup_keeps_all_source_rows(spark, pg_server, pgc):
    """merge_dataframes without dedup_sort inserts EVERY source row for a
    key (pk-less multi-row semantics); the delete-insert SQL must too."""
    t = spark.createDataFrame([(1, "old")], "k long, v string")
    src = spark.createDataFrame([(1, "n1"), (1, "n2")], "k long, v string")
    write_postgres(t, pg_server, "t_multi", disposition="replace")
    write_postgres(
        src, pg_server, "t_multi", disposition="merge", merge_keys=["k"]
    )
    assert _rows(pgc, "SELECT k::text, v FROM t_multi") == {
        ("1", "n1"), ("1", "n2"),
    }


def test_schema_evolution_adds_columns(spark, pg_server, pgc):
    df1 = spark.createDataFrame([(1, "a")], "k long, v string")
    df2 = spark.createDataFrame(
        [(2, "b", 3.5)], "k long, v string, extra double"
    )
    write_postgres(df1, pg_server, "t_evo", disposition="append")
    write_postgres(df2, pg_server, "t_evo", disposition="append")
    got = _rows(pgc, "SELECT k::text, v, extra::text FROM t_evo")
    assert got == {("1", "a", None), ("2", "b", "3.5")}
    # target column missing from a later source stays NULL on its rows
    write_postgres(df1, pg_server, "t_evo", disposition="append")
    assert ("1", "a", None) in _rows(
        pgc, "SELECT k::text, v, extra::text FROM t_evo"
    )


def test_parallel_copy_partitions(spark, pg_server, pgc):
    """Many partitions COPY concurrently into the one staging table."""
    df = spark.range(0, 5000).withColumnRenamed("id", "k").repartition(8)
    out = write_postgres(df, pg_server, "t_par", disposition="append",
                         parallelism=8)
    assert out["staged"] == 5000
    assert pgc.execute("SELECT count(*), sum(k)::text FROM t_par") == [
        ("5000", str(sum(range(5000))))
    ]


# --------------------------------------------------------- streaming


def test_foreach_batch_ledger_idempotence(spark, pg_server, pgc, tmp_path):
    """A replayed ledger'd batch is skipped (crash between sink commit
    and checkpoint write), and a real availableNow stream lands each
    file's rows exactly once across restarts."""
    # direct replay: same (sink, batch_id) applies once
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    r1 = write_postgres(
        df, pg_server, "t_led", disposition="merge", merge_keys=["k"],
        ledger=("_vss_sink_batches", "t_led", 7),
    )
    r2 = write_postgres(
        df, pg_server, "t_led", disposition="merge", merge_keys=["k"],
        ledger=("_vss_sink_batches", "t_led", 7),
    )
    assert r1["applied"] and not r2["applied"]
    assert len(pgc.execute("SELECT 1 FROM t_led")) == 1

    # end-to-end stream: file source → foreachBatch postgres sink
    src_dir = str(tmp_path / "src")
    spark.createDataFrame([(1, "s1")], "k long, v string").write.parquet(
        src_dir + "/f1"
    )
    stream = (
        spark.readStream.schema("k long, v string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir + "/*")
    )
    sink = postgres_batch_sink(
        pg_server, "t_stream", disposition="merge", merge_keys=["k"],
        dedup_sort=["k"],
    )
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    assert _rows(pgc, "SELECT k::text, v FROM t_stream") == {("1", "s1")}
    spark.createDataFrame([(2, "s2")], "k long, v string").write.parquet(
        src_dir + "/f2"
    )
    run()
    assert _rows(pgc, "SELECT k::text, v FROM t_stream") == {
        ("1", "s1"), ("2", "s2"),
    }


# ------------------------------------------------- live CDC (bonus)


def test_live_logical_replication_roundtrip(spark, pg_server, pgc):
    """The walsender client + pgoutput decoders against a REAL server:
    create a publication + logical slot, write through the SINK, drain
    the slot, decode — the full write→CDC loop with zero fakes."""
    from verified_sources_spark.sources.pg_decoders import (
        messages_to_change_rows,
    )
    from verified_sources_spark.sources.pg_wire import WalsenderClient

    pgc.execute("DROP TABLE IF EXISTS cdc_src")
    pgc.execute("CREATE TABLE cdc_src (id bigint PRIMARY KEY, v text)")
    pgc.execute("DROP PUBLICATION IF EXISTS vss_pub")
    pgc.execute("CREATE PUBLICATION vss_pub FOR TABLE cdc_src")
    pgc.execute(
        "SELECT pg_create_logical_replication_slot('vss_slot', 'pgoutput')"
    )
    try:
        df = spark.createDataFrame(
            [(1, "one"), (2, "two")], "id long, v string"
        )
        write_postgres(df, pg_server, "cdc_src", disposition="merge",
                       merge_keys=["id"])
        pgc.execute("UPDATE cdc_src SET v = 'TWO' WHERE id = 2")
        pgc.execute("DELETE FROM cdc_src WHERE id = 1")

        framed: list[tuple[int, bytes]] = []
        with WalsenderClient(
            pg_server["host"], pg_server["port"], pg_server["database"],
            pg_server["user"],
        ) as wc:
            stream = wc.start_replication("vss_slot", "vss_pub", start_lsn=0)
            deletes = 0
            for msg in stream:
                framed.append((msg.wal_start, msg.payload))
                if msg.payload[:1] == b"D":
                    deletes += 1
                if deletes:  # the DELETE is the last change we made
                    break
        rows = messages_to_change_rows(framed)
        ops = [(r["op"], r.get("id"), r.get("v")) for r in rows]
        assert ("I", 1, "one") in ops and ("I", 2, "two") in ops
        assert ("U", 2, "TWO") in ops
        assert ("D", 1, None) in ops
    finally:
        pgc.execute("SELECT pg_drop_replication_slot('vss_slot')")


def test_walsender_close_releases_slot(pg_server, pgc):
    """``close()`` returns only once the walsender backend has exited, so
    the slot it streamed from is no longer active and drops at once."""
    from verified_sources_spark.sources.pg_wire import WalsenderClient

    pgc.execute("DROP TABLE IF EXISTS slot_src")
    pgc.execute("CREATE TABLE slot_src (id bigint PRIMARY KEY)")
    pgc.execute("DROP PUBLICATION IF EXISTS slot_pub")
    pgc.execute("CREATE PUBLICATION slot_pub FOR TABLE slot_src")
    for i in range(5):
        pgc.execute(
            "SELECT pg_create_logical_replication_slot('slot_rel', 'pgoutput')"
        )
        pgc.execute(f"INSERT INTO slot_src VALUES ({i})")
        with WalsenderClient(
            pg_server["host"], pg_server["port"], pg_server["database"],
            pg_server["user"],
        ) as wc:
            for msg in wc.start_replication("slot_rel", "slot_pub", start_lsn=0):
                if msg.payload[:1] == b"I":
                    break
        pgc.execute("SELECT pg_drop_replication_slot('slot_rel')")
