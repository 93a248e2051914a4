"""Columnar data-file blobs (llm/datablob): parquet + avro readers,
gates, refusals, Spark operator, and the router seam."""

from __future__ import annotations

import io

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from verified_sources_spark.llm.datablob import (
    DataBlobError,
    avro_rows_blob,
    data_blob_rows,
    parquet_rows_blob,
)


def _pq_bytes(table: pa.Table) -> bytes:
    buf = io.BytesIO()
    pq.write_table(table, buf)
    return buf.getvalue()


def test_parquet_blob_round_trip():
    t = pa.table({"id": [1, 2], "name": ["alpha", None],
                  "ok": [True, False], "score": [1.5, 2.0]})
    out = parquet_rows_blob(_pq_bytes(t))
    assert out["columns"] == ["id", "name", "ok", "score"]
    assert out["rows"] == [["1", "alpha", "TRUE", "1.5"],
                           ["2", "", "FALSE", "2"]]


def test_avro_blob_round_trip():
    from verified_sources_spark.operators.avro_codec import (
        write_container,
    )

    schema = {"type": "record", "name": "R", "fields": [
        {"name": "id", "type": "long"},
        {"name": "v", "type": "string"}]}
    data = write_container(schema, [{"id": 7, "v": "x"}])
    out = avro_rows_blob(data)
    assert out["columns"] == ["id", "v"]
    assert out["rows"] == [["7", "x"]]


def test_refusals_and_gates():
    with pytest.raises(DataBlobError, match="PAR1"):
        parquet_rows_blob(b"not parquet at all")
    with pytest.raises(DataBlobError, match="corrupt parquet"):
        parquet_rows_blob(b"PAR1" + bytes(64) + b"PAR1")
    with pytest.raises(DataBlobError, match="size gate"):
        parquet_rows_blob(b"PAR1" + bytes(32) + b"PAR1",
                          max_bytes=16)
    with pytest.raises(DataBlobError, match="corrupt avro"):
        avro_rows_blob(b"Obj\x01garbage")
    # non-record avro container is not a table
    from verified_sources_spark.operators.avro_codec import (
        write_container,
    )

    d = write_container("long", [1, 2, 3])
    with pytest.raises(DataBlobError, match="not record-typed"):
        avro_rows_blob(d)


def test_spark_operator(spark):
    from verified_sources_spark.operators.avro_codec import (
        write_container,
    )

    schema = {"type": "record", "name": "R", "fields": [
        {"name": "a", "type": "long"}]}
    rows = [
        (1, bytearray(_pq_bytes(pa.table({"a": [10, 11]})))),
        (2, bytearray(write_container(schema, [{"a": 20}]))),
        (3, bytearray(b"junk")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, asset binary")
    got: dict = {}
    for r in data_blob_rows(df).collect():
        got.setdefault(r["doc_id"], []).append(r)
    assert [(r["fmt"], r["line"]) for r in
            sorted(got[1], key=lambda r: r["row_idx"])] == [
        ("parquet", "10"), ("parquet", "11")]
    assert got[2][0]["fmt"] == "avro" and got[2][0]["line"] == "20"
    assert got[3][0]["decoded_ok"] is False


def test_fuzz_battery():
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from test_fuzz_frontdoors import _battery

    t = pa.table({"id": list(range(20)),
                  "v": [f"val {i}" for i in range(20)]})
    _battery(lambda: _pq_bytes(t), parquet_rows_blob,
             (DataBlobError,))
    from verified_sources_spark.operators.avro_codec import (
        write_container,
    )

    schema = {"type": "record", "name": "R", "fields": [
        {"name": "id", "type": "long"},
        {"name": "v", "type": "string"}]}
    _battery(lambda: write_container(
        schema, [{"id": i, "v": f"val {i}"} for i in range(20)]),
        avro_rows_blob, (DataBlobError,))


def test_orc_blob_round_trip_and_refusals():
    """ORC blobs ride pyarrow.orc behind the same contract; prose
    that merely STARTS with 'ORC' must not route as a data blob."""
    import io

    import pyarrow as pa
    import pyarrow.orc as orc
    import pytest

    from verified_sources_spark.llm.datablob import (
        DataBlobError, orc_rows_blob,
    )
    from verified_sources_spark.llm.docrouter import (
        extract_document, sniff_document,
    )

    buf = io.BytesIO()
    orc.write_table(pa.table({
        "id": [1, 2], "note": ["alpha", None]}), buf)
    blob = buf.getvalue()
    out = orc_rows_blob(blob)
    assert out["columns"] == ["id", "note"]
    assert out["rows"] == [["1", "alpha"], ["2", ""]]
    routed = extract_document(blob)
    assert routed["format"] == "orc"
    assert routed["text"] == "id\tnote\n1\talpha\n2\t"
    # prose starting with ORC stays text
    memo = b"ORCHESTRA rehearsal notes\nplain prose follows here\n"
    assert sniff_document(memo) == "text"
    with pytest.raises(DataBlobError, match="magic"):
        orc_rows_blob(memo)
    with pytest.raises(DataBlobError, match="corrupt orc"):
        orc_rows_blob(blob[:3] + b"\x00" * 40 + blob[-8:])


def test_sqlite_blob_tables_and_refusals():
    """SQLite blobs read through stdlib deserialize: user tables in
    name order, quoted identifiers survive, views/internal tables
    excluded, NULL/blob cells render per the contract; corruption and
    empty databases refuse by name."""
    import sqlite3

    import pytest as _pytest

    from verified_sources_spark.llm.datablob import (
        DataBlobError, sqlite_tables_blob,
    )

    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE people (id INTEGER, name TEXT, s REAL)")
    con.executemany("INSERT INTO people VALUES (?,?,?)",
                    [(1, "Ada", 9.5), (2, None, None)])
    con.execute('CREATE TABLE "odd ""name" (v BLOB)')
    con.execute('INSERT INTO "odd ""name" VALUES (?)', (b"b\xff",))
    con.execute("CREATE VIEW v AS SELECT * FROM people")
    blob = con.serialize()
    con.close()
    out = sqlite_tables_blob(blob)
    assert [t["table"] for t in out] == ['odd "name', "people"]
    assert out[1]["columns"] == ["id", "name", "s"]
    assert out[1]["rows"] == [["1", "Ada", "9.5"], ["2", "", ""]]
    # refusals: magic, corruption past the magic, empty db
    with _pytest.raises(DataBlobError, match="magic"):
        sqlite_tables_blob(b"not a database at all")
    with _pytest.raises(DataBlobError, match="corrupt"):
        sqlite_tables_blob(b"SQLite format 3\x00" + bytes(64))
    empty = sqlite3.connect(":memory:")
    empty.execute("CREATE VIEW only_view AS SELECT 1 AS x")
    with _pytest.raises(DataBlobError, match="no user tables"):
        sqlite_tables_blob(empty.serialize())
    empty.close()


def test_sqlite_in_spark_door_and_router(spark):
    """data_blob_rows fans a two-table db into per-table row groups
    (fmt='sqlite:<name>'); the document router extracts it as
    delimited text blocks."""
    import sqlite3

    from verified_sources_spark.llm.datablob import data_blob_rows
    from verified_sources_spark.llm.docrouter import (
        extract_document, sniff_document,
    )

    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE a (x INTEGER)")
    con.execute("INSERT INTO a VALUES (7)")
    con.execute("CREATE TABLE b (y TEXT)")
    con.execute("INSERT INTO b VALUES ('hi')")
    blob = con.serialize()
    con.close()
    df = spark.createDataFrame([(1, bytearray(blob))],
                               "doc_id long, asset binary")
    got = {(r["fmt"], r["header"], r["line"])
           for r in data_blob_rows(df).collect()}
    assert got == {("sqlite:a", "x", "7"), ("sqlite:b", "y", "hi")}
    assert sniff_document(blob) == "sqlite"
    text = extract_document(blob)["text"]
    assert "a\nx\n7" in text and "b\ny\nhi" in text


def _arrow_file_bytes(table: pa.Table) -> bytes:
    buf = io.BytesIO()
    with pa.ipc.new_file(buf, table.schema) as wr:
        wr.write_table(table)
    return buf.getvalue()


def _arrow_stream_bytes(table: pa.Table) -> bytes:
    buf = io.BytesIO()
    with pa.ipc.new_stream(buf, table.schema) as wr:
        wr.write_table(table)
    return buf.getvalue()


def test_arrow_blob_round_trip_and_refusals():
    """r15 Arrow IPC door: FILE (ARROW1 both ends) and STREAM
    (continuation marker) formats render the same cells as the
    parquet door for the same table; truncated/corrupt blobs refuse
    as DataBlobError; the cell gate holds."""
    from verified_sources_spark.llm.datablob import arrow_rows_blob

    t = pa.table({"id": [1, 2], "name": ["alpha", None],
                  "ok": [True, False], "score": [1.5, 2.0]})
    want = parquet_rows_blob(_pq_bytes(t))
    fb = _arrow_file_bytes(t)
    sb = _arrow_stream_bytes(t)
    assert fb[:6] == b"ARROW1" and fb[-6:] == b"ARROW1"
    assert sb[:4] == b"\xff\xff\xff\xff"
    assert arrow_rows_blob(fb) == want
    assert arrow_rows_blob(sb) == want
    # file magic with a chopped tail: refuses by name (truncated)
    with pytest.raises(DataBlobError, match="truncated"):
        arrow_rows_blob(fb[:-7])
    # corrupt footer length / truncated stream refuse as DataBlobError
    bad = bytearray(fb)
    bad[-10:-6] = b"\xff\xff\xff\x7f"   # absurd footer length
    with pytest.raises(DataBlobError):
        arrow_rows_blob(bytes(bad))
    with pytest.raises(DataBlobError):
        arrow_rows_blob(sb[:-10])
    with pytest.raises(DataBlobError, match="not an Arrow"):
        arrow_rows_blob(b"plain text")
    big = pa.table({"a": list(range(100))})
    with pytest.raises(DataBlobError, match="cell gate"):
        arrow_rows_blob(_arrow_file_bytes(big), max_cells=50)


def test_arrow_in_spark_door_and_router(spark):
    """The operator sniffs both Arrow layouts next to the other four
    formats; the router serves the FILE format globally (both-ends
    magic, the ORC posture) and leaves the weak-magic stream form to
    the column door."""
    from verified_sources_spark.llm.docrouter import (
        extract_document, sniff_document,
    )

    t = pa.table({"id": [7], "name": ["x"], "note": ["y"]})
    fb = _arrow_file_bytes(t)
    sb = _arrow_stream_bytes(t)
    df = spark.createDataFrame(
        [(1, bytearray(fb)), (2, bytearray(sb)),
         (3, bytearray(b"ARROW1 but prose"))],
        "doc_id long, asset binary")
    out = {r["doc_id"]: r for r in data_blob_rows(df).collect()}
    assert out[1]["fmt"] == "arrow" and out[1]["decoded_ok"]
    assert out[2]["fmt"] == "arrows" and out[2]["decoded_ok"]
    assert out[1]["line"] == out[2]["line"] == "7\tx\ty"
    assert not out[3]["decoded_ok"]
    assert sniff_document(fb) == "arrow"
    assert extract_document(fb)["text"] == "id\tname\tnote\n7\tx\ty"
    assert sniff_document(b"ARROW1 but prose") != "arrow"


def test_arrow_fuzz_battery():
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from test_fuzz_frontdoors import _battery

    from verified_sources_spark.llm.datablob import arrow_rows_blob

    t = pa.table({"id": list(range(20)),
                  "v": [f"val {i}" for i in range(20)]})
    _battery(lambda: _arrow_file_bytes(t), arrow_rows_blob,
             (DataBlobError,))
    _battery(lambda: _arrow_stream_bytes(t), arrow_rows_blob,
             (DataBlobError,), seed=31)
