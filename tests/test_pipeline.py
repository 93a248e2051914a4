"""Pipeline facade: the dlt.pipeline(...).run(...) user surface."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from verified_sources_spark.pipeline import pipeline


def test_run_append_replace_merge(spark, tmp_path):
    p = pipeline(spark, str(tmp_path / "ds"))
    d1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    info = p.run(d1, "items")
    assert (info.rows_loaded, info.disposition) == (2, "append")
    p.run(spark.createDataFrame([(3, "c")], "id long, v string"), "items")
    assert p.read("items").count() == 3

    p.run(spark.createDataFrame([(9, "z")], "id long, v string"), "items",
          write_disposition="replace")
    assert [tuple(r) for r in p.read("items").collect()] == [(9, "z")]

    p.run(spark.createDataFrame([(9, "z2"), (10, "y")], "id long, v string"),
          "items", write_disposition="merge", primary_key="id")
    rows = {r["id"]: r["v"] for r in p.read("items").collect()}
    assert rows == {9: "z2", 10: "y"}

    with pytest.raises(ValueError):
        p.run(d1, "items", write_disposition="merge")  # merge needs primary_key


def test_incremental_state_advances_only_on_success(spark, tmp_path):
    src = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")], "id long, updated long, v string"
    )
    p = pipeline(spark, str(tmp_path / "ds"))
    info1 = p.run(src, "t", write_disposition="merge", primary_key="id",
                  incremental="updated")
    assert info1.rows_loaded == 3 and info1.cursor_value == 30

    # a NEW pipeline instance over the same dataset resumes the cursor;
    # >= boundary re-reads the boundary row, merge dedups it
    p2 = pipeline(spark, str(tmp_path / "ds"))
    src2 = spark.createDataFrame(
        [(3, 30, "c-seen"), (4, 40, "d")], "id long, updated long, v string"
    )
    info2 = p2.run(src2, "t", write_disposition="merge", primary_key="id",
                   incremental="updated")
    assert info2.rows_loaded == 2 and info2.cursor_value == 40
    rows = {r["id"]: r["v"] for r in p2.read("t").collect()}
    assert rows == {1: "a", 2: "b", 3: "c-seen", 4: "d"}

    # rows below the cursor are filtered at extract
    stale = spark.createDataFrame([(5, 15, "old")], "id long, updated long, v string")
    info3 = p2.run(stale, "t", write_disposition="merge", primary_key="id",
                   incremental="updated")
    assert info3.rows_loaded == 0 and info3.cursor_value is None
    assert p2.state.get("t") == 40  # failed-to-qualify batch didn't move state


def test_manifest_format_pipeline_time_travels(spark, tmp_path):
    p = pipeline(spark, str(tmp_path / "ds"), table_format="manifest")
    p.run(spark.createDataFrame([(1, "a")], "id long, v string"), "t",
          write_disposition="replace")
    p.run(spark.createDataFrame([(1, "a2")], "id long, v string"), "t",
          write_disposition="merge", primary_key="id")
    sink = p.sink("t")
    assert [r["v"] for r in sink.read(version=1).collect()] == ["a"]
    assert [r["v"] for r in p.read("t").collect()] == ["a2"]


def test_run_source_multi_table(spark, tmp_path):
    """dlt.source analogue: one call loads every resource of a source
    (e.g. ga4_metadata_tables' metrics + dimensions dict)."""
    p = pipeline(spark, str(tmp_path / "ds"))
    tables = {
        "metrics": spark.createDataFrame([("activeUsers",)], "api_name string"),
        "dimensions": spark.createDataFrame([("country",), ("city",)], "api_name string"),
    }
    infos = p.run_source(tables, write_disposition="replace")
    assert [(i.table, i.rows_loaded) for i in infos] == [("metrics", 1), ("dimensions", 2)]
    assert p.read("dimensions").count() == 2


def test_append_boundary_reread_deduped_by_row_identity(spark, tmp_path):
    """ADVICE r2: the >= last_value boundary re-read must not duplicate
    rows under APPEND — identical boundary rows are recognized by the
    hashes stored with the cursor; a NEW row at the same cursor value
    still loads."""
    p = pipeline(spark, str(tmp_path / "ds"))
    src = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b")], "id long, updated long, v string"
    )
    p.run(src, "t", write_disposition="append", incremental="updated")
    assert p.read("t").count() == 2

    # second run re-reads the boundary row (2, 20, "b") byte-identical,
    # plus a genuinely new row at the SAME cursor value, plus a later row
    src2 = spark.createDataFrame(
        [(2, 20, "b"), (9, 20, "tie"), (3, 30, "c")],
        "id long, updated long, v string",
    )
    info = p.run(src2, "t", write_disposition="append", incremental="updated")
    assert info.rows_loaded == 2  # boundary duplicate dropped, tie + new kept
    rows = sorted((r["id"], r["v"]) for r in p.read("t").collect())
    assert rows == [(1, "a"), (2, "b"), (3, "c"), (9, "tie")]

    # third run re-reads BOTH rows now at the old boundary (updated=30's
    # boundary is 30; re-sending everything ≤ cursor loads nothing new)
    info3 = p.run(src2, "t", write_disposition="append", incremental="updated")
    assert info3.rows_loaded == 0
    assert p.read("t").count() == 4


@pytest.fixture
def checkpoint_dir(spark, tmp_path):
    """A checkpoint directory for reliable cuts on the shared session;
    puts back whatever was set before, including nothing."""
    sc = spark.sparkContext._jsc.sc()
    before = sc.checkpointDir()
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ck"))
    yield
    getattr(sc, "checkpointDir_$eq")(before)  # SparkContext's private var


def _incremental_loads(spark, path):
    """Three merge loads with boundary ties; the row count and the new
    cursor come from the eager cut's observed metrics."""
    p = pipeline(spark, path)
    schema = "id long, updated long, v string"
    batches = [
        [(1, 10, "a"), (2, 20, "b"), (3, 20, "c")],
        [(2, 20, "b"), (3, 20, "c"), (4, 20, "tie"), (5, 30, "d")],
        [(5, 30, "d"), (6, 5, "stale")],
    ]
    out = []
    for rows in batches:
        info = p.run(spark.createDataFrame(rows, schema), "t", write_disposition="merge",
                     primary_key="id", incremental="updated")
        out.append((info.rows_loaded, info.cursor_value, p.state.get("t"),
                    p.state.get_extra("t", "boundary_hashes")))
    table = sorted(tuple(r) for r in p.read("t").collect())
    return out, table


def test_incremental_metrics_same_in_both_cut_modes(spark, tmp_path, monkeypatch, checkpoint_dir):
    monkeypatch.setenv("SPARK_GRAFT_CUT_MODE", "local")
    local = _incremental_loads(spark, str(tmp_path / "local"))
    monkeypatch.setenv("SPARK_GRAFT_CUT_MODE", "reliable")
    reliable = _incremental_loads(spark, str(tmp_path / "reliable"))
    assert reliable == local
    loads, table = local
    assert [(n, c, s) for n, c, s, _ in loads] == [(3, 20, 20), (2, 30, 30), (0, None, 30)]
    assert [len(h) for *_, h in loads] == [2, 1, 1]
    assert table == [(1, 10, "a"), (2, 20, "b"), (3, 20, "c"), (4, 20, "tie"), (5, 30, "d")]


def test_incremental_run_keeps_session_serializable(spark, tmp_path):
    """The observed load metrics must not create the session's
    ObservationManager: it is not serializable, and an ML model that keeps
    the session in its training summary then fails in every task."""
    p = pipeline(spark, str(tmp_path / "ds"))
    src = spark.createDataFrame([(1, 10), (2, 20)], "id long, updated long")
    assert p.run(src, "t", incremental="updated").cursor_value == 20
    spark._jvm.org.apache.spark.util.Utils.serialize(spark._jsparkSession)


def test_cursor_of_a_file_uri_dataset_lives_in_the_dataset(spark, tmp_path, monkeypatch):
    ds = (tmp_path / "ds").as_uri()  # file:///.../ds
    cwds = [tmp_path / "cwd1", tmp_path / "cwd2"]
    for d in cwds:
        d.mkdir()
    src = spark.createDataFrame([(1, 10), (2, 20)], "id long, updated long")
    monkeypatch.chdir(cwds[0])
    assert pipeline(spark, ds).run(src, "t", incremental="updated").cursor_value == 20
    assert (tmp_path / "ds" / "_state" / "cursors.json").is_file()

    # another cwd reads the same cursor: only the row past it loads
    monkeypatch.chdir(cwds[1])
    more = spark.createDataFrame([(2, 20), (3, 30)], "id long, updated long")
    p = pipeline(spark, ds)
    assert p.run(more, "t", incremental="updated").rows_loaded == 1
    assert p.state.get("t") == 30
    assert sorted(r.id for r in p.read("t").collect()) == [1, 2, 3]
    assert [list(d.iterdir()) for d in cwds] == [[], []]


def test_cursor_store_refuses_a_non_local_dataset(spark):
    p = pipeline(spark, "hdfs://namenode:8020/ds")  # no cursor needed yet
    with pytest.raises(ValueError, match="not local"):
        p.state


@pytest.mark.parametrize("disposition", ["append", "replace", "merge"])
def test_every_load_evaluates_its_source_once(spark, tmp_path, disposition):
    """Without a cursor too, the write and the row count come from one
    evaluation: each endpoint of a 20-endpoint fan-out is called once."""
    from verified_sources_spark.sources.rest import RestClient, RestEndpoint, fetch_distributed

    log = str(tmp_path / "calls.log")

    class CountingTransport:
        def request(self, url, params):
            with open(log, "a") as f:
                f.write(url + "\n")
            return {"data": [{"id": int(url.rsplit("/", 1)[1])}]}, {}

    src = fetch_distributed(
        spark.range(20), lambda: RestClient(CountingTransport()),
        lambda p: RestEndpoint(f"https://a/item/{p['id']}"), "id long")
    p = pipeline(spark, str(tmp_path / "ds"))
    info = p.run(src, "items", write_disposition=disposition,
                 primary_key="id" if disposition == "merge" else None)
    assert info.rows_loaded == 20
    with open(log) as f:
        assert sorted(f.read().split()) == sorted(f"https://a/item/{i}" for i in range(20))
    assert sorted(r.id for r in p.read("items").collect()) == list(range(20))


def test_a_refused_load_evaluates_nothing(spark, tmp_path):
    from verified_sources_spark.boundary import map_rows

    log = str(tmp_path / "calls.log")

    def source(i):
        with open(log, "a") as f:
            f.write(f"{i}\n")
        yield {"id": i}

    src = map_rows(spark.range(3), source, "id long")
    p = pipeline(spark, str(tmp_path / "ds"))
    with pytest.raises(ValueError, match="primary_key"):
        p.run(src, "t", write_disposition="merge", incremental="id")
    with pytest.raises(ValueError, match="write_disposition"):
        p.run(src, "t", write_disposition="upsert")
    assert not (tmp_path / "calls.log").exists()
