"""Unit tests for the core operator algebra (incremental, dedup, merge,
routing, normalize, pivot) — modeled on the reference's operator-level
tests (SURVEY.md §5)."""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
import pytest

from verified_sources_spark.operators.dedup import drop_exact_duplicates, keep_latest
from verified_sources_spark.operators.incremental import (
    CursorStore,
    date_range_chunks,
    grouped_cursor_values,
    incremental_filter,
    max_cursor_value,
)
from verified_sources_spark.operators.merge import ParquetSink, merge_dataframes
from verified_sources_spark.operators.normalize import (
    extract_child_table,
    flatten_structs,
    parse_json_column,
)
from verified_sources_spark.operators.pivot import (
    custom_field_pivot,
    rename_from_mapping,
    unpivot,
)
from verified_sources_spark.operators.routing import route_by_column, route_counts


def _rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


# ------------------------------------------------------------- incremental
def test_incremental_filter_max_inclusive_start(spark):
    df = spark.createDataFrame([(i, i * 10) for i in range(10)], "id int, cur int")
    out = incremental_filter(df, "cur", last_value=30, end_value=70)
    assert _rows(out, "cur") == [(30,), (40,), (50,), (60,)]  # >= start, < end


def test_incremental_filter_min_mode(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], "cur int")
    out = incremental_filter(df, "cur", last_value=6, end_value=2, last_value_func="min")
    assert _rows(out, "cur") == [(3,), (4,), (5,), (6,)]  # <= start, > end


def test_incremental_alternate_cursor_paths(spark):
    df = spark.createDataFrame(
        [(1, None, 5), (2, 9, 1), (3, None, 2)], "id int, a int, b int"
    )
    out = incremental_filter(df, "a|b", last_value=5)
    assert _rows(out, "id") == [(1,), (2,)]  # coalesce(a,b) >= 5


def test_max_cursor_and_store(spark, tmp_path):
    df = spark.createDataFrame([(1,), (7,), (3,)], "cur int")
    assert max_cursor_value(df, "cur") == 7
    store = CursorStore(str(tmp_path / "state.json"))
    store.set("r1", 7)
    assert CursorStore(str(tmp_path / "state.json")).get("r1") == 7


def test_grouped_cursor_values(spark):
    df = spark.createDataFrame(
        [("s1", 5), ("s1", 9), ("s2", 2)], "shard string, seq int"
    )
    out = {r["shard"]: r["last_value"] for r in grouped_cursor_values(df, "shard", "seq").collect()}
    assert out == {"s1": 9, "s2": 2}


def test_date_range_chunks(spark):
    out = date_range_chunks(spark, "2024-01-01", "2024-01-10", 4).collect()
    spans = [(r["range_start"], r["range_end"]) for r in sorted(out, key=lambda r: r["range_start"])]
    assert spans[0][0] == dt.datetime(2024, 1, 1)
    assert spans[-1][1] == dt.datetime(2024, 1, 10)  # clipped to end
    assert len(spans) == 3


# ------------------------------------------------------------------- dedup
def test_keep_latest(spark):
    df = spark.createDataFrame(
        [(1, 1, "a"), (1, 3, "c"), (1, 2, "b"), (2, 1, "x")], "k int, v int, s string"
    )
    out = _rows(keep_latest(df, ["k"], ["v"]), "k", "s")
    assert out == [(1, "c"), (2, "x")]


def test_drop_exact_duplicates(spark):
    df = spark.createDataFrame([(1, "a"), (1, "a"), (2, "b")], "k int, s string")
    assert drop_exact_duplicates(df).count() == 2


# ------------------------------------------------------------------- merge
def test_merge_upsert_and_insert(spark):
    tgt = spark.createDataFrame([(1, "old"), (2, "keep")], "k int, v string")
    src = spark.createDataFrame([(1, "new"), (3, "ins")], "k int, v string")
    out = _rows(merge_dataframes(tgt, src, ["k"]), "k", "v")
    assert out == [(1, "new"), (2, "keep"), (3, "ins")]


def test_merge_dedup_sort_keeps_max(spark):
    src = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 5, "c")], "k int, lsn int, v string"
    )
    out = _rows(merge_dataframes(None, src, ["k"], dedup_sort=["lsn"]), "k", "v")
    assert out == [(1, "b"), (2, "c")]


def test_merge_hard_delete(spark):
    tgt = spark.createDataFrame([(1, "x"), (2, "y")], "k int, v string")
    src = spark.createDataFrame(
        [(1, "z", None), (2, "dead", "2024-01-01")], "k int, v string, deleted_ts string"
    )
    out = _rows(merge_dataframes(tgt, src, ["k"], hard_delete_col="deleted_ts"), "k", "v")
    assert out == [(1, "z")]  # key 2 deleted


def test_parquet_sink_dispositions(spark, tmp_path):
    sink = ParquetSink(spark, str(tmp_path / "t"))
    sink.write(spark.createDataFrame([(1, "a")], "k int, v string"), "append")
    sink.write(spark.createDataFrame([(2, "b")], "k int, v string"), "append")
    assert sink.read().count() == 2
    sink.write(spark.createDataFrame([(9, "r")], "k int, v string"), "replace")
    assert _rows(sink.read(), "k") == [(9,)]
    sink.write(
        spark.createDataFrame([(9, "upd"), (10, "new")], "k int, v string"),
        "merge",
        keys=["k"],
    )
    assert _rows(sink.read(), "k", "v") == [(9, "upd"), (10, "new")]


# ----------------------------------------------------------------- routing
def test_route_by_column(spark, tmp_path):
    df = spark.createDataFrame(
        [("t1", 1), ("t2", 2), ("t1", 3), ("push:event", 4), ("a/b", 5)],
        "topic string, v int",
    )
    tables = route_by_column(df, "topic", str(tmp_path), name_template="msgs_{route}")
    # table names come from the values, not their escaped directory names
    assert set(tables) == {"msgs_t1", "msgs_t2", "msgs_push_event", "msgs_a_b"}
    assert spark.read.parquet(tables["msgs_t1"]).count() == 2
    assert [r.v for r in spark.read.parquet(tables["msgs_push_event"]).collect()] == [4]
    assert [r.v for r in spark.read.parquet(tables["msgs_a_b"]).collect()] == [5]
    counts = {r["topic"]: r["n_rows"] for r in route_counts(df, "topic").collect()}
    assert counts == {"t1": 2, "t2": 1, "push:event": 1, "a/b": 1}


# --------------------------------------------------------------- normalize
def test_flatten_structs_depth(spark):
    df = spark.range(1).select(
        F.struct(F.lit(1).alias("a"), F.struct(F.lit(2).alias("b")).alias("inner")).alias("top")
    )
    out = flatten_structs(df, max_nesting=2)
    assert set(out.columns) == {"top__a", "top__inner__b"}
    shallow = flatten_structs(
        spark.range(1).select(
            F.struct(F.struct(F.lit(2).alias("b")).alias("inner")).alias("top")
        ),
        max_nesting=1,
    )
    # depth cap: remaining struct serialized to JSON string
    assert dict(shallow.dtypes)["top__inner"] == "string"


def test_extract_child_table(spark):
    df = spark.createDataFrame([(1, ["x", "y"]), (2, [])], "id int, tags array<string>")
    out = _rows(extract_child_table(df, "tags", ["id"]), "id", "_list_idx", "tags")
    assert out == [(1, 0, "x"), (1, 1, "y"), (2, None, None)]


def test_parse_json_column(spark):
    df = spark.createDataFrame([('{"a": 1}',), ('{"a": 2}',)], "js string")
    out = parse_json_column(df, "js")
    assert [r["js"]["a"] for r in out.orderBy(F.col("js.a")).collect()] == [1, 2]


# ------------------------------------------------------------------- pivot
def test_custom_field_pivot(spark):
    tickets = spark.createDataFrame(
        [(1, [{"id": 10, "value": "opt1"}, {"id": 11, "value": "hello"}]), (2, [{"id": 10, "value": "opt2"}])],
        "ticket_id int, custom_fields array<struct<id:int,value:string>>",
    )
    dim = spark.createDataFrame(
        [(10, "Color", {"opt1": "Red", "opt2": "Blue"}), (11, "Note", None)],
        "id int, title string, options map<string,string>",
    )
    out = custom_field_pivot(tickets, dim, "ticket_id")
    rows = {r["ticket_id"]: (r["color"], r["note"]) for r in out.collect()}
    assert rows == {1: ("Red", "hello"), 2: ("Blue", None)}


def test_unpivot(spark):
    df = spark.createDataFrame([(1, 10.0, 20.0)], "id int, a double, b double")
    out = _rows(unpivot(df, ["id"], ["a", "b"], "var", "val"), "id", "var", "val")
    assert out == [(1, "a", 10.0), (1, "b", 20.0)]


def test_rename_from_mapping_first_seen_wins(spark):
    df = spark.createDataFrame([(1, 2, 3)], "h1 int, h2 int, h3 int")
    out = rename_from_mapping(df, {"h1": "My Field", "h2": "My Field", "h3": "Other"})
    assert out.columns == ["my_field", "h2", "other"]  # h2 loses the name race


def test_map_to_columns_dynamic_attributes(spark):
    from verified_sources_spark.operators.normalize import map_to_columns

    df = spark.createDataFrame(
        [(1, {"First Name": "Ada", "Hire Date": "2024-01-01"}), (2, {"First Name": "Bob"})],
        "id int, attrs map<string,string>",
    )
    out = map_to_columns(df, "attrs")
    assert set(out.columns) == {"id", "first_name", "hire_date"}
    rows = {r["id"]: (r["first_name"], r["hire_date"]) for r in out.collect()}
    assert rows == {1: ("Ada", "2024-01-01"), 2: ("Bob", None)}


def test_dlt_type_map(spark):
    from verified_sources_spark.functions import spark_type_for

    import pyspark.sql.functions as F
    # a wei-typed column holds >64-bit integers exactly
    # decimal(38,0) holds up to 38 digits — wei values beyond that must be
    # range-checked upstream (Spark has no 256-bit integer type)
    df = spark.createDataFrame([("15792089237316195423570985008687907853",)], "w string")
    wei = df.select(F.col("w").cast(spark_type_for("wei")).alias("w")).collect()[0]["w"]
    assert str(wei) == "15792089237316195423570985008687907853"
    assert spark_type_for("time") == "long"
    import pytest as _pytest
    with _pytest.raises(ValueError):
        spark_type_for("nope")


def test_approx_count_distinct_within_tolerance(spark):
    """SURVEY §7 step-4 row: approx_count_distinct (HLL++) — the sketch
    path for COUNT(DISTINCT) at 100 TB where exactness isn't required.
    Default rsd=0.05; assert the estimate lands within 10% of exact on
    the orders customer keys."""
    import pyspark.sql.functions as F

    from verified_sources_spark.catalog import load_table

    o = load_table(spark, "/root/testdata/sf0.001", "orders")
    exact = o.select(F.countDistinct("o_custkey")).first()[0]
    approx = o.select(F.approx_count_distinct("o_custkey")).first()[0]
    assert abs(approx - exact) / exact < 0.10


def test_ntile_from_rank_matches_sql_ntile(spark):
    """ntile_from_rank reproduces SQL ntile(k) exactly across uneven
    splits, k > n, and k | n."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from verified_sources_spark.operators.prefix import ntile_from_rank

    for n, k in [(10, 4), (12, 4), (3, 7), (1, 1), (100, 7)]:
        df = spark.range(1, n + 1).withColumnRenamed("id", "v")
        w = Window.orderBy("v")
        got = (
            df.withColumn("rank", F.row_number().over(w).cast("long"))
            .withColumn("expected", F.ntile(k).over(w))
            .withColumn("derived", ntile_from_rank(F.col("rank"), n, k))
        )
        bad = got.filter(F.col("expected") != F.col("derived")).count()
        assert bad == 0, f"n={n} k={k}"


def test_sessionize_bucketed_matches_plain(spark):
    """The skew-proof (user, time-bucket) sessionizer must be
    value-identical to the one-window cumsum — including sessions that
    STRADDLE bucket boundaries (merge), multi-bucket chains, and
    bucket-boundary gaps that genuinely start new sessions."""
    import datetime as dt

    from verified_sources_spark.operators.sessionize import (
        sessionize_bucketed,
        sessionize_plain,
    )

    base = dt.datetime(2024, 6, 1, 0, 0, 0)
    m = lambda minutes: (base + dt.timedelta(minutes=minutes),)
    rows = []
    eid = 0
    # user 1: a session straddling midnight (23:50 → 00:10 next day),
    # then a >30min gap inside the next day
    for minutes in (23 * 60 + 50, 24 * 60 + 10, 24 * 60 + 20, 26 * 60):
        rows.append((1, eid, base + dt.timedelta(minutes=minutes))); eid += 1
    # user 2: a chain covering three consecutive days via boundary merges
    for minutes in (23 * 60 + 55, 24 * 60 + 15, 47 * 60 + 55, 48 * 60 + 5):
        rows.append((2, eid, base + dt.timedelta(minutes=minutes))); eid += 1
    # user 3: boundary gap JUST over 30min — no merge
    for minutes in (23 * 60 + 25, 24 * 60):
        rows.append((3, eid, base + dt.timedelta(minutes=minutes))); eid += 1
    # user 4: single event
    rows.append((4, eid, base)); eid += 1
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")

    plain = {
        (r.user_id, r.event_id, r.session_id)
        for r in sessionize_plain(df, "user_id", "ts", "event_id").collect()
    }
    bucketed = {
        (r.user_id, r.event_id, r.session_id)
        for r in sessionize_bucketed(df, "user_id", "ts", "event_id").collect()
    }
    assert bucketed == plain
    by_user = {}
    for u, _e, s in sorted(bucketed):
        by_user.setdefault(u, []).append(s)
    assert by_user[1] == [1, 1, 1, 2]   # straddle merged, later gap splits
    assert by_user[2] == [1, 1, 2, 2]   # two straddling sessions
    assert by_user[3] == [1, 2]         # 35-min boundary gap: no merge
    assert by_user[4] == [1]


def test_sessionize_auto_probes_skew_and_picks_the_cheap_plan(
        spark, monkeypatch):
    """Unskewed input keeps the 1-shuffle single-window plan (no join
    anywhere — the bucketed boundary-merge join is the 2x tax r7 made
    every caller pay); a measured hot user flips to the bucketed
    formulation, value-identical.  The hot gate needs BOTH the
    absolute floor and the mean-ratio: uniformly-busy users never
    bucket."""
    import datetime as dt

    from verified_sources_spark import sizing
    from verified_sources_spark.operators.sessionize import (
        sessionize,
        sessionize_bucketed,
        sessionize_plain,
    )

    base = dt.datetime(2024, 6, 1)
    rows = [
        (u, u * 100 + i, base + dt.timedelta(minutes=40 * i))
        for u in range(1, 5)
        for i in range(6)
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")

    def has_join(out):
        return "Join" in out._jdf.queryExecution().optimizedPlan().toString()

    # uniform: plain plan, no join
    monkeypatch.setattr(sizing, "HOT_MIN_ROWS", 2)
    out = sessionize(df, "user_id", "ts", "event_id")
    assert not has_join(out)

    # one hot user (12 events vs 2 each): bucketed under lowered gates
    hot_rows = [(9, 900 + i, base + dt.timedelta(minutes=i)) for i in range(12)]
    hot_rows += [
        (u, u * 10 + i, base + dt.timedelta(minutes=40 * i))
        for u in (1, 2)
        for i in range(2)
    ]
    hot_df = spark.createDataFrame(
        hot_rows, "user_id long, event_id long, ts timestamp"
    )
    monkeypatch.setattr(sizing, "HOT_MIN_ROWS", 10)
    monkeypatch.setattr(sizing, "HOT_SKEW_RATIO", 2.0)
    out_hot = sessionize(hot_df, "user_id", "ts", "event_id")
    assert has_join(out_hot)
    got = {
        (r.user_id, r.event_id, r.session_id) for r in out_hot.collect()
    }
    want = {
        (r.user_id, r.event_id, r.session_id)
        for r in sessionize_plain(hot_df, "user_id", "ts", "event_id").collect()
    }
    assert got == want

    # absolute floor wins even when the ratio trips (12 >= 2x mean but
    # < 200k rows): stays plain at default gates
    monkeypatch.undo()
    assert not has_join(sessionize(hot_df, "user_id", "ts", "event_id"))
    # the two formulations called directly skip the probe
    assert has_join(sessionize_bucketed(df, "user_id", "ts", "event_id"))
    assert not has_join(sessionize_plain(hot_df, "user_id", "ts", "event_id"))


def test_sessionize_static_bound_from_parquet_footers(spark, tmp_path):
    """The auto-mode short-circuit reads row counts from parquet footers
    on the driver (zero Spark jobs) — exact for scan/filter plans, None
    (probe required) for plans that can multiply rows, read a file
    twice, or have no files."""
    from verified_sources_spark.sizing import row_upper_bound

    p = str(tmp_path / "ev")
    spark.range(1000).selectExpr(
        "id as user_id", "id as event_id"
    ).write.parquet(p)
    df = spark.read.parquet(p)
    assert row_upper_bound(df) == 1000
    # filters only reduce rows: footer sum stays a valid upper bound
    assert row_upper_bound(df.filter("user_id < 10")) == 1000
    # a self-join can multiply rows — bound must refuse
    assert row_upper_bound(df.join(df, "user_id")) is None
    # so can a per-row Python stage (map_rows' MapInArrow)
    from verified_sources_spark.boundary import map_rows

    def twice(user_id):
        yield from ({"user_id": user_id},) * 2

    assert row_upper_bound(map_rows(df.select("user_id"), twice, "user_id long")) is None
    # a self-union holds 2000 rows but reads the same files: inputFiles()
    # is a distinct set, so summing it would undercount — bound must refuse
    assert row_upper_bound(df.unionByName(df)) is None
    # in-memory relations have no input files — bound must refuse, also
    # when unioned with a file scan (its rows are not in any footer)
    mem = spark.createDataFrame([(1, 1)], "user_id long, event_id long")
    assert row_upper_bound(mem) is None
    assert row_upper_bound(df.unionByName(mem)) is None
    # partitioned layout: files sit one directory down per partition
    # value, and every one of them counts
    pp = str(tmp_path / "part")
    spark.range(1000).selectExpr(
        "id as user_id", "id % 7 as day"
    ).write.partitionBy("day").parquet(pp)
    assert row_upper_bound(spark.read.parquet(pp)) == 1000
