"""verified_sources_spark.boundary.map_rows: the one batch loop around
every per-row Python stage."""

from __future__ import annotations

import pathlib
import re

from pyspark.sql import functions as F

import pyarrow as pa

from verified_sources_spark.boundary import _arrow_loop, _row_chunks, map_batches, map_groups, map_rows
from verified_sources_spark.cut import cut

PKG = pathlib.Path(__file__).resolve().parent.parent / "verified_sources_spark"

# the hand-written batch loops: file -> (count, reason)
BATCH_LOOPS = {
    "boundary.py": (1, "the one batch loop, behind map_rows and map_batches"),
    "llm/similarity.py": (1, "the Lloyd fold sums a whole partition: at most k x partitions rows reach the driver"),
    "sources/pg_writer.py": (1, "a sink: one transaction per partition"),
}


def test_long_column_round_trips_64_bits_with_nulls(spark):
    df = spark.createDataFrame([(0,), (1,), (2,)], "i long").coalesce(1)
    wide = {0: 2**63 - 1, 1: -(2**63), 2: None}

    def emit(i):
        yield {"i": i, "h": wide[i]}

    got = {r.i: r.h for r in map_rows(df, emit, "i long, h long").collect()}
    assert got == wide


def test_rows_per_input_follow_the_generator(spark):
    df = spark.createDataFrame([(0,), (1,), (3,)], "n long")

    def fan(n):
        for k in range(n):
            yield {"n": n, "k": k}

    out = map_rows(df, fan, "n long, k int").collect()
    assert sorted((r.n, r.k) for r in out) == [(1, 0), (3, 0), (3, 1), (3, 2)]


def test_multi_column_input_in_column_order(spark):
    df = spark.createDataFrame([("a", 1), ("b", 2)], "s string, n long")

    def rep(s, n):
        yield {"t": s * n}

    assert sorted(r.t for r in map_rows(df, rep, "t string").collect()) == ["a", "bb"]


def test_empty_partition_gives_schemad_empty_frame(spark):
    # partition 0 (ids 0, 1) yields no rows: its batch is an empty frame
    df = spark.range(0, 4, numPartitions=2)

    def late(i):
        if i >= 2:
            yield {"n": i, "blob": b"x", "s": "y"}

    out = map_rows(df, late, "n long, blob binary, s string")
    assert out.schema.simpleString() == "struct<n:bigint,blob:binary,s:string>"
    assert sorted(out.collect()) == [(2, b"x", "y"), (3, b"x", "y")]
    assert map_rows(df.where("id < 2"), late, "n long, blob binary, s string").collect() == []


def test_missing_key_reads_null(spark):
    df = spark.createDataFrame([(1,), (2,)], "n long")

    def partial(n):
        yield {"n": n} if n == 1 else {"n": n, "s": "two", "h": 7}

    rows = {r.n: (r.s, r.h) for r in map_rows(df, partial, "n long, s string, h long").collect()}
    assert rows == {1: (None, None), 2: ("two", 7)}


def test_plan_names_the_stage_after_its_enclosing_function(spark):
    df = spark.range(3)

    def probe(i):
        yield {"i": i}

    plan = map_rows(df, probe, "i long")._jdf.queryExecution().optimizedPlan().toString()
    assert "MapInArrow" in plan
    assert "test_plan_names_the_stage_after_its_enclosing_function.probe(" in plan


def test_nullable_integral_input_arrives_as_int_and_none(spark):
    # one batch holding a null: a pandas crossing would hand both columns
    # over as float64, rounding the long to 4611686018427387904
    big = (1 << 62) + 1
    df = spark.createDataFrame([(big, None), (None, 7)], "h long, n int").coalesce(1)

    def seen(h, n):
        yield {"h": h, "n": n, "types": f"{type(h).__name__},{type(n).__name__}"}

    out = map_rows(df, seen, "h long, n int, types string").collect()
    assert sorted(out, key=str) == sorted(
        [(big, None, "int,NoneType"), (None, 7, "NoneType,int")], key=str)


def test_values_arrive_as_arrow_to_pylist_gives_them(spark):
    # one batch: an array as a list, an array<struct> element as a dict,
    # a null double as None (a pandas crossing gave a numpy array and NaN)
    df = spark.createDataFrame(
        [([1, 2], [("a", 1)], None), ([], [], 2.5)],
        "xs array<long>, ss array<struct<k:string,v:long>>, d double").coalesce(1)

    def seen(xs, ss, d):
        yield {"types": f"{type(xs).__name__},{[type(e).__name__ for e in ss]},{d!r}",
               "n": len(xs) + sum(e["v"] for e in ss)}

    out = map_rows(df, seen, "types string, n long")
    assert sorted(out.collect()) == [("list,['dict'],None", 3), ("list,[],2.5", 0)]


def test_no_map_rows_plan_casts_to_decimal(spark):
    # the nullable long input crosses as it is: no DECIMAL(20,0) projection
    df = spark.createDataFrame([(1,), (None,)], "h long")

    def a(h):
        yield {"h": h}

    def b(h):
        yield {"t": str(h)}

    for out in (map_rows(df, a, "h long"), map_rows(map_rows(df, a, "h long").filter("true"), b, "t string")):
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "MapInArrow" in plan and "decimal(20,0)" not in plan.lower()


def _chain(df, between):
    """Three stages: fan-out with zero-row inputs, a null long and
    binary, each read through a select/alias projection."""
    def a(n):
        for k in range(n % 3):
            yield {"n": n, "h": None if k else (1 << 62) + n,
                   "blob": None if n == 4 else bytes([n, k])}

    def b(h, blob, m):
        yield {"id": m, "h": h, "b2": None if blob is None else blob + b"!",
               "types": f"{type(h).__name__},{type(blob).__name__},{type(m).__name__}"}
        if m == 5:
            yield {"id": -m}

    def c(i, b2, h, types):
        yield {"out": f"{i}:{b2!r}:{h}:{types}", "h": h}

    s1 = between(map_rows(df, a, "n long, h long, blob binary"))
    s2 = between(map_rows(s1.select("h", "blob", F.col("n").alias("m")), b,
                          "id long, h long, b2 binary, types string"))
    return map_rows(s2.select(F.col("id").alias("i"), "b2", "h", "types").alias("x"),
                    c, "out string, h long")


def test_chained_stages_fuse_into_one_python_node(spark):
    df = spark.createDataFrame([(i,) for i in range(8)], "n long").repartition(2)
    fused = _chain(df, lambda s: s)
    plan = fused._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("MapInArrow") == 1
    assert "MapInArrow _chain.a+_chain.b+_chain.c(" in plan
    # cut() between the stages forces one Python node each
    assert sorted(fused.collect()) == sorted(_chain(df, cut).collect())
    assert len(fused.collect()) == 9


def test_filter_or_computed_column_between_stages_does_not_fuse(spark):
    df = spark.range(4)

    def a(i):
        yield {"n": i, "s": str(i)}

    def b(n, s):
        yield {"t": f"{n}{s}"}

    first = map_rows(df, a, "n long, s string")
    for between in (first.filter("n > 1"),
                    first.select((F.col("n") + 1).alias("n"), "s")):
        plan = map_rows(between, b, "t string")._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("MapInArrow") == 2
    assert sorted(r.t for r in map_rows(first.filter("n > 1"), b, "t string").collect()) == ["22", "33"]


def test_no_hand_written_row_loops_outside_boundary():
    """No Spark: new per-row stages go through map_rows, and every batch
    loop left is on BATCH_LOOPS with its reason."""
    frame_yield = re.compile(r"yield (pd\.DataFrame\(\s*rows|exact_frame\()")
    loops = {}
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        src = path.read_text()
        if rel != "boundary.py":
            assert not frame_yield.search(src), f"{rel}: per-row frame built by hand; use map_rows"
        n = len(re.findall(r"^\s*for (pdf|batch) in batches:", src, re.M))
        if n:
            loops[rel] = n
    assert loops == {k: n for k, (n, _) in BATCH_LOOPS.items()}
    assert all(reason for _, reason in BATCH_LOOPS.values())


# the files that still cross through pandas, each for a reason the
# Arrow entry points cannot serve
PANDAS_FILES = {
    "streaming/stateful.py": "applyInPandasWithState has no Arrow form with state",
    "operators/grouped.py": "a pandas reference implementation tests compare against",
    "sources/arrow_ingest.py": "its public fetch returns pandas frames",
}


def test_no_pandas_crossing_outside_the_allowlist():
    """No Spark: every other Python stage crosses through Arrow."""
    crossing = re.compile(
        r"\.(mapInPandas|applyInPandas\w*)\(|\bpandas_udf\(|^\s*(import|from) pandas\b", re.M)
    found = {path.relative_to(PKG).as_posix() for path in sorted(PKG.rglob("*.py"))
             if crossing.search(path.read_text())}
    assert found <= set(PANDAS_FILES), sorted(found - set(PANDAS_FILES))


# an executor-side fan-out outside the boundary: an RDD crossing, or a
# thread pool in a source
RDD_CROSSING = re.compile(
    r"\.rdd\.(mapPartitions|map|flatMap)\(|createDataFrame\(\s*[\w.]*rdd\b")


def test_no_rdd_crossing_or_source_thread_pool():
    """No Spark: every fan-out over a DataFrame is a map_rows /
    map_batches stage, and no source fans out on driver threads."""
    found = set()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        src = path.read_text()
        if RDD_CROSSING.search(src):
            found.add(f"{rel}: RDD crossing")
        if rel.startswith("sources/") and "ThreadPoolExecutor" in src:
            found.add(f"{rel}: thread pool")
    assert not found, sorted(found)


def test_map_rows_hands_on_a_batch_every_limit_rows():
    """No Spark: one input row that yields 35 rows leaves the batch loop
    as batches of 10, 10, 10 and 5 under a limit of 10."""
    def fan(n):
        for k in range(n):
            yield {"k": k}

    batch = pa.record_batch({"n": pa.array([35], pa.int64())})
    out = list(_arrow_loop([batch], _row_chunks(fan, ["k"], 10),
                           pa.schema([("k", pa.int64())])))
    assert [b.num_rows for b in out] == [10, 10, 10, 5]
    assert [k for b in out for k in b.column("k").to_pylist()] == list(range(35))


BIG = (1 << 62) + 1   # 4611686018427387904 after a float64 round trip


def test_map_batches_keeps_64_bits_beside_a_null(spark):
    df = spark.createDataFrame([(BIG,), (None,), (7,)], "h long").coalesce(1)

    def probe(batch):
        h = batch.column("h")
        return {"h": h, "less": [None if v is None else v - 1 for v in h.to_pylist()],
                "kind": [type(h).__name__] * batch.num_rows}

    out = map_batches(df, probe, "h long, less long, kind string")
    assert sorted(out.collect(), key=str) == sorted(
        [(BIG, BIG - 1, "Int64Array"), (None, None, "Int64Array"), (7, 6, "Int64Array")], key=str)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "MapInArrow test_map_batches_keeps_64_bits_beside_a_null.probe(" in plan


def test_map_groups_keeps_64_bits_beside_a_null(spark):
    df = spark.createDataFrame([(1, BIG), (1, None), (BIG, 7)], "k long, h long")

    def probe(key, table):
        return {"k": [key[0]], "key_type": [type(key[0]).__name__],
                "hs": [sorted(table.column("h").to_pylist(), key=str)]}

    out = map_groups(df, ["k"], probe, "k long, key_type string, hs array<long>")
    assert sorted(out.collect()) == [(1, "int", [BIG, None]), (BIG, "int", [7])]
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "FlatMapGroupsInArrow [k#" in plan
    assert "test_map_groups_keeps_64_bits_beside_a_null.probe(" in plan
