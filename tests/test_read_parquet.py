"""operators.fs.read_parquet: parquet schemas from the footers, read on
the driver.

Building a sink read, a manifest read or a catalog table runs no Spark
job; every schema (column order included) and every row equals what
Spark's own inference gives; and the file-count dispatch in
``sizing.footers_on_driver`` gives the same result on both sides.
"""

from __future__ import annotations

import ast
import pathlib
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from verified_sources_spark import catalog
from verified_sources_spark.operators.fs import read_parquet
from verified_sources_spark.operators.merge import ParquetSink
from verified_sources_spark.operators.table_format import ManifestTable

PKG = pathlib.Path(__file__).resolve().parent.parent / "verified_sources_spark"
THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def _jobs(spark, fn):
    """(result of fn(), Spark job ids it ran)."""
    sc = spark.sparkContext
    group = f"read_parquet_{uuid.uuid4().hex}"  # the tracker keeps old groups' jobs
    sc.setJobGroup(group, "schema resolution")
    try:
        out = fn()
        return out, list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _spark_read(spark, *paths, merge_schema=False, base_path=None):
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    if base_path is not None:
        reader = reader.option("basePath", base_path)
    return reader.parquet(*paths)


def _same(got, want):
    assert got.schema == want.schema  # names, order, types, nullability
    assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))


def _drift_dir(root):
    """Files whose names sort differently by raw and by decoded path, and
    differently again from most directory listings; each adds a column,
    so the merged column order shows the file order."""
    root.mkdir()
    for name, extra in [
        ("part-10.parquet", "ten"),
        ("part-2.parquet", "two"),
        ("b c.parquet", "space"),  # ' ' sorts before '!' decoded, after as %20
        ("b!.parquet", "bang"),
        ("part-1.parquet", "one"),
    ]:
        pq.write_table(pa.table({"id": [len(name)], extra: [name]}), root / name)
    return root


def _partitioned_sink(spark, root):
    sink = ParquetSink(spark, str(root), partition_by=["day"])
    sink.append(spark.createDataFrame([(1, "a", "2024-01-01")], "k long, v string, day string"))
    sink.append(
        spark.createDataFrame(
            [(2, "b", 9.5, "2024-01-02")], "k long, v string, score double, day string"
        )
    )
    return str(root)


def _timestamps(root):
    """Naive microsecond and nanosecond timestamps: Spark infers the first
    as TIMESTAMP_NTZ and reads the second as bigint under nanosAsLong."""
    root.mkdir()
    ts = pa.array([1_700_000_000_000_000, None], pa.timestamp("us"))
    ns = pa.array([1_700_000_000_000_000_123, 5], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts, "ns": ns}), root / "t.parquet")
    return str(root / "t.parquet")


def _summarized(root):
    """Data files plus a ``_common_metadata`` summary that names one more
    column: without merge Spark takes the summary's schema, with merge
    it merges the summary after the data files."""
    root.mkdir()
    pq.write_table(pa.table({"id": [1], "a": ["x"]}), root / "part-0.parquet")
    pq.write_table(pa.table({"id": [2], "b": [2.5]}), root / "part-1.parquet")
    pq.write_metadata(pa.schema([("id", pa.int64()), ("c", pa.string())]), root / "_common_metadata")
    return str(root)


def _cases(spark, tmp_path, sf_dir):
    drift = _drift_dir(tmp_path / "drift")
    summarized = _summarized(tmp_path / "summarized")
    part = _partitioned_sink(spark, tmp_path / "part")
    files = sorted(str(p) for p in pathlib.Path(part).rglob("*.parquet"))
    return {
        "drift": ((str(drift),), {"merge_schema": True}),
        "drift_first_file": ((str(drift),), {}),
        "partitioned": ((part,), {"merge_schema": True}),
        "base_path_files": (tuple(files), {"merge_schema": True, "base_path": part}),
        "events": ((f"{sf_dir}/events.parquet",), {}),
        "timestamps": ((_timestamps(tmp_path / "ts"),), {"merge_schema": True}),
        "summary_first": ((summarized,), {}),
        "summary_merged": ((summarized,), {"merge_schema": True}),
    }


CASES = [
    "drift",
    "drift_first_file",
    "partitioned",
    "base_path_files",
    "events",
    "timestamps",
    "summary_first",
    "summary_merged",
]


@pytest.mark.parametrize("case", CASES)
def test_matches_spark_inference(spark, tmp_path, sf_dir, case):
    paths, kw = _cases(spark, tmp_path, sf_dir)[case]
    got, jobs = _jobs(spark, lambda: read_parquet(spark, *paths, **kw))
    assert jobs == []
    _same(got, _spark_read(spark, *paths, **kw))


def test_drift_column_order_follows_spark_file_order(spark, tmp_path):
    got = read_parquet(spark, str(_drift_dir(tmp_path / "d")), merge_schema=True)
    assert got.columns == ["id", "space", "bang", "one", "ten", "two"]


@pytest.mark.parametrize("case", CASES)
def test_file_count_dispatch_both_sides_agree(spark, tmp_path, sf_dir, case):
    """Threshold 0 sends every read to Spark's own schema-merge job."""
    paths, kw = _cases(spark, tmp_path, sf_dir)[case]
    driver, driver_jobs = _jobs(spark, lambda: read_parquet(spark, *paths, **kw))
    before = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, "0")
    try:
        spark_side, spark_jobs = _jobs(spark, lambda: read_parquet(spark, *paths, **kw))
    finally:
        spark.conf.set(THRESHOLD, before)
    assert driver_jobs == [] and spark_jobs
    _same(driver, spark_side)


def test_sink_manifest_and_catalog_reads_run_no_job(spark, tmp_path, sf_dir, monkeypatch):
    sink = ParquetSink(spark, str(tmp_path / "sink"))
    sink.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    sink.append(spark.createDataFrame([(2, "b", 1.5)], "k long, v string, x double"))
    table = ManifestTable(spark, str(tmp_path / "manifest"))
    table.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    table.append(spark.createDataFrame([(2, "b", 1.5)], "k long, v string, x double"))
    monkeypatch.setattr(catalog, "_TABLE_CACHE", {})

    for build in (
        sink.read,
        table.read,
        lambda: [catalog.load_table(spark, sf_dir, t) for t in catalog.TABLES],
    ):
        _, jobs = _jobs(spark, build)
        assert jobs == [], build
    assert sorted(sink.read().collect()) == [(1, "a", None), (2, "b", 1.5)]
    assert sorted(table.read().collect()) == [(1, "a", None), (2, "b", 1.5)]


def _raised(fn):
    with pytest.raises(Exception) as info:
        fn().collect()
    return type(info.value), getattr(info.value, "getCondition", lambda: None)()


@pytest.mark.parametrize("broken", ["empty_dir", "corrupt_footer", "incompatible_types"])
def test_errors_are_sparks_own(spark, tmp_path, broken):
    root = tmp_path / broken
    root.mkdir()
    if broken == "corrupt_footer":
        pq.write_table(pa.table({"id": [1]}), root / "a.parquet")
        (root / "b.parquet").write_bytes(b"PAR1 not a footer PAR1")
    elif broken == "incompatible_types":
        pq.write_table(pa.table({"id": [1]}), root / "a.parquet")
        pq.write_table(pa.table({"id": ["one"]}), root / "b.parquet")
    kw = {"merge_schema": True}
    assert _raised(lambda: read_parquet(spark, str(root), **kw)) == _raised(
        lambda: _spark_read(spark, str(root), **kw)
    )


def test_names_equal_but_for_case_merge_as_spark_does(spark, tmp_path):
    root = tmp_path / "case"
    root.mkdir()
    pq.write_table(pa.table({"Id": [1]}), root / "a.parquet")
    pq.write_table(pa.table({"id": [2]}), root / "b.parquet")
    got = read_parquet(spark, str(root), merge_schema=True)
    _same(got, _spark_read(spark, str(root), merge_schema=True))


def test_file_column_that_is_also_a_partition_column(spark, tmp_path):
    part = tmp_path / "t" / "p=1"
    part.mkdir(parents=True)
    pq.write_table(pa.table({"p": ["x"], "v": [1]}), part / "a.parquet")
    got = read_parquet(spark, str(tmp_path / "t"))
    _same(got, _spark_read(spark, str(tmp_path / "t")))


# ------------------------------------------------------------ source scan


def _reader_chain(call: ast.Call) -> tuple[bool, bool]:
    """(``call``'s receiver chain passes through ``.read``, it sets
    ``.schema(...)``)."""
    reads = schema = False
    node = call.func.value
    while True:
        if isinstance(node, ast.Call):
            if isinstance(node.func, ast.Attribute) and node.func.attr == "schema":
                schema = True
            node = node.func
        elif isinstance(node, ast.Attribute):
            reads = reads or node.attr == "read"
            node = node.value
        else:
            return reads, schema


def _infers_parquet_schema(tree: ast.AST):
    """Line numbers of schema-inferring parquet reads: a ``read`` chain
    ending in ``.parquet(...)`` with no ``.schema(...)``, or a
    ``"mergeSchema"`` option."""
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "parquet"
        ):
            reads, schema = _reader_chain(node)
            if reads and not schema:
                yield node.lineno
        elif isinstance(node, ast.Constant) and node.value == "mergeSchema":
            yield node.lineno


def test_no_schema_inferring_parquet_read_outside_read_parquet():
    found = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        allowed = set()
        if path == PKG / "operators" / "fs.py":
            for fn in ast.walk(tree):
                if isinstance(fn, ast.FunctionDef) and fn.name in ("read_parquet", "_footer_schema"):
                    allowed |= set(range(fn.lineno, fn.end_lineno + 1))
        rel = path.relative_to(PKG)
        found += [f"{rel}:{n}" for n in _infers_parquet_schema(tree) if n not in allowed]
    assert found == [], "route these through operators.fs.read_parquet"


def test_source_scan_sees_a_bare_read():
    src = (
        "a = spark.read.parquet(p)\n"
        "b = spark.read.option('mergeSchema', 'true').parquet(p)\n"
        "c = spark.read.schema(s).parquet(p)\n"
        "df.write.mode('overwrite').parquet(p)\n"
    )
    assert sorted(set(_infers_parquet_schema(ast.parse(src)))) == [1, 2]
