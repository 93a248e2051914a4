"""Bucketed co-located joins (no Exchange) + vectorized cosine parity +
watermark late-data semantics."""

from __future__ import annotations

import json

import pyspark.sql.functions as F
import pytest

from verified_sources_spark.catalog import load_table
from verified_sources_spark.llm.similarity import cosine_topk, cosine_topk_vectorized
from verified_sources_spark.operators.bucketing import (
    bucketed_join,
    plan_has_shuffle,
    write_bucketed,
)


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    # managed-table warehouse for bucketed tables
    return spark


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
    write_bucketed(orders, "b_orders", ["o_orderkey"], 8, sort_cols=["o_orderkey"])
    write_bucketed(lineitem, "b_lineitem", ["o_orderkey"], 8, sort_cols=["o_orderkey"])
    # disable auto-broadcast: these test tables are tiny, and a broadcast
    # join would (correctly) bypass the bucketed scan entirely
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, "b_orders", "b_lineitem", ["o_orderkey"])
        n = joined.count()
        assert n == lineitem.count()  # FK join multiplicity
        assert not plan_has_shuffle(joined)  # co-located buckets: NO shuffle
        plain = load_table(spark, sf_dir, "orders").join(
            load_table(spark, sf_dir, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey"),
            "o_orderkey",
        )
        plain.count()
        assert plan_has_shuffle(plain)  # non-bucketed needs the exchange
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_vectorized_cosine_matches_jvm_path(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    jvm = {(r["query_id"], r["neighbor_id"], r["rank"], r["cosine"])
           for r in cosine_topk(e, q, k=3).collect()}
    vec = {(r["query_id"], r["neighbor_id"], r["rank"], r["cosine"])
           for r in cosine_topk_vectorized(e, q, k=3).collect()}
    assert jvm == vec


def test_watermark_drops_late_events(spark, tmp_path):
    """Event-time watermark: a 10-minute watermark finalizes windows; an
    event arriving after its window is finalized is dropped from the
    append-mode aggregate (the reference's late-data story delegated to
    engine watermarks, SURVEY §2.11)."""
    src = tmp_path / "src"
    src.mkdir()

    def write(name, rows):
        (src / name).write_text("\n".join(json.dumps(r) for r in rows) + "\n")

    def run():
        stream = (
            spark.readStream.schema("ts timestamp, k string").json(str(src))
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "10 minutes").alias("w"), F.col("k"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.unix_micros("w.start").alias("ws"), "k", "n")
        )
        q = (
            stream.writeStream.format("parquet")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start(str(tmp_path / "out"))
        )
        q.awaitTermination()
        return spark.read.parquet(str(tmp_path / "out"))

    write("b1.json", [{"ts": "2024-01-01 00:01:00", "k": "a"},
                      {"ts": "2024-01-01 00:02:00", "k": "a"}])
    run()  # watermark advances to 23:52 (max - 10m); window [00:00,00:10) still open
    # batch 2 advances event time far ahead → finalizes the first window
    write("b2.json", [{"ts": "2024-01-01 01:00:00", "k": "a"}])
    out2 = run()
    finalized = {(r["k"], r["n"]) for r in out2.collect()}
    assert ("a", 2) in finalized  # first window emitted on finalization
    # batch 3: an event for the long-finalized first window → late, dropped
    write("b3.json", [{"ts": "2024-01-01 00:03:00", "k": "a"},
                      {"ts": "2024-01-01 02:00:00", "k": "b"}])
    out3 = run()
    rows = {(r["k"], r["ws"], r["n"]) for r in out3.collect()}
    # the 00:00 window result still says 2 — the late event did not reopen it
    assert not any(k == "a" and n == 3 for k, ws, n in rows)
