"""Driver-contract smoke tests: entry(), queries(), oracle_sql() and a
DuckDB hash-compare for a fast representative subset (the full gate runs
in tools/check_correctness.py)."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from tools.check_correctness import TABLES, result_hash  # noqa: E402

FAST_ORACLE_SUBSET = [
    "q1_pricing_summary",
    "top_k_orders",
    "events_keep_latest_per_user",
    "json_extract_events",
    "doc_fingerprints",
    "embedding_label_stats",
]


def test_entry_runs(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_queries_and_oracles_aligned():
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    assert set(os_) <= set(qs)
    # the vast majority must be oracle-checked
    assert len(os_) >= 0.8 * len(qs)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


@pytest.mark.parametrize("name", FAST_ORACLE_SUBSET)
def test_oracle_hash_match(spark, sf_dir, duck, name):
    sdf = entrymod.queries()[name](spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    res = duck.execute(entrymod.oracle_sql()[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert len(srows) == len(drows)
    assert sorted(sdf.columns) == sorted(dcols)
    assert result_hash(sdf.columns, srows) == result_hash(dcols, drows)
