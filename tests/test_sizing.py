"""Branch parity for every size-based dispatch (verified_sources_spark.sizing,
sessionize's hot-user gate included).

Each dispatching registry entry runs with its threshold forced to 0
(every input counts as large) and to 10**9 (every input counts as
small).  The plan must really take the other branch — the Arrow GEMM's
MapInArrow, a cut's LogicalRDD, the Spark connected-components loop's
changed flag or the bucketed sessionizer's boundary-merge Join appears
or disappears — and the rows must hash identically, so a threshold only
ever moves cost.
"""

from __future__ import annotations

import pytest

from tools.check_correctness import result_hash
from verified_sources_spark import sizing
from verified_sources_spark.plans.queries import QUERIES

# entry → the plan node its large-input branch adds
BRANCH_MARKERS = {
    "cosine_topk_embeddings": "MapInArrow",
    "lsh_candidate_pairs_docs": "LogicalRDD",
    "cross_source_dedup_docs": "LogicalRDD",
    "incremental_dedup_docs": "LogicalRDD",
    "sessionize_events": "Join",
    # the Spark loop's last cut keeps its changed flag; driver labels do not
    "near_dedup_docs_keep": "_chg",
    "leakage_safe_split_docs": "_chg",
    "simhash_dedup_groups_docs": "_chg",
}


@pytest.mark.parametrize("name", sorted(BRANCH_MARKERS))
def test_branch_parity(spark, sf_dir, monkeypatch, name):
    marker = BRANCH_MARKERS[name]

    def run(min_rows):
        monkeypatch.setattr(sizing, "GEMM_MIN_ROWS", min_rows)
        monkeypatch.setattr(sizing, "CUT_MIN_ROWS", min_rows)
        monkeypatch.setattr(sizing, "LOCAL_GRAPH_MAX_EDGES", min_rows)
        monkeypatch.setattr(sizing, "HOT_MIN_ROWS", min_rows)
        monkeypatch.setattr(sizing, "HOT_SKEW_RATIO", min_rows)
        df = QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        rows = [tuple(r) for r in df.collect()]
        return plan.count(marker), result_hash(df.columns, rows)

    large_nodes, large_hash = run(0)
    small_nodes, small_hash = run(10**9)
    assert large_nodes > small_nodes
    assert large_hash == small_hash


def test_lsh_level1_cut_shares_or_skips(spark, sf_dir, monkeypatch):
    """lsh_candidate_pairs' level-1 cut, pinned on the EXECUTED plan:

    - cut (every input counts as large), both pair branches read
      checkpoint blocks, so the final plan contains ZERO parquet scans
      of the corpus;
    - uncut (every input counts as small), the fork recomputes: the
      corpus is scanned once PER BRANCH.

    Both give the same pairs."""
    from verified_sources_spark.llm.minhash import lsh_candidate_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")

    def scans_and_rows(min_rows):
        monkeypatch.setattr(sizing, "CUT_MIN_ROWS", min_rows)
        pairs = lsh_candidate_pairs(docs, "doc_id", "text")
        rows = {(int(r["id_a"]), int(r["id_b"])) for r in pairs.collect()}
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        return plan.count("Scan parquet"), rows

    cut_scans, cut_rows = scans_and_rows(0)
    uncut_scans, uncut_rows = scans_and_rows(10**9)
    assert cut_scans == 0
    assert uncut_scans >= 2
    assert cut_rows == uncut_rows


def test_row_bound_reads_footers_under_percent_encoded_paths(spark, tmp_path):
    """inputFiles() lists percent-encoded URIs (``a%20b%25c``): the bound
    still finds each file's footer and sums its rows."""
    path = str(tmp_path / "a b%c" / "t.parquet")
    spark.range(0, 37, numPartitions=2).write.parquet(path)
    df = spark.read.parquet(path)
    assert any("%20" in f for f in df.inputFiles())
    assert sizing.row_upper_bound(df) == 37


def test_spread_past_an_exchange_runs_no_job(spark, tmp_path):
    """A shuffle's partition count is only known at run time: spread over
    a distinct() repartitions without asking, so the counting source
    below is never evaluated."""
    import uuid

    from verified_sources_spark.boundary import map_rows

    log = str(tmp_path / "calls.log")

    def source(i):
        with open(log, "a") as f:
            f.write(f"{i}\n")
        yield {"g": i % 7}

    keys = map_rows(spark.range(100), source, "g long").distinct()
    sc = spark.sparkContext
    group = f"spread_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        spread = sizing.spread(keys)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert not (tmp_path / "calls.log").exists()
    assert sorted(r.g for r in spread.collect()) == list(range(7))
