"""MinHash-LSH candidate recall vs exact Jaccard
(tools/lsh_recall_sweep): the banding S-curve floors pinned — the
verifier class that would have caught the pre-freeze correlated-seed
bug (minhash.minhash_ab's docstring) as measured recall collapsing
under theory."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from lsh_recall_sweep import (  # noqa: E402
    exact_jaccard_pairs,
    shingle_sets,
    synthetic_bins,
    theoretical_recall,
)


def _candidates(spark, df, k, bands):
    from verified_sources_spark.llm.minhash import lsh_candidate_pairs

    return {(min(int(r["id_a"]), int(r["id_b"])),
             max(int(r["id_a"]), int(r["id_b"])))
            for r in lsh_candidate_pairs(
                df, "doc_id", "text", k=k, bands=bands,
                shingle_n=3).collect()}


def test_s_curve_floors(spark):
    """Measured candidate probability per controlled-Jaccard bin must
    bracket the banding theory: near-certain at J=0.8, in the curve's
    midrange band at J=0.5, LOW at J=0.2 (a flat or inverted curve —
    what correlated seeds produce — fails all three)."""
    df, truth = synthetic_bins(spark, pairs_per_bin=60)
    cand = _candidates(spark, df, 8, 4)
    bybin: dict[float, list] = {}
    for p, j in truth.items():
        bybin.setdefault(j, []).append(p)

    def rate(j):
        ps = bybin[j]
        return sum(1 for p in ps if p in cand) / len(ps)

    assert rate(0.8) >= 0.9          # theory 0.987
    assert 0.45 <= rate(0.5) <= 0.9  # theory 0.694
    assert rate(0.2) <= 0.35         # theory 0.145
    # monotone in J
    rates = [rate(j) for j in sorted(bybin)]
    assert rates == sorted(rates) or all(
        b - a >= -0.12 for a, b in zip(rates, rates[1:]))


def test_exact_duplicates_always_candidates(spark):
    """J=1 pairs share every band by construction — recall there is
    exactly 1.0, no probability involved."""
    rows = []
    for i in range(30):
        body = " ".join(f"dup{i}w{x}" for x in range(40))
        rows += [(2 * i, body), (2 * i + 1, body)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cand = _candidates(spark, df, 8, 4)
    assert all((2 * i, 2 * i + 1) in cand for i in range(30))


def test_real_corpus_high_j_recall(spark):
    """On real testdata every pair at J>=0.9 must be a candidate at
    the graded settings (theory 0.9999; the corpus's dup pairs are
    deterministic, so this pins exactly)."""
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL",
                            "/root/testdata/sf0.001")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    texts = {int(r["doc_id"]): r["text"] for r in docs.collect()}
    jac = exact_jaccard_pairs(shingle_sets(texts))
    high = [p for p, j in jac.items() if j >= 0.9]
    if high:
        cand = _candidates(spark, docs, 8, 4)
        assert all(p in cand for p in high)
    else:
        assert theoretical_recall(0.9, 8, 4) > 0.99  # vacuous guard
