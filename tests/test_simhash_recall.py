"""SimHash completeness (tools/simhash_recall_sweep): the banded
pair lister must match brute-force popcount EXACTLY (pigeonhole is a
theorem — any miss is an implementation bug), and the linear
dedup-group scheme's under-merge stays bounded."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from simhash_recall_sweep import brute_force_pairs, closure  # noqa: E402


def test_near_pairs_exactly_match_brute_force(spark):
    """On real testdata, banded candidates == brute-force popcount
    pairs at hamming<=3 — zero missing (pigeonhole), zero spurious
    (the hamming filter)."""
    from verified_sources_spark.llm.simhash import (
        simhash64,
        simhash_near_pairs,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text")
    sigs = {int(r["doc_id"]): int(r["simhash"]) & ((1 << 64) - 1)
            for r in simhash64(docs, "doc_id", "text").collect()}
    truth = brute_force_pairs(sigs, 3)
    cand = {(min(int(r["id_a"]), int(r["id_b"])),
             max(int(r["id_a"]), int(r["id_b"])))
            for r in simhash_near_pairs(
                docs, "doc_id", "text", max_hamming=3).collect()}
    assert cand == truth


def test_dedup_groups_under_merge_bounded(spark):
    """A planted 24-doc near-identical cluster: the linear scheme may
    under-merge vs the closure, but must keep the cluster in FEW
    groups (not shatter it) and never over-merge with the distinct
    docs."""
    from verified_sources_spark.llm.simhash import (
        simhash64,
        simhash_dedup_groups,
    )

    base = ("alpha beta gamma delta epsilon zeta eta theta iota "
            "kappa lambda mu nu xi omicron pi rho sigma tau")
    rows = [(i, base + f" tail{i % 3}") for i in range(24)]
    rows += [(100 + j, f"unrelated corpus {j} " + " ".join(
        f"w{j}x{t}" for t in range(18))) for j in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {int(r["doc_id"]): int(r["simhash"]) & ((1 << 64) - 1)
            for r in simhash64(df, "doc_id", "text").collect()}
    truth = brute_force_pairs(sigs, 3)
    comp = closure(truth)
    cluster_comps = {comp.get(i, i) for i in range(24)}
    groups = {int(r["doc_id"]): r["group"] for r in
              simhash_dedup_groups(df, "doc_id", "text").collect()}
    cluster_groups = {groups[i] for i in range(24)}
    # under-merge bounded: no more groups than exact components + 2
    assert len(cluster_groups) <= len(cluster_comps) + 2
    # never over-merge: distinct docs stay out of the cluster groups
    for j in range(4):
        assert groups[100 + j] not in cluster_groups


def test_multi_table_probing_reduces_under_merge(spark):
    """n_tables rotated probe tables only ADD hamming-verified edges:
    groups at n_tables=2 must merge at least as much as the default,
    and a pair engineered to sit far apart in table-0 sort order but
    adjacent under rotation gets found."""
    from verified_sources_spark.llm.simhash import (
        simhash64,
        simhash_dedup_groups,
    )

    base = ("one two three four five six seven eight nine ten eleven "
            "twelve thirteen fourteen fifteen sixteen")
    rows = [(i, base + f" v{i % 4}") for i in range(40)]
    rows += [(200 + j, f"other {j} " + " ".join(
        f"q{j}z{t}" for t in range(16))) for j in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def n_groups(nt):
        groups = {int(r["doc_id"]): r["group"] for r in
                  simhash_dedup_groups(
                      df, "doc_id", "text", n_tables=nt).collect()}
        return len({groups[i] for i in range(40)}), groups

    g1, _ = n_groups(1)
    g2, groups2 = n_groups(2)
    g4, _ = n_groups(4)
    assert g2 <= g1 and g4 <= g2      # edges only add
    # never over-merges the unrelated docs
    cluster = {groups2[i] for i in range(40)}
    for j in range(3):
        assert groups2[200 + j] not in cluster
    # default path unchanged: n_tables=1 equals the historical scheme
    sigs = simhash64(df, "doc_id", "text")
    assert sigs.count() == 43


def test_fingerprint_consumers_closure_grade_at_default(spark):
    """r15: the media consumers' grouping regime pinned — on a planted
    fingerprint corpus (tight hamming balls, the shape re-encoded asset
    families produce) the consumer default n_tables=4 co-groups EVERY
    true-closure pair, and over-merge stays impossible (every edge
    hamming-verified).  Guards the new image/audio/video_dedup_groups
    default against a probe-table regression."""
    from fingerprint_recall_sweep import (
        brute_closure,
        pairs_of,
        plant_corpus,
    )

    from verified_sources_spark.llm.simhash import fingerprint_dedup_groups

    for correlated in (False, True):
        fps = plant_corpus(800, 6, seed=23, correlated=correlated)
        truth = pairs_of(brute_closure(fps, 6))
        df = spark.createDataFrame(
            [(i, fp - (1 << 64) if fp >= 1 << 63 else fp)
             for i, fp in fps.items()],
            "id long, fp long").repartition(8)
        got_rows = fingerprint_dedup_groups(
            df, "id", "fp", bits=64, max_hamming=6, n_bands=8,
            neighbor_window=8, n_tables=4).collect()
        got = pairs_of({r["id"]: r["group"] for r in got_rows})
        assert truth - got == set(), (correlated, len(truth - got))
        assert got - truth == set(), (correlated, len(got - truth))
