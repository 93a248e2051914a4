"""link_rank: integer-exact fixed-iteration PageRank."""

import collections

import pytest

EDGES = [("A", "B"), ("A", "C"), ("B", "C"), ("C", "A"),
         ("D", "C"), ("B", "E")]


def _brute(edges, k, d, scale):
    outdeg = collections.Counter(s for s, _ in edges)
    nodes = sorted({x for e in edges for x in e})
    base = scale * (1000 - d) // 1000
    rank = {n: scale for n in nodes}
    for _ in range(k):
        inflow = collections.defaultdict(int)
        for s, t in edges:
            inflow[t] += rank[s] // outdeg[s]
        rank = {n: base + d * inflow.get(n, 0) // 1000 for n in nodes}
    return outdeg, rank


def test_link_rank_matches_integer_brute_force(spark):
    """Every rank equals the per-step integer recurrence exactly —
    dangling sinks (E) keep only teleport inflow, the hub (C)
    dominates, out-degrees carried on the spine."""
    from verified_sources_spark.llm.linkgraph import link_rank

    df = spark.createDataFrame(EDGES, "s string, d string")
    for k in (1, 2, 3):
        out = link_rank(df, "s", "d", iterations=k)
        got = {r.node: (r.out_degree, r.rank) for r in out.collect()}
        outdeg, rank = _brute(EDGES, k, 850, 1_000_000)
        assert got == {n: (outdeg.get(n, 0), rank[n]) for n in rank}
    # the quality ordering: the hub outranks everything, the
    # teleport-only sink is at the floor among linked-to nodes
    _, r2 = _brute(EDGES, 2, 850, 1_000_000)
    assert r2["A"] > r2["C"] > r2["B"]  # A fed by the hub's whole mass


def test_link_rank_parallel_edges_and_self_loops(spark):
    """Parallel edges are weights (double link = double share);
    self-loops feed their own node; validation rejects bad params."""
    from verified_sources_spark.llm.linkgraph import link_rank

    edges = [("X", "Y"), ("X", "Y"), ("X", "Z"), ("W", "W")]
    df = spark.createDataFrame(edges, "s string, d string")
    out = link_rank(df, "s", "d", iterations=1)
    got = {r.node: r.rank for r in out.collect()}
    _, want = _brute(edges, 1, 850, 1_000_000)
    assert got == want
    assert got["Y"] > got["Z"]          # two shares vs one
    with pytest.raises(ValueError):
        link_rank(df, "s", "d", iterations=0)
    with pytest.raises(ValueError):
        link_rank(df, "s", "d", damping_permille=1001)
    with pytest.raises(ValueError):
        link_rank(df, "s", "d", scale=0)
