"""SimHash near-pair completeness + dedup-group under-merge — the
recall treatment (ANN / span / LSH) applied to the FOURTH approximate
primitive.

Two layers, two claims, two measurements:

1. ``simhash_near_pairs`` claims EXACT completeness at
   hamming <= max_hamming via the pigeonhole band guarantee
   (n_bands > max_hamming disjoint bands: two fingerprints within d
   bits must agree on >= 1 band).  That is a theorem about the
   SCHEME; this tool verifies the IMPLEMENTATION against it — the
   band extraction, the join, the distinct — by brute-force
   popcounting every signature pair (numpy, independent of the
   banded join) and demanding recall exactly 1.0.
2. ``simhash_dedup_groups`` (the linear-output Manku sorted-probe
   scheme) is documented as under-merge-only; this tool MEASURES the
   under-merge against the transitive closure of the exact pair set
   at several neighbor windows.

Usage: python tools/simhash_recall_sweep.py [sf_dir] [max_hamming]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def brute_force_pairs(sigs: dict[int, int], max_hamming: int) -> set:
    """All (a, b) with popcount(sig_a ^ sig_b) <= max_hamming —
    numpy bytewise-popcount over the full cross product, no bands."""
    import numpy as np

    ids = sorted(sigs)
    arr = np.array([sigs[i] for i in ids], dtype=np.uint64)
    bytes_ = arr.view(np.uint8).reshape(len(ids), 8)
    pop = np.unpackbits(np.arange(256, dtype=np.uint8)[:, None],
                        axis=1).sum(axis=1)
    out = set()
    chunk = 512
    for s in range(0, len(ids), chunk):
        blk = bytes_[s:s + chunk]
        # (chunk, n, 8) xor -> per-byte popcount lookup -> sum
        ham = pop[blk[:, None, :] ^ bytes_[None, :, :]].sum(axis=2)
        for r, c in zip(*(ham <= max_hamming).nonzero()):
            a, b = ids[s + r], ids[c]
            if a < b:
                out.add((a, b))
    return out


def closure(pairs: set) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    return {x: find(x) for x in parent}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    max_h = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    from verified_sources_spark.llm.simhash import (
        simhash64,
        simhash_dedup_groups,
        simhash_near_pairs,
    )
    from verified_sources_spark.session import get_spark

    spark = get_spark("simhash-recall")
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    sigs = {int(r["doc_id"]): int(r["simhash"]) & ((1 << 64) - 1)
            for r in simhash64(docs, "doc_id", "text").collect()}
    truth = brute_force_pairs(sigs, max_h)
    cand = {(min(int(r["id_a"]), int(r["id_b"])),
             max(int(r["id_a"]), int(r["id_b"])))
            for r in simhash_near_pairs(
                docs, "doc_id", "text", max_hamming=max_h).collect()}
    missing = truth - cand
    extra = cand - truth
    print(f"# corpus {sf_dir}: {len(sigs)} docs, "
          f"{len(truth)} true pairs at hamming<={max_h}")
    print(f"# near_pairs: {len(cand)} candidates, "
          f"recall {1 - len(missing) / max(1, len(truth)):.6f} "
          f"(missing {len(missing)}), spurious {len(extra)} "
          f"(must both be 0: pigeonhole is exact)")

    comp = closure(truth)
    by_comp: dict[int, set] = {}
    for x, c in comp.items():
        by_comp.setdefault(c, set()).add(x)
    n_links_exact = sum(len(v) - 1 for v in by_comp.values())
    print("| neighbor_window | n_tables | closure links found | "
          "under-merge |")
    print("|---|---|---|---|")
    for w, nt in ((4, 1), (8, 1), (16, 1), (8, 2), (8, 4), (16, 4)):
        groups = {int(r["doc_id"]): r["group"] for r in
                  simhash_dedup_groups(
                      docs, "doc_id", "text", max_hamming=max_h,
                      neighbor_window=w, n_tables=nt).collect()}
        found = 0
        for members in by_comp.values():
            gs = {groups[m] for m in members if m in groups}
            found += len(members) - len(gs)
        um = 1 - found / n_links_exact if n_links_exact else 0.0
        print(f"| {w} | {nt} | {found}/{n_links_exact} | {um:.4f} |")
    spark.stop()


if __name__ == "__main__":
    main()
