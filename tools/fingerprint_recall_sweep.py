"""Under-merge measurement for fingerprint_dedup_groups on
FINGERPRINT-shaped corpora (the image/audio/video dedup consumers).

The r14 sweep measured simhash-over-text under-merge (16.5% at the
single-table default); the media consumers feed the same grouping
machinery with perceptual 64-bit hashes whose distribution differs
(dHash bits are spatial-gradient correlated, not token-hash uniform).
This tool measures the consumers' actual regime: plant clusters of
near-duplicate fingerprints (<= max_hamming flips around a seed, the
shape a re-encoded/resized asset family produces), compute the exact
transitive closure by brute-force popcount, and compare the
pair-coverage of fingerprint_dedup_groups at n_tables = 1 / 2 / 4.

Under-merge = fraction of true same-closure pairs the grouping fails
to co-group.  Over-merge is impossible by construction (every edge is
hamming-verified before closure); the tool asserts it anyway.

Usage: python tools/fingerprint_recall_sweep.py [n_docs] [max_hamming]
"""

from __future__ import annotations

import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plant_corpus(n: int, max_h: int, seed: int = 11,
                 correlated: bool = False) -> dict[int, int]:
    """n fingerprints: 60% singles, 40% in clusters of 2-6 built by
    flipping <= max_h bits around a seed fp.  ``correlated=True``
    draws seeds with long runs (dHash-like spatial correlation)
    instead of uniform bits."""
    rng = random.Random(seed)

    def base_fp() -> int:
        if not correlated:
            return rng.getrandbits(64)
        # runs of identical bits, geometric lengths — gradient-ish
        bits, v = [], rng.getrandbits(1)
        while len(bits) < 64:
            run = min(1 + int(rng.expovariate(0.35)), 64 - len(bits))
            bits.extend([v] * run)
            v ^= 1
        x = 0
        for b in bits:
            x = (x << 1) | b
        return x

    fps: dict[int, int] = {}
    i = 0
    while i < n:
        fp = base_fp()
        size = 1 if rng.random() < 0.6 else rng.randint(2, 6)
        fps[i] = fp
        i += 1
        for _ in range(size - 1):
            if i >= n:
                break
            v = fp
            for _b in range(rng.randint(0, max_h)):
                v ^= 1 << rng.randrange(64)
            fps[i] = v
            i += 1
    return fps


def brute_closure(fps: dict[int, int], max_h: int) -> dict[int, int]:
    import numpy as np

    ids = sorted(fps)
    arr = np.array([fps[i] for i in ids], dtype=np.uint64)
    b = arr.view(np.uint8).reshape(len(ids), 8)
    pop = np.unpackbits(np.arange(256, dtype=np.uint8)[:, None],
                        axis=1).sum(axis=1).astype(np.uint16)
    parent = list(range(len(ids)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in range(len(ids)):
        d = pop[(b[i] ^ b[i + 1:]).astype(np.uint8)].reshape(
            -1, 8).sum(axis=1)
        for j in (d <= max_h).nonzero()[0]:
            a, c = find(i), find(i + 1 + int(j))
            if a != c:
                parent[max(a, c)] = min(a, c)
    return {ids[i]: ids[find(i)] for i in range(len(ids))}


def pairs_of(groups: dict[int, int]) -> set[tuple[int, int]]:
    from collections import defaultdict

    by = defaultdict(list)
    for i, g in groups.items():
        by[g].append(i)
    out = set()
    for members in by.values():
        members.sort()
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                out.add((members[i], members[j]))
    return out


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 5000
    max_h = int(sys.argv[2]) if len(sys.argv) > 2 else 6

    from pyspark.sql import functions as F

    from verified_sources_spark.llm.simhash import fingerprint_dedup_groups
    from verified_sources_spark.session import get_spark

    spark = get_spark("fp-recall")
    spark.sparkContext.setLogLevel("ERROR")

    print(f"# {n} fingerprints, max_hamming={max_h}, n_bands=8 "
          f"(the image/audio/video consumer defaults)")
    print("| corpus | n_tables | window | true pairs | covered | "
          "under-merge | over-merge |")
    print("|---|---|---|---|---|---|---|")
    for corpus in ("uniform", "correlated"):
        fps = plant_corpus(n, max_h, correlated=corpus == "correlated")
        truth = pairs_of(brute_closure(fps, max_h))
        df = spark.createDataFrame(
            [(i, fp - (1 << 64) if fp >= 1 << 63 else fp)
             for i, fp in fps.items()],
            "id long, fp long").repartition(16)
        for n_tables in (1, 2, 4):
            got_rows = fingerprint_dedup_groups(
                df, "id", "fp", bits=64, max_hamming=max_h, n_bands=8,
                neighbor_window=8, n_tables=n_tables).collect()
            got = pairs_of({r["id"]: r["group"] for r in got_rows})
            under = len(truth - got) / max(len(truth), 1)
            over = len(got - truth)
            assert over == 0, f"over-merge impossible by design, got {over}"
            print(f"| {corpus} | {n_tables} | 8 | {len(truth)} | "
                  f"{len(got)} | {under:.4f} | {over} |")
    spark.stop()


if __name__ == "__main__":
    main()
