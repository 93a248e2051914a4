"""MinHash-LSH candidate recall vs exact Jaccard — the r13/r14
recall-measurement treatment (ANN, span dedup) applied to the third
approximate primitive.

Ground truth: exact Jaccard over word 3-shingles for EVERY document
pair sharing at least one shingle (inverted-index counting in pure
Python — independent of the Spark pipeline's md5/minhash machinery).
Method: the graded ``lsh_candidate_pairs`` operator's candidate set.

The banding theory says a pair with Jaccard J becomes a candidate
with probability ``1 - (1 - J^r)^b`` (r rows per band, b bands).
Measured recall tracking that curve is a REAL verifier: the hash
family's independence is exactly what the curve assumes — the
pre-freeze bug where (a_i, b_i) were near-linear in the seed (half
the "independent" minhashes correlated; see minhash.minhash_ab's
docstring) would have shown up here as measured recall far under
theory.  Results recorded in SCALE.md; floors pinned by
tests/test_lsh_recall.py.

Usage: python tools/lsh_recall_sweep.py [sf_dir]
"""

from __future__ import annotations

import itertools
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def shingle_sets(texts: dict[int, str], n: int = 3) -> dict[int, set]:
    from verified_sources_spark.functions.text import TOKEN_RE

    rx = re.compile(TOKEN_RE)
    out = {}
    for d, t in texts.items():
        toks = rx.findall((t or "").lower())
        out[d] = {" ".join(toks[i:i + n])
                  for i in range(len(toks) - n + 1)}
    return out


def exact_jaccard_pairs(sets: dict[int, set]) -> dict[tuple, float]:
    """J for every pair sharing >= 1 shingle, via inverted-index
    co-occurrence counting (pairs with no overlap have J=0 and are
    never LSH candidates either)."""
    inv: dict[str, list] = {}
    for d, s in sets.items():
        for sh in s:
            inv.setdefault(sh, []).append(d)
    inter: dict[tuple, int] = {}
    for docs in inv.values():
        if len(docs) < 2:
            continue
        docs = sorted(docs)
        for a, b in itertools.combinations(docs, 2):
            inter[(a, b)] = inter.get((a, b), 0) + 1
    return {p: c / (len(sets[p[0]]) + len(sets[p[1]]) - c)
            for p, c in inter.items()}


def theoretical_recall(j: float, k: int, bands: int) -> float:
    r = k // bands
    return 1.0 - (1.0 - j ** r) ** bands


def synthetic_bins(spark, pairs_per_bin: int = 200):
    """Doc pairs at CONTROLLED Jaccard — the real corpus only carries
    near-exact dups (J>=0.9), so the S-curve's midsection (where a
    correlated-seed bug would hide) needs minted pairs.  Pair i in
    bin J: both docs share m tokens of an n-token vocabulary slice,
    J = m / (2n - m) exactly at the shingle level once shingles are
    made contiguous (each doc is one run of unique tokens, overlap a
    prefix run).  Returns (df, {(a, b): target_bin})."""
    rows = []
    truth = {}
    bins = (0.2, 0.3, 0.4, 0.5, 0.6, 0.8)
    n = 60  # shingles per doc ~ n-2
    did = 0
    for bi, j in enumerate(bins):
        # shared shingle count s with total t each: J = s/(2t - s)
        # -> s = 2tJ/(1+J); using token RUNS: share a prefix of
        # sh_len+2 tokens to share sh_len shingles
        t = n - 2
        s = round(2 * t * j / (1 + j))
        for p in range(pairs_per_bin):
            tag = f"b{bi}p{p}"
            shared = [f"s{tag}w{x}" for x in range(s + 2)]
            a_tail = [f"a{tag}w{x}" for x in range(n - s - 2)]
            b_tail = [f"b{tag}w{x}" for x in range(n - s - 2)]
            rows.append((did, " ".join(shared + a_tail)))
            rows.append((did + 1, " ".join(shared + b_tail)))
            truth[(did, did + 1)] = j
            did += 2
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return df, truth


def run_synthetic(spark) -> None:
    from verified_sources_spark.llm.minhash import lsh_candidate_pairs

    df, truth = synthetic_bins(spark)
    sets = shingle_sets(
        {int(r["doc_id"]): r["text"] for r in df.collect()})
    per_bin = len(truth) // 6
    print(f"# synthetic mid-J bins ({per_bin} pairs each; "
          "shingle-exact Jaccard shown)")
    print("| k | bands | target J | exact J | measured P(candidate) "
          "| theory |")
    print("|---|---|---|---|---|---|")
    for k, bands in ((8, 4), (16, 8)):
        cand = {(min(int(r["id_a"]), int(r["id_b"])),
                 max(int(r["id_a"]), int(r["id_b"])))
                for r in lsh_candidate_pairs(
                    df, "doc_id", "text", k=k, bands=bands,
                    shingle_n=3).collect()}
        bybin: dict[float, list] = {}
        for p, j in truth.items():
            bybin.setdefault(j, []).append(p)
        for j in sorted(bybin):
            ps = bybin[j]
            ejs = [len(sets[a] & sets[b]) / len(sets[a] | sets[b])
                   for a, b in ps]
            exact = sum(ejs) / len(ejs)
            hit = sum(1 for p in ps if p in cand) / len(ps)
            # mean of per-pair theory (not theory of the mean J) so
            # the comparison carries no Jensen gap
            theo = sum(theoretical_recall(ej, k, bands)
                       for ej in ejs) / len(ejs)
            print(f"| {k} | {bands} | {j} | {exact:.3f} | {hit:.3f} "
                  f"| {theo:.3f} |")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from verified_sources_spark.llm.minhash import lsh_candidate_pairs
    from verified_sources_spark.session import get_spark

    spark = get_spark("lsh-recall")
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    texts = {int(r["doc_id"]): r["text"] for r in docs.collect()}
    sets = shingle_sets(texts)
    jac = exact_jaccard_pairs(sets)
    print(f"# corpus {sf_dir}: {len(texts)} docs, "
          f"{len(jac)} overlapping pairs "
          f"({sum(1 for j in jac.values() if j >= 0.5)} at J>=0.5, "
          f"{sum(1 for j in jac.values() if j >= 0.9)} at J>=0.9)")
    print("| k | bands | J floor | truth pairs | recall | "
          "theory | candidate precision@J>=0.5 |")
    print("|---|---|---|---|---|---|---|")
    for k, bands in ((8, 4), (16, 8)):
        cand = {(min(int(r["id_a"]), int(r["id_b"])),
                 max(int(r["id_a"]), int(r["id_b"])))
                for r in lsh_candidate_pairs(
                    docs, "doc_id", "text", k=k, bands=bands,
                    shingle_n=3).collect()}
        prec_pool = [jac.get(p, 0.0) for p in cand]
        prec = (sum(1 for j in prec_pool if j >= 0.5)
                / len(prec_pool)) if prec_pool else 1.0
        for floor in (0.5, 0.7, 0.9):
            truth = [p for p, j in jac.items() if j >= floor]
            if not truth:
                continue
            rec = sum(1 for p in truth if p in cand) / len(truth)
            theo = (sum(theoretical_recall(jac[p], k, bands)
                        for p in truth) / len(truth))
            print(f"| {k} | {bands} | {floor} | {len(truth)} | "
                  f"{rec:.4f} | {theo:.4f} | {prec:.4f} |")
    run_synthetic(spark)
    spark.stop()


if __name__ == "__main__":
    main()
