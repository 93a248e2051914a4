"""Span-dedup recall/precision sweep — the r13 ANN-recall treatment
applied to the other approximate primitive.

The windowed n-gram span dedup (llm/text_prep.duplicate_span_positions,
the position layer under remove_duplicate_spans) approximates
exact-substring dedup ("all duplicated substrings >= L tokens across
documents", the published ExactSubstr criterion re-expressed at token
granularity).  This tool measures HOW closely, per window setting:

- ground truth: a brute-force pure-Python oracle — every token
  position inside an L-gram shared by >= 2 distinct documents (an
  independent implementation: python tuple-sets over the same
  tokenizer, no md5, no Spark) — equivalent to "inside a shared
  substring of >= L tokens" because a shared run's sub-L-grams are
  shared and cover all its positions;
- method: the Spark operator's flagged positions at window W.

Structural expectations (proved in the operator docstring, pinned by
tests/test_span_recall.py): W <= L => recall == 1.0 exactly; W >= L
=> precision == 1.0 exactly.  The W == L row is therefore a genuine
IMPLEMENTATION cross-check (Spark md5 pipeline vs python sets must
agree bit-for-bit); the off-diagonal rows are the measured
approximation cost.  Results recorded in SCALE.md.

Usage: python tools/span_recall_sweep.py [sf_dir] [L] [windows...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def brute_force_truth(texts: dict[int, str], L: int) -> set[tuple]:
    """{(doc_id, pos)} inside cross-document shared runs >= L tokens,
    via plain tuple-set membership — no hashing, no Spark."""
    from verified_sources_spark.functions.text import TOKEN_RE

    rx = re.compile(TOKEN_RE)
    toks = {d: rx.findall((t or "").lower()) for d, t in texts.items()}
    grams: dict[tuple, set[int]] = {}
    for d, ts in toks.items():
        for i in range(len(ts) - L + 1):
            grams.setdefault(tuple(ts[i:i + L]), set()).add(d)
    truth: set[tuple] = set()
    for d, ts in toks.items():
        for i in range(len(ts) - L + 1):
            if len(grams[tuple(ts[i:i + L])]) >= 2:
                truth.update((d, j) for j in range(i, i + L))
    return truth


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    L = int(sys.argv[2]) if len(sys.argv) > 2 else 25
    windows = ([int(w) for w in sys.argv[3:]]
               if len(sys.argv) > 3 else [8, 16, L, 50])

    from verified_sources_spark.llm.text_prep import (
        duplicate_span_positions,
    )
    from verified_sources_spark.session import get_spark

    spark = get_spark("span-recall")
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    texts = {int(r["doc_id"]): r["text"] for r in docs.collect()}
    truth = brute_force_truth(texts, L)
    print(f"# corpus {sf_dir}: {len(texts)} docs; ground truth "
          f"L={L}: {len(truth)} duplicated token positions")
    print(f"| window | flagged | recall | precision |")
    print(f"|---|---|---|---|")
    for W in windows:
        flagged = {(int(r["doc_id"]), int(r["pos"])) for r in
                   duplicate_span_positions(
                       docs, "doc_id", "text", window=W).collect()}
        inter = len(flagged & truth)
        rec = inter / len(truth) if truth else 1.0
        prec = inter / len(flagged) if flagged else 1.0
        print(f"| {W} | {len(flagged)} | {rec:.4f} | {prec:.4f} |")
    spark.stop()


if __name__ == "__main__":
    main()
