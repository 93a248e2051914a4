"""Recall@k sweep for every ANN index against exact brute-force cosine
— the SCALE.md evidence that the indexes FIND things, not just that
their arithmetic replays.

Runs lsh / ivf / pq / ivfpq / ivfpq_rerank over the sf embeddings
table (default /root/testdata/sf0.1) at two n_probe settings for the
IVF family, recall@3 vs cosine_topk, and prints one JSON line per
(index, setting).

    python tools/ann_recall_sweep.py [sf_dir] [n_queries]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_q = int(sys.argv[2]) if len(sys.argv) > 2 else 30

    from pyspark.sql import functions as F

    from verified_sources_spark.llm.similarity import (
        ann_recall_summary,
        cosine_topk,
        ivf_topk,
        ivfpq_rerank_topk,
        ivfpq_topk,
        lsh_bucketed_topk,
        pq_topk,
    )
    from verified_sources_spark.catalog import load_table
    from verified_sources_spark.session import get_spark

    spark = get_spark("ann-recall-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    e = load_table(spark, sf_dir, "embeddings").cache()
    q = e.filter(F.col("vec_id") < n_q)
    exact = cosine_topk(e, q, k=3).cache()
    exact.count()

    runs = [
        ("lsh", {"n_planes": 8},
         lambda: lsh_bucketed_topk(e, q, k=3, n_planes=8)),
        ("lsh", {"n_planes": 4},
         lambda: lsh_bucketed_topk(e, q, k=3, n_planes=4)),
        ("ivf", {"n_probe": 4},
         lambda: ivf_topk(e, q, k=3, n_centroids=16, n_probe=4)),
        ("ivf", {"n_probe": 8},
         lambda: ivf_topk(e, q, k=3, n_centroids=16, n_probe=8)),
        ("pq", {"m": 4, "n_codes": 16},
         lambda: pq_topk(e, q, m=4, n_codes=16, k=3)),
        ("pq", {"m": 8, "n_codes": 16},
         lambda: pq_topk(e, q, m=8, n_codes=16, k=3)),
        ("ivfpq", {"n_probe": 4},
         lambda: ivfpq_topk(e, q, n_cells=16, n_probe=4, m=4,
                            n_codes=16, k=3)),
        ("ivfpq", {"n_probe": 8},
         lambda: ivfpq_topk(e, q, n_cells=16, n_probe=8, m=4,
                            n_codes=16, k=3)),
        ("ivfpq_rerank", {"n_probe": 4, "candidates": 20},
         lambda: ivfpq_rerank_topk(e, q, n_cells=16, n_probe=4, m=4,
                                   n_codes=16, candidates=20, k=3)),
        ("ivfpq_rerank", {"n_probe": 8, "candidates": 20},
         lambda: ivfpq_rerank_topk(e, q, n_cells=16, n_probe=8, m=4,
                                   n_codes=16, candidates=20, k=3)),
        # serving-grade settings: finer codebooks + deeper candidate
        # lists — where the two-stage stack crosses 0.95
        ("ivfpq_rerank", {"n_probe": 8, "m": 8, "n_codes": 64,
                          "candidates": 100},
         lambda: ivfpq_rerank_topk(e, q, n_cells=16, n_probe=8, m=8,
                                   n_codes=64, candidates=100, k=3)),
        ("ivfpq_rerank", {"n_probe": 16, "m": 8, "n_codes": 64,
                          "candidates": 400},
         lambda: ivfpq_rerank_topk(e, q, n_cells=16, n_probe=16, m=8,
                                   n_codes=64, candidates=400, k=3)),
        ("ivfpq_rerank", {"n_probe": 16, "m": 16, "n_codes": 64,
                          "candidates": 200},
         lambda: ivfpq_rerank_topk(e, q, n_cells=16, n_probe=16,
                                   m=16, n_codes=64, candidates=200,
                                   k=3)),
    ]
    for name, cfg, fn in runs:
        (row,) = ann_recall_summary(fn(), exact, k=3).collect()
        print(json.dumps({
            "index": name, "config": cfg, "k": 3,
            "n_queries": row["n_queries"],
            "recall_at_3": row["mean_recall"], "sf_dir": sf_dir}))
    spark.stop()


if __name__ == "__main__":
    main()
