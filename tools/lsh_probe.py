"""Measure lsh_candidate_pairs with and without its level-1 cut the way
bench.py does (fresh session, sf0.001 warmup, N timed reps at sf0.1) so
the cold-start overhead of the cut is separable from execution time.

``sizing.should_cut`` decides the cut; each variant forces it by setting
``sizing.CUT_MIN_ROWS``: ``cut`` to 0 (every input counts as large),
``none`` to a size no input reaches, ``auto`` leaves the threshold as is.

Usage: python tools/lsh_probe.py [cut|none|auto ...]   (default: cut none)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from verified_sources_spark import sizing  # noqa: E402
from verified_sources_spark.catalog import load_table  # noqa: E402
from verified_sources_spark.llm.minhash import lsh_candidate_pairs  # noqa: E402
from verified_sources_spark.session import get_spark  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WARMUP_SF = os.path.join(os.path.dirname(SF), "sf0.001")
CUT_MIN_ROWS = {"cut": 0, "none": 10**18, "auto": sizing.CUT_MIN_ROWS}


def force(df):
    cols = [F.col(c) for c in df.columns]
    return df.agg(F.count(F.lit(1)), F.try_sum(F.xxhash64(*cols))).collect()[0][0]


def run(spark, sf):
    d = load_table(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return force(lsh_candidate_pairs(d, "doc_id", "text", k=8, bands=4, shingle_n=3))


def main():
    variants = sys.argv[1:] or ["cut", "none"]
    spark = get_spark("lsh-probe")
    spark.sparkContext.setLogLevel("ERROR")
    for v in variants:
        sizing.CUT_MIN_ROWS = CUT_MIN_ROWS[v]
        run(spark, WARMUP_SF)  # warmup like bench.py
        times = []
        for _ in range(4):
            t0 = time.time()
            n = run(spark, SF)
            times.append(round(time.time() - t0, 3))
        print(f"{v}: n={n} times={times} best={min(times)}")
    spark.stop()


if __name__ == "__main__":
    main()
