"""Deterministic cardinality sketches: hash-threshold distinct
sampling.

The classic distinct-sampling / adaptive-sampling estimator (Gibbons,
VLDB 2001 family): hash every value with the engine's frozen 60-bit
md5 family (one md5 per value, the llm/minhash prefix convention),
keep only values hashing below ``2^(60 - sample_log2)``, and scale
the subsample's exact distinct count back up by ``2^sample_log2``.
Because the "sample" is a fixed hash-range cut rather than a random
draw, the estimator is

- DETERMINISTIC: same data → same estimate, bit-for-bit — so the SQL
  oracle replays it exactly and accuracy regressions are pinnable;
- MERGEABLE: the union's subsample is the union of subsamples, so
  per-partition / per-day sketches combine by distinct-union — the
  100 TB shape (relative error ~ 1/sqrt(distinct/2^sample_log2));
- CHEAP at scale: the ``h < threshold`` filter runs inside the scan
  right after the hash, so only ~2^-sample_log2 of the value stream
  ever reaches an exchange.

No HyperLogLog here on purpose: HLL estimates are
implementation-defined (Spark's and DuckDB's disagree), which would
break the oracle-replay posture; this estimator trades a wider error
bar for bit-exactness and mergeability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from verified_sources_spark.cut import cut

__all__ = ["hash_sampled_distinct", "binned_quantiles",
           "hash_sampled_overlap"]


def hash_sampled_distinct(df: DataFrame, group_cols: list[str],
                          value_col: str,
                          sample_log2: int = 8) -> DataFrame:
    """Per-group distinct-count estimates for ``value_col``.

    Returns one row per group: ``n_sampled`` (exact distinct count of
    the hash-range subsample) and ``estimate`` =
    ``n_sampled << sample_log2``.  Groups whose every value hashes
    above the threshold are ABSENT from the output (the filter runs
    before the groupBy; callers needing a 0-estimate row should
    left-join their group universe) — at ``sample_log2=8`` that only
    happens for groups with ≲ a few hundred distinct values, where
    the caller should use an exact count anyway (the estimator's
    regime is the vocabulary too large to count exactly)."""
    if not 0 <= sample_log2 <= 59:
        raise ValueError("sample_log2 must be in [0, 59]")
    threshold = 1 << (60 - sample_log2)
    hashed = df.select(
        *[F.col(c) for c in group_cols],
        F.col(value_col).alias("_v"),
        F.expr(f"CAST(conv(substring(md5({value_col}), 1, 15), "
               "16, 10) AS BIGINT)").alias("_h"))
    return (
        hashed.filter(F.col("_h") < F.lit(threshold))
        .groupBy(*group_cols)
        .agg(F.countDistinct("_v").alias("n_sampled"))
        .withColumn(
            "estimate",
            F.expr(f"n_sampled * {1 << sample_log2}L")))


def binned_quantiles(df: DataFrame, group_cols: list[str],
                     value_col: str,
                     percentiles: tuple[int, ...] = (50, 90, 99),
                     bin_width: int = 5,
                     n_bins: int = 200) -> DataFrame:
    """Per-group quantile estimates from a fixed-width BINNED
    histogram — the no-global-sort percentile pattern: exact
    percentiles need a full sort (or Spark's approx_percentile,
    whose Greenwald-Khanna state is implementation-defined), while a
    fixed binning needs ONE tiny aggregation, is MERGEABLE (bin
    counts add), and is bit-exact replayable.

    Integer contract throughout (no float thresholds — ceil(0.9·n)
    in IEEE doubles rounds the wrong way for some n): percentiles are
    INTEGERS in [1, 100], the rank threshold is
    ``(n·p + 99) DIV 100`` (= ceil(n·p/100) exactly), NULL and
    non-integral-representable values (NaN/±Inf/|v| ≥ 2^63, via
    try_cast) are dropped before binning, negatives clamp to bin 0
    and overflow to the last bin — the clamp runs in BIGINT, an INT
    cast before clamping crashed under ANSI for values ≥
    bin_width·2^31 (review find) — and the p-th percentile is
    reported as the LOWER EDGE of the first bin whose cumulative
    count reaches the threshold — resolution is ``bin_width``, error
    bounded by one bin.  Returns one row per group: ``n`` plus a
    ``q<p>`` edge column per requested percentile."""
    if not percentiles or any(
            not (isinstance(p, int) and not isinstance(p, bool)
                 and 1 <= p <= 100)
            for p in percentiles):
        raise ValueError("percentiles must be ints in [1, 100]")
    if len(set(percentiles)) != len(percentiles):
        raise ValueError("percentiles must be distinct")
    if bin_width < 1 or n_bins < 1:
        raise ValueError("bin_width and n_bins must be >= 1")
    bin_col = F.expr(
        f"CAST(least(greatest(try_cast({value_col} AS BIGINT) "
        f"DIV {bin_width}, 0L), {n_bins - 1}L) AS INT)")
    counts = (
        df.filter(F.expr(
            f"try_cast({value_col} AS BIGINT) IS NOT NULL"))
        .select(*[F.col(c) for c in group_cols],
                bin_col.alias("_bin"))
        .groupBy(*group_cols, "_bin")
        .agg(F.count("*").alias("_c")))
    from pyspark.sql import Window

    w = (Window.partitionBy(*group_cols).orderBy("_bin")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wn = Window.partitionBy(*group_cols)
    cum = (counts
           .withColumn("_cum", F.sum("_c").over(w))
           .withColumn("_n", F.sum("_c").over(wn)))
    aggs = [F.max("_n").alias("n")]
    for p in percentiles:
        aggs.append(F.min(F.when(
            F.col("_cum") >= F.expr(f"(_n * {p}L + 99L) DIV 100L"),
            F.col("_bin"))).alias(f"_q{p}"))
    out = cum.groupBy(*group_cols).agg(*aggs)
    for p in percentiles:
        out = out.withColumn(
            f"q{p}", (F.col(f"_q{p}") * F.lit(bin_width))
            .cast("long")).drop(f"_q{p}")
    return out


def hash_sampled_overlap(df: DataFrame, group_col: str,
                         value_col: str,
                         sample_log2: int = 8) -> DataFrame:
    """Pairwise set-overlap estimates between groups — the
    train/eval contamination and corpus-similarity measurement a
    curation pipeline runs before mixing sources: how many distinct
    values (tokens, n-grams, URLs) do two slices share?

    The same fixed hash-range cut as :func:`hash_sampled_distinct`,
    which is what makes PAIRWISE estimates sound: the cut is one
    global function of the VALUE, so it commutes with intersection —
    ``sample(A) ∩ sample(B) = sample(A ∩ B)`` exactly (a coordinated
    bottom sketch with fixed θ; independent per-group samples would
    estimate nothing).  Deterministic and mergeable for the same
    reasons, and the oracle replays it bit-for-bit.

    Returns one row per unordered group pair (``g_a < g_b``
    lexicographically): sampled distinct counts ``n_a``/``n_b``/
    ``n_common``, scaled ``inter_estimate``/``union_estimate``
    (<< sample_log2), and ``jaccard_permille`` =
    ``n_common·1000 DIV (n_a + n_b − n_common)`` — an integer ratio
    of the sampled sets (the θ cancels, so no scaling bias).
    Pairs whose sampled sets are both empty are ABSENT (the
    hash_sampled_distinct contract); relative error ~
    1/sqrt(union/2^sample_log2).

    100 TB shape: the ``h < θ`` filter runs inside the scan, so only
    ~2^-sample_log2 of the value stream reaches the (group, value)
    distinct; the pair join keys on the SAMPLED value only, and the
    group-pair aggregate is #groups²-sized.  Group count is expected
    small (languages, sources, snapshots) — for G groups the join
    emits ≤ G²/2 rows per sampled value."""
    if not 0 <= sample_log2 <= 59:
        raise ValueError("sample_log2 must be in [0, 59]")
    threshold = 1 << (60 - sample_log2)
    sub = (
        df.select(
            F.col(group_col).cast("string").alias("_g"),
            F.col(value_col).alias("_v"),
            F.expr(f"CAST(conv(substring(md5({value_col}), 1, 15), "
                   "16, 10) AS BIGINT)").alias("_h"))
        .filter(F.col("_h") < F.lit(threshold))
        .select("_g", "_v").distinct())
    # localCheckpoint, not persist (r16): one mechanism repo-wide — shares
    # by RDD identity regardless of plan canonicalization, truncates the
    # tokenizer/shingle lineage above (bounding composed callers' plans),
    # and self-cleans when the RDD is GC'd (no release bookkeeping).
    sub = sub.transform(cut)
    per_group = sub.groupBy("_g").agg(
        F.count(F.lit(1)).alias("n"))
    pairs = (
        sub.alias("a")
        .join(sub.alias("b"),
              (F.col("a._v") == F.col("b._v"))
              & (F.col("a._g") < F.col("b._g")))
        .groupBy(F.col("a._g").alias("g_a"),
                 F.col("b._g").alias("g_b"))
        .agg(F.count(F.lit(1)).alias("n_common")))
    # every group pair with a non-empty sample appears, even with
    # zero shared values — the cross of the (tiny) per-group counts
    all_pairs = (
        per_group.select(F.col("_g").alias("g_a"),
                         F.col("n").alias("n_a"))
        .join(per_group.select(F.col("_g").alias("g_b"),
                               F.col("n").alias("n_b")),
              F.col("g_a") < F.col("g_b")))
    return (
        all_pairs.join(pairs, ["g_a", "g_b"], "left")
        .select(
            "g_a", "g_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.coalesce("n_common", F.lit(0)).cast("long")
            .alias("n_common"))
        .withColumn(
            "inter_estimate",
            F.expr(f"n_common * {1 << sample_log2}L"))
        .withColumn(
            "union_estimate",
            F.expr(f"(n_a + n_b - n_common) * {1 << sample_log2}L"))
        .withColumn(
            "jaccard_permille",
            F.expr("n_common * 1000L DIV (n_a + n_b - n_common)")))
