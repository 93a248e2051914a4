"""DSIR-style data selection: hashed n-gram importance scores.

Data Selection via Importance Resampling (Xie et al., NeurIPS 2023 —
public method) picks pretraining documents whose hashed n-gram
distribution looks more like a small TARGET set than like the raw
corpus: featurize every document into hashed n-gram buckets, estimate
bucket distributions for target and raw, and weight each document by
its target/raw likelihood ratio.

This implementation keeps the arithmetic INTEGER-EXACT so the result
is oracle-replayable bit-for-bit (the repo's float-determinism
posture: no log-sums whose libm rounding could differ between
engines).  With Laplace-smoothed bucket distributions
p̂_t[b] = (tc[b]+1)/(Tt+B) and p̂_r[b] = (rc[b]+1)/(Tr+B) (Tt/Tr the
total occurrence masses, B the bucket count), the per-occurrence
ratio term is the integer rendering of scale·p̂_t[b]/p̂_r[b]:

    R = ((Tr + B) * scale) DIV (Tt + B)          -- once, globally
    term(b) = ((tc[b] + 1) * R) DIV (rc[b] + 1)

and a document's score is the sum over its occurrences — ``scale`` ×
the average smoothed likelihood ratio, a monotone integer surrogate
for the DSIR importance weight.  The mass normalization matters: an
unnormalized tc/rc ratio would compare raw counts, so a small target
set could never select anything (caught by the 100k soak, where
genuinely target-phrased documents scored 0 selected).  ``selected``
marks documents whose average ratio exceeds 1
(score > n_ngrams·scale): likelier under the target distribution
than under the raw one.  Headroom: each term is ≤ (tc+1)·R < 2^63
for any corpus where (target mass)·(raw/target mass ratio)·scale
stays under 9.2e18 — at the default scale that is a ~1e9-occurrence
target against a ~1000× larger corpus; lower ``scale`` for more.

100 TB shape: tokenize/shingle/hash run inside the scan (JVM-side
``regexp_extract_all`` / ``zip_with`` / ``md5`` — the same frozen
family llm/minhash uses, one md5 per n-gram, 60-bit prefix); the only
wide exchanges carry (id, bucket-int) pairs — never text.  Bucket
count tables are at most ``n_buckets`` rows and BROADCAST to the
scoring join; the per-document aggregation is a single int-keyed
shuffle.  The corpus's per-(doc, bucket) count cut is consumed twice
(raw counts + scoring) and localCheckpoint'ed so the tokenizer+md5 work
runs once — persist() cannot share it (lambda-bearing plans defeat the
cache lookup's canonicalization; see llm/minhash).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from verified_sources_spark.cut import cut

from verified_sources_spark.llm.minhash import _shingles_sql, _tokens_sql

__all__ = ["importance_weights"]


def _bucket_occurrences(df: DataFrame, id_col: str, text_col: str,
                        n: int, n_buckets: int) -> DataFrame:
    """One row per n-gram OCCURRENCE (repeats kept — distributions
    are over occurrences, not types): (id, bucket) with bucket =
    60-bit md5 prefix of the space-joined n-gram, mod n_buckets."""
    toks = df.select(
        F.col(id_col),
        F.expr(_tokens_sql(text_col)).alias("toks"))
    grams = toks.select(
        F.col(id_col), F.expr(_shingles_sql(n)).alias("gs"))
    return grams.select(
        F.col(id_col), F.explode("gs").alias("g")).select(
        F.col(id_col),
        F.expr("CAST(conv(substring(md5(g), 1, 15), 16, 10) "
               f"AS BIGINT) % {n_buckets}L").alias("bucket"))


def importance_weights(df: DataFrame, target_df: DataFrame,
                       id_col: str = "doc_id",
                       text_col: str = "text",
                       n: int = 2,
                       n_buckets: int = 8192,
                       scale: int = 1_000_000) -> DataFrame:
    """Score every ``df`` document's affinity to ``target_df`` by the
    integer-exact hashed n-gram likelihood-ratio sum described in the
    module docstring.

    Returns (id, n_ngrams, score, selected): ``n_ngrams`` the
    document's n-gram occurrence count, ``score`` the summed ratio
    terms (0 for documents under ``n`` tokens), ``selected`` true
    when score > n_ngrams·scale.  Deterministic — no sampling jitter;
    callers wanting DSIR's Gumbel resampling can rank on ``score``
    with any hash jitter downstream.  The per-occurrence cut is a
    checkpoint whose blocks are cleaned when its RDD is garbage
    collected; there is nothing to release."""
    # The shared cut is the per-(doc, bucket) occurrence-count table,
    # materialized with localCheckpoint, not persist: the cut sits under
    # a lambda-bearing plan (zip_with shingles), and CacheManager's
    # lookup canonicalization fails on such plans (the llm/minhash r15
    # finding) — a persist() here was registered but never read, so the
    # featurization (and the whole upstream pipeline feeding df)
    # recomputed once per consumer.  Checkpointing shares the cut by RDD
    # identity and truncates the lineage, keeping composed callers'
    # plans bounded.  Counting per (doc, bucket) FIRST (map-side partial
    # agg) also shrinks what gets materialized and shuffled from one row
    # per n-gram occurrence to one row per distinct bucket a document
    # touches; the score is re-expressed as sum(c · term(bucket)) —
    # identical integer arithmetic to summing term once per occurrence.
    occ_src = (
        _bucket_occurrences(df, id_col, text_col, n, n_buckets)
        .groupBy(id_col, "bucket")
        .agg(F.count("*").alias("_c"))
    )
    target_src = _bucket_occurrences(
        target_df, id_col, text_col, n, n_buckets).groupBy(
        "bucket").agg(F.count("*").alias("tc"))
    # The corpus-side and target-side cuts are independent; under AQE a
    # localCheckpoint executes its query stages at construction time, so
    # submit both from a small driver pool (guide §2.6) — the target-side
    # featurization back-fills cores the corpus-side stage tail leaves
    # idle instead of waiting for it.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as _pool:
        _occ_f = _pool.submit(cut, occ_src)
        _tgt_f = _pool.submit(cut, target_src)
        occ = _occ_f.result()
        target_counts = _tgt_f.result()
    raw_counts = occ.groupBy("bucket").agg(F.sum("_c").alias("rc"))
    raw_counts = raw_counts.transform(cut)
    # one-row mass totals, crossJoined (broadcast) into the scorer —
    # the repo's one-row-aggregate crossJoin precedent
    totals = (
        target_counts.agg(
            F.coalesce(F.sum("tc"), F.lit(0)).alias("tt"))
        .crossJoin(raw_counts.agg(
            F.coalesce(F.sum("rc"), F.lit(0)).alias("tr")))
        .select(F.expr(
            f"(tr + {n_buckets}L) * {scale}L "
            f"DIV (tt + {n_buckets}L)").alias("ratio_scale")))
    scored = (
        occ.join(F.broadcast(target_counts), "bucket", "left")
        .join(F.broadcast(raw_counts), "bucket", "left")
        .crossJoin(F.broadcast(totals))
        .groupBy(id_col)
        .agg(F.sum("_c").alias("n_ngrams"),
             F.sum(F.expr(
                 "_c * ((coalesce(tc, 0L) + 1L) * ratio_scale "
                 "DIV (coalesce(rc, 0L) + 1L))")).alias("score")))
    return (
        df.select(id_col).join(scored, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_ngrams", F.lit(0)).alias("n_ngrams"),
            F.coalesce("score", F.lit(0)).alias("score"))
        .withColumn(
            "selected",
            F.col("score") > F.col("n_ngrams") * F.lit(scale)))
