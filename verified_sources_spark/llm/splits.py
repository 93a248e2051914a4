"""Train/eval splitting and deterministic corpus shuffling.

Two operations every pretraining-data pipeline runs after curation and
before tokenization, both absent from naive pipelines in ways that bite
at scale:

- ``leakage_safe_split``: a train/eval split that hashes the NEAR-DUP
  COMPONENT, not the document.  Splitting by doc hash leaks: a document
  and its near-duplicate land on opposite sides and the eval set scores
  memorization, not generalization (the published dedup literature's
  motivating failure).  Components come from the engine's verified
  near-dup pipeline (LSH candidates → shingle-Jaccard → connected
  components), so every near-dup cluster moves as one unit.
- ``shuffled_shards``: a deterministic global shuffle into training
  shards.  Sequential corpus order is heavily clustered (by crawl, by
  domain, by time); training wants an order that is reproducible,
  engine-independent, and resumable.  Shard assignment and intra-shard
  position both derive from md5 of (id, salt) — no RNG, no
  ``ORDER BY rand()``, identical results on any engine that can md5.

Both use md5-derived buckets (not xxhash64) deliberately: md5 is the one
hash every engine agrees on, so the split/shuffle is REPRODUCIBLE
OUTSIDE Spark (the DuckDB oracle recomputes it bit-for-bit) — a training
run can be audited or resumed by a different system.

Scale shape: the split adds one hash + string compare per row on top of
the near-dup component computation (which is the engine's existing
banded/capped pipeline — never all-pairs).  The shuffle is one
repartition-by-shard plus a per-shard sort; a shard is a training-file
unit (GBs), so per-shard sorting is exactly the work a shuffle must do,
and shards are mutually independent (no global sort, no single
partition).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from verified_sources_spark.llm.minhash import lsh_candidate_pairs, ngram_jaccard
from verified_sources_spark.llm.neardup import connected_components


def md5_bucket(col: Column, salt: str, n_hex: int = 8) -> Column:
    """First ``n_hex`` hex chars of md5(value || '|' || salt) as a BIGINT
    — the engine-portable hash bucket (DuckDB: ('0x'||h)::UBIGINT)."""
    h = F.md5(F.concat(col.cast("string"), F.lit("|" + salt)))
    return F.conv(F.substring(h, 1, n_hex), 16, 10).cast("bigint")


def leakage_safe_split(
    df: DataFrame,
    id_col: str,
    text_col: str,
    eval_frac: float = 0.2,
    threshold: float = 0.5,
    shingle_n: int = 3,
    k: int = 8,
    bands: int = 4,
    max_bucket_size: int = 1024,
    salt: str = "split",
) -> DataFrame:
    """(id, component, split) with near-duplicates always on the SAME side.

    ``component`` is the verified near-dup connected component (its
    minimum member id; unpaired docs are their own component).  The split
    decision hashes the component: eval when the first two md5 hex chars
    of ``component|salt`` fall below ``round(256 * eval_frac)`` rendered
    in hex — a string compare both Spark and any SQL engine evaluate
    identically, so expect binomial jitter around ``eval_frac`` (the
    hash is per-component, like any content-addressed sample).
    """
    if not 0.0 <= eval_frac <= 1.0:
        raise ValueError("eval_frac must be in [0, 1]")
    pairs = lsh_candidate_pairs(
        df, id_col, text_col, k=k, bands=bands, shingle_n=shingle_n,
        max_bucket_size=max_bucket_size,
    )
    verified = ngram_jaccard(
        df, id_col, text_col, pairs=pairs, shingle_n=shingle_n, threshold=threshold
    ).select("id_a", "id_b")
    comp = connected_components(verified)
    labeled = df.select(F.col(id_col)).join(
        comp.withColumnRenamed("node", id_col), id_col, "left"
    ).select(
        F.col(id_col),
        F.coalesce(F.col("component"), F.col(id_col)).alias("component"),
    )
    cut_int = round(256 * eval_frac)
    bucket_hex = F.substring(
        F.md5(F.concat(F.col("component").cast("string"), F.lit("|" + salt))), 1, 2
    )
    if cut_int >= 256:  # hex cut would be 3 chars and break the compare
        is_eval = F.lit(True)
    elif cut_int <= 0:
        is_eval = F.lit(False)
    else:
        is_eval = bucket_hex < F.lit(format(cut_int, "02x"))
    return labeled.select(
        id_col,
        "component",
        F.when(is_eval, F.lit("eval")).otherwise(F.lit("train")).alias("split"),
    )


def shuffled_shards(
    df: DataFrame,
    id_col: str,
    n_shards: int,
    salt: str = "shuffle",
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """Deterministic global shuffle: (payload…, shard, pos).

    ``shard`` = md5-bucket(id|salt) mod n_shards; ``pos`` = 1-based rank
    within the shard by (hash, id).  The composition is a uniform random
    permutation of the corpus in (shard, pos) order that any engine can
    recompute — no RNG state, no Spark-partition dependence.

    One shuffle (repartition by shard) + one per-shard sort.  Choose
    ``n_shards`` ≥ cluster parallelism: each shard sorts in one task, and
    a shard is a training-file unit, so this is the minimum possible work
    for a global shuffle — crucially NOT a total order (no single-task
    global sort; shards are independent).
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    cols = list(payload_cols) if payload_cols is not None else [id_col]
    # the window tiebreak orders by id_col, so it must survive the payload
    # projection even when the caller's payload_cols omit it
    extra_id = id_col not in cols
    if extra_id:
        cols.append(id_col)
    key = md5_bucket(F.col(id_col), salt)
    w = Window.partitionBy("shard").orderBy("_key", id_col)
    out = (
        df.select(*cols, key.alias("_key"))
        .withColumn("shard", (F.col("_key") % n_shards).cast("int"))
        .withColumn("pos", F.row_number().over(w))
        .drop("_key")
    )
    return out.drop(id_col) if extra_id else out
