"""MinHash + LSH near-duplicate detection.

shingle → base hash → k linear min-hashes → band → bucket-join:

- Signatures are declarative SQL expressions, JVM-side, no UDFs.  Each
  shingle is hashed ONCE (md5 → 60-bit prefix → bigint); the k minhash
  functions are linear transforms ``(a_i·h + b_i) mod P`` of that base
  (the classic universal-hash family, same shape as Spark MLlib's
  MinHashLSH) — pure long arithmetic, no per-seed string allocation.
  An earlier formulation ran md5 k times per shingle; at 18M hashes the
  k× hex-string churn dominated GC.  md5 (not xxhash64) is kept as the
  base so the DuckDB oracle reproduces signatures bit-for-bit.
- The pipeline is generated as ONE SQL string per call (``spark.sql``
  with a ``{df}`` table argument): an equivalent Column-by-Column
  builder spent ~0.7s of driver time per plan on py4j round trips —
  pure fixed overhead on short interactive runs and on a 1000-executor
  cluster alike.  The plan Catalyst sees is identical.
- Candidate generation groups by (band_idx, band_key): documents agreeing
  on any band meet in one bucket.  The self-join shuffles only
  (band_key, doc_id) pairs — signature-sized, not document-sized — and
  the bucket join is an equi-join Catalyst executes as a hash join.
  All-pairs comparison never happens; cost is O(n·k + candidate pairs).
- Exact verification (``ngram_jaccard``) runs only on candidates.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from verified_sources_spark.cut import cut

from verified_sources_spark.functions.text import TOKEN_RE, shingles
from verified_sources_spark.sizing import should_cut

# FROZEN universal-hash family parameters: the DuckDB oracle renders the
# same literals (plans/oracle.py imports these), so any change is a format
# break for recorded signatures.  P is the 31-bit prime Spark MLlib's
# MinHashLSH uses; base < P and a < P keep a·h + b < 2^62 — no bigint
# overflow on either engine.
MINHASH_PRIME = 2038074743


def _mix64(x: int) -> int:
    """splitmix64 finalizer — full avalanche, so consecutive seeds yield
    uncorrelated outputs."""
    x &= (1 << 64) - 1
    x ^= x >> 30
    x = (x * 0xBF58476D1CE4E5B9) % (1 << 64)
    x ^= x >> 27
    x = (x * 0x94D049BB133111EB) % (1 << 64)
    x ^= x >> 31
    return x


def minhash_ab(i: int) -> tuple[int, int]:
    """Deterministic (a_i, b_i) for seed *i*, frozen.

    Each parameter gets its own fully-mixed splitmix64 stream.  An earlier
    version multiplied the seed by the golden-ratio constant WITHOUT the
    finalizer — multiplication alone is linear, so (a_i, b_i) were near-
    linear in i and a shingle whose transformed value was small under one
    seed was small under every second seed: half the k "independent"
    min-hashes picked the same argmin shingle, silently collapsing the
    family's effective k and skewing every LSH band probability.
    """
    a = (_mix64(2 * i + 1) % (MINHASH_PRIME - 1)) + 1
    b = _mix64(2 * i + 2) % MINHASH_PRIME
    return a, b


def _tokens_sql(col: str) -> str:
    """SQL form of functions.text.tokens (same regex, same semantics)."""
    return f"regexp_extract_all(lower({col}), '{TOKEN_RE}', 0)"


def _shingles_sql(n: int, toks: str = "toks") -> str:
    """SQL form of functions.text.shingles over a projected token column.

    zip_with over shifted slices — ``toks`` is a COLUMN REFERENCE here, so
    the tokenizer runs once per row (an index-lambda formulation would
    re-embed regexp_extract_all per element; observed 50x slowdown)."""
    if n == 1:
        return toks
    expr = (
        f"zip_with({toks}, slice({toks}, 2, greatest(size({toks}) - 1, 0)), "
        "(a, b) -> concat(a, ' ', b))"
    )
    for j in range(2, n):
        expr = (
            f"zip_with({expr}, slice({toks}, {j + 1}, greatest(size({toks}) - {j}, 0)), "
            "(ab, c) -> concat(ab, ' ', c))"
        )
    return f"filter({expr}, s -> s IS NOT NULL)"


def _base_hash_sql(shingles_expr: str) -> str:
    """One md5 per shingle: 60-bit hex prefix → bigint → mod P.
    (15 hex chars = 60 bits, safely inside signed-64 for both engines.)"""
    return (
        f"transform({shingles_expr}, s -> "
        f"CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT) % {MINHASH_PRIME}L)"
    )


def _mins_sql(k: int) -> str:
    """The k linear min-hash projections over a `_mh_base` column."""
    return ", ".join(
        "array_min(transform(_mh_base, x -> (x * {a}L + {b}L) % {p}L)) AS mh_{i}".format(
            a=minhash_ab(i)[0], b=minhash_ab(i)[1], p=MINHASH_PRIME, i=i
        )
        for i in range(k)
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, k: int = 8, shingle_n: int = 3
) -> DataFrame:
    """(id, mh_0..mh_{k-1}) — k min-hashes (bigint) over word shingles.
    Documents too short to shingle get NULL signatures (excluded from LSH).

    The base-hash array is projected once per row in its own step, then
    the k mins reference that column — inlining the md5 transform into
    each min would re-hash every shingle k times."""
    sql = (
        f"WITH _t AS (SELECT `{id_col}`, {_tokens_sql(f'`{text_col}`')} AS toks FROM {{df}}), "
        f"_b AS (SELECT `{id_col}`, {_base_hash_sql(_shingles_sql(shingle_n))} AS _mh_base FROM _t) "
        f"SELECT `{id_col}`, {_mins_sql(k)} FROM _b"
    )
    return df.sparkSession.sql(sql, df=df)


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket_size: int = 1024,
    sub_buckets: int = 32,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing at least one LSH band.

    Per-bucket work is bounded by ``max_bucket_size``: web-scale corpora are
    boilerplate-heavy (cookie banners, templated pages), so one hot band hash
    can hold millions of near-identical docs — quadratic pair expansion there
    would serialize the job into one multi-GB straggler task.  Buckets at or
    under the cap expand all pairs (the precise LSH contract); buckets over
    the cap degrade to a star around the bucket's minimum id — O(n) pairs
    that keep the cluster connected, which is what dedup grouping consumes.

    The cap is enforced with a two-level salted aggregation so no over-cap
    bucket is ever collected into one array:

    1. level 1 groups by (band, salt = xxhash64(id) % sub_buckets).  A
       sub-bucket over the cap *proves* the whole bucket is hot (n >= cnt_s),
       so its members star-link to the sub-bucket minimum right here and its
       array never leaves level 1.
    2. level 2 merges sub-buckets per band key: exact size/min from count/min
       aggregates, member lists only from sub-buckets at or under the cap —
       every collected row is <= sub_buckets * max_bucket_size elements.
       Buckets <= cap are provably complete there (each sub-bucket <= n <= cap)
       and expand exactly as before; hot buckets star their surviving members
       and all sub-bucket minima to the global minimum, which stitches the
       level-1 stars into one connected component.

    Residual skew: a level-1 sub-bucket of a hot cluster still buffers
    ~n/sub_buckets ids in its aggregation buffer — 32x smaller than the
    unsalted collect and linear, not quadratic, in task time.  The single
    band-key shuffle also means a hot bucket's banded rows land in one
    partition; every per-partition step there is linear (salted buffers,
    star expansion), so the straggler degrades to a linear scan of skinny
    (id, band) rows instead of a quadratic pair blow-up.

    The level-1 summaries are CUT (``verified_sources_spark.cut.cut``)
    before the two pair branches (bucket pairs / hot sub-bucket stars)
    read them when ``sizing.should_cut(df)`` — the input may hold
    ``sizing.CUT_MIN_ROWS`` rows or more, or its size is unknowable.  The
    branches form a DAG fork, and Spark cannot share the subtree across
    them: CTEs inline, and neither exchange reuse nor cache lookup ever
    matches plans containing higher-order functions (lambda variables
    defeat canonicalization; ``persist()`` registers a cache entry no
    branch ever reads) — uncut, the whole signature pipeline (the md5 of
    every shingle in the corpus) executes once PER BRANCH, doubling the
    dominant cost at scale.  l1 is the smallest correct cut: one row per
    (band, band_key, salt) with member arrays already capped, orders of
    magnitude smaller than the corpus.  Below the threshold the fork
    recomputes — measured: on a small corpus the second signature
    pass back-fills idle cores and costs almost no wall clock, while the
    cut's block write + stage barrier costs ~0.15 s.
    """
    if k % bands:
        raise ValueError("k must divide into equal bands")
    rows_per_band = k // bands
    cap = int(max_bucket_size)
    # The band key is the RAW minhash tuple, not a hash of it: bucketing
    # only ever tests band equality, and grouping on the longs directly
    # is both collision-free and strictly cheaper than the md5-hex-string
    # key an earlier version built (per banded row it saved rows_per_band
    # CAST-to-string allocations + a concat + an md5, and shrank the
    # shuffle/persist key from a 32-char string to 8·rows_per_band
    # bytes).  When the tuple fits in 62 bits (rows_per_band <= 2 with a
    # 31-bit P — the default) it is PACKED into one bigint,
    # ``mh_a·2^31 + mh_b``: exact injective packing, so bucket membership
    # is untouched, while the shuffle key drops from an array<bigint>
    # (~8·r bytes + offsets/null header per UnsafeArrayData) to one flat
    # long, and group-key hashing/equality stops walking array elements.
    # r15 interleaved A/B at sf0.1: identical 849 pairs, −21 %% best-case
    # wall (1.071 → 0.843 s) together with the filter move below.
    if rows_per_band * 31 <= 62:
        def _packed(b: int) -> str:
            expr = f"mh_{b * rows_per_band}"
            for r in range(1, rows_per_band):
                expr = f"({expr} * 2147483648L + mh_{b * rows_per_band + r})"
            return expr

        band_structs = ", ".join(
            f"struct({b} AS band_idx, {_packed(b)} AS band_key)"
            for b in range(bands)
        )
        null_guard = "band.band_key IS NOT NULL"
    else:
        band_structs = ", ".join(
            "struct({b} AS band_idx, array({parts}) AS band_key)".format(
                b=b,
                parts=", ".join(
                    f"mh_{b * rows_per_band + r}"
                    for r in range(rows_per_band)
                ),
            )
            for b in range(bands)
        )
        null_guard = "band.band_key[0] IS NOT NULL"
    # Plan shape (all one SQL statement; comments map CTE → rationale):
    # - un-shingleable docs (< shingle_n tokens) are dropped by the NULL
    #   band-key guard ABOVE the explode, not by a token-count WHERE on
    #   _t: a predicate there references the tokenizer output, and
    #   Catalyst pushes it below the parallelizing round-robin exchange
    #   by substituting the full regexp_extract_all into the filter — the
    #   corpus regex then ran TWICE per surviving row, once of that
    #   SERIALLY in the scan task (r15 before-plan ops (2)/(4)).  Short
    #   docs propagate NULL minhashes for free (array_min of an empty
    #   array), and a predicate on the generator's output cannot be
    #   pushed below the Generate, so the tokenizer provably runs once,
    #   after the exchange.
    # - banded's REPARTITION hint is the ONE explicit shuffle every stage
    #   downstream reuses: hash partitioning on (band_idx, band_key)
    #   satisfies the clustering requirement of both the salted level-1
    #   GROUP BY (subset rule) and the level-2 GROUP BY, so neither adds
    #   an exchange — the capped plan keeps the exact two-shuffle shape
    #   of an uncapped one (band shuffle + final DISTINCT).
    # - bucket-grouped pair expansion instead of a self-join: signatures
    #   are computed once.
    sql_l1 = f"""
WITH _t AS (
  SELECT `{id_col}` AS id, {_tokens_sql(f'`{text_col}`')} AS toks FROM {{df}}
),
_b AS (
  SELECT id, {_base_hash_sql(_shingles_sql(shingle_n))} AS _mh_base FROM _t
),
sig AS (
  SELECT id, {_mins_sql(k)} FROM _b
),
banded AS (
  SELECT /*+ REPARTITION(band_idx, band_key) */ id, band.band_idx, band.band_key
  FROM (SELECT id, explode(array({band_structs})) AS band FROM sig)
  WHERE {null_guard}
)
SELECT band_idx, band_key, pmod(xxhash64(id), {sub_buckets}) AS salt,
       count(1) AS cnt_s, min(id) AS min_s, collect_list(id) AS ids_s
FROM banded
GROUP BY band_idx, band_key, pmod(xxhash64(id), {sub_buckets})
"""
    l1 = df.sparkSession.sql(sql_l1, df=df)
    if should_cut(df):
        l1 = l1.transform(cut)

    # Two branches read the materialized cut, not three: the complete-bucket
    # pair expansion and the hot-bucket star are ONE case-expression over l2
    # (both yield array<struct<id_a,id_b>>), so the l2 aggregation runs once.
    # Only sub_star still reads l1 directly — it needs per-sub-bucket arrays
    # that must never reach the l2 aggregation buffers.  Measured locally the
    # third branch cost ~0.2s/run of pure stage overhead; on a cluster it was
    # one more pass over the cut.
    sql_pairs = f"""
WITH l2 AS (
  SELECT band_idx, band_key,
         sum(cnt_s) AS bucket_n,
         min(min_s) AS bucket_rep,
         flatten(collect_list(CASE WHEN cnt_s <= {cap} THEN ids_s
                                   ELSE slice(ids_s, 1, 0) END)) AS ids,
         collect_list(min_s) AS sub_reps
  FROM {{l1}} GROUP BY band_idx, band_key
),
bucket_pairs AS (
  -- complete buckets: combos — for each ids[i], pair with the tail
  -- ids[i+2:] (slice is 1-based; i is the 0-based lambda index).
  -- hot buckets: star around the global minimum (rep < member always,
  -- so (id_a < id_b) holds by construction).
  SELECT p.id_a, p.id_b FROM (
    SELECT explode(CASE WHEN bucket_n <= {cap} THEN
      flatten(transform(ids, (x, i) ->
        transform(slice(ids, i + 2, greatest(size(ids) - i - 1, 0)),
                  y -> struct(least(x, y) AS id_a, greatest(x, y) AS id_b))))
    ELSE
      transform(filter(concat(ids, sub_reps), m -> m != bucket_rep),
                m -> struct(bucket_rep AS id_a, m AS id_b))
    END) AS p
    FROM l2 WHERE bucket_n >= 2)
),
sub_star AS (
  SELECT min_s AS id_a, member AS id_b FROM (
    SELECT min_s, explode(ids_s) AS member FROM {{l1}} WHERE cnt_s > {cap})
  WHERE member != min_s
)
SELECT DISTINCT id_a, id_b FROM (
  SELECT id_a, id_b FROM bucket_pairs
  UNION ALL SELECT id_a, id_b FROM sub_star
)
"""
    return df.sparkSession.sql(sql_pairs, l1=l1)


def ngram_jaccard(
    df: DataFrame,
    id_col: str,
    text_col: str,
    pairs: DataFrame | None = None,
    shingle_n: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact shingle-set Jaccard for given candidate pairs (or LSH pairs if
    none given): |A∩B| / |A∪B| on distinct shingles.

    The pair list is exploded to one row per (pair, side) and joined to
    the corpus shingle arrays ONCE, then regrouped per pair.  A
    two-sided join (sets ⨝ id_a, sets ⨝ id_b) would evaluate the
    tokenize→shingle projection — the corpus-dominant cost — twice: the
    two join branches fork the plan DAG and Spark cannot share a subtree
    across them.  The regroup shuffles only candidate-matched shingle
    arrays (LSH output × 2 rows), never the corpus."""
    if pairs is None:
        pairs = lsh_candidate_pairs(df, id_col, text_col, shingle_n=shingle_n)
    # staged tokenizer projection (r16, guide §4 expression duplication):
    # shingling the token-array column reference leaves ONE
    # regexp_extract_all copy in the plan (was ~2n)
    from verified_sources_spark.functions.text import shingles_of, tokens

    sets = df.select(
        F.col(id_col).alias("__id"), tokens(text_col).alias("__toks")
    ).select(
        "__id",
        F.array_distinct(shingles_of(F.col("__toks"), shingle_n)).alias("sh"),
    )
    sides = pairs.select(
        "id_a", "id_b", F.explode(F.array("id_a", "id_b")).alias("__id")
    )
    both = (
        sides.join(sets, "__id")
        .groupBy("id_a", "id_b")
        .agg(F.collect_list("sh").alias("shs"))
        .filter(F.size("shs") == 2)  # drop pairs with an un-shingleable side
    )
    a, b = F.col("shs")[0], F.col("shs")[1]
    out = both.select(
        "id_a",
        "id_b",
        (F.size(F.array_intersect(a, b)) / F.size(F.array_union(a, b))).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
