"""Corpus-level curation operators for training-data pipelines.

The operations a web-scale (Common-Crawl-shaped) corpus build runs between
per-document filtering and tokenization — published methodology (C4 /
Gopher-MassiveText / SemDeDup data recipes), re-expressed as Spark
dataflows:

- ``domain_cap``: per-domain document quotas (C4-style source balancing) —
  keep at most N docs per domain by a deterministic priority order.
- ``unigram_nll``: corpus-unigram language-model scoring (the cheap
  perplexity proxy used for quality bucketing): two aggregation passes,
  token-frequency table joined back, bits-per-token per document.
- ``pack_manifest``: global token-offset assignment for sequence packing
  (concat-then-chunk training prep).  The global running sum uses the
  bucketed two-pass prefix scan from ``operators.prefix`` — a plain
  ``Window.orderBy`` with no partitionBy would drag the whole corpus
  through one partition.
- ``incremental_dedup``: dedup an incoming batch against a STANDING corpus
  without re-pairing the corpus with itself — the operation a 100 TB
  pipeline actually runs daily (you never re-dedup the whole corpus).
  Exact layer: content-md5 semi-join.  Near layer: MinHash LSH band
  hashes of the incoming batch semi-joined against the standing corpus's
  band table (which at scale is a maintained, incremental table itself).
- ``semantic_dedup``: SemDeDup-style embedding dedup — k-means clusters
  (shared quantizer with ``similarity.ivf_topk``), pairwise cosine only
  WITHIN a cluster, drop all but the lowest id of each near-identical
  group.  All-pairs across the corpus never happens; per-cluster work is
  bounded by cluster size.

Reference parity: the reference pipeline ships no corpus-level curation —
these extend the engine for the training-data workloads named in
SURVEY.md §7's build plan (dedup/similarity/text-analysis pillar).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from verified_sources_spark.boundary import map_groups
from verified_sources_spark.cut import cut
from verified_sources_spark.functions.text import token_count, tokens
from verified_sources_spark.llm.minhash import minhash_signatures
from verified_sources_spark.llm.similarity import (
    _matrix,
    rank_clusters,
    train_kmeans,
    train_kmeans_quantized,
)
from verified_sources_spark.operators.prefix import (
    BUCKET_COL,
    bucketed_prefix_sum,
    with_range_buckets,
)
from verified_sources_spark.sizing import should_cut


def domain_cap(
    df: DataFrame,
    domain_col: str,
    cap: int,
    order_by: list[Column],
    rank_col: str = "domain_rank",
    two_stage: bool = True,
    salt_cols: list[str] | None = None,
) -> DataFrame:
    """Keep at most ``cap`` rows per domain, by a deterministic priority.
    The rank column is kept so the output is self-describing (rank 1 =
    best doc of its domain).

    ``two_stage=True`` (default) is the salted EXACT top-N optimization
    for skewed domains.  A single window on the domain key shuffles a
    mega-domain (half the crawl is one host) into ONE task that must sort
    it.  Stage 1 instead windows on (domain, salt) — salt = row hash mod
    64, so the one full-data shuffle is skew-free — and keeps only each
    sub-group's top ``cap``.  Stage 2 ranks the ≤ cap × 64 survivors per
    domain on the domain key alone: a metadata-sized second shuffle and a
    bounded final sort.  The survivors are a superset of the true global
    top-cap (a domain's global top-cap rows are within the top-cap of
    whatever sub-group holds them), so the result is EXACT.

    ``salt_cols`` names the columns hashed into the stage-1 salt; any
    per-row-varying subset works (the salt only needs to spread a domain's
    rows, correctness never depends on WHICH sub-group a row lands in).
    Pass the id/order columns to avoid hashing wide text payloads; default
    is every column, cast to string so unhashable types (maps, nested
    structs) degrade to their string form instead of failing xxhash64.
    """
    if two_stage:
        salt_src = salt_cols if salt_cols else df.columns
        salt = F.pmod(
            F.xxhash64(*[F.col(c).cast("string") for c in salt_src]), F.lit(64)
        )
        w_local = Window.partitionBy(F.col(domain_col), salt).orderBy(*order_by)
        df = (
            df.withColumn("_lrn", F.row_number().over(w_local))
            .filter(F.col("_lrn") <= cap)
            .drop("_lrn")
        )
    w = Window.partitionBy(domain_col).orderBy(*order_by)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= cap)
    )


def unigram_rarity(df: DataFrame, id_col: str, text_col: str, rare_max_count: int = 2) -> DataFrame:
    """Corpus-unigram rarity scoring per document — the cheap LM-quality
    proxy (a doc of common in-distribution tokens scores a high mean token
    probability; rare-token gibberish scores low; a high rare-token
    fraction flags OCR noise / codes / non-language).

    Deliberately integer-exact (no logs, no order-dependent double sums)
    so the DuckDB oracle hash-matches bit-for-bit:

    - ``n_tokens``: doc token count;
    - ``rare_frac``: fraction of tokens whose CORPUS count ≤
      ``rare_max_count`` (exact int ratio, one rounded division);
    - ``mean_token_prob``: mean over the doc's tokens of corpus p(tok) =
      Σ cnt(tok) / (n_tokens · total) — exact bigint sums, one double
      division at the end.

    Plan shape: explode → (token) count agg builds the frequency table;
    the corpus total is a one-row aggregate cross-joined in (broadcast
    nested loop of a single row); the score join is token-keyed and left
    to AQE — the vocabulary of a web corpus has a long unique-token tail,
    so it is NOT forced broadcast.  Docs with zero tokens survive with
    n_tokens=0 and NULL scores (the left join back to the id spine).
    """
    toks = df.select(F.col(id_col).alias("_id"), F.explode(tokens(text_col)).alias("tok"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = freq.agg(F.sum("cnt").alias("total"))
    scored = toks.join(freq, "tok").crossJoin(F.broadcast(total))
    per_doc = scored.groupBy("_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("cnt") <= rare_max_count, 1).otherwise(0)).cast("long").alias("_n_rare"),
        F.sum("cnt").cast("long").alias("_sum_cnt"),
        F.max("total").alias("_total"),
    )
    spine = df.select(F.col(id_col).alias("_id"))
    out = spine.join(per_doc, "_id", "left")
    return out.select(
        F.col("_id").alias(id_col),
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
        F.round(F.col("_n_rare") / F.col("n_tokens"), 6).alias("rare_frac"),
        # denominator multiplied in DOUBLE: n_tokens × corpus_total overflows
        # bigint at web scale (1e6-token doc × 1e13-token corpus), and Spark's
        # non-ANSI long multiply would wrap silently where DuckDB errors
        F.round(
            F.col("_sum_cnt")
            / (F.col("n_tokens").cast("double") * F.col("_total").cast("double")),
            12,
        ).alias("mean_token_prob"),
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str,
    min_count: int = 5,
    scale: int = 1_000_000,
) -> DataFrame:
    """Corpus-wide PMI collocation ranking — the classic association
    measure (Church & Hanks 1990) that surfaces multiword units
    ("new york", "machine learning") for tokenizer vocab curation and
    boilerplate discovery.

    Integer-exact so the DuckDB oracle replays bit-for-bit: the score
    is exp(PMI) scaled, ``pmi_ratio_scaled =
    (c_xy · n_tokens · scale) DIV (c_x · c_y)`` in DECIMAL(38,0) —
    no log/exp (libm rounding differs across engines).  The bigram
    probability is normalized by n_tokens rather than n_pairs; the
    n_tokens/n_pairs correction is a GLOBAL constant (≈1 + one short
    doc per corpus doc), so the RANKING is identical and callers can
    apply it from the emitted ``n_tokens``.  Headroom: the
    intermediate is ≤ n_tokens²·scale < 10^38 for any corpus under
    ~10^15 tokens, and the bigint result needs
    n_tokens·scale/min_count < 9.2·10^18 (at the defaults: a ~46
    trillion-token corpus; lower ``scale`` or raise ``min_count``
    past that — the dsir headroom convention).

    100 TB shape: ONE tokenizer pass — each row projects its token
    array once (column reference, not re-derived per element) and
    emits unigram entries (w2 NULL) and bigram entries through a
    single explode, so one (w1, w2)-keyed exchange with map-side
    partial aggregation builds both count tables.  The type-level
    count table is cut (vocab-sized, not occurrence-sized) because
    three branches consume it.  The c_x/c_y joins are left to AQE —
    a web corpus's bigram-type table has a long tail, so neither
    side is forced broadcast; the corpus total is the one-row
    broadcast crossJoin precedent."""
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    if scale < 1:
        raise ValueError("scale must be >= 1")
    toks = df.select(tokens(text_col).alias("toks"))
    entries = (
        "concat("
        "transform(toks, w -> named_struct("
        "'w1', w, 'w2', CAST(NULL AS STRING))), "
        "filter(zip_with(toks, "
        "slice(toks, 2, greatest(size(toks) - 1, 0)), "
        "(a, b) -> named_struct('w1', a, 'w2', b)), "
        "p -> p.w2 IS NOT NULL))"
    )
    occ = toks.select(F.explode(F.expr(entries)).alias("e")).select(
        F.col("e.w1").alias("w1"), F.col("e.w2").alias("w2"))
    counts = occ.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("c"))
    # localCheckpoint, not persist: the count table sits under the
    # lambda-bearing unigram/bigram explode, where cache-lookup
    # canonicalization fails (llm/minhash r15 finding) — a persist() was
    # never read and every consumer (uni, big, the two join sides, the
    # total) re-ran the explode; checkpoint shares by RDD identity
    counts = counts.transform(cut)
    uni = counts.filter(F.col("w2").isNull()).select(
        F.col("w1").alias("tok"), F.col("c").alias("cu"))
    total = uni.agg(
        F.coalesce(F.sum("cu"), F.lit(0)).cast("long")
        .alias("n_tokens"))
    big = counts.filter(
        F.col("w2").isNotNull() & (F.col("c") >= min_count)).select(
        "w1", "w2", F.col("c").alias("c_xy"))
    return (
        big.join(uni.select(F.col("tok").alias("w1"),
                            F.col("cu").alias("c1")), "w1")
        .join(uni.select(F.col("tok").alias("w2"),
                         F.col("cu").alias("c2")), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1", "w2", "c_xy", "c1", "c2", "n_tokens",
            F.expr(
                f"CAST(CAST(c_xy AS DECIMAL(38,0)) * n_tokens * "
                f"{scale}L DIV (CAST(c1 AS DECIMAL(38,0)) * c2) "
                "AS BIGINT)").alias("pmi_ratio_scaled")))


def budget_apportionment(
    df: DataFrame,
    group_col: str,
    weight_col: str,
    budget: int,
) -> DataFrame:
    """Apportion an integer token budget across groups exactly
    proportionally to their weights — the step BEFORE
    ``mixture_sample``: given per-source token masses, derive the
    integer per-source targets that sum to the budget EXACTLY (float
    rounding of ``budget × share`` loses or invents tokens; a 2T
    budget misallocated by one part in 2^53 is still thousands of
    documents).

    Largest-remainder (Hamilton) method, fully deterministic: each
    group gets ``⌊budget·w/W⌋``; the ``budget − Σ⌊·⌋`` leftover units
    (strictly fewer than the number of groups) go one each to the
    largest remainders, ties broken by group name ascending.  The
    quota product runs in DECIMAL(38,0) (budget·w overflows bigint
    for trillion-token corpora); remainders are derived by
    multiply-back subtraction, so no cross-engine ``%`` semantics
    are in play.  If the total weight is 0, every allocation is 0.

    100 TB shape: one aggregation to the G-sized weight table; the
    ranking window is GLOBAL but post-aggregation (G = sources/
    languages, not rows), so the single-partition sort is G log G on
    one executor — the only correct place for an unpartitioned
    window in this engine.  Returns (group, weight, alloc) with
    Σ alloc = budget whenever W > 0."""
    if budget < 0:
        raise ValueError("budget must be >= 0")
    agg = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.coalesce(F.sum(weight_col), F.lit(0)).cast("long")
        .alias("weight"))
    tot = agg.agg(F.coalesce(F.sum("weight"), F.lit(0))
                  .cast("long").alias("_w_total"))
    quotas = (
        agg.crossJoin(F.broadcast(tot))
        .select(
            "grp", "weight", "_w_total",
            F.expr(
                f"CASE WHEN _w_total = 0 THEN 0L ELSE CAST("
                f"CAST({budget}L AS DECIMAL(38,0)) * weight "
                "DIV _w_total AS BIGINT) END").alias("floor_alloc"))
        .withColumn(
            "remainder",
            F.expr(
                f"CASE WHEN _w_total = 0 THEN 0L ELSE CAST("
                f"CAST({budget}L AS DECIMAL(38,0)) * weight "
                "- CAST(floor_alloc AS DECIMAL(38,0)) * _w_total "
                "AS BIGINT) END")))
    leftover = quotas.agg(
        F.expr(f"CASE WHEN max(_w_total) = 0 THEN 0L "
               f"ELSE {budget}L - sum(floor_alloc) END")
        .alias("_leftover"))
    w = Window.orderBy(F.col("remainder").desc(), F.col("grp").asc())
    return (
        quotas.withColumn("_rk", F.row_number().over(w))
        .crossJoin(F.broadcast(leftover))
        .select(
            F.col("grp").alias(group_col), "weight",
            (F.col("floor_alloc")
             + F.when(F.col("_rk") <= F.col("_leftover"), 1)
             .otherwise(0)).cast("long").alias("alloc")))


def pack_manifest(
    df: DataFrame, id_col: str, text_col: str, seq_len: int
) -> DataFrame:
    """Token-offset packing manifest: where each document lands when the
    corpus is concatenated in ``id_col`` order and chunked into fixed
    ``seq_len``-token training sequences.

    Output per doc: ``n_tokens``, ``start_offset`` (global exclusive
    prefix sum), ``seq_first``/``seq_last`` (the training-sequence ids the
    doc spans; equal for empty docs).  The global running sum is the
    bucketed two-pass prefix scan (operators/prefix.py) — range-bucket on
    id, per-bucket windows in parallel, cross-bucket offsets applied as
    literals; the plan has NO SinglePartition exchange, so the manifest
    scales to any corpus a cluster can scan.
    """
    d = df.select(
        F.col(id_col).alias("_id"),
        token_count(F.col(text_col)).cast("long").alias("n_tokens"),
    )
    b = with_range_buckets(d, "_id")
    c = bucketed_prefix_sum(b, "_id", F.col("n_tokens"), "_cum")
    start = F.col("_cum") - F.col("n_tokens")
    return c.select(
        F.col("_id").alias(id_col),
        F.col("n_tokens"),
        start.alias("start_offset"),
        F.floor(start / seq_len).cast("long").alias("seq_first"),
        F.when(F.col("n_tokens") > 0, F.floor((F.col("_cum") - 1) / seq_len))
        .otherwise(F.floor(start / seq_len))
        .cast("long")
        .alias("seq_last"),
    ).drop(BUCKET_COL)


def mixture_sample(
    df: DataFrame,
    id_col: str,
    text_col: str,
    domain_col: str,
    weights: dict[str, float],
    token_budget: int,
    salt: str = "mix",
) -> DataFrame:
    """Domain-mixture sampling to a token budget (the Pile/FineWeb
    mixture-weights step): domain s gets a target of ``token_budget ×
    weights[s]`` tokens, realized as a deterministic content-addressed
    hash sample at rate ``min(1, target / domain_tokens)``.  Domains
    without a weight are dropped.

    Fully declarative — per-domain token totals are one aggregation whose
    (tiny) result broadcasts back onto the corpus; the keep decision is a
    hash compare per row.  Reuses ``text_prep.hash_sample_bucket``, so
    samples are reproducible across engines/runs and subset-nested when
    the budget grows.  Rates derive from exact bigint token totals; the
    achieved token count is rate-proportional (hash sampling is
    per-document, so expect binomial jitter around the target).
    """
    from verified_sources_spark.llm.text_prep import (
        HASH_SAMPLE_BUCKETS,
        hash_sample_bucket,
    )

    toks = df.select(
        F.col(id_col),
        F.col(domain_col),
        token_count(F.col(text_col)).cast("long").alias("n_tokens"),
    )
    totals = toks.groupBy(domain_col).agg(F.sum("n_tokens").alias("_dom_tokens"))
    w = F.lit(0.0)
    for dom, frac in sorted(weights.items()):
        w = F.when(F.col(domain_col) == F.lit(dom), F.lit(float(frac))).otherwise(w)
    rates = totals.select(
        F.col(domain_col),
        F.round(
            F.least(F.lit(1.0), F.lit(float(token_budget)) * w / F.col("_dom_tokens"))
            * HASH_SAMPLE_BUCKETS
        )
        .cast("long")
        .alias("_thr"),
    )
    joined = toks.join(F.broadcast(rates), domain_col)
    return joined.filter(hash_sample_bucket(id_col, salt=salt) < F.col("_thr")).select(
        id_col, domain_col, "n_tokens"
    )


def corpus_report(df: DataFrame, id_col: str, text_col: str, domain_col: str) -> DataFrame:
    """Per-domain corpus audit table — the report a curation pipeline
    publishes after each build: document and token counts, exact-duplicate
    rate, and quality-gate pass rate, one row per domain.

    One exploded-free pass for counts (token counts are per-row
    expressions), one content-hash aggregation for dup rates, and the
    quality verdicts reused from ``quality_filter`` — all rolled into a
    single domain-keyed aggregation.  Rates are exact-int ratios
    (hash-deterministic).
    """
    q = quality_filter(df, id_col, text_col)
    base = df.select(
        F.col(id_col),
        F.col(domain_col),
        token_count(F.col(text_col)).cast("long").alias("_n_tok"),
        F.md5(F.col(text_col)).alias("_h"),
    )
    j = base.join(q.select(F.col(id_col), "passes"), id_col)
    return (
        j.groupBy(domain_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_n_tok").cast("long").alias("n_tokens"),
            F.countDistinct("_h").cast("long").alias("n_unique_contents"),
            F.sum("passes").cast("long").alias("n_pass_quality"),
        )
        .select(
            F.col(domain_col),
            "n_docs",
            "n_tokens",
            F.round(
                (F.col("n_docs") - F.col("n_unique_contents")) / F.col("n_docs"), 6
            ).alias("exact_dup_rate"),
            F.round(F.col("n_pass_quality") / F.col("n_docs"), 6).alias("quality_pass_rate"),
        )
    )


def quality_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_quality: float = 0.3,
    max_dup_line_frac: float = 0.3,
    max_top_bigram_frac: float = 0.2,
    min_tokens: int = 5,
    max_tokens: int = 100_000,
) -> DataFrame:
    """Multi-signal document quality gate (the C4/Gopher filter recipe as
    ONE verdict table): length bounds, heuristic quality score, and
    repetition signals each raise a flag; a doc passes when no flag is up.

    Output is one row per doc with bigint flag columns (flag_length /
    flag_quality / flag_repetition) and the ``passes`` verdict — the
    self-describing shape downstream sampling reads (filter on passes,
    or audit why a slice was dropped).  All signals are per-row
    arithmetic over exact counts, so the verdicts are engine-deterministic.
    """
    from verified_sources_spark.functions.text import quality_score, token_count
    from verified_sources_spark.llm.text_prep import repetition_signals

    base = df.select(
        F.col(id_col),
        quality_score(F.col(text_col)).alias("_q"),
        token_count(F.col(text_col)).cast("long").alias("n_tokens"),
    )
    rep = repetition_signals(df, id_col, text_col).select(
        F.col(id_col), "dup_line_frac", "top_bigram_frac"
    )
    j = base.join(rep, id_col)
    flag_length = (
        (F.col("n_tokens") < min_tokens) | (F.col("n_tokens") > max_tokens)
    ).cast("long")
    flag_quality = (F.col("_q") < min_quality).cast("long")
    flag_repetition = (
        (F.col("dup_line_frac") > max_dup_line_frac)
        | (F.col("top_bigram_frac") > max_top_bigram_frac)
    ).cast("long")
    return j.select(
        F.col(id_col),
        F.col("n_tokens"),
        flag_length.alias("flag_length"),
        flag_quality.alias("flag_quality"),
        flag_repetition.alias("flag_repetition"),
        (
            (flag_length == 0) & (flag_quality == 0) & (flag_repetition == 0)
        ).cast("long").alias("passes"),
    )


def band_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, band_idx, band_hash) — the MinHash LSH band table of a corpus
    (same frozen hash family as ``minhash.lsh_candidate_pairs``).

    This is the table a standing corpus MAINTAINS incrementally for
    membership-style near-dup checks: hash-sized rows, k/bands per doc,
    appended batch by batch — never recomputed over the whole corpus.
    Docs too short to shingle produce no rows (NULL signatures filtered).
    """
    rows_per_band = k // bands
    if rows_per_band * bands != k:
        raise ValueError("k must divide into equal bands")
    sig = minhash_signatures(df, id_col, text_col, k=k, shingle_n=shingle_n)
    # Un-shingleable docs are dropped by a NULL band-hash guard ABOVE the
    # explode, not by a `mh_0 IS NOT NULL` filter on sig (r16; the r15
    # lsh_candidate_pairs class): a predicate on the signature column
    # gets pushed below the staged projections with the FULL signature
    # expression substituted in — the optimized plan carried five extra
    # regexp_extract_all copies per consumer branch, re-running the
    # dominant per-row work once in the Filter and again in the Project.
    # The null-propagating concat() yields the same joined string as the
    # old concat_ws for signed docs (all k mins are null together: they
    # share _mh_base), so band_hash VALUES — and every standing
    # fingerprint table built from them — are unchanged; a predicate on
    # the generator's output cannot be pushed below the Generate.
    def _joined(b: int):
        parts: list = []
        for r in range(rows_per_band):
            if r:
                parts.append(F.lit("|"))
            parts.append(F.col(f"mh_{b * rows_per_band + r}").cast("string"))
        return parts[0] if len(parts) == 1 else F.concat(*parts)

    band_structs = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.md5(_joined(b)).alias("band_hash"),
        )
        for b in range(bands)
    ]
    return (
        sig.select(F.col(id_col), F.explode(F.array(*band_structs)).alias("band"))
        .select(id_col, "band.band_idx", "band.band_hash")
        .filter(F.col("band_hash").isNotNull())
    )


def verified_near_inc_ids(
    cand: DataFrame,
    inc_texts: DataFrame,
    ex_texts: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    min_jaccard: float,
) -> DataFrame:
    """Distinct ``_inc`` ids from candidate pairs (``_inc``, ``_ex``)
    whose exact shingle-set Jaccard against the paired text reaches
    ``min_jaccard``.  BOTH text sides are semi-joined down to the ids
    that actually appear in candidate pairs before any tokenization, so
    the heavy string work is O(colliding docs), never O(corpus) — shared
    by ``incremental_dedup`` and ``CorpusIngest``.
    """
    from verified_sources_spark.functions.text import shingles_of, tokens

    def sets(texts: DataFrame, key: str, out: str) -> DataFrame:
        pruned = texts.join(
            cand.select(F.col(key).alias(id_col)).distinct(), id_col, "left_semi"
        )
        # staged tokenizer projection (r16, guide §4): one
        # regexp_extract_all copy per side instead of ~2·shingle_n
        return pruned.select(
            F.col(id_col).alias(key), tokens(F.col(text_col)).alias("__toks")
        ).select(
            key,
            F.array_distinct(shingles_of(F.col("__toks"), shingle_n)).alias(out),
        )

    pairs = cand.join(sets(inc_texts, "_inc", "_sa"), "_inc").join(
        sets(ex_texts, "_ex", "_sb"), "_ex"
    )
    inter = F.size(F.array_intersect(F.col("_sa"), F.col("_sb")))
    union = F.size(F.col("_sa")) + F.size(F.col("_sb")) - inter
    return (
        pairs.filter(inter / F.greatest(union, F.lit(1)) >= min_jaccard)
        .select(F.col("_inc").alias(id_col))
        .distinct()
    )


def incremental_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    existing_pred: Column,
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    min_jaccard: float | None = None,
) -> DataFrame:
    """Dedup the incoming batch (rows where NOT ``existing_pred``) against
    the standing corpus (rows where ``existing_pred``), never pairing the
    standing corpus with itself.

    - exact layer: md5(text) of incoming semi-joined against the standing
      corpus's distinct content hashes;
    - near layer: MinHash LSH band hashes (same frozen family as
      ``minhash.lsh_candidate_pairs``) of incoming semi-joined against the
      standing corpus's band table on (band_idx, band_hash).

    Both joins shuffle only hash-sized keys.  At 100 TB the standing
    corpus's hash/band tables are maintained incrementally (append each
    accepted batch's hashes), so a daily increment costs
    O(increment + matching buckets), not O(corpus).

    ``min_jaccard=None`` (default) flags near-dups at CANDIDATE level: any
    band collision rejects — cheap, but a band of 2 minhashes collides
    with noticeable probability at moderate similarity, so good docs can
    be over-rejected.  Set ``min_jaccard`` (e.g. 0.7) to verify: colliding
    (incoming, standing) pairs — candidates only, never all-pairs — get
    an exact shingle-set Jaccard, and only pairs at or above the
    threshold count as near-dups.  Shingle sets are computed for the
    docs in colliding pairs only.

    Output: one row per incoming doc — ``is_exact_dup``, ``is_near_dup``,
    ``keep``.
    """
    # NULL-safe split: a row whose predicate evaluates NULL would vanish
    # from BOTH filter(pred) and filter(~pred) under three-valued logic;
    # treat NULL as incoming so every row is dedup-checked and reported
    existing = df.filter(existing_pred)
    incoming = df.filter(~F.coalesce(existing_pred, F.lit(False)))

    content_h = F.md5(F.col(text_col)).alias("_h")
    existing_h = existing.select(content_h).distinct()
    inc_ids = incoming.select(F.col(id_col), content_h)
    exact_hits = (
        inc_ids.join(existing_h, "_h", "left_semi").select(id_col).distinct()
    )

    existing_ids = existing.select(id_col)
    incoming_ids = incoming.select(id_col)
    sig_bands = band_table(df, id_col, text_col, k=k, bands=bands, shingle_n=shingle_n)
    # The existing/incoming semi-joins FORK the plan DAG, and Spark
    # cannot share a lambda-bearing subtree across branches (the
    # llm/minhash r15 finding) — without materialization the whole
    # signature pipeline (tokenize+shingle+md5+minhash of EVERY row)
    # executes once per branch.  Same size rule as lsh_candidate_pairs'
    # level-1 cut (sizing.should_cut).
    if should_cut(df):
        sig_bands = sig_bands.transform(cut)
    existing_band_rows = sig_bands.join(existing_ids, id_col, "left_semi")
    incoming_bands = sig_bands.join(incoming_ids, id_col, "left_semi")
    if min_jaccard is None:
        existing_bands = existing_band_rows.select("band_idx", "band_hash").distinct()
        near_hits = (
            incoming_bands.join(existing_bands, ["band_idx", "band_hash"], "left_semi")
            .select(id_col)
            .distinct()
        )
    else:
        cand = (
            incoming_bands.select(
                F.col(id_col).alias("_inc"), "band_idx", "band_hash"
            )
            .join(
                existing_band_rows.select(
                    F.col(id_col).alias("_ex"), "band_idx", "band_hash"
                ),
                ["band_idx", "band_hash"],
            )
            .select("_inc", "_ex")
            .distinct()
        )
        near_hits = verified_near_inc_ids(
            cand, incoming, existing, id_col, text_col, shingle_n, min_jaccard
        )

    ex = exact_hits.withColumn("_ex", F.lit(1))
    nr = near_hits.withColumn("_nr", F.lit(1))
    out = incoming.select(id_col).join(ex, id_col, "left").join(nr, id_col, "left")
    is_exact = F.coalesce(F.col("_ex"), F.lit(0)).cast("long")
    is_near = F.coalesce(F.col("_nr"), F.lit(0)).cast("long")
    return out.select(
        F.col(id_col),
        is_exact.alias("is_exact_dup"),
        is_near.alias("is_near_dup"),
        ((is_exact == 0) & (is_near == 0)).cast("long").alias("keep"),
    )


def _cluster_pairs_gemm(assigned: DataFrame, threshold: float) -> DataFrame:
    """Over-threshold cosine pairs within each cluster via chunked numpy
    matrix products (one ``map_groups`` group per cluster).

    Memory per task is O(block × n_i), never the full n_i² score matrix:
    rows are scored in 1024-row blocks against the whole cluster, and
    only (id_a < id_b, score >= threshold) hits are emitted.  All math in
    float64, matching ``similarity.embedding_near_dup_pairs``' dot/(|a||b|)
    up to rounding at the threshold boundary."""
    def one_cluster(key, table):
        import numpy as np
        import pyarrow.compute as pc

        ids = table.column("_id")
        order = pc.sort_indices(ids).to_numpy()
        x = _matrix(table.column("_v"), exact=False, scaled=False)[order]
        norms = np.linalg.norm(x, axis=1)
        norms[norms == 0.0] = 1.0  # zero vectors: cosine treated as 0, never a dup
        xn = x / norms[:, None]
        n = table.num_rows
        out_a, out_b = [order[:0]], [order[:0]]  # empty: a cluster may hold no pair
        block = 1024
        for s in range(0, n, block):
            e = min(s + block, n)
            scores = xn[s:e] @ xn.T  # (block, n)
            # only the strict upper triangle: pair (i, j) with i < j
            for bi in range(e - s):
                i = s + bi
                js = np.nonzero(scores[bi, i + 1 :] >= threshold)[0] + i + 1
                if js.size:
                    out_a.append(np.full(js.size, order[i]))
                    out_b.append(order[js])
        return {"id_a": ids.take(np.concatenate(out_a)), "id_b": ids.take(np.concatenate(out_b))}

    return map_groups(assigned, ["cluster"], one_cluster, "id_a long, id_b long")


def semantic_dedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int | None = 16,
    threshold: float = 0.92,
    lloyd_iters: int = 2,
    target_cluster_size: int = 512,
    quantizer: str = "float",
) -> DataFrame:
    """SemDeDup-style embedding dedup: k-means partition, cosine pairs only
    within a cluster, keep the lowest id of each near-identical pair group.

    ``quantizer="exact-int"`` trains and assigns in exact scaled int64
    (``similarity.train_kmeans_quantized``): bit-identical clustering
    across engines and partitionings, so the TRAINED pipeline replays in
    DuckDB SQL and carries a value hash.

    The quantizer is the shared deterministic Lloyd loop (one
    per-partition numpy fold per iteration, centroid-only collects) and
    assignment is ``similarity.rank_clusters``.  The pairwise
    stage runs only within a cluster, so its cost is Σ|cluster|², never
    |corpus|²; ``n_clusters=None`` applies SemDeDup's published recipe —
    scale the cluster count with the corpus (``max(16, n //
    target_cluster_size)``) so the per-cluster quadratic bound stays
    constant as the corpus grows (one metadata-sized count() job).

    The within-cluster pair stage is one ``map_groups`` group per cluster:
    vectors are L2-normalized once, then scored in CHUNKED numpy matrix
    products (1024-row blocks × the cluster), emitting only
    over-threshold pairs — linear memory in the cluster, never the n_i²
    score matrix at once.  The sf1 soak measured the expression
    alternative (a zip_with dot-product self-join) at 100+ s for
    20k×64-d vectors: interpreted per-pair dot products are ~50x slower
    than one BLAS call per block.  Its pairs are those of
    ``similarity.embedding_near_dup_pairs`` within a cluster, up to
    float64 rounding exactly at the threshold (normalize-then-dot
    against dot/(|a||b|): algebraically equal, one ulp apart in the last
    operation order).

    Output: kept rows as (id, cluster) plus ``n_dropped_dups`` — how many
    near-identical neighbors this survivor absorbed (0 for most rows).

    Drop/attribution semantics are **per-pair greedy**, not transitive:
    a row is dropped iff some pair ranks it second (``id_b``), and
    ``n_dropped_dups`` counts only pairs whose FIRST member survived.  On
    a chain a~b, b~c (no a~c pair) that drops b and c, a's count is 1 —
    c's drop is attributed to nobody because its keeper b was itself
    dropped, and c may have no surviving near-identical representative.
    Computing drops over connected components (``neardup.
    connected_components``) would change the kept set on chains (SemDeDup
    proper is pairwise within a cluster, as here), so the greedy form is
    the contract; treat ``n_dropped_dups`` as a per-pair diagnostic, and
    sum of counts ≤ number of dropped rows.
    """
    c = emb.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    if n_clusters is None:
        n_clusters = max(16, c.count() // max(1, target_cluster_size))
    if n_clusters > 4096:
        # asymptotic path: with k ∝ n, flat training/assignment is n×k
        # ∝ n² FLOPs even in BLAS — the two-level coarse/fine quantizer
        # (similarity.train_kmeans_two_level) brings both to n×O(√k);
        # fine counts are population-proportional, preserving the
        # bounded-cluster-size property the pair stage depends on
        from verified_sources_spark.llm.similarity import (
            assign_two_level,
            train_kmeans_two_level,
        )

        coarse, fine = train_kmeans_two_level(
            c, "_id", "_v", n_clusters, lloyd_iters
        )
        assigned = assign_two_level(c, "_id", "_v", coarse, fine)
    else:
        train = train_kmeans_quantized if quantizer == "exact-int" else train_kmeans
        assigned = rank_clusters(c, "_id", "_v", train(c, "_id", "_v", n_clusters, lloyd_iters))
    # assigned feeds the pair stage AND the final kept-join (3 copies of
    # the quantize+assign subtree in the uncut final plan — each one a
    # full Python-boundary pass); pairs feeds drops and the absorption
    # count (2 copies of the map_groups cluster stage).  Cut both so
    # the assignment and the pair scan each execute once (r16, §2.4).
    assigned = assigned.transform(cut)
    pairs = _cluster_pairs_gemm(assigned, threshold)
    pairs = pairs.transform(cut)
    drops = pairs.select(F.col("id_b").alias("_id")).distinct()
    absorbed = pairs.join(drops.withColumnRenamed("_id", "id_a"), "id_a", "left_anti")
    n_absorbed = absorbed.groupBy(F.col("id_a").alias("_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_dropped_dups")
    )
    kept = assigned.join(drops, "_id", "left_anti").join(n_absorbed, "_id", "left")
    return kept.select(
        F.col("_id").alias(id_col),
        F.col("cluster"),
        F.coalesce(F.col("n_dropped_dups"), F.lit(0)).cast("long").alias("n_dropped_dups"),
    )


def semantic_dedup_text(
    df: DataFrame,
    id_col: str,
    text_col: str,
    base_url: str,
    api_key: str | None = None,
    model: str = "embedder-v1",
    n_clusters: int | None = None,
    threshold: float = 0.92,
    lloyd_iters: int = 2,
) -> DataFrame:
    """Raw text → SemDeDup, end-to-end: embed ``text_col`` through a live
    /v1/embeddings endpoint (llm/endpoint.embed_texts — one batched HTTP
    call per Arrow batch) and run :func:`semantic_dedup` on the result.
    Closes the gap where semantic dedup required precomputed vectors:
    a documents table with only text now flows text → vector → dedup in
    one plan (reference analogue: the hosted-model call in
    sources/unstructured_data/helpers.py:30-63).  The embedding stage is
    per-row independent (no shuffle); everything after is the standard
    bounded within-cluster quadratic."""
    from verified_sources_spark.llm.endpoint import embed_texts

    emb = embed_texts(
        df, id_col, text_col, base_url, api_key=api_key, model=model
    )
    return semantic_dedup(
        emb,
        id_col,
        "embedding",
        n_clusters=n_clusters,
        threshold=threshold,
        lloyd_iters=lloyd_iters,
    )
