"""Corpus-level curation operators (llm/corpus.py)."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from verified_sources_spark.llm.corpus import (
    domain_cap,
    incremental_dedup,
    pack_manifest,
    semantic_dedup,
    unigram_rarity,
)

SF = "/root/testdata/sf0.001"


def test_domain_cap_keeps_top_n_per_domain(spark):
    rows = [(i, f"d{i % 3}", 100 - i) for i in range(30)]
    df = spark.createDataFrame(rows, "id long, domain string, score long")
    out = domain_cap(df, "domain", 4, [F.col("score").desc(), F.col("id").asc()])
    got = {(r["domain"], r["id"], r["domain_rank"]) for r in out.collect()}
    assert len(got) == 12  # 3 domains x cap 4
    # per domain, ids ascend with score descending: best of d0 is id=0
    assert ("d0", 0, 1) in got and ("d0", 3, 2) in got
    assert all(rank <= 4 for _, _, rank in got)


def test_domain_cap_two_stage_equals_single_stage_on_skew(spark):
    """The salted two-stage path must be EXACT: same survivors and ranks
    as the plain single-window formulation, on a skewed domain layout
    (one mega-domain, several small ones, priority ties broken by id)."""
    rows = [(i, "mega", (i * 37) % 11) for i in range(2000)]
    rows += [(10_000 + i, f"small{i % 5}", i % 7) for i in range(50)]
    df = spark.createDataFrame(rows, "id long, domain string, score long").repartition(16)
    order = [F.col("score").desc(), F.col("id").asc()]
    two = domain_cap(df, "domain", 25, order, two_stage=True)
    one = domain_cap(df, "domain", 25, order, two_stage=False)
    assert sorted(map(tuple, two.collect())) == sorted(map(tuple, one.collect()))


def test_unigram_rarity_hand_computed(spark):
    df = spark.createDataFrame(
        [(1, "the the cat"), (2, "the dog"), (3, "")],
        "doc_id long, text string",
    )
    # corpus counts: the=3, cat=1, dog=1; total=5
    out = {r["doc_id"]: r for r in unigram_rarity(df, "doc_id", "text").collect()}
    assert out[1]["n_tokens"] == 3
    # doc1: rare tokens (cnt<=2): cat only -> 1/3
    assert abs(out[1]["rare_frac"] - round(1 / 3, 6)) < 1e-9
    # doc1 mean prob: (3+3+1)/(3*5)
    assert abs(out[1]["mean_token_prob"] - round(7 / 15, 12)) < 1e-12
    assert out[3]["n_tokens"] == 0 and out[3]["rare_frac"] is None


def test_pack_manifest_matches_naive_window_and_no_single_partition(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    got = pack_manifest(docs, "doc_id", "text", 64)
    # naive single-partition reference
    from verified_sources_spark.functions.text import token_count

    d = docs.select(F.col("doc_id"), token_count(F.col("text")).cast("long").alias("n"))
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ref = d.withColumn("cum", F.sum("n").over(w)).select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        (F.col("cum") - F.col("n")).alias("start_offset"),
        F.floor((F.col("cum") - F.col("n")) / 64).cast("long").alias("seq_first"),
        F.when(F.col("n") > 0, F.floor((F.col("cum") - 1) / 64))
        .otherwise(F.floor((F.col("cum") - F.col("n")) / 64))
        .cast("long")
        .alias("seq_last"),
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan


def test_incremental_dedup_flags_planted_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = []
    for i in range(60):  # standing corpus: ids 0..59 (pred: id < 60)
        rows.append((i, f"{base} standing document number {i} with unique suffix {i * 7}"))
    rows.append((100, rows[5][1]))  # exact copy of standing doc 5
    rows.append((101, rows[6][1] + " tiny change"))  # near-dup of standing doc 6
    rows.append((102, "completely different content about spark engines " * 3))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in incremental_dedup(df, "doc_id", "text", F.col("doc_id") < 60).collect()
    }
    assert set(out) == {100, 101, 102}
    assert out[100]["is_exact_dup"] == 1 and out[100]["keep"] == 0
    assert out[101]["is_exact_dup"] == 0
    assert out[101]["is_near_dup"] == 1 and out[101]["keep"] == 0
    assert out[102]["is_exact_dup"] == 0 and out[102]["keep"] == 1


def test_semantic_dedup_drops_planted_near_identical_vectors(spark):
    import math

    def unit(angle, dim=8):
        v = [0.0] * dim
        v[0], v[1] = math.cos(angle), math.sin(angle)
        return v

    rows = []
    for i in range(32):  # spread: one vector per distinct angle
        rows.append((i, unit(0.4 * i + 2.0)))
    # planted near-identical group at a fresh angle: ids 100,101,102
    for j, eps in [(100, 0.0), (101, 1e-4), (102, 2e-4)]:
        rows.append((j, unit(1.234 + eps)))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = semantic_dedup(df, "vec_id", "embedding", n_clusters=4, threshold=0.999)
    kept = {r["vec_id"]: r["n_dropped_dups"] for r in out.collect()}
    assert 100 in kept and 101 not in kept and 102 not in kept
    assert kept[100] == 2  # absorbed both planted twins
    # everything else survives
    assert all(i in kept for i in range(32))


def test_semantic_dedup_matches_exact_pairs_within_clusters(spark):
    """The chunked-GEMM pair stage keeps and counts exactly what the
    exact all-pairs cosine (``embedding_near_dup_pairs``: float64
    dot/(|a|·|b|) >= threshold, the oracle-checked expression) gives
    when limited to pairs inside one cluster: drop every pair's second
    id, count each surviving first id's pairs.  Seeded vectors straddle
    the threshold both ways."""
    import random
    from collections import Counter

    from verified_sources_spark.llm.similarity import (
        embedding_near_dup_pairs,
        rank_clusters,
        train_kmeans,
    )

    rnd = random.Random(7)
    rows = []
    for i in range(300):
        rows.append((i, [rnd.uniform(-1, 1) for _ in range(16)]))
    # planted tight groups in several clusters
    for base in (400, 500, 600):
        v = [rnd.uniform(-1, 1) for _ in range(16)]
        for j in range(3):
            rows.append((base + j, [x + j * 1e-5 for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = sorted(
        tuple(r)
        for r in semantic_dedup(df, "vec_id", "embedding", n_clusters=6, threshold=0.98).collect()
    )

    c = df.select(F.col("vec_id").alias("_id"), F.col("embedding").alias("_v"))
    cents = train_kmeans(c, "_id", "_v", 6, 2)
    cluster = {r["_id"]: r["cluster"] for r in rank_clusters(c, "_id", "_v", cents).collect()}
    pairs = [
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(df, threshold=0.98).collect()
        if cluster[r["id_a"]] == cluster[r["id_b"]]
    ]
    drops = {b for _, b in pairs}
    absorbed = Counter(a for a, _ in pairs if a not in drops)
    want = sorted((i, cl, absorbed[i]) for i, cl in cluster.items() if i not in drops)
    assert got == want
    kept = {r[0] for r in got}
    assert {400, 500, 600} <= kept
    assert not ({401, 402, 501, 502, 601, 602} & kept)


def test_semantic_dedup_adaptive_cluster_count(spark):
    """n_clusters=None scales with the corpus: small corpus floors at 16
    clusters and still dedups the planted group."""
    rows = [(i, [float(i % 7), float(i % 11), 1.0, 0.0]) for i in range(64)]
    rows += [(200, [3.0, 4.0, 0.0, 0.0]), (201, [3.0, 4.0, 0.0, 1e-6])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = semantic_dedup(
        df, "vec_id", "embedding", n_clusters=None, threshold=0.9999,
        target_cluster_size=4,
    )
    kept = {r["vec_id"] for r in out.collect()}
    assert 200 in kept and 201 not in kept


def test_mixture_sample_targets_and_nesting(spark):
    from verified_sources_spark.llm.corpus import mixture_sample

    rows = [(i, f"d{i % 4}", "tok " * 50) for i in range(400)]
    df = spark.createDataFrame(
        [(i, t.strip(), d) for i, d, t in rows], "doc_id long, text string, source string"
    )
    # per domain: 100 docs x 50 tokens = 5000 tokens
    weights = {"d0": 0.5, "d1": 0.25, "d2": 0.25}  # d3 unweighted -> dropped
    small = mixture_sample(df, "doc_id", "text", "source", weights, token_budget=4000)
    got = {d: 0 for d in ("d0", "d1", "d2")}
    ids_small = set()
    for r in small.collect():
        assert r["source"] != "d3"
        got[r["source"]] += r["n_tokens"]
        ids_small.add(r["doc_id"])
    # targets: d0 2000, d1/d2 1000 of 5000 available — binomial jitter around
    # the rate, so assert within a wide band
    assert 1000 < got["d0"] < 3000
    assert 400 < got["d1"] < 1800 and 400 < got["d2"] < 1800
    # nesting: doubling the budget keeps every previously sampled doc
    big = mixture_sample(df, "doc_id", "text", "source", weights, token_budget=8000)
    ids_big = {r["doc_id"] for r in big.collect()}
    assert ids_small <= ids_big


def test_incremental_dedup_jaccard_verify_layer(spark):
    """min_jaccard turns band collisions from candidate-level rejections
    into verified ones: a true near-dup stays rejected at a moderate
    threshold but is KEPT when the threshold exceeds its real Jaccard."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (i, f"{base} standing document number {i} with unique suffix {i * 7}")
        for i in range(60)
    ]
    near = rows[6][1] + " tiny change"  # true Jaccard ~0.85 vs doc 6
    rows.append((101, near))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pred = F.col("doc_id") < 60

    moderate = {
        r["doc_id"]: r
        for r in incremental_dedup(df, "doc_id", "text", pred, min_jaccard=0.5).collect()
    }
    assert moderate[101]["is_near_dup"] == 1 and moderate[101]["keep"] == 0

    strict = {
        r["doc_id"]: r
        for r in incremental_dedup(df, "doc_id", "text", pred, min_jaccard=0.99).collect()
    }
    assert strict[101]["is_near_dup"] == 0 and strict[101]["keep"] == 1


def test_incremental_dedup_null_predicate_rows_are_incoming(spark):
    """Three-valued logic: rows whose existing_pred is NULL must be
    treated as incoming (checked + reported), not silently dropped."""
    df = spark.createDataFrame(
        [(1, "standing doc with plenty of words to shingle properly", 1),
         (2, "a fresh incoming doc about something else entirely new", 0),
         (3, "null-flagged doc that must not vanish from the output", None)],
        "doc_id long, text string, flag int",
    )
    out = {r["doc_id"] for r in
           incremental_dedup(df, "doc_id", "text", F.col("flag") == 1).collect()}
    assert out == {2, 3}


def test_dsir_importance_weights(spark):
    """r15 DSIR-style selection (llm/dsir): documents sharing the
    target set's bigram vocabulary score above scale·n_ngrams and are
    selected; alien-vocabulary documents are not; sub-bigram and
    empty docs pin (0, 0, false).  Integer arithmetic replayed by
    hand for one doc."""
    from verified_sources_spark.llm.dsir import importance_weights

    target = spark.createDataFrame(
        [(100, "quantum error correction codes"),
         (101, "quantum error mitigation schemes")],
        "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(1, "quantum error correction codes"),
         (2, "cheap viagra casino bonus offer"),
         (3, "tiny"),
         (4, None)],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           importance_weights(corpus, target).collect()}
    assert out[1]["selected"] and not out[2]["selected"]
    # mass totals by hand: Tt = 2 target docs x 3 bigrams = 6,
    # Tr = 3 + 4 = 7, so R = (7 + 8192) * 10^6 // (6 + 8192)
    R = (7 + 8192) * 1_000_000 // (6 + 8192)
    # doc 1: 'quantum error' tc=2 rc=1 -> 3R//2; 'error correction'
    # and 'correction codes' tc=1 rc=1 -> 2R//2 = R each
    assert out[1]["n_ngrams"] == 3
    assert out[1]["score"] == 3 * R // 2 + 2 * R
    assert out[3]["n_ngrams"] == 0 and out[3]["score"] == 0 \
        and not out[3]["selected"]
    assert out[4]["n_ngrams"] == 0 and not out[4]["selected"]
    # doc 2 (no bucket collisions with 4 distinct alien bigrams vs
    # the target set at 8192 buckets — pinned by construction here):
    # every occurrence has tc=0, rc=1 -> term = R // 2; 4 bigrams
    assert out[2]["n_ngrams"] == 4
    assert out[2]["score"] == 4 * (R // 2)


def test_hash_sampled_distinct(spark):
    """r15 cardinality sketch (llm/sketches): the hash-threshold
    subsample is pinned against an independent hashlib replay of the
    md5 family; the estimate lands within 15% of truth on a 20k
    vocabulary; the estimator is deterministic run-over-run; the
    sample_log2 bound refuses."""
    import hashlib

    import pytest
    from pyspark.sql import functions as F

    from verified_sources_spark.llm.sketches import (
        hash_sampled_distinct,
    )

    # small-set pin: expected subsample replayed with hashlib
    words = [f"word{i}" for i in range(300)]
    s = 3
    expected = sum(
        1 for w in words
        if int(hashlib.md5(w.encode()).hexdigest()[:15], 16)
        < (1 << (60 - s)))
    df = spark.createDataFrame([(w,) for w in words], "v string") \
        .withColumn("grp", F.lit("g"))
    (row,) = hash_sampled_distinct(df, ["grp"], "v", s).collect()
    assert row["n_sampled"] == expected
    assert row["estimate"] == expected << s
    # accuracy on a 20k vocabulary at 1/64 sampling
    big = spark.range(20_000).select(
        F.concat(F.lit("tok"), F.col("id")).alias("v"),
        F.lit("g").alias("grp"))
    (r2,) = hash_sampled_distinct(big, ["grp"], "v", 6).collect()
    assert abs(r2["estimate"] - 20_000) / 20_000 < 0.15
    # deterministic: same data, same estimate, bit-for-bit
    (r3,) = hash_sampled_distinct(big, ["grp"], "v", 6).collect()
    assert r3["estimate"] == r2["estimate"]
    # duplicates don't inflate the DISTINCT subsample
    dup = big.union(big)
    (r4,) = hash_sampled_distinct(dup, ["grp"], "v", 6).collect()
    assert r4["n_sampled"] == r2["n_sampled"]
    with pytest.raises(ValueError, match="sample_log2"):
        hash_sampled_distinct(big, ["grp"], "v", 60)


def test_dsir_selection_fidelity_on_planted_mixture(spark):
    """r15 DSIR fidelity floor (the ring construction, pinned at
    small scale; ``tools/soak.py dsir_uniform`` measures the same construction
    at 100k: precision 1.0000 / recall 1.0000): ring-A docs share 97
    bigram types with the target spine regardless of offset, ring-B
    docs a disjoint ring — selection must fish out exactly the
    plant."""
    from pyspark.sql import functions as F

    from verified_sources_spark.llm.dsir import importance_weights

    is_a = (F.col("doc_id") % 50 == 0) | (F.col("doc_id") % 10 == 1)
    terms = [
        F.when(is_a, F.concat(F.lit("a"), ((F.col("doc_id") + i)
                                           % 97).cast("string")))
        .otherwise(F.concat(F.lit("b"), ((F.col("doc_id") + i)
                                         % 997).cast("string")))
        for i in range(40)]
    d = (spark.range(2000).withColumnRenamed("id", "doc_id")
         .withColumn("text", F.concat_ws(" ", *terms)))
    out = importance_weights(
        d.filter("doc_id % 50 != 0"), d.filter("doc_id % 50 = 0"))
    sel = {r["doc_id"] for r in out.filter("selected").collect()}
    planted = {r["doc_id"] for r in
               d.filter("doc_id % 10 = 1 and doc_id % 50 != 0")
               .collect()}
    assert sel == planted    # precision AND recall exactly 1.0


def test_binned_quantiles(spark):
    """r15 histogram quantiles (llm/sketches): hand-replayed edges on
    a known distribution, exact-vs-binned agreement within one bin on
    a bigger one, null drop, clamping, and the integer-threshold
    boundary (p50 of n=10 must need rank 5, not the IEEE
    ceil(0.5*10)=5-vs-6 ambiguity)."""
    import pytest
    from pyspark.sql import functions as F

    from verified_sources_spark.llm.sketches import binned_quantiles

    # 10 values 0..9 with bin_width 1: q50 -> rank 5 -> value 4
    d = spark.createDataFrame(
        [(float(i),) for i in range(10)] + [(None,)],
        "v double").withColumn("g", F.lit("a"))
    (row,) = binned_quantiles(
        d, ["g"], "v", percentiles=(50, 90, 100),
        bin_width=1, n_bins=50).collect()
    assert row["n"] == 10          # the NULL dropped
    assert row["q50"] == 4         # rank ceil(10*50/100)=5 -> value 4
    assert row["q90"] == 8
    assert row["q100"] == 9
    # clamping: negatives to bin 0, overflow to the last bin edge
    d2 = spark.createDataFrame(
        [(-5.0,), (3.0,), (10_000.0,)], "v double") \
        .withColumn("g", F.lit("a"))
    (r2,) = binned_quantiles(
        d2, ["g"], "v", percentiles=(100,), bin_width=5,
        n_bins=10).collect()
    assert r2["q100"] == 45        # last bin lower edge (9 * 5)
    # binned vs exact on a spread: within one bin_width
    import random
    rnd = random.Random(5)
    vals = [float(rnd.randrange(0, 400)) for _ in range(5000)]
    d3 = spark.createDataFrame([(v,) for v in vals], "v double") \
        .withColumn("g", F.lit("a"))
    (r3,) = binned_quantiles(d3, ["g"], "v", bin_width=5,
                             n_bins=200).collect()
    for p, col in ((50, "q50"), (90, "q90"), (99, "q99")):
        exact = sorted(vals)[-(-len(vals) * p // 100) - 1]
        assert abs(r3[col] - exact) <= 5, (p, r3[col], exact)
    with pytest.raises(ValueError, match="percentiles"):
        binned_quantiles(d3, ["g"], "v", percentiles=(0.5,))


def test_binned_quantiles_hardening(spark):
    """r15 review finds pinned: values >= bin_width*2^31 and ±Inf
    must not crash under ANSI (BIGINT clamp / try_cast drop);
    degenerate parameters refuse."""
    import pytest
    from pyspark.sql import functions as F

    from verified_sources_spark.llm.sketches import binned_quantiles

    d = spark.createDataFrame(
        [(3.0,), (10737418240.0,), (float("inf"),),
         (float("-inf"),), (float("nan"),)],
        "v double").withColumn("g", F.lit("a"))
    (row,) = binned_quantiles(d, ["g"], "v", percentiles=(100,),
                              bin_width=5, n_bins=10).collect()
    assert row["n"] == 2               # Inf/-Inf/NaN dropped
    assert row["q100"] == 45           # giant value clamps, no crash
    for bad in (dict(percentiles=(50, 50)),
                dict(percentiles=(True,)),
                dict(bin_width=0), dict(n_bins=0)):
        with pytest.raises(ValueError):
            binned_quantiles(d, ["g"], "v", **bad)


def test_pmi_collocations(spark):
    """r15b PMI collocations: hand-computed integer association
    ratios; unigrams from ALL tokens (short docs included); bigram
    floor applied after aggregation; null/empty docs contribute
    nothing; ranking surfaces the planted collocation."""
    from verified_sources_spark.llm.corpus import pmi_collocations

    df = spark.createDataFrame(
        [("new york is big",), ("new york city",),
         ("the city is new",), ("york",), (None,), ("",)],
        "text string")
    out = pmi_collocations(df, "text", min_count=2, scale=1000)
    rows = {(r.w1, r.w2): r for r in out.collect()}
    # tokens: 4 + 3 + 4 + 1 = 12; c(new)=3 c(york)=3 c('new york')=2
    # => 2*12*1000 DIV (3*3) = 24000//9 = 2666
    assert set(rows) == {("new", "york")}
    r = rows[("new", "york")]
    assert (r.c_xy, r.c1, r.c2, r.n_tokens, r.pmi_ratio_scaled) == \
        (2, 3, 3, 12, 2666)
    # validation
    import pytest as _pytest
    with _pytest.raises(ValueError):
        pmi_collocations(df, "text", min_count=0)
    with _pytest.raises(ValueError):
        pmi_collocations(df, "text", scale=0)


def test_pmi_collocations_matches_brute_force(spark):
    """Operator counts agree with a brute-force Python recount on a
    50-doc synthetic corpus with planted repeats."""
    from collections import Counter
    import re as _re

    from verified_sources_spark.llm.corpus import pmi_collocations

    docs = []
    for i in range(50):
        words = ["alpha", "beta"] if i % 2 else ["gamma", "delta",
                                                 "alpha"]
        docs.append(" ".join(words * (1 + i % 3)))
    df = spark.createDataFrame([(d,) for d in docs], "text string")
    uni, big = Counter(), Counter()
    for d in docs:
        ts = _re.findall(r"[a-z0-9]+", d.lower())
        uni.update(ts)
        big.update(zip(ts, ts[1:]))
    n = sum(uni.values())
    out = pmi_collocations(df, "text", min_count=3, scale=10**6)
    got = {(r.w1, r.w2): r for r in out.collect()}
    want = {p for p, c in big.items() if c >= 3}
    assert set(got) == want
    for (w1, w2), r in got.items():
        c = big[(w1, w2)]
        assert r.c_xy == c and r.c1 == uni[w1] and r.c2 == uni[w2]
        assert r.n_tokens == n
        assert r.pmi_ratio_scaled == (c * n * 10**6) // (uni[w1] * uni[w2])


def test_hash_sampled_overlap(spark):
    """r15b pairwise overlap sketch: the sampled counts equal an
    independent hashlib replay of the threshold cut exactly (the
    coordinated-sketch property sample(A)∩sample(B)=sample(A∩B)),
    zero-overlap pairs surface with n_common=0, and the permille
    Jaccard is the integer ratio of the sampled sets."""
    import hashlib
    import itertools

    from verified_sources_spark.llm.sketches import (
        hash_sampled_overlap,
    )

    rows = [("A", f"v{i}") for i in range(3000)]
    rows += [("B", f"v{i}") for i in range(1500, 4500)]
    rows += [("C", f"v{i}") for i in range(9000, 9100)]
    rows.append(("C", "v1600"))
    rows.append(("A", "v7"))          # duplicate — distinct semantics
    df = spark.createDataFrame(rows, "g string, v string")
    out = hash_sampled_overlap(df, "g", "v", sample_log2=3)
    got = {(r.g_a, r.g_b): r for r in out.collect()}

    thr = 1 << 57
    sets: dict[str, set] = {}
    for g, v in rows:
        sets.setdefault(g, set()).add(v)
    sub = {g: {v for v in s
               if int(hashlib.md5(v.encode()).hexdigest()[:15], 16)
               < thr}
           for g, s in sets.items()}
    assert set(got) == {("A", "B"), ("A", "C"), ("B", "C")}
    for a, b in itertools.combinations(sorted(sub), 2):
        na, nb = len(sub[a]), len(sub[b])
        nc = len(sub[a] & sub[b])
        r = got[(a, b)]
        assert (r.n_a, r.n_b, r.n_common) == (na, nb, nc)
        assert r.inter_estimate == nc * 8
        assert r.union_estimate == (na + nb - nc) * 8
        assert r.jaccard_permille == nc * 1000 // (na + nb - nc)
    # the estimate tracks the true planted overlap (J = 1/3)
    j = got[("A", "B")].jaccard_permille
    assert 250 <= j <= 420, j
    import pytest as _pytest
    with _pytest.raises(ValueError):
        hash_sampled_overlap(df, "g", "v", sample_log2=60)


def test_budget_apportionment(spark):
    """r15b largest-remainder apportionment: hand-computed floors,
    leftover goes to the largest remainders with the name-ascending
    tie-break, allocations sum to the budget exactly; zero total
    weight allocates nothing; weights aggregate across rows."""
    import pytest as _pytest

    from verified_sources_spark.llm.corpus import budget_apportionment

    rows = [("en", 7), ("en", 3), ("de", 3), ("fr", 3), ("it", 1)]
    df = spark.createDataFrame(rows, "g string, w long")
    out = {r.g: (r.weight, r.alloc)
           for r in budget_apportionment(df, "g", "w", 100).collect()}
    # W=17: floors en 58 r14, de 17 r11, fr 17 r11, it 5 r15;
    # leftover 3 -> it, en, then the de/fr tie broken by name (de)
    assert out == {"en": (10, 59), "de": (3, 18),
                   "fr": (3, 17), "it": (1, 6)}
    assert sum(a for _, a in out.values()) == 100
    z = spark.createDataFrame([("a", 0), ("b", 0)], "g string, w long")
    assert {r.g: r.alloc
            for r in budget_apportionment(z, "g", "w", 50).collect()} \
        == {"a": 0, "b": 0}
    # a budget bigger than bigint-safe products: DECIMAL quota path
    big = spark.createDataFrame(
        [("a", 3_000_000_000_000), ("b", 1_000_000_000_000)],
        "g string, w long")
    got = {r.g: r.alloc for r in budget_apportionment(
        big, "g", "w", 2_000_000_000_000).collect()}
    assert got == {"a": 1_500_000_000_000, "b": 500_000_000_000}
    with _pytest.raises(ValueError):
        budget_apportionment(df, "g", "w", -1)
