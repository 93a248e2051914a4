"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Dot products via ``F.zip_with`` + ``F.aggregate`` in float64 (JVM
  expressions, codegen'd; no Python).  The query side is broadcast (a
  query set is small by definition), so the corpus is scanned once with no
  shuffle of the corpus itself; top-k per query is a window over the
  (queries × corpus) product partitioned by query.
- ``lsh_bucketed_topk``: the scale path — random-hyperplane LSH signs
  bucket the corpus; each query only scores its bucket (and optionally
  multi-probes neighboring buckets).  Hyperplanes are derived
  deterministically from a seed via md5 bits, so results are reproducible
  across runs/engines.  At 100 TB: bucketing is one map pass + a shuffle
  on bucket id.
- k-means quantizers (IVF, SemDeDup, PQ, IVF-PQ, two-level): one
  nearest-centroid kernel (``_nearest``) and one Lloyd loop (``_lloyd``,
  a per-partition numpy fold of per-cluster counts and sums, one job per
  iteration), in float64 or in exact scaled int64.  One assignment
  stage (``_assign``) emits (id, vec, cluster) for both the flat
  (``rank_clusters``) and the two-level (``assign_two_level``) quantizer.
- PQ and IVF-PQ share one ADC scan (``_adc_scan``): PQ is IVF-PQ with a
  single all-zero coarse cell probed once.
- Every top-k operator ends in one ranking (``_topk``): per query, best
  score first, ties to the lowest neighbor id, rank 1..k.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from verified_sources_spark.boundary import map_batches, map_groups
from verified_sources_spark.cut import cut
from verified_sources_spark.sizing import use_gemm


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    include_self: bool = False,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns (query_id, neighbor_id, rank, cosine) — cosine rounded to 4dp,
    rank tie-broken by neighbor id for determinism."""
    # norms precomputed per side (N+Q sqrt-folds), NOT per pair (N*Q) —
    # the cross join then evaluates only the dot product per pair
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        _norm(F.col(vec_col)).alias("__qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        _norm(F.col(vec_col)).alias("__cn"),
    )
    prod = c.crossJoin(F.broadcast(q))
    if not include_self:
        prod = prod.filter(F.col("neighbor_id") != F.col("query_id"))
    scored = prod.select(
        "query_id",
        "neighbor_id",
        (_dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn"))).alias("__cos"),
    )
    return _topk(scored, k)


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """The one top-k contract every ANN operator here emits: per
    ``query_id``, the best score first and ties to the lowest
    ``neighbor_id``, as (query_id, neighbor_id, rank, score) for rank
    1..k.  A ``__cos`` score (higher is better) comes out as ``cosine``
    rounded to 4dp; an ``adist`` (exact ADC distance, lower is better)
    comes out as is."""
    cos = "__cos" in scored.columns
    best = F.col("__cos").desc() if cos else F.col("adist").asc()
    w = Window.partitionBy("query_id").orderBy(best, F.col("neighbor_id").asc())
    score = F.round("__cos", 4).alias("cosine") if cos else F.col("adist")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", score)
    )


def cosine_topk_vectorized(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
) -> DataFrame:
    """Brute-force top-k via Arrow-batched numpy matmul (``map_batches``).

    The query matrix (Q x d) is tiny and closure-broadcast to executors;
    each Arrow batch of corpus vectors becomes one (B x d) @ (d x Q)
    GEMM + per-batch partial top-k, so only B_batches x Q x k candidate
    rows reach the final per-query selection.  This is the throughput
    path when d·Q is large enough that the per-pair JVM fold of
    ``cosine_topk`` dominates; same output contract (cosine rounded 4dp,
    id-tie-broken ranks)."""
    import numpy as np

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[id_col] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[vec_col] for r in q_rows], dtype=np.float64)
    q_norm = np.linalg.norm(q_mat, axis=1)

    import pyspark.sql.types as T

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("__cos", T.DoubleType()),
        ]
    )

    topk_per_batch = max(k + 1, 8)  # +1 covers self-match removal later

    def score(batch):
        mat = _matrix(batch.column(vec_col), exact=False, scaled=False)
        if mat.size == 0:
            return dict.fromkeys(out_schema.fieldNames(), [])
        sims = (mat @ q_mat.T) / (np.linalg.norm(mat, axis=1)[:, None] * q_norm[None, :])
        m = min(topk_per_batch, sims.shape[0])
        # partial top-m per query within this batch
        part = np.argpartition(-sims, m - 1, axis=0)[:m]
        return {
            "query_id": np.repeat(q_ids, m),
            "neighbor_id": batch.column(id_col).take(part.T.ravel()),
            "__cos": np.take_along_axis(sims, part, axis=0).T.ravel(),
        }

    candidates = map_batches(corpus.select(id_col, vec_col), score, out_schema)
    candidates = candidates.filter(F.col("neighbor_id") != F.col("query_id"))
    return _topk(candidates, k)


def cosine_topk_adaptive(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
) -> DataFrame:
    """``cosine_topk`` with the implementation picked by corpus size.

    Both paths return identical rows (pinned by
    tests/test_bucketing_vectorized.py); what differs is the cost shape:

    - the JVM ``zip_with``/``aggregate`` fold has no fixed overhead but
      pays interpreted per-element evaluation on every (corpus x query)
      pair — linear in N*Q*d with a large constant;
    - the Arrow GEMM path (``cosine_topk_vectorized``) batches corpus
      vectors through one numpy matmul per Arrow batch, with a fixed
      ~0.2-0.3 s floor (query-side collect job + Python worker
      round-trip) that dominates on small corpora.

    The crossover and the bound are ``sizing.use_gemm``'s: a corpus
    that provably holds fewer than ``sizing.GEMM_MIN_ROWS`` rows takes
    the fold, anything larger or unknowable takes the GEMM — at 100 TB
    the fold is never the right answer.
    """
    if use_gemm(corpus):
        return cosine_topk_vectorized(corpus, queries, id_col, vec_col, k)
    return cosine_topk(corpus, queries, id_col, vec_col, k)


# scale for the exact-integer quantizer: 1e-7 resolution is far beyond
# float32 embedding precision — one source of truth shared with the
# DuckDB oracle.  int64 headroom is checked by _nearest's guard
# (vector norms up to ~175), not assumed
KMEANS_SCALE = 10_000_000


def _vectors(col, dtype):
    """Equal-length vectors (an Arrow list column, or a list of sequences
    on the driver) as the ``(n, d)`` ``dtype`` matrix of their flattened
    values.  A null or ragged vector, or a null element, raises."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    col = pa.array(col)
    if not len(col):
        return np.empty((0, 0), dtype=dtype)
    lengths, flat = pc.list_value_length(col), col.flatten()
    if col.null_count or flat.null_count or pc.count_distinct(lengths).as_py() != 1:
        raise ValueError("vectors must be non-null and of one length")
    return flat.to_numpy(zero_copy_only=False).astype(dtype, copy=False).reshape(
        len(col), lengths[0].as_py())


def _round_div(s, n):
    """round(s/n) half away from zero with pure integer ops (truncating
    division on magnitudes — DuckDB's ``//`` truncates toward zero, so
    this form replays identically there); elementwise over numpy
    object arrays of Python ints."""
    import numpy as np

    q = (2 * abs(s) + n) // (2 * n)
    return np.where(s < 0, -q, q)


def _is_scaled(df: DataFrame, vec_col: str) -> bool:
    """An array<long> vector column already holds exact scaled int64
    (e.g. IVF-PQ residuals); array<float|double> holds raw vectors."""
    import pyspark.sql.types as T

    elem = df.schema[vec_col].dataType.elementType
    return isinstance(elem, (T.LongType, T.IntegerType))


def _matrix(col, exact: bool, scaled: bool):
    """Vectors as the matrix the centroids' arithmetic needs: float64 for
    float centroids, exact int64 for int ones.  Unless already ``scaled``,
    exact vectors quantize as floor(x*scale + 0.5): the identical IEEE op
    sequence on both engines, so the quantization is bit-reproducible in
    Spark, numpy and DuckDB."""
    import numpy as np

    if exact and not scaled:
        return np.floor(_vectors(col, np.float64) * KMEANS_SCALE + 0.5).astype(np.int64)
    return _vectors(col, np.int64 if exact else np.float64)


def _nearest(X, C, n_probe: int | None = None):
    """The one nearest-centroid kernel: squared L2 minus the per-row
    |x|² constant, ``|c|² − 2·x·c``.  ``n_probe=None`` returns each
    row's nearest cluster (numpy argmin takes the FIRST minimum, so ties
    go to the lowest cluster id); otherwise each row's ``n_probe``
    nearest, in order, by a stable argsort (same tie-break).

    int64 is exact — the DuckDB oracle replays the same integers — but
    only while nothing wraps: by Cauchy–Schwarz every partial sum is
    bounded by |c|² + 2·|x|·|c|, so a batch whose largest norms reach
    2**63 there raises (at ``KMEANS_SCALE``: vector norms up to ~175,
    e.g. |x| < ~21 in all of 64 dims).  In float64 the factor 2 is
    exact, so the argmin is bit-for-bit that of ``0.5·|c|² − x·c``."""
    import numpy as np

    if C.dtype.kind == "i":
        xn, cn = (np.sqrt(np.square(M, dtype=np.float64).sum(axis=1).max(initial=0))
                  for M in (X, C))
        if cn * cn + 2 * xn * cn >= 0.999 * 2.0**63:
            raise ValueError(f"scaled norms {xn:.3g}, {cn:.3g} overflow exact int64 distances")
    scores = (C * C).sum(axis=1)[None, :] - 2 * (X @ C.T)
    if n_probe is None:
        return scores.argmin(axis=1)
    return np.argsort(scores, axis=1, kind="stable")[:, :n_probe]


def _adc_tables(Q, books):
    """Asymmetric-distance tables, exact in int64: ``t[q, s, c]`` is
    Σ(q_s − books[s][c])² for query ``q``'s ``s``-th sub-vector.  The
    scorers add one cell per subspace into a vector's distance, so a
    query whose largest cells sum to 2**63 raises ``ValueError`` (the
    explicit difference wraps where ``_nearest``'s norm bound does not
    look: the |q|² term)."""
    import numpy as np

    sub = books[0].shape[1]
    t = np.empty((len(Q), len(books), len(books[0])), dtype=np.int64)
    worst = np.zeros(len(Q))
    for s, book in enumerate(books):
        d = Q[:, None, s * sub : (s + 1) * sub] - book[None, :, :]
        worst += np.square(d, dtype=np.float64).sum(axis=2).max(axis=1, initial=0)
        t[:, s, :] = (d * d).sum(axis=2)
    if (worst >= 0.999 * 2.0**63).any():
        raise ValueError(f"ADC distances up to {worst.max():.3g} overflow exact int64")
    return t


def rank_clusters(
    df: DataFrame,
    id_name: str,
    vec_col: str,
    centroids,
    n_probe: int | None = None,
) -> DataFrame:
    """Nearest-centroid ranking as one ``map_batches`` stage over
    the vectors — no cross join, no shuffle; only the (tiny) centroid
    matrix travels, in the task closure.  A cross join against the
    centroids materializes n×k rows, and SemDeDup's k = n/512 makes that
    n² (SCALE.md); past ~10^6 centroids the two-level quantizer takes
    over.

    The arithmetic follows the centroids: int centroids rank by exact
    int64 distances over ``KMEANS_SCALE``-scaled vectors (an array<long>
    column counts as already scaled), float centroids rank in float64.
    ``n_probe=None`` emits each row once with its nearest cluster;
    otherwise one row per probed cluster, the ``n_probe`` nearest.  Ties
    go to the lowest cluster id (:func:`_nearest`).
    Returns (id, vec, cluster)."""
    import numpy as np

    C = np.asarray(centroids)
    exact = C.dtype.kind in "iu"
    C = C.astype(np.int64 if exact else np.float64)
    scaled = _is_scaled(df, vec_col)
    return _assign(
        df, id_name, vec_col, lambda col: _nearest(_matrix(col, exact, scaled), C, n_probe)
    )


def _assign(df: DataFrame, id_name: str, vec_col: str, clusters) -> DataFrame:
    """The one cluster-assignment stage: a ``map_batches`` stage over
    (id, vec) emitting (id, vec, cluster).  ``clusters`` maps a batch's
    Arrow vector column to its cluster ids: one per row, or an
    (rows × p) array that repeats each row once per cluster, in order.
    The id and the vector pass through as Arrow columns."""
    import numpy as np
    import pyspark.sql.types as T

    id_f = df.schema[id_name]
    vec_f = df.schema[vec_col]
    schema = T.StructType(
        [
            T.StructField(id_name, id_f.dataType, id_f.nullable),
            T.StructField(vec_col, vec_f.dataType, vec_f.nullable),
            T.StructField("cluster", T.IntegerType()),
        ]
    )

    def assign(batch):
        near = clusters(batch.column(vec_col)).reshape(batch.num_rows, -1)
        rows = np.repeat(np.arange(batch.num_rows), near.shape[1])
        return {
            id_name: batch.column(id_name).take(rows),
            vec_col: batch.column(vec_col).take(rows),
            "cluster": near.ravel().astype("int32"),
        }

    return map_batches(df.select(id_name, vec_col), assign, schema)


def _cluster_sums(X, C):
    """The Lloyd update's input: per-cluster (count, coordinate sum) of
    the rows of X under the nearest-centroid assignment.  int64 sums are
    exact, so any split of the rows adds up to the same totals."""
    import numpy as np

    a = _nearest(X, C)
    S = np.zeros(C.shape, dtype=X.dtype)
    np.add.at(S, a, X)
    return np.bincount(a, minlength=len(C)), S


def _lloyd_step(C, n, S):
    """New centroids from the cluster totals: the mean — for int
    centroids the half-away-from-zero rounded integer mean, in Python
    ints — while an empty cluster keeps its previous centroid."""
    C = C.copy()
    m = n > 0
    if C.dtype.kind == "i":
        C[m] = _round_div(S[m], n[m, None].astype(object))
    else:
        C[m] = S[m] / n[m, None]
    return C


def _first_vectors(df: DataFrame, id_name: str, vec_col: str, k: int, exact: bool):
    """The ``k`` lowest-id vectors — the deterministic init of every
    quantizer here — as a float64 or exact scaled int64 matrix."""
    rows = df.orderBy(id_name).limit(k).select(vec_col).collect()
    return _matrix([r[0] for r in rows], exact, _is_scaled(df, vec_col))


def _lloyd(vectors: DataFrame, vec_col: str, C, iters: int):
    """The one Lloyd loop behind every Spark-trained quantizer, exact
    when the centroids are int.  Each iteration is ONE job: a
    ``mapInArrow`` folds :func:`_cluster_sums` over its whole partition and
    yields at most k rows; the driver adds the at most k × partitions
    rows (Python ints when exact: no overflow, no order dependence) and
    finishes with :func:`_lloyd_step`.  Only centroid-sized state ever
    reaches the driver; the corpus never collects."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    exact = C.dtype.kind == "i"
    scaled = _is_scaled(vectors, vec_col)
    schema = DataType.fromDDL(f"cluster int, n long, s array<{'long' if exact else 'double'}>")
    arrow = to_arrow_schema(schema)
    for _ in range(iters if len(C) else 0):

        def fold(batches, C=C):
            n, S = np.zeros(len(C), dtype=np.int64), np.zeros_like(C)
            # not map_batches: one (count, sum) fold over the whole partition
            for batch in batches:
                if batch.num_rows:
                    dn, dS = _cluster_sums(_matrix(batch.column(0), exact, scaled), C)
                    n, S = n + dn, S + dS
            nz = np.flatnonzero(n)
            yield pa.RecordBatch.from_pydict(
                {"cluster": nz.astype("int32"), "n": n[nz], "s": list(S[nz])}, schema=arrow)

        n = np.zeros(len(C), dtype=np.int64)
        S = np.zeros(C.shape, dtype=object if exact else np.float64)
        for r in vectors.select(vec_col).mapInArrow(fold, schema).collect():
            n[r["cluster"]] += r["n"]
            S[r["cluster"]] += np.array(r["s"], dtype=S.dtype)
        C = _lloyd_step(C, n, S)
    return C


def train_kmeans(
    vectors: DataFrame,
    id_name: str,
    vec_col: str,
    n_centroids: int = 16,
    lloyd_iters: int = 2,
) -> list[list[float]]:
    """Deterministic float64 Lloyd k-means over a vector column: init is
    the ``n_centroids`` lowest-id vectors, then :func:`_lloyd` — one
    per-partition numpy fold per iteration, centroid-sized collects only,
    so the same loop runs unchanged against a 100 TB embedding table.
    Float sums depend on their order, so the last bits of the centroids
    may move with the partitioning; :func:`train_kmeans_quantized` is
    the exact form."""
    C = _first_vectors(vectors, id_name, vec_col, n_centroids, exact=False)
    return _lloyd(vectors, vec_col, C, lloyd_iters).tolist()


def train_kmeans_quantized(
    vectors: DataFrame,
    id_name: str,
    vec_col: str,
    n_centroids: int = 16,
    lloyd_iters: int = 2,
) -> list[list[int]]:
    """Lloyd k-means with EXACT integer arithmetic, bit-identical across
    engines and partitionings: vectors quantize to scaled int64
    (``KMEANS_SCALE``; an array<long> column is taken as already
    scaled), per-cluster coordinate sums are exact integers
    (order-independent, unlike float64 — the reason the float trainer
    could never carry a cross-engine value hash), and each new centroid
    coordinate is the half-away-from-zero rounded integer average.  The
    same two unrolled iterations replay in DuckDB SQL (plans/oracle.py),
    putting trained-quantizer ANN on the value-hash gate."""
    C = _first_vectors(vectors, id_name, vec_col, n_centroids, exact=True)
    return _lloyd(vectors, vec_col, C, lloyd_iters).tolist()


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_centroids: int = 16,
    n_probe: int = 4,
    lloyd_iters: int = 2,
    quantizer: str = "float",
) -> DataFrame:
    """IVF approximate top-k: k-means coarse quantizer → inverted lists →
    probe the ``n_probe`` nearest lists per query → exact rerank.

    The quantizer is trained by the shared Lloyd loop (``_lloyd``: one
    per-partition numpy fold per iteration); assignment and probing are
    :func:`rank_clusters`, one ``map_batches`` stage per side with no cross join.
    Only the centroid table (n_centroids x dim — metadata-sized) ever
    reaches the driver; corpus vectors never collect.  At 100 TB the same
    plan holds: one narrow pass per iteration, then the probe join
    shuffles only (bucket, query) pairs.  Initialization is deterministic
    (first n_centroids by id).

    ``quantizer="exact-int"`` trains with ``train_kmeans_quantized``
    (exact integer Lloyd, bit-identical across engines/partitionings)
    and assigns/probes by exact int64 distances — the same plan shape,
    but every training+bucketing decision replays in DuckDB SQL, so the
    TRAINED pipeline carries a full value-hash oracle."""
    cents, buckets = ivf_build(corpus, id_col, vec_col, n_centroids, lloyd_iters, quantizer)
    return ivf_probe(cents, buckets, queries, id_col, vec_col, k, n_probe)


def ivf_build(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int,
    lloyd_iters: int,
    quantizer: str = "float",
):
    """The IVF index: ``(centroids, buckets)``, the coarse quantizer
    trained over ``corpus`` and the corpus bucketed by it as
    (neighbor_id, __cv, cluster)."""
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"))
    train = train_kmeans_quantized if quantizer == "exact-int" else train_kmeans
    cents = train(c, "neighbor_id", "__cv", n_centroids, lloyd_iters)
    return cents, rank_clusters(c, "neighbor_id", "__cv", cents)


def ivf_probe(cents, buckets: DataFrame, queries: DataFrame, id_col: str, vec_col: str,
              k: int, n_probe: int) -> DataFrame:
    """Top-k over an :func:`ivf_build` index: each query probes its
    ``n_probe`` nearest buckets, and an exact cosine reranks them."""
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    q_probes = rank_clusters(q, "query_id", "__qv", cents, n_probe=n_probe)
    prod = buckets.join(F.broadcast(q_probes), "cluster").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = prod.select(
        "query_id",
        "neighbor_id",
        (_dot(F.col("__qv"), F.col("__cv")) / (_norm(F.col("__qv")) * _norm(F.col("__cv")))).alias("__cos"),
    ).dropDuplicates(["query_id", "neighbor_id"])
    return _topk(scored, k)


# frozen parameters of the graded ann_lsh_topk_embeddings query: ONE
# source of truth shared by the query wrapper (plans/queries.py) and the
# DuckDB oracle's bucket-constant generation (plans/oracle.py) — change
# here and both sides move together
ANN_LSH_GRADED = {"k": 3, "n_planes": 6, "dim": 64, "seed": 42}


def _hyperplane(dim: int, plane_idx: int, seed: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane from md5 bytes."""
    import hashlib

    vals: list[float] = []
    counter = 0
    while len(vals) < dim:
        h = hashlib.md5(f"{seed}|{plane_idx}|{counter}".encode()).digest()
        for b in h:
            if len(vals) >= dim:
                break
            vals.append((b - 127.5) / 127.5)
        counter += 1
    return vals


def _sign_bucket(vec, dim: int, planes: range, seed: int, prefix: str = ""):
    """The one sign-LSH bucket key: ``prefix``, then one "1"/"0" per
    hyperplane index in ``planes`` — the sign of ``vec``·plane, with 0
    counting as "1"."""
    bits = [
        F.when(_dot(vec, F.array(*[F.lit(x) for x in _hyperplane(dim, p, seed)])) >= 0, F.lit("1"))
        .otherwise(F.lit("0"))
        for p in planes
    ]
    return F.concat(F.lit(prefix), *bits)


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: sign-LSH bucket join then exact rerank in-bucket.

    Recall grows with fewer planes (bigger buckets); n_planes=8 → 256
    buckets.  Same output schema as cosine_topk."""
    dim = len(corpus.select(vec_col).first()[0])
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        _norm(F.col(vec_col)).alias("__cn"),
        _sign_bucket(F.col(vec_col), dim, range(n_planes), seed).alias("__bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        _norm(F.col(vec_col)).alias("__qn"),
        _sign_bucket(F.col(vec_col), dim, range(n_planes), seed).alias("__bucket"),
    )
    prod = c.join(F.broadcast(q), "__bucket").filter(F.col("neighbor_id") != F.col("query_id"))
    scored = prod.select(
        "query_id",
        "neighbor_id",
        (_dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn"))).alias("__cos"),
    )
    return _topk(scored, k)


def embedding_near_dup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs: (a, b) with a < b and
    cosine >= threshold.  The all-pairs self-join is the CORRECTNESS
    baseline (oracle-checkable); at corpus scale use
    ``embedding_near_dups_lsh`` which only compares within sign-LSH
    buckets.  Cosine uses the same sequential JVM fold as ``cosine_topk``
    so results are bit-stable against the DuckDB oracle."""
    a = corpus.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
        _norm(F.col(vec_col)).alias("__na"),
    )
    b = corpus.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
        _norm(F.col(vec_col)).alias("__nb"),
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    scored = pairs.select(
        "id_a",
        "id_b",
        (_dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb"))).alias("__cos"),
    )
    return scored.filter(F.col("__cos") >= F.lit(threshold)).select(
        "id_a", "id_b", F.round("__cos", 4).alias("cosine")
    )


def embedding_near_dups_lsh(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 6,
    n_bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Scale path for embedding near-dup detection: candidate pairs form
    only inside sign-LSH buckets (``n_bands`` independent plane sets — a
    pair is a candidate if ANY band agrees), then the exact cosine filter
    verifies.  High-cosine pairs have low angular distance, so the
    probability at least one of ``n_bands`` sign-buckets agrees → 1;
    shuffle volume is bucket-local candidates, never the full cross
    product.  Same output schema as ``embedding_near_dup_pairs``.

    Plan shape: the per-row sign bits (``n_bands * n_planes`` dot
    products — the dominant per-row cost) are projected once into a
    SKINNY (id, buckets) frame and materialized (lazy localCheckpoint)
    before the bucket self-join; without that, the two join sides fork
    the DAG and every dot product runs twice.  Scoring then re-reads the
    corpus exactly once via the explode-pair-sides/regroup shape (same
    as ``ngram_jaccard``): only candidate-matched vectors shuffle."""
    dim = len(corpus.select(vec_col).first()[0])
    buckets = corpus.select(
        F.col(id_col).alias("__id"),
        F.array(
            *[
                _sign_bucket(
                    F.col(vec_col), dim, range(band * n_planes, (band + 1) * n_planes),
                    seed, f"b{band}:",
                )
                for band in range(n_bands)
            ]
        ).alias("__buckets"),
    ).transform(cut)
    exploded = buckets.select("__id", F.explode("__buckets").alias("__bucket"))
    cand = (
        exploded.select(F.col("__id").alias("id_a"), "__bucket")
        .join(exploded.select(F.col("__id").alias("id_b"), "__bucket"), ["__bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])  # a pair can agree in several bands
    )
    vecs = corpus.select(
        F.col(id_col).alias("__id"),
        F.struct(
            F.col(vec_col).alias("v"), _norm(F.col(vec_col)).alias("n")
        ).alias("__vn"),
    )
    sides = cand.select("id_a", "id_b", F.explode(F.array("id_a", "id_b")).alias("__id"))
    both = (
        sides.join(vecs, "__id")
        .groupBy("id_a", "id_b")
        .agg(F.collect_list("__vn").alias("vns"))
    )
    a, b = F.col("vns")[0], F.col("vns")[1]
    scored = both.select(
        "id_a", "id_b", (_dot(a["v"], b["v"]) / (a["n"] * b["n"])).alias("__cos")
    )
    return scored.filter(F.col("__cos") >= F.lit(threshold)).select(
        "id_a", "id_b", F.round("__cos", 4).alias("cosine")
    )


def near_dup_keep(corpus: DataFrame, pairs: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """Greedy canonical selection over near-dup pairs: drop every item
    that duplicates a LOWER id (the same keep-min-id rule as
    ``exact_dedup``; transitive chains collapse to their minimum without
    union-find — any non-minimal member matches at least one lower id)."""
    drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return corpus.join(drop, id_col, "left_anti")


# ---------------------------------------------------------- two-level IVF


def _local_lloyd(X, ids, k: int, iters: int):
    """Deterministic in-memory Lloyd over one coarse cell: the same
    :func:`_cluster_sums` / :func:`_lloyd_step` as the Spark loop, over
    the whole cell at once.  Init is greedy FARTHEST-POINT (start at the
    lowest id, then repeatedly take the vector farthest from its nearest
    chosen seed, lowest id on ties) — deterministic like a lowest-id init
    but it cannot collapse all seeds into one dense blob; empty clusters
    keep their previous centroid.  Returns k' x d (k' = min(k, |cell|))."""
    import numpy as np

    k = min(k, len(X))
    order = np.argsort(ids, kind="stable")
    seeds = [order[0]]
    d2 = ((X - X[seeds[0]]) ** 2).sum(axis=1)
    for _ in range(k - 1):
        # ties → lowest id: scan in id order for the max distance
        best = order[np.argmax(d2[order])]
        seeds.append(best)
        d2 = np.minimum(d2, ((X - X[best]) ** 2).sum(axis=1))
    C = X[seeds].astype(np.float64)
    for _ in range(iters):
        C = _lloyd_step(C, *_cluster_sums(X, C))
    return C


def train_kmeans_two_level(
    vectors: DataFrame,
    id_name: str,
    vec_col: str,
    n_centroids: int,
    lloyd_iters: int = 2,
    coarse_k: int | None = None,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Hierarchical coarse/fine quantizer: the asymptotic fix for flat
    k-means when k grows with n (SemDeDup's k = n/512 makes flat
    assignment n x k ∝ n² FLOPs).

    Structure: ``coarse_k`` (default ceil(sqrt(k))) coarse centroids
    trained with the flat GEMM Lloyd (n x sqrt(k) per pass), then each
    coarse CELL trains its own ~k/coarse_k fine centroids IN PARALLEL —
    one ``map_groups`` task per cell running a local numpy Lloyd over
    the cell's vectors (cell size ≈ n/sqrt(k): at n=10^8, k=2x10^5
    that is ~220k x d doubles per task — executor-memory sized).  Both
    training and assignment then cost n x O(sqrt(k)) instead of n x k.

    Returns ``(coarse_centroids, fine_centroids_per_cell)``; the global
    fine-cluster id of (cell c, local j) is ``offset[c] + j`` where
    offsets are the running sum of per-cell counts — what
    :func:`assign_two_level` emits.  Deterministic throughout (coarse
    init = lowest-id vectors; per-cell init = the cell's lowest ids)."""
    if coarse_k is None:
        coarse_k = max(1, int(math.isqrt(max(1, n_centroids - 1))) + 1)
    coarse = train_kmeans(vectors, id_name, vec_col, coarse_k, lloyd_iters)

    assigned = rank_clusters(vectors, id_name, vec_col, coarse)
    total_n = max(1, vectors.count())

    out_schema = "cell int, centroids array<array<double>>"

    def fit_cell(key, table):
        X = _matrix(table.column(vec_col), exact=False, scaled=False)
        ids = table.column(id_name).to_numpy()
        # fine centroids PROPORTIONAL to cell population — a uniform
        # quota starves dense cells (blobs merge) and wastes centroids
        # on sparse ones; proportional sizing is also what bounds
        # cluster SIZE, the property SemDeDup's pair stage needs
        k_cell = max(1, round(n_centroids * table.num_rows / total_n))
        C = _local_lloyd(X, ids, k_cell, lloyd_iters)
        return {"cell": [key[0]], "centroids": [C.tolist()]}

    # centroid tables only — k x d doubles, metadata-sized
    rows = map_groups(assigned, ["cluster"], fit_cell, out_schema).collect()
    fine: list[list[list[float]]] = [[] for _ in range(len(coarse))]
    for r in rows:
        fine[int(r["cell"])] = [list(c) for c in r["centroids"]]
    # a coarse cell that captured no vectors keeps its coarse centroid as
    # its single fine centroid, so every cell id stays assignable
    for c in range(len(coarse)):
        if not fine[c]:
            fine[c] = [list(coarse[c])]
    return coarse, fine


def assign_two_level(
    df: DataFrame,
    id_name: str,
    vec_col: str,
    coarse: list[list[float]],
    fine: list[list[list[float]]],
) -> DataFrame:
    """Two-stage nearest-centroid assignment: the coarse :func:`_nearest`
    picks the cell, a per-cell fine :func:`_nearest` picks the cluster —
    n x O(sqrt(k)) total.  Returns (id, vec, cluster) with GLOBAL fine
    ids (offset[cell] + local index), through the same
    :func:`_assign` stage as :func:`rank_clusters`."""
    import numpy as np

    Cc = np.asarray(coarse, dtype=np.float64)
    Fs = [np.asarray(f, dtype=np.float64) for f in fine]
    offsets = np.zeros(len(Fs) + 1, dtype=np.int64)
    for i, Fm in enumerate(Fs):
        offsets[i + 1] = offsets[i] + len(Fm)

    def coarse_then_fine(col):
        X = _matrix(col, exact=False, scaled=False)
        cells = _nearest(X, Cc)
        out = np.empty(len(X), dtype=np.int64)
        for cell in np.unique(cells):
            m = cells == cell
            out[m] = offsets[cell] + _nearest(X[m], Fs[cell])
        return out

    return _assign(df, id_name, vec_col, coarse_then_fine)


# --------------------------------------------------------------- PQ ANN

def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    n_codes: int = 16,
    k: int = 3,
    train_iters: int = 0,
) -> DataFrame:
    """Product-quantization ANN (the Jégou/FAISS recipe) in EXACT
    integer arithmetic: vectors quantize to scaled int64
    (``KMEANS_SCALE``), split into ``m`` subspaces; each subspace gets
    an ``n_codes``-entry codebook (``train_iters=0`` pins codebooks to
    the lowest-id vectors' sub-slices — the SQL-witness form, like
    ivf_topk_fixed; ``train_iters>0`` runs the exact-integer Lloyd
    trainer per subspace); every corpus vector compresses to ``m``
    one-byte codes; queries score by Asymmetric Distance Computation
    over a per-query distance TABLE (m × n_codes exact-int L2² cells),
    so the scan touches codes, never raw vectors.

    100 TB shape: codes are m bytes/vector (64-dim float32 → 4 bytes:
    a 64× compression of the scan side); the codebooks and the query
    distance tables are the only collected state (codebook-sized and
    query-sized).  The scan is IVF-PQ's (:func:`_adc_scan`) over a
    single all-zero coarse cell probed once, so each residual is the
    vector itself; candidates prune per Arrow batch (≤ n_queries × k
    rows leave each), so the final rank shuffle moves candidates, not
    the corpus.  All distances are exact BIGINTs — ties break on the
    lowest neighbor id, bit-identical in DuckDB SQL."""
    import numpy as np

    dim = int(corpus.select(F.size(vec_col)).first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m

    # codebooks (collected: n_codes rows, codebook-sized)
    if train_iters == 0:
        X0 = _first_vectors(corpus, id_col, vec_col, n_codes, exact=True)
        books = [X0[:, s * sub : (s + 1) * sub].copy() for s in range(m)]
    else:
        books = [
            np.array(
                train_kmeans_quantized(
                    corpus.select(
                        F.col(id_col), F.slice(F.col(vec_col), s * sub + 1, sub).alias("_v")
                    ),
                    id_col, "_v", n_centroids=n_codes, lloyd_iters=train_iters,
                ),
                dtype=np.int64,
            )
            for s in range(m)
        ]
    # PQ is IVF-PQ over one all-zero cell: every residual is the vector
    cents = np.zeros((1, dim), dtype=np.int64)
    return _adc_scan(corpus, queries, id_col, vec_col, cents, books, 1, k)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 4,
    n_codes: int = 16,
    k: int = 3,
    train_iters: int = 0,
) -> DataFrame:
    """IVF-PQ — the canonical at-scale ANN index (FAISS IVFPQ): a
    coarse quantizer partitions the corpus into cells, every vector
    stores only its cell id + the PQ codes of its RESIDUAL
    (vector − cell centroid), and a query probes its ``n_probe``
    nearest cells scoring candidates by per-cell ADC tables (the
    query residualizes against each probed centroid, so one query
    carries ``n_probe`` distance tables).

    Exact-integer end to end: scaled-int64 vectors, pinned coarse
    centroids and residual codebooks (the lowest-id vectors — the SQL
    witness form the graded oracle replays bit-for-bit).
    ``train_iters > 0`` instead trains BOTH quantizers with the
    exact-integer Lloyd trainer — coarse cells over the raw vectors,
    then per-subspace residual codebooks over the distributed
    residual frame (assignment via rank_clusters, residual =
    zip_with subtraction, all DataFrame ops; only centroid-sized
    state collects) — the FAISS-recipe trained index, still
    bit-deterministic across partitionings.  100 TB shape: the scan side is
    (cell_id, m bytes) per vector; only centroids, codebooks and the
    query tables are collected/broadcast; candidates prune per Arrow
    batch before the final rank shuffle (:func:`_adc_scan`)."""
    import numpy as np

    dim = int(corpus.select(F.size(vec_col)).first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m

    if train_iters == 0:
        # pinned SQL-witness form: coarse centroids and residual
        # codebooks from the lowest-id vectors
        Xb = _first_vectors(corpus, id_col, vec_col, max(n_cells, n_codes), exact=True)
        cents = Xb[:n_cells]                   # coarse centroids
        cb_base = Xb[:n_codes]
        rb = cb_base - cents[_nearest(cb_base, cents)]
        books = [rb[:, s * sub : (s + 1) * sub].copy()
                 for s in range(m)]
    else:
        cents = np.array(
            train_kmeans_quantized(corpus, id_col, vec_col,
                                   n_centroids=n_cells,
                                   lloyd_iters=train_iters),
            dtype=np.int64)
        books = [None] * m
        # distributed residual frame: exact-int assignment + zip_with
        # subtraction, then the exact-int Lloyd trainer per subspace
        # (array<long> residuals count as already scaled)
        spark_ = corpus.sparkSession
        sv = corpus.select(
            F.col(id_col).alias("_id"),
            F.transform(
                F.col(vec_col),
                lambda x: F.floor(
                    x.cast("double") * F.lit(float(KMEANS_SCALE))
                    + F.lit(0.5)).cast("long")).alias("_sx"))
        assigned = rank_clusters(sv, "_id", "_sx", cents)
        cent_df = spark_.createDataFrame(
            [(int(c), [int(v) for v in cents[c]])
             for c in range(n_cells)], "cluster int, _cv array<long>")
        resid = (assigned.join(F.broadcast(cent_df), "cluster")
                 .select("_id", F.zip_with(
                     "_sx", "_cv", lambda x, c: x - c).alias("_r")))
        # localCheckpoint, not cache: the residual frame sits under a
        # lambda-bearing plan (transform/zip_with), where cache-lookup
        # canonicalization fails (llm/minhash r15 finding) — a cache()
        # was never read and every sub-quantizer slice re-ran the
        # assignment chain; checkpoint shares by RDD identity
        resid = resid.transform(cut)
        for s in range(m):
            sliced = resid.select(
                "_id",
                F.slice(F.col("_r"), s * sub + 1, sub).alias("_v"))
            books[s] = np.array(
                train_kmeans_quantized(sliced, "_id", "_v",
                                       n_centroids=n_codes,
                                       lloyd_iters=train_iters),
                dtype=np.int64)
    return _adc_scan(corpus, queries, id_col, vec_col, cents, books, n_probe, k)


def _adc_scan(corpus, queries, id_col, vec_col, cents, books, n_probe, k) -> DataFrame:
    """The one ADC scan behind PQ and IVF-PQ, in exact int64.  Each
    corpus vector is assigned its nearest coarse cell in ``cents`` and
    encoded as the per-subspace nearest codes in ``books`` of its
    residual (lowest cell and code on ties, the tie-break the oracle
    replays).  A
    query probes its ``n_probe`` nearest cells and scores each probed
    cell's vectors by that residual's ADC tables (:func:`_adc_tables`);
    every Arrow batch keeps only the ``k`` smallest (adist, id) per
    (query, probed cell), and :func:`_topk` ranks what is left.  Only
    the centroids, codebooks and query tables are collected and
    broadcast."""
    import numpy as np

    m, sub = len(books), books[0].shape[1]
    qrows = queries.select(id_col, vec_col).orderBy(id_col).collect()
    qids = np.array([int(r[0]) for r in qrows], dtype=np.int64)
    Q = _matrix([r[1] for r in qrows], exact=True, scaled=False)
    # probe lists + per-(query, probed-cell) ADC tables
    probe = _nearest(Q, cents, n_probe)        # (nq, n_probe)
    # dtabs[qi][p][s][c]: the tables of each query's residual to its
    # p-th probed cell
    dtabs = np.stack([_adc_tables(Q - cents[probe[:, p]], books)
                      for p in range(probe.shape[1])], axis=1)

    spark = corpus.sparkSession
    b_cents = spark.sparkContext.broadcast(cents.copy())
    b_books = spark.sparkContext.broadcast([b.copy() for b in books])
    b_probe = spark.sparkContext.broadcast(probe.copy())
    b_dtabs = spark.sparkContext.broadcast(dtabs.copy())
    b_qids = spark.sparkContext.broadcast(qids.copy())

    out_schema = "query_id long, neighbor_id long, adist long"

    def score(batch):
        C = b_cents.value
        bb = b_books.value
        pr = b_probe.value
        dt = b_dtabs.value
        qi_all = b_qids.value
        ids = batch.column(id_col).to_numpy()
        X = _matrix(batch.column(vec_col), exact=True, scaled=False)
        cell = _nearest(X, C)
        R = X - C[cell]
        codes = np.empty((len(ids), m), dtype=np.int64)
        for s in range(m):
            codes[:, s] = _nearest(R[:, s * sub : (s + 1) * sub], bb[s])
        parts = [(np.empty(0, dtype=np.int64),) * 3]
        for qi in range(len(qi_all)):
            for p in range(pr.shape[1]):
                c = pr[qi, p]
                sel = np.where((cell == c)
                               & (ids != qi_all[qi]))[0]
                ad = np.zeros(len(sel), dtype=np.int64)
                for s in range(m):
                    ad += dt[qi, p, s][codes[sel, s]]
                order = np.lexsort((ids[sel], ad))[:k]
                parts.append((np.full(len(order), qi_all[qi]), sel[order], ad[order]))
        qcol, rows, dcol = (np.concatenate(c) for c in zip(*parts))
        return {"query_id": qcol, "neighbor_id": batch.column(id_col).take(rows), "adist": dcol}

    return _topk(map_batches(corpus.select(id_col, vec_col), score, out_schema), k)


def ivfpq_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 4,
    n_codes: int = 16,
    candidates: int = 20,
    k: int = 3,
    train_iters: int = 0,
) -> DataFrame:
    """The full production ANN serving stack: IVF-PQ generates
    ``candidates`` approximate neighbors per query (codes-only scan),
    then the EXACT cosine reranks just those candidates against their
    raw vectors — the two-stage shape every FAISS deployment runs,
    where the expensive float math touches ``candidates × queries``
    vectors instead of the corpus.

    The candidate join is an equi-join on the corpus id (broadcast of
    the candidate list — query-sized × candidates); output is
    (query_id, neighbor_id, rank, cosine) with the same rounding and
    tie-break contract as cosine_topk, so swapping brute force for
    this stack is a drop-in."""
    cands = ivfpq_topk(corpus, queries, id_col, vec_col,
                       n_cells=n_cells, n_probe=n_probe, m=m,
                       n_codes=n_codes, k=candidates,
                       train_iters=train_iters)
    cvec = corpus.select(F.col(id_col).alias("neighbor_id"),
                         F.col(vec_col).alias("__cv"),
                         _norm(F.col(vec_col)).alias("__cn"))
    qvec = queries.select(F.col(id_col).alias("query_id"),
                          F.col(vec_col).alias("__qv"),
                          _norm(F.col(vec_col)).alias("__qn"))
    scored = (cands.select("query_id", "neighbor_id")
              .join(cvec, "neighbor_id")
              .join(F.broadcast(qvec), "query_id")
              .select("query_id", "neighbor_id",
                      (_dot(F.col("__qv"), F.col("__cv"))
                       / (F.col("__qn") * F.col("__cn"))).alias("__cos")))
    return _topk(scored, k)


def ann_recall(ann: DataFrame, exact: DataFrame, k: int = 3) -> DataFrame:
    """Per-query recall@k of an ANN result against the exact top-k —
    the metric that says whether an index FINDS things, not just
    whether its arithmetic replays.  Both inputs carry the
    (query_id, neighbor_id, rank) contract every top-k operator here
    emits; rows with rank > k are ignored so a ``candidates``-sized
    ANN result can be scored at any k ≤ its depth.

    Returns (query_id, n_hits, n_exact, recall).  Both frames are
    query-sized (queries × k rows), so the join is broadcast-trivial
    at any corpus scale — recall measurement never touches the
    corpus."""
    a = (ann.filter(F.col("rank") <= k)
         .select("query_id", "neighbor_id"))
    e = (exact.filter(F.col("rank") <= k)
         .select("query_id", "neighbor_id"))
    base = e.groupBy("query_id").agg(F.count("*").alias("n_exact"))
    hits = (e.join(a, ["query_id", "neighbor_id"])
            .groupBy("query_id").agg(F.count("*").alias("n_hits")))
    return (base.join(hits, "query_id", "left")
            .na.fill(0, ["n_hits"])
            .select("query_id",
                    F.col("n_hits").cast("int").alias("n_hits"),
                    F.col("n_exact").cast("int").alias("n_exact"),
                    F.round(F.col("n_hits") / F.col("n_exact"), 4)
                     .alias("recall")))


def ann_recall_summary(ann: DataFrame, exact: DataFrame,
                       k: int = 3) -> DataFrame:
    """One-row macro-average of :func:`ann_recall`:
    (n_queries, mean_recall) — the number a SCALE.md table or an
    index-tuning sweep records per (index, n_probe) setting."""
    per_q = ann_recall(ann, exact, k=k)
    return per_q.agg(
        F.count("*").cast("int").alias("n_queries"),
        F.round(F.avg("recall"), 4).alias("mean_recall"))
