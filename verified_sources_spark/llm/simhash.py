"""SimHash near-duplicate fingerprinting.

Simhash: each token hashes to B bits; bit i of the fingerprint is 1 iff
the sum over tokens of (+1 / -1 for bit i set/unset) is positive.
Computed entirely with Column expressions: explode tokens → per-bit sign
aggregation → reassemble.  One shuffle on the doc id.

Two base-hash families, same dataflow:

- ``xxhash64`` (default): 64-bit, the fastest JVM hash;
- ``md5_60``: 60 bits from the md5 hex prefix — the SAME portable hash
  construction the MinHash family uses (llm/minhash.py), which a DuckDB
  oracle can recompute exactly (``('0x' || substr(md5(tok),1,15))::
  UBIGINT``), turning the simhash queries from rows-only checks into
  hash-compared ones.  4 fewer bits widens each per-bit sign's variance
  share by ~7% — immaterial for near-dup blocking.

Near-pair search blocks on bit-bands (pigeonhole: two fingerprints within
hamming distance d must agree exactly on at least one of d+1 disjoint
bands), so candidate generation is a bucket join like MinHash-LSH —
never all-pairs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from verified_sources_spark.cut import cut

from verified_sources_spark.functions.text import tokens


def _bits_of(base_hash: str) -> int:
    if base_hash == "xxhash64":
        return 64
    if base_hash == "md5_60":
        return 60
    raise ValueError(f"unknown base_hash {base_hash!r}")


def _check_bands(bits: int, n_bands: int, max_hamming: int) -> None:
    """Raise unless ``n_bands`` equal bands of ``bits`` keep the
    pigeonhole guarantee for ``max_hamming`` differing bits."""
    if n_bands <= max_hamming:
        raise ValueError("need n_bands > max_hamming (pigeonhole)")
    if bits % n_bands:
        raise ValueError(f"n_bands must divide the {bits} fingerprint bits")


def _base_hash_col(col, base_hash: str):
    if base_hash == "xxhash64":
        return F.xxhash64(col)
    # md5 hex prefix of 15 nibbles = 60 bits, always positive in a long —
    # mirrors llm/minhash.py's portable base hash
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def simhash64(
    df: DataFrame, id_col: str, text_col: str, base_hash: str = "xxhash64"
) -> DataFrame:
    """(id, simhash) with simhash as a signed long (64 or 60 bits used)."""
    bits = _bits_of(base_hash)
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    tok = tok.withColumn("h", _base_hash_col(F.col("tok"), base_hash))
    # per-bit contribution: +1 if bit set else -1; sum per doc
    bit_sums = tok.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(bits)
        ]
    )
    fp = F.lit(0).cast("long")
    for i in range(bits):
        fp = fp.bitwiseOR(
            F.when(F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(F.lit(0).cast("long"))
        )
    return bit_sums.select(F.col(id_col), fp.alias("simhash"))


def _band(col, band_idx: int, band_bits: int):
    return F.shiftrightunsigned(col, band_idx * band_bits).bitwiseAND(
        F.lit((1 << band_bits) - 1)
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    n_bands: int = 4,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """Pairs (id_a < id_b, hamming <= max_hamming).  n_bands must exceed
    max_hamming for the pigeonhole guarantee.

    Scale caveat: this lists EVERY qualifying pair, and a corpus with a
    giant near-identical cluster (templated/boilerplate text is the
    common case — observed: 5k synthetic docs → 1M pairs) has Ω(|cluster|²)
    output no matter how the join is organized.  When the consumer is
    dedup grouping — the usual case — use ``simhash_dedup_groups``, whose
    candidate set and output are linear in the corpus."""
    bits = _bits_of(base_hash)
    _check_bands(bits, n_bands, max_hamming)
    band_bits = bits // n_bands
    # materialize the signatures (skinny: id + one bigint) before the
    # self-join: the two join sides fork the plan DAG, and without the
    # checkpoint the per-token hashing + per-bit aggregations would
    # execute once PER SIDE (Spark cannot share subtrees across a fork)
    sig = simhash64(df, id_col, text_col, base_hash).transform(cut)
    banded = sig.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        _band(F.col("simhash"), i, band_bits).alias("band_val"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "simhash", "band.band_idx", "band.band_val")
    a, b = banded.alias("a"), banded.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_dedup_groups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    n_bands: int = 4,
    neighbor_window: int = 8,
    base_hash: str = "xxhash64",
    n_tables: int = 1,
) -> DataFrame:
    """(id, group, group_size) — near-duplicate groups under transitive
    closure of hamming <= max_hamming edges, with LINEAR candidate volume.

    The pair-listing formulation is Ω(|cluster|²) on boilerplate-heavy
    corpora; dedup only needs connectivity.  This is the sorted-probe
    scheme of the simhash dedup paper (Manku et al., WWW'07) expressed as
    DataFrame ops: within each (band_idx, band_val) bucket, sort by
    (simhash, id) and link each fingerprint to its ``neighbor_window``
    predecessors (lag 1..W — a per-bucket window over a hash-partitioned
    key, no global sort), keep edges whose full hamming distance passes,
    then run hash-min connected components over the sparse verified
    edge set.  Candidates are n_bands × W per doc — linear.

    Semantics note: groups are components of the SAMPLED edge graph — a
    qualifying pair more than W apart in every shared bucket's sort order
    can land in different groups (under-merge, never over-merge; every
    edge is hamming-verified).  The hot case that breaks pair listing —
    thousands of near-identical fingerprints sharing a bucket — is
    exactly where sorted adjacency chains the whole cluster together.
    """
    bits = _bits_of(base_hash)
    sig = simhash64(df, id_col, text_col, base_hash).transform(cut)
    # id spine from the INPUT, not the signature table: docs with zero
    # tokens produce no explode rows (hence no signature) but must still
    # appear in the output as their own singleton group
    return fingerprint_dedup_groups(
        sig, id_col, "simhash", bits=bits, max_hamming=max_hamming,
        n_bands=n_bands, neighbor_window=neighbor_window,
        all_ids=df.select(id_col), n_tables=n_tables,
    )


def _rotated(c, r: int, bits: int):
    """Bit-rotate a ``bits``-wide fingerprint left by ``r`` —
    hamming-preserving, so rotated tables probe the same distance
    metric through different band boundaries."""
    if r == 0:
        return c
    if bits == 64:
        return F.shiftleft(c, r).bitwiseOR(
            F.shiftrightunsigned(c, 64 - r))
    mask = (1 << bits) - 1
    return F.shiftleft(c, r).bitwiseAND(F.lit(mask)).bitwiseOR(
        F.shiftrightunsigned(c, bits - r))


def fingerprint_dedup_groups(
    sig: DataFrame,
    id_col: str,
    fp_col: str,
    bits: int = 64,
    max_hamming: int = 3,
    n_bands: int = 4,
    neighbor_window: int = 8,
    all_ids: DataFrame | None = None,
    n_tables: int = 1,
) -> DataFrame:
    """(id, group, group_size) near-duplicate groups over a PRECOMPUTED
    64-bit-or-less fingerprint column — the banded sorted-probe + hash-min
    connected-components machinery of :func:`simhash_dedup_groups`,
    reusable for any hamming-space fingerprint (simhash over tokens,
    perceptual image hashes, …).  ``all_ids`` (optional) is the id spine:
    ids present there but absent from ``sig`` (undecodable assets, empty
    docs) come back as their own singleton groups.

    ``n_tables`` (round 14, opt-in; default 1 = the original scheme)
    adds Manku-style PERMUTED probe tables: table t sorts and bands a
    bit-ROTATED copy of the fingerprint (rotation is
    hamming-preserving), so pairs that sit > neighbor_window apart in
    every table-0 bucket order get fresh adjacency chances under
    different bit orderings.  Measured on sf0.1
    (tools/simhash_recall_sweep.py): under-merge 16.5% at the
    default, 5.0% at n_tables=2, 1.7% at n_tables=4 (0.6% with
    window 16 as well) — cost is n_tables× the (linear) candidate
    volume, output still linear.  Edges only ever ADD, so n_tables
    can't over-merge."""
    _check_bands(bits, n_bands, max_hamming)
    band_bits = bits // n_bands

    from pyspark.sql import Window

    edge_parts = []
    for t in range(n_tables):
        rot = (t * bits) // n_tables
        key = _rotated(F.col(fp_col), rot, bits)
        banded = sig.select(
            F.col(id_col),
            F.col(fp_col).alias("__fp"),
            key.alias("__sort"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            # distinct bucket space per table
                            F.lit(t * n_bands + i).alias("band_idx"),
                            _band(key, i, band_bits).alias("band_val"),
                        )
                        for i in range(n_bands)
                    ]
                )
            ).alias("band"),
        ).select(id_col, "__fp", "__sort", "band.band_idx",
                 "band.band_val")

        w = Window.partitionBy("band_idx", "band_val").orderBy(
            "__sort", id_col)
        lagged = banded.select(
            F.col(id_col),
            F.col("__fp"),
            *[F.lag(F.col(id_col), k).over(w).alias(f"_nid{k}") for k in range(1, neighbor_window + 1)],
            *[F.lag(F.col("__fp"), k).over(w).alias(f"_nsh{k}") for k in range(1, neighbor_window + 1)],
        )
        edge_parts += [
            lagged.select(
                F.least(F.col(id_col), F.col(f"_nid{k}")).alias("id_a"),
                F.greatest(F.col(id_col), F.col(f"_nid{k}")).alias("id_b"),
            ).filter(
                F.col(f"_nid{k}").isNotNull()
                & (
                    F.bit_count(F.col("__fp").bitwiseXOR(F.col(f"_nsh{k}")))
                    <= max_hamming
                )
            )
            for k in range(1, neighbor_window + 1)
        ]
    edges = edge_parts[0]
    for p in edge_parts[1:]:
        edges = edges.unionByName(p)
    edges = edges.distinct()

    from verified_sources_spark.llm.neardup import connected_components

    comp = connected_components(edges)
    ids = (all_ids if all_ids is not None else sig.select(id_col)).select(
        F.col(id_col).alias("node")
    ).distinct()
    labeled = ids.join(comp, "node", "left").select(
        F.col("node").alias(id_col),
        F.coalesce(F.col("component"), F.col("node")).alias("group"),
    )
    sizes = labeled.groupBy("group").agg(F.count(F.lit(1)).cast("long").alias("group_size"))
    return labeled.join(sizes, "group").select(id_col, "group", "group_size")
