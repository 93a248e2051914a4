"""Text near-duplicate deduplication end-to-end: LSH candidates → exact
Jaccard verify → connected components → keep one doc per duplicate
cluster.

This is the full pipeline a web-scale corpus dedup actually runs
(MinHash-LSH dedup as in the GPT-3/C4 data recipes; the reference's
closest surface is content-hash dedup on ingestion —
sources/unstructured_data/helpers.py content hashing — which
``exact_dedup`` covers; near-dup needs the cluster step).

Connected components use iterative min-label propagation expressed as
DataFrame joins (the standard "hash-min" scheme): per iteration each
node takes the minimum label among itself and its neighbors.  Iterations
run in a driver loop with a convergence check — the same bounded-loop
pattern as the IVF quantizer's Lloyd iterations (similarity.py): each
step is one shuffle-join plus one aggregate; only the changed-count
reaches the driver; labels are localCheckpoint'ed so lineage stays flat.
Converges in O(component diameter) steps — near-dup clusters are
star/clique shaped, so 2-4 in practice.

Greedy ``drop every id_b`` (similarity.near_dup_keep) over-keeps when a
component's connectivity runs through a higher id (edges (2,3),(1,3)
keep 1 AND 2); components fix exactly that, which matters for LSH
hot-bucket stars whose hub is not the cluster minimum."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from verified_sources_spark.cut import cut

from verified_sources_spark.llm.minhash import lsh_candidate_pairs, ngram_jaccard


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """(node, component) for every node in ``pairs``; component = minimum
    node id reachable through the pair graph.

    Each iteration does hash-min over edges AND one pointer-jumping hop
    (label ← label's label), so labels spread geometrically: convergence
    is O(log diameter) iterations, not O(diameter) — a 100k-node CHAIN
    (the sorted-probe edge graphs of ``simhash_dedup_groups`` are exactly
    chain-shaped inside a hot bucket) converges in ~17 iterations where
    plain hash-min would need 100k/2.  Raises if ``max_iters`` passes
    without convergence rather than returning silently-split components.
    """
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    edges = edges.transform(cut, eager=True)  # reused every iteration

    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("min_nbr"))
        .select(
            F.col("src").alias("node"),
            F.least(F.col("src"), F.col("min_nbr")).alias("component"),
        )
        .transform(cut, eager=True)
    )
    for _ in range(max_iters):
        nbr_min = (
            edges.join(
                labels.select(
                    F.col("node").alias("dst"), F.col("component").alias("dst_label")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("dst_label").alias("nbr_label"))
        )
        stepped = labels.join(nbr_min, labels["node"] == nbr_min["src"], "left").select(
            "node",
            F.least(
                F.col("component"), F.coalesce(F.col("nbr_label"), F.col("component"))
            ).alias("component"),
            F.col("component").alias("_prev"),
        )
        # pointer jumping: component ← component's label in the PREVIOUS
        # iteration's (checkpointed) table, not in ``stepped`` — a
        # stepped-on-stepped self-join forks an unmaterialized plan, so
        # the nbr_min shuffle join executed TWICE per iteration (r16;
        # guide §2.4).  Jumping through the old labels keeps geometric
        # path-halving (any label is a min over a reachable subset, so
        # the hash-min fixed point — and therefore the result — is
        # unchanged) while every per-iteration join reads checkpoint
        # blocks and runs exactly once.
        jumped = (
            stepped.alias("s")
            .join(
                labels.select(
                    F.col("node").alias("component"), F.col("component").alias("parent")
                ).alias("p"),
                "component",
                "left",
            )
            .select(
                F.col("node"),
                F.least(
                    F.col("component"), F.coalesce(F.col("parent"), F.col("component"))
                ).alias("component"),
                F.col("_prev"),
            )
        )
        # carry the changed flag INTO the checkpointed blocks: the
        # convergence probe is then a scan-and-count of blocks instead of
        # the former full shuffle join of new labels against old (r16)
        new_labels = jumped.select(
            "node",
            "component",
            (F.col("component") != F.col("_prev")).alias("_chg"),
        ).transform(cut, eager=True)
        changed = new_labels.filter(F.col("_chg")).count()
        labels = new_labels.select("node", "component")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} iterations "
        "(component diameter exceeds 2^iterations — raise max_iters)"
    )


def near_dedup_docs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    shingle_n: int = 3,
    k: int = 8,
    bands: int = 4,
    max_bucket_size: int = 1024,
) -> DataFrame:
    """Keep one document per near-duplicate cluster.

    LSH candidates (hot-bucket capped) → shingle-Jaccard >= ``threshold``
    verified pairs → connected components → survivors = docs that are
    their component's minimum, plus every doc never paired at all."""
    pairs = lsh_candidate_pairs(
        df, id_col, text_col, k=k, bands=bands, shingle_n=shingle_n,
        max_bucket_size=max_bucket_size,
    )
    verified = ngram_jaccard(
        df, id_col, text_col, pairs=pairs, shingle_n=shingle_n, threshold=threshold
    ).select("id_a", "id_b")
    comp = connected_components(verified)
    drop = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


def near_dup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    **kwargs,
) -> DataFrame:
    """(component, n_members) cluster summary over verified near-dup
    pairs — the audit view of ``near_dedup_docs``."""
    pairs = lsh_candidate_pairs(df, id_col, text_col, **kwargs)
    verified = ngram_jaccard(
        df, id_col, text_col, pairs=pairs, threshold=threshold
    ).select("id_a", "id_b")
    comp = connected_components(verified)
    return comp.groupBy("component").agg(F.count(F.lit(1)).alias("n_members"))
