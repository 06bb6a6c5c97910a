"""Connected components over a pair table — transitive dedup groups.

The near-dup stage produces PAIRS (a ~ b). Pairwise keep-first dropping
handles chains reachable through kept docs, but full canonicalization
("every doc maps to the minimum id of its transitive group") needs
connected components. This is the iterated min-label propagation:

    label(v) <- min(label(v), min over neighbors(label(u)))

run as DataFrame self-joins until a fixed point. Convergence is
O(diameter) rounds; near-dup graphs are unions of small cliques/chains
(diameter rarely > a handful), so 5-10 rounds close ~any real corpus.
Each round is two shuffles over the edge list — the same cost profile
GraphX/graphframes pays, with zero extra dependencies.

The fixed-point check counts CHANGED labels (join new vs previous on
the node, count label <> prev) — type-agnostic, so node ids may be
longs OR strings (md5-keyed pair tables); an aggregate like
``sum(label)`` would crash on string ids. No driver-side collect of
data, one scalar per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def connected_components(pairs: DataFrame, max_iter: int = 10) -> DataFrame:
    """(node, component) for every node in ``pairs``; component = min
    node id of the transitive group. Raises if not converged within
    ``max_iter`` (pathological diameter — raise the bound)."""
    edges = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .unionByName(pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
        .distinct()
    )
    labels = (
        edges.groupBy("u")
        .agg(F.min("v").alias("nbr_min"))
        .select("u", F.least(F.col("u"), F.col("nbr_min")).alias("label"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        # propagate: each node takes min(own label, neighbors' labels)
        nbr = (
            edges.join(labels.withColumnRenamed("u", "v"), "v")
            .groupBy("u")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(nbr, "u", "left")
            .select(
                "u",
                F.least(F.col("label"), F.coalesce("nbr_label", F.col("label"))).alias(
                    "label"
                ),
            )
            .localCheckpoint(eager=True)  # truncate the iterative lineage
        )
        # type-agnostic fixed point: count labels that changed this round
        # (works for string node ids too — min/least order strings fine,
        # but sum() would not). Both frames are checkpointed => cheap.
        changed = (
            new_labels.join(labels.withColumnRenamed("label", "prev"), "u")
            .filter(F.col("label") != F.col("prev"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels.select(F.col("u").alias("node"), F.col("label").alias("component"))
    raise RuntimeError(f"connected_components: no fixed point in {max_iter} rounds")


def cluster_representatives(members: DataFrame, scores: DataFrame) -> DataFrame:
    """(doc_id, component, score, rep_doc_id, keep) — pick ONE
    representative per transitive duplicate group: the highest-score
    member, tie-broken by minimum id. ``members`` is
    ``connected_components`` output (node, component); ``scores`` maps
    every member id to a quality signal (length for the SlimPajama
    keep-longest policy, a classifier probability, ...).

    min-id canonicalization (the component label) keeps an
    ARBITRARY member; real pipelines keep the best one — dropping a
    long original in favor of its truncated copy loses data for no
    reason. One window per component (groups are near-dup cliques —
    small by construction, no skew concern), emitted for every member
    so the caller gets both the keep-list and the drop-list in one
    frame."""
    m = members.select(
        F.col("node").alias("doc_id"), "component"
    ).join(scores.select("doc_id", "score"), "doc_id")
    w = W.partitionBy("component").orderBy(
        F.col("score").desc_nulls_last(), F.col("doc_id").asc()
    )
    return m.select(
        "doc_id",
        "component",
        "score",
        F.first("doc_id").over(w).alias("rep_doc_id"),
    ).withColumn(
        "keep", F.when(F.col("doc_id") == F.col("rep_doc_id"), 1).otherwise(0)
    )

