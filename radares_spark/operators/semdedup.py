"""SemDeDup — semantic deduplication via embedding clustering
(Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
through semantic deduplication").

The trick that makes semantic dedup tractable at 100 TB: NEVER score
all pairs. Cluster the embeddings first (k-means — the corpus pass is
:func:`radares_spark.operators.similarity.build_ivf_index`), then
compare only WITHIN a cluster. With k chosen so clusters hold ~1-10k
vectors, the quadratic term is bounded per cluster and the whole
operator is one shuffle on the cluster id plus per-cluster local work
— the same blocked shape as the MinHash-LSH / simhash-band family in
``operators/dedup.py``, with the cluster id playing the band role.

Keep rule (paper §2, facebookresearch/SemDeDup reference
implementation): within a cluster, examples are ranked by cosine
similarity TO THE CENTROID; an example is dropped when some
lower-ranked example (less centroid-similar — i.e. more "extreme" and
therefore kept for diversity) is within ``tau`` cosine of it. Rank
ties break on vec_id, so the audit is fully deterministic.

Against the reference engine this is the embedding-space twin of its
row-identity dedup (clean_data.py:168-180): same admit/drop audit
shape, semantic instead of exact equality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from radares_spark.functions.vectors import COSINE_SQL_CTE, DIM, dot, pair_dot
from radares_spark.registry import QuerySpec

SEM_TAU = 0.35
# The synthetic testdata embeddings are near-orthogonal (max within-
# cluster pair cosine ~0.47 at sf0.01, no planted near-identical
# pairs), so the paper's tau ~= 0.95 would make the value check
# vacuous (zero drops). 0.35 sits at the ~p99 of the within-cluster
# pair distribution: the drop set is non-trivial and every branch of
# the keep rule is exercised. The mechanism — blocked pairwise scoring
# + centroid-rank keep rule — is threshold-independent.


def semdedup_audit(
    members: DataFrame, centroids: DataFrame, tau: float = SEM_TAU
) -> DataFrame:
    """Per-vector admit/drop audit.

    ``members``: (vec_id, cell, v array, nrm) — embeddings with their
    cluster assignment. ``centroids``: (cell, cv array<double>, cn) —
    e.g. from ``build_ivf_index``. Returns
    (vec_id, cell, centroid_sim, kept).

    Plan shape: one broadcast (centroids) for the rank projection,
    then ONE hash shuffle on ``cell`` for the within-cluster pair
    join whose verdict is folded into a map-side-combinable max-flag
    aggregate — no drop-set distinct, no corpus-wide join back (the
    first formulation paid a full SortMergeJoin on vec_id for that).
    Nothing crosses cluster boundaries; per-task cost is
    |cluster|^2 * DIM, bounded by the trainer's k choice — at corpus
    scale pick k ~ N/5k so a task scores ~25M pairs worst case.
    """
    csim = F.round(pair_dot("v", "cv") / (F.col("nrm") * F.col("cn")), 4)
    ranked = members.join(F.broadcast(centroids), "cell").select(
        "vec_id", "cell", "v", "nrm", csim.alias("centroid_sim")
    )

    other = ranked.select(
        F.col("vec_id").alias("o_id"),
        "cell",
        F.col("v").alias("ov"),
        F.col("nrm").alias("onrm"),
        F.col("centroid_sim").alias("o_csim"),
    )
    pair_cos = F.round(pair_dot("v", "ov") / (F.col("nrm") * F.col("onrm")), 4)
    # drop when a LESS centroid-similar (kept-for-diversity) example is
    # within tau; ties on centroid_sim break toward the smaller vec_id
    lower_rank = (F.col("o_csim") < F.col("centroid_sim")) | (
        (F.col("o_csim") == F.col("centroid_sim")) & (F.col("o_id") < F.col("vec_id"))
    )
    dropped = F.when(
        F.col("o_id").isNotNull()
        & (F.col("o_id") != F.col("vec_id"))
        & lower_rank
        & (pair_cos >= tau),
        F.lit(1),
    ).otherwise(F.lit(0))
    # LEFT join keeps singleton-cluster vectors (no partner rows)
    return (
        ranked.join(other, "cell", "left")
        .groupBy("vec_id", "cell", "centroid_sim")
        .agg((F.max(dropped) == 0).alias("kept"))
    )


def dedup_semantic(spark, sf_dir: str) -> DataFrame:
    """Library entry: clusters = the embeddings' label column (the
    SQL-oracle-checkable stand-in for trained k-means cells, exactly
    as similarity_ivf_topk does), centroids = per-cluster means."""
    from radares_spark.operators.similarity import _normed
    from radares_spark.functions.vectors import l2norm

    normed = _normed(spark, sf_dir)
    cells = (
        normed.select(F.col("label").alias("cell"), F.posexplode("v").alias("i", "x"))
        .groupBy("cell", "i")
        .agg(F.avg("x").alias("c"))
    )
    centroids = (
        cells.groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("i", "c"))).alias("ic"))
        .select("cell", F.transform(F.col("ic"), lambda s: s.c).alias("cv"))
        .select("cell", "cv", l2norm("cv").alias("cn"))
    )
    members = normed.select("vec_id", F.col("label").alias("cell"), "v", "nrm")
    return semdedup_audit(members, centroids, SEM_TAU)


def store_centroids(spark, ivf_dir: str):
    """``(centroids_df, dim)`` from an IVF store's ``_centroids``
    sidecar, with a descriptive failure for a misconfigured store
    (missing or empty sidecar previously surfaced as a bare
    ``TypeError: 'NoneType' object is not subscriptable``)."""
    from radares_spark.io import fs as iofs

    if not iofs.has_parquet(spark, f"{ivf_dir}/_centroids"):
        raise ValueError(
            f"IVF store {ivf_dir!r} has no _centroids sidecar — build it "
            "with init_ivf_from_state / write_ivf_store before probing"
        )
    centroids = spark.read.parquet(f"{ivf_dir}/_centroids")
    head = centroids.head()
    if head is None:
        raise ValueError(
            f"IVF store {ivf_dir!r} has an EMPTY _centroids sidecar — "
            "re-initialize it with init_ivf_from_state / write_ivf_store"
        )
    return centroids, len(head["cv"])


def semdedup_admit_from_store(
    spark,
    ivf_dir: str,
    delta_normed: DataFrame,
    tau: float = SEM_TAU,
    n_probe: int = 1,
) -> DataFrame:
    """Semantic ADMISSION: audit a nightly delta against the kept
    corpus's IVF serving store (the one ``corpus-refresh --ivf-store``
    maintains) — a delta doc is ``semantic_dup`` when some stored
    vector within its probed cells is at/above ``tau`` cosine, else
    ``kept``. Returns (vec_id, outcome, match_id, match_cos);
    match columns are NULL for kept docs with no scored neighbor.

    This is SemDeDup's cluster-blocking applied at the GATE instead of
    over the resident corpus: the delta assigns to its ``n_probe``
    nearest frozen cells and exact-scores ONLY those cell partitions
    (DPP-pruned scan — similarity.probe_stored_topk), so a nightly
    admission reads n_probe/n_cells of the vector store rather than
    brute-forcing 100 TB of embeddings. n_probe=1 is the paper's
    within-cluster discipline (a true semantic twin lands in its
    match's cell — pinned by the planted-twin test); raise it to trade
    scan volume for boundary recall. The probe excludes each query's
    own id: a CHANGED doc re-embedded under its stored id must not
    match its own stale vector (the refresh replaces it).

    Composes with the store lifecycle: refresh_ivf_store's drift
    telemetry (retrain_due) is the signal that this gate's recall is
    decaying — same frozen-centroid contract, same remedy."""
    from radares_spark.operators.similarity import probe_stored_topk

    # dim inferred from the store itself — the dot's unrolled/HOF fold
    # silently truncates on a wrong dim (build_ivf_index docstring)
    centroids, dim = store_centroids(spark, ivf_dir)
    top1 = probe_stored_topk(
        spark,
        ivf_dir,
        centroids,
        delta_normed,
        n_probe=n_probe,
        k=1,
        dim=dim,
    ).select(
        F.col("query_id").alias("vec_id"),
        F.col("neighbor_id").alias("match_id"),
        F.col("cos_sim").alias("match_cos"),
    )
    return (
        delta_normed.select("vec_id")
        .join(top1, "vec_id", "left")
        .select(
            "vec_id",
            F.when(F.col("match_cos") >= tau, F.lit("semantic_dup"))
            .otherwise(F.lit("kept"))
            .alias("outcome"),
            "match_id",
            "match_cos",
        )
    )


SEMDEDUP_SQL = f"""
    WITH {COSINE_SQL_CTE},
    labeled AS (
        SELECT n.vec_id, e.label AS cell, n.v, n.nrm
        FROM normed n JOIN embeddings e USING (vec_id)
    ),
    cells AS (
        SELECT cell, i, avg(v[i]) AS c
        FROM labeled, (SELECT unnest(generate_series(1, {DIM})) AS i)
        GROUP BY cell, i
    ),
    centroids AS (
        SELECT cell, list(c ORDER BY i) AS cv,
               sqrt(list_reduce(list_transform(list(c ORDER BY i), x -> x * x),
                                (a, b) -> a + b)) AS cn
        FROM cells GROUP BY cell
    ),
    ranked AS (
        SELECT m.vec_id, m.cell, m.v, m.nrm,
               round(list_reduce(list_transform(generate_series(1, {DIM}),
                                                i -> m.v[i] * ct.cv[i]),
                                 (x, y) -> x + y) / (m.nrm * ct.cn), 4) AS centroid_sim
        FROM labeled m JOIN centroids ct USING (cell)
    ),
    drops AS (
        SELECT DISTINCT a.vec_id
        FROM ranked a JOIN ranked b
          ON a.cell = b.cell AND a.vec_id <> b.vec_id
         AND (b.centroid_sim < a.centroid_sim
              OR (b.centroid_sim = a.centroid_sim AND b.vec_id < a.vec_id))
        WHERE round(list_reduce(list_transform(generate_series(1, {DIM}),
                                               i -> a.v[i] * b.v[i]),
                                (x, y) -> x + y) / (a.nrm * b.nrm), 4) >= {SEM_TAU}
    )
    SELECT r.vec_id, r.cell, r.centroid_sim,
           r.vec_id NOT IN (SELECT vec_id FROM drops) AS kept
    FROM ranked r
"""

LIBRARY_SPECS: dict[str, QuerySpec] = {
    "dedup_semantic": QuerySpec(
        name="dedup_semantic",
        fn=dedup_semantic,
        oracle=SEMDEDUP_SQL,
        survey="LLM-pipeline (SemDeDup embedding-cluster semantic dedup)",
        doc="SemDeDup audit over label clusters: rank by centroid "
        "cosine, drop examples within tau of a less-central kept "
        "example. Blocked pairwise — one shuffle on the cluster id, "
        "quadratic only within a cluster.",
    ),
}
