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
from pyspark.sql import types as T

from radares_spark.functions.vectors import COSINE_SQL_CTE, DIM
from radares_spark.registry import QuerySpec

SEM_TAU = 0.35
# The synthetic testdata embeddings are near-orthogonal (max within-
# cluster pair cosine ~0.47 at sf0.01, no planted near-identical
# pairs), so the paper's tau ~= 0.95 would make the value check
# vacuous (zero drops). 0.35 sits at the ~p99 of the within-cluster
# pair distribution: the drop set is non-trivial and every branch of
# the keep rule is exercised. The mechanism — blocked pairwise scoring
# + centroid-rank keep rule — is threshold-independent.


# Rows of a cluster scored per kernel step: a step holds a few
# (tile x n) float64 buffers, so a 10k-vector cluster peaks at tens of
# MB, not at n^2 doubles.
_TILE_ROWS = 128

# centroid dot as one JVM expression at any dim: a left-to-right fold,
# ((0 + p0) + p1) + ..., the bracketing pair_dot and the kernel use.
# Not the unrolled dot(): it names element_at up to DIM, which fails
# under ANSI on shorter vectors.
_CENTROID_DOT = (
    "aggregate(zip_with(v, cv, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " CAST(0.0 AS DOUBLE), (acc, t) -> acc + t)"
)


def semdedup_audit(
    members: DataFrame, centroids: DataFrame, tau: float = SEM_TAU
) -> DataFrame:
    """Per-vector admit/drop audit.

    ``members``: (vec_id, cell, v array, nrm) — embeddings with their
    cluster assignment. ``centroids``: (cell, cv array<double>, cn) —
    e.g. from ``build_ivf_index``. Returns
    (vec_id, cell, centroid_sim, kept); ``cell`` keeps its input type.

    Plan shape: one broadcast (centroids) for the rank projection, a
    JVM expression, then ONE hash shuffle on ``cell`` into a grouped
    Arrow kernel (:func:`_best_lower_cos`): each cluster crosses to
    Python once, as its n vectors, never as its n^2 pairs. Nothing
    crosses cluster boundaries; per-cluster cost is n^2/2 * dim
    multiply-adds in row tiles of ``_TILE_ROWS``, so the kernel holds
    O(tile x n) doubles, never n^2 — at corpus scale pick k ~ N/5k so a
    cluster is ~5k vectors.

    The kernel returns, per vector, the largest UNROUNDED cosine to a
    lower-ranked partner; Spark rounds it. ``round`` is monotone, so
    ``round(max) >= tau`` holds exactly when some pair's rounded
    cosine does — the pairwise keep rule — and Python never has to
    reproduce Spark's HALF_UP rounding.
    """
    # a NaN dot (an inf x 0 term) is null, as pair_dot returns it
    dot = F.nanvl(F.expr(_CENTROID_DOT), F.lit(None).cast("double"))
    same_dim = F.size("v") == F.size("cv")
    mismatch = F.raise_error(F.lit("semdedup_audit: a vector and its centroid differ in length"))
    csim = F.when(same_dim, F.round(dot / (F.col("nrm") * F.col("cn")), 4)).otherwise(mismatch)
    ranked = members.join(F.broadcast(centroids), "cell").select(
        "vec_id", "cell", "v", "nrm", csim.alias("centroid_sim")
    )
    schema = T.StructType(
        [
            ranked.schema["vec_id"],
            ranked.schema["cell"],
            ranked.schema["centroid_sim"],
            T.StructField("best", T.DoubleType()),
        ]
    )
    best = ranked.groupBy("cell").applyInArrow(_best_lower_cos, schema)
    # no lower-ranked partner (null best): kept
    kept = F.col("best").isNull() | ~(F.round("best", 4) >= tau)
    return best.select("vec_id", "cell", "centroid_sim", kept.alias("kept"))


def _best_lower_cos(table):
    """applyInArrow kernel: one cluster's (vec_id, cell, v, nrm,
    centroid_sim) -> (vec_id, cell, centroid_sim, best), where ``best``
    is the max unrounded cosine to a LOWER-RANKED partner, null when
    there is none.

    Rank follows Spark's ordering of (centroid_sim, vec_id): NaN above
    every number, NaN equal to NaN, ties to the smaller vec_id. Sorted
    that way, row i's lower-ranked partners are rows 0..i-1, so each
    tile scores only the lower triangle. A null centroid_sim compares
    as null in Spark: such a vector has no partner and is none.

    Pair dots accumulate dimension by dimension in float64 — pair_dot's
    ((a0*b0 + a1*b1) + a2*b2)... bracketing — and divide by
    ``nrm_i * nrm_j``, as a Spark division of pair_dot's result would,
    so every cosine is bit-identical to the per-pair form. A NaN dot
    (an inf x 0 term) is null from pair_dot, so it gives no verdict; a
    NaN cosine from the division (inf / inf) does: Spark orders NaN
    above every number, so the max keeps it and it is >= tau.
    """
    import numpy as np
    import pyarrow as pa

    n = table.num_rows
    best = np.full(n, -np.inf)  # -inf: no scored partner (null)
    csim_col = table.column("centroid_sim").combine_chunks()
    rows = np.flatnonzero(csim_col.is_valid().to_numpy(zero_copy_only=False))
    m = len(rows)
    if m > 1:
        # every ranked vector has its centroid's length (checked in Spark)
        flat = table.column("v").take(rows).combine_chunks().flatten()
        vt = flat.to_numpy(zero_copy_only=False).astype(np.float64).reshape(m, -1).T.copy()
        nrm = table.column("nrm").to_numpy()[rows].astype(np.float64)
        ids = table.column("vec_id").to_numpy()[rows]
        csim = csim_col.to_numpy(zero_copy_only=False)[rows]
        order = np.lexsort((ids, csim))  # numpy sorts NaN last, as Spark
        vt, nrm, rows = vt[:, order], nrm[order], rows[order]
        for s in range(1, m, _TILE_ROWS):  # row 0 has no partner
            e = min(s + _TILE_ROWS, m)
            acc = np.zeros((e - s, e))
            tmp = np.empty_like(acc)
            for d in range(vt.shape[0]):
                np.multiply(vt[d, s:e, None], vt[d, None, :e], out=tmp)
                acc += tmp
            # row i of the tile keeps partners 0..i-1 (global order)
            skip = np.isnan(acc) | (np.arange(e)[None, :] >= np.arange(s, e)[:, None])
            acc /= nrm[s:e, None] * nrm[None, :e]
            acc[skip] = -np.inf
            best[rows[s:e]] = acc.max(axis=1)
    return pa.table(
        {
            "vec_id": table.column("vec_id"),
            "cell": table.column("cell"),
            "centroid_sim": table.column("centroid_sim"),
            "best": pa.array(best, mask=best == -np.inf),
        }
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
