"""Similarity search over an embedding column (``array<float>``).

Two tiers, per the standard ANN playbook:

- **brute-force cosine top-k** — the exactness baseline. Broadcast the
  (small) query set against the full corpus, window-rank per query.
  Cost: O(|queries| * N) — fine when queries are few, the corpus scan
  is embarrassingly parallel and never shuffles the corpus.
- **IVF probe top-k** — the scale path. A coarse quantizer maps each
  query to its nearest ``n_probe`` cells; the exact search runs only
  inside probed cells. Corpus is pre-partitioned by cell => the probe
  is a partition-pruned join. The registered query uses per-label
  centroids (SQL-oracle-checkable); ``build_ivf_index`` below is the
  production trainer (deterministic Lloyd k-means as DataFrame ops,
  recall-tested in tests/test_ivf.py).

All arithmetic is double, summed left-to-right (``F.aggregate`` /
DuckDB ``list_reduce``) and rounded, so the DuckDB oracle matches
exactly. Ranks tie-break on vec_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from radares_spark.io.tables import spread
from radares_spark.functions.vectors import COSINE_SQL_CTE, DIM, dot, l2norm, pair_dot
from radares_spark.registry import register

N_QUERIES = 8  # vec_id < 8 are the query vectors
TOP_K = 5
N_PROBE = 2


def _normed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread a single-split scan before the CPU-heavy pair scoring;
    # partition count sized to input bytes (see io.tables.spread)
    emb = spread(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", "label", F.col("embedding").alias("v"), l2norm("embedding").alias("nrm")
    )


def build_ivf_index(
    normed: DataFrame, n_cells: int = 8, iters: int = 3, dim: int = DIM
) -> tuple[DataFrame, DataFrame]:
    """Train a k-means coarse quantizer with Lloyd iterations expressed
    as DataFrame ops, and assign every vector to its cell.

    Returns ``(assignment, centroids)``: assignment = (vec_id, cell);
    centroids = (cell, cv array<double>, cn norm).

    Determinism: seeds are the ``n_cells`` vectors with the smallest
    md5(vec_id) — no RNG, stable across runs/engines. Each iteration is
    one small broadcast (the centroids) against the corpus plus one
    (cell, dim) shuffle for the means: at 100 TB that is iters x one
    pass over the data, the standard IVF training cost, and the final
    assignment is what the corpus parquet gets partitioned by so probes
    partition-prune (similarity_ivf_topk's scale story).

    Registered-query note: similarity_ivf_topk keeps per-label centroids
    (oracle-checkable in SQL); this trainer is the production variant —
    its quality gate is the recall test in tests/test_ivf.py, not a SQL
    oracle (iterative k-means is not reasonably SQL-expressible).

    ``dim`` must match the vectors' length (default: the embeddings
    table's 64). The unrolled norm expressions silently truncate to
    the first ``dim`` terms otherwise — threading it explicitly is
    what lets hashed_tf vectors (dim 2^12+) train an index
    (tests/test_embed.py sf0.1 bridge).
    """
    seeds = (
        normed.select("vec_id", "v")
        .withColumn("h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("h", "vec_id")
        .limit(n_cells)
    )
    w_seed = W.orderBy("h", "vec_id")
    centroids = seeds.select(
        (F.row_number().over(w_seed) - 1).alias("cell"),
        F.transform(F.col("v"), lambda x: x.cast("double")).alias("cv"),
    ).select("cell", "cv", l2norm("cv", dim).alias("cn"))

    assign_w = W.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("cell"))
    for _ in range(iters):
        sim = pair_dot("v", "cv") / (F.col("nrm") * F.col("cn"))
        assigned = (
            normed.crossJoin(F.broadcast(centroids))
            .select("vec_id", "v", "nrm", "cell", sim.alias("sim"))
            .withColumn("rn", F.row_number().over(assign_w))
            .filter(F.col("rn") == 1)
        )
        cells = (
            assigned.select("cell", F.posexplode("v").alias("i", "x"))
            .groupBy("cell", "i")
            .agg(F.avg("x").alias("c"))
        )
        centroids = (
            cells.groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("i", "c"))).alias("ic"))
            .select("cell", F.transform(F.col("ic"), lambda s: s.c).alias("cv"))
            .select("cell", "cv", l2norm("cv", dim).alias("cn"))
        )

    return assign_to_centroids(normed, centroids), centroids


def assign_to_centroids(normed: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, cell) — nearest-centroid assignment by cosine against
    a FIXED centroid table (one broadcast against the vectors; ties
    break to the lowest cell, same rule as training). Shared by
    build_ivf_index's final pass and the incremental store refresh,
    so a delta vector lands in exactly the cell a full rebuild with
    the same centroids would give it."""
    assign_w = W.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("cell"))
    sim = pair_dot("v", "cv") / (F.col("nrm") * F.col("cn"))
    return (
        normed.crossJoin(F.broadcast(centroids))
        .select("vec_id", "cell", sim.alias("sim"))
        .withColumn("rn", F.row_number().over(assign_w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cell")
    )


def _route_probes(
    queries: DataFrame, centroids: DataFrame, n_probe: int, dim: int = DIM
) -> DataFrame:
    """(query_id, qv, qn, cell) — each query routed to its ``n_probe``
    nearest centroid cells (broadcast centroids; ties on cell id)."""
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    qcos = dot("qv", "cv", dim) / (F.col("qn") * F.col("cn"))
    pw = W.partitionBy("query_id").orderBy(F.desc("qc"), F.asc("cell"))
    return (
        q.crossJoin(F.broadcast(centroids))
        .select("query_id", "qv", "qn", "cell", qcos.alias("qc"))
        .withColumn("prn", F.row_number().over(pw))
        .filter(F.col("prn") <= n_probe)
        .select("query_id", "qv", "qn", "cell")
    )


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    rw = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(rw))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def ivf_probe_topk(
    normed: DataFrame,
    assignment: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    n_probe: int = N_PROBE,
    k: int = TOP_K,
    dim: int = DIM,
) -> DataFrame:
    """ANN search against a trained IVF index: route each query to its
    ``n_probe`` nearest cells, exact-score only vectors in those cells.
    Searched fraction ~ n_probe/n_cells of the corpus; with the corpus
    stored partitioned by cell the probe join partition-prunes the scan
    (:func:`probe_stored_topk` is that materialized form). ``dim``
    must match the vectors' length (see build_ivf_index)."""
    probes = _route_probes(queries, centroids, n_probe, dim)
    corpus = normed.join(assignment, "vec_id")
    cos = F.round(pair_dot("qv", "v") / (F.col("qn") * F.col("nrm")), 4)
    scored = (
        corpus.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos_sim"))
    )
    return _rank_topk(scored, k)


def write_ivf_layout(normed: DataFrame, assignment: DataFrame, path: str) -> None:
    """Materialize the corpus partitioned by trained IVF cell — the
    serving layout that turns probe routing into PARTITION PRUNING:
    a probe of ``n_probe`` of ``n_cells`` cells lists and reads only
    that fraction of a 100 TB store's files. Rows cluster on vec_id
    inside each cell for row-group stat locality."""
    from radares_spark.io.layout import write_layout

    write_layout(
        normed.join(assignment, "vec_id"),
        path,
        partition_col="cell",
        sort_col="vec_id",
        max_records_per_file=4_000_000,
    )


# Retrain telemetry thresholds (refresh_ivf_store): the frozen-centroid
# serving contract needs a SIGNAL for when the periodic build_ivf_index
# retrain is due. Two orthogonal symptoms:
# - DRIFT: the delta's mean assigned-cell cosine falls this far below
#   the training-time mean — new content no longer resembles anything
#   the quantizer was trained on, so probes route badly (recall decays
#   even though every vector still lands in SOME cell).
# - SKEW: max/mean cell population after the refresh — deltas piling
#   into few cells turn "n_probe/n_cells of the store" into "most of
#   the store" for queries routed there (partition pruning degrades).
DRIFT_COS_DROP = 0.15
SKEW_RATIO = 4.0


def _assigned_cos(normed: DataFrame, assignment: DataFrame, centroids: DataFrame):
    """One-row (mean assigned-cell cosine, count) over vectors whose
    nearest cell is already known — a cell equi-join against the
    broadcast centroids, NOT the argmin crossJoin."""
    sim = pair_dot("v", "cv") / (F.col("nrm") * F.col("cn"))
    return (
        normed.join(assignment, "vec_id")
        .join(F.broadcast(centroids), "cell")
        .agg(F.avg(sim).alias("mean_cos"), F.count(F.lit(1)).alias("n"))
    )


def write_ivf_store(
    spark: SparkSession,
    normed: DataFrame,
    assignment: DataFrame,
    centroids: DataFrame,
    path: str,
) -> None:
    """:func:`write_ivf_layout` plus the sidecars an INCREMENTAL store
    needs: ``_assignment`` (vec_id -> cell, so a later delta can find
    which cell partitions its removed/changed vectors live in without
    scanning the store), ``_centroids`` (the frozen quantizer the
    delta assigns against) and ``_stats`` (the training-time mean
    assigned-cell cosine — the drift anchor refresh compares deltas
    against; frozen like the centroids it describes). ``_``-prefixed
    dirs are invisible to Spark reads of ``path``, so probes see only
    the cell partitions."""
    write_ivf_layout(normed, assignment, path)
    assignment.write.mode("overwrite").parquet(f"{path}/_assignment")
    centroids.write.mode("overwrite").parquet(f"{path}/_centroids")
    (
        _assigned_cos(normed, assignment, centroids)
        .select(F.col("mean_cos").alias("train_mean_cos"), "n")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path}/_stats")
    )


def refresh_ivf_store(
    spark: SparkSession,
    delta_normed: DataFrame,
    removed_ids: DataFrame,
    path: str,
) -> dict[str, int]:
    """Bring an IVF serving store in line with a vector delta,
    rewriting ONLY the cell partitions the delta touches.

    ``delta_normed``: (vec_id, v, nrm) rows that are new or changed;
    ``removed_ids``: (vec_id) rows to drop (changed ids may appear in
    both — the delta row wins). Delta vectors are assigned against the
    store's FROZEN centroids (``_centroids`` sidecar) — identical cell
    placement to a full rebuild with those centroids, pinned in tests.
    Affected cells = cells of delta assignments + prior cells of
    removed/changed ids (``_assignment`` sidecar — no store scan).
    Untouched cell partitions keep their files byte for byte; emptied
    cells are vacated explicitly (dynamic overwrite cannot clear a
    partition absent from the written data).

    Centroids do NOT drift here by design: assignment quality for the
    delta matches the store's training distribution until a periodic
    ``build_ivf_index`` retrain, the standard IVF serving contract.
    Returns ``{"n_delta", "n_removed", "n_cells_rewritten"}`` plus
    the retrain telemetry ``{"train_mean_cos", "delta_mean_cos",
    "drift", "cell_skew", "retrain_due"}`` (see DRIFT_COS_DROP /
    SKEW_RATIO)."""
    from radares_spark.io.fs import delete as fs_delete

    centroids = spark.read.parquet(f"{path}/_centroids")
    prior_assign = spark.read.parquet(f"{path}/_assignment")
    delta_assign = assign_to_centroids(delta_normed, centroids).localCheckpoint()
    delta_ids = delta_assign.select("vec_id")
    n_delta = delta_assign.count()
    gone_ids = removed_ids.unionByName(delta_ids).distinct().localCheckpoint()
    affected = (
        delta_assign.select("cell")
        .unionByName(prior_assign.join(gone_ids, "vec_id", "left_semi").select("cell"))
        .distinct()
        .localCheckpoint()
    )
    n_cells = affected.count()
    if n_cells:
        stored = spark.read.parquet(path)
        data_cols = [c for c in stored.columns if c != "cell"]
        survivors = (
            stored.join(affected, "cell", "left_semi")
            .join(gone_ids, "vec_id", "left_anti")
            .select(*data_cols, "cell")
        )
        if n_delta:
            # passthrough-generic: whatever payload columns the store
            # carries (label, metadata, ...) the delta rows must carry
            # too; a removal-only refresh (empty delta) skips the
            # requirement entirely
            missing = set(data_cols) - set(delta_normed.columns)
            if missing:
                raise ValueError(
                    f"delta rows lack store columns {sorted(missing)}; the "
                    "rewrite would null them out for every row in a touched cell"
                )
            # cast to the store's own column types: a delta carrying
            # array<double> over an array<float> store would otherwise
            # write files whose footers disagree, and a later read of
            # the store fails on whichever type it did not infer
            types = {f.name: f.dataType for f in stored.schema.fields}
            fresh = delta_normed.join(delta_assign, "vec_id").select(
                *[F.col(c).cast(types[c]).alias(c) for c in data_cols], "cell"
            )
            rows = survivors.unionByName(fresh).localCheckpoint()
        else:
            rows = survivors.localCheckpoint()
        rows.repartition("cell").sortWithinPartitions("vec_id").write.mode(
            "overwrite"
        ).option("partitionOverwriteMode", "dynamic").partitionBy("cell").parquet(path)
        emptied = [
            r["cell"]
            for r in affected.join(
                rows.select("cell").distinct(), "cell", "left_anti"
            ).collect()
        ]
        for c in emptied:
            fs_delete(spark, f"{path}/cell={c}")
    assign_new = prior_assign.join(gone_ids, "vec_id", "left_anti").unionByName(
        delta_assign
    ).localCheckpoint()
    assign_new.write.mode("overwrite").parquet(f"{path}/_assignment")

    # --- retrain telemetry (r8): the frozen-centroid contract's drift
    # signal. Drift = training-time mean assigned cosine (the _stats
    # sidecar anchor) minus the DELTA's mean assigned cosine under the
    # same frozen centroids; skew = max/mean cell population after the
    # refresh (kilobyte aggregate over the _assignment ledger). Either
    # symptom past its threshold sets retrain_due — the caller
    # schedules a periodic build_ivf_index rebuild, the standard IVF
    # serving playbook.
    delta_mean_cos = None
    train_mean_cos = None
    drift = None
    if n_delta:
        train_mean_cos = spark.read.parquet(f"{path}/_stats").collect()[0][
            "train_mean_cos"
        ]
        row = _assigned_cos(delta_normed, delta_assign, centroids).collect()[0]
        delta_mean_cos = row["mean_cos"]
        if train_mean_cos is not None and delta_mean_cos is not None:
            drift = round(train_mean_cos - delta_mean_cos, 6)
    pops = assign_new.groupBy("cell").count().agg(
        F.max("count").alias("mx"), F.avg("count").alias("mean")
    ).collect()[0]
    skew = round(pops["mx"] / pops["mean"], 3) if pops["mx"] is not None else None
    retrain_due = bool(
        (drift is not None and drift > DRIFT_COS_DROP)
        or (skew is not None and skew > SKEW_RATIO)
    )
    # persist the verdict so maintenance can CONSUME it (corpus-maintain
    # --ivf auto reads this sidecar; r9 verdict: nothing consumed
    # retrain_due automatically). One advisory row, overwritten per
    # refresh — a crash loses nothing but the latest telemetry.
    spark.createDataFrame(
        [(drift, skew, retrain_due)],
        "drift double, cell_skew double, retrain_due boolean",
    ).repartition(1).write.mode("overwrite").parquet(f"{path}/_telemetry")
    return {
        "n_delta": n_delta,
        "n_removed": removed_ids.count(),
        "n_cells_rewritten": n_cells,
        "train_mean_cos": train_mean_cos,
        "delta_mean_cos": delta_mean_cos,
        "drift": drift,
        "cell_skew": skew,
        "retrain_due": retrain_due,
    }


def retrain_ivf_store(
    spark: SparkSession,
    ivf_dir: str,
    out_dir: str,
    n_cells: int | None = None,
    iters: int = 3,
) -> dict:
    """The remedy for ``retrain_due`` — rebuild the IVF store from its
    own resident vectors under FRESHLY TRAINED centroids, into a NEW
    directory (write-new-then-swap: the old store keeps serving,
    byte-untouched, until the caller flips the path — the same
    crash-safety story as the store pointer flips in pipeline/stores.py).

    What a retrain fixes, by construction: the new ``_stats`` anchor
    is the mean assigned cosine of the CURRENT residents under the new
    quantizer, so post-swap deltas drawn from the corpus's present
    distribution measure drift ~ 0 again; and re-clustering redistributes
    piled-up cells, restoring the ``n_probe/n_cells`` pruning fraction
    skew had eroded. Cost is the standard periodic IVF price: ``iters``
    broadcast-assign passes over the resident vectors plus one
    partitioned rewrite — scheduled off the telemetry, never nightly.

    ``n_cells`` defaults to the old store's centroid count; the vector
    length is the old store's. Returns ``{"n_vectors", "n_cells",
    "train_mean_cos"}`` for the operator's log."""
    from radares_spark.operators.semdedup import store_centroids

    if out_dir.rstrip("/") == ivf_dir.rstrip("/"):
        raise ValueError(
            "retrain writes a NEW store (write-new-then-swap); out_dir "
            "must differ from the serving store"
        )
    from radares_spark.io.fs import list_names

    old_centroids, dim = store_centroids(spark, ivf_dir)
    if n_cells is None:
        n_cells = old_centroids.count()
    if not any(n.startswith("cell=") for n in list_names(spark, ivf_dir)):
        # refreshes vacate emptied cells; a fully drained store has
        # only sidecars left and the partitioned read would die with
        # an opaque schema-inference error
        raise ValueError(
            f"IVF store {ivf_dir!r} has no resident cell partitions — "
            "nothing to retrain; re-initialize it from the corpus "
            "(init_ivf_from_state / write_ivf_store) instead"
        )
    stored = spark.read.parquet(ivf_dir)
    data_cols = [c for c in stored.columns if c != "cell"]
    # the resident vectors, shed of their stale cell column; pinned —
    # training re-reads them iters+1 times
    normed = stored.select(*data_cols).localCheckpoint()
    assignment, centroids = build_ivf_index(
        normed, n_cells=n_cells, iters=iters, dim=dim
    )
    write_ivf_store(
        spark, normed, assignment.localCheckpoint(),
        centroids.localCheckpoint(), out_dir,
    )
    stats = spark.read.parquet(f"{out_dir}/_stats").head()
    return {
        "n_vectors": int(stats["n"]),
        "n_cells": n_cells,
        "train_mean_cos": stats["train_mean_cos"],
    }


def probe_stored_topk(
    spark: SparkSession,
    path: str,
    centroids: DataFrame,
    queries: DataFrame,
    n_probe: int = N_PROBE,
    k: int = TOP_K,
    dim: int = DIM,
) -> DataFrame:
    """ANN top-k against a :func:`write_ivf_layout` store. The
    broadcast probe join's cell keys reach the scan as a
    DynamicPruningExpression in ``PartitionFilters`` (asserted in
    tests/test_ivf.py) — unprobed cells' files are never read, making
    "searched fraction = n_probe/n_cells" literal I/O, not just
    row-filter arithmetic. The query's own row is dropped (neighbor
    search)."""
    probes = _route_probes(queries, centroids, n_probe, dim)
    stored = spark.read.parquet(path)
    cos = F.round(pair_dot("qv", "v") / (F.col("qn") * F.col("nrm")), 4)
    scored = stored.join(F.broadcast(probes), "cell").filter(
        F.col("query_id") != F.col("vec_id")
    )
    scored = scored.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos_sim")
    )
    return _rank_topk(scored, k)


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = TOP_K) -> DataFrame:
    """Exact top-k neighbors per query vector (brute force).

    ``queries`` is broadcast — the corpus is scanned once, in place,
    with no shuffle until the tiny per-query rank window. Scoring is
    the Arrow-batched :func:`pair_dot` (bit-identical to the unrolled
    expression, ~2x faster on the |queries| x N scored rows).
    """
    q = F.broadcast(
        queries.select(
            F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
        )
    )
    cos = F.round(pair_dot("qv", "v") / (F.col("qn") * F.col("nrm")), 4)
    scored = (
        corpus.join(q, F.col("query_id") != F.col("vec_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos_sim"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


@register(
    "similarity_cosine_topk",
    oracle=f"""
    WITH {COSINE_SQL_CTE},
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round(list_reduce(list_transform(generate_series(1, {DIM}),
                                                i -> q.v[i] * c.v[i]),
                                 (x, y) -> x + y) / (q.nrm * c.nrm), 4) AS cos_sim
        FROM normed q JOIN normed c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < {N_QUERIES}
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {TOP_K}
    """,
    survey="similarity search (brute-force cosine top-k baseline)",
)
def similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    normed = _normed(spark, sf_dir)
    queries = normed.filter(F.col("vec_id") < N_QUERIES)
    return cosine_topk(normed, queries).select("query_id", "neighbor_id", "cos_sim", "rank")


@register(
    "similarity_ivf_topk",
    oracle=f"""
    WITH {COSINE_SQL_CTE},
    cells AS (
        SELECT e.label, i, avg(v[i]) AS c
        FROM (SELECT label, list_transform(embedding, x -> x::DOUBLE) AS v
              FROM embeddings) e,
             (SELECT unnest(generate_series(1, {DIM})) AS i)
        GROUP BY e.label, i
    ),
    centroids AS (
        SELECT label, list(c ORDER BY i) AS cv,
               sqrt(list_reduce(list_transform(list(c ORDER BY i), x -> x * x),
                                (a, b) -> a + b)) AS cn
        FROM cells GROUP BY label
    ),
    queries AS (SELECT * FROM normed WHERE vec_id < {N_QUERIES}),
    probes AS (
        SELECT query_id, label FROM (
            SELECT q.vec_id AS query_id, ct.label,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round(list_reduce(list_transform(generate_series(1, {DIM}),
                                                                 i -> q.v[i] * ct.cv[i]),
                                                  (x, y) -> x + y) / (q.nrm * ct.cn), 4) DESC,
                                ct.label
                   ) AS prn
            FROM queries q CROSS JOIN centroids ct
        ) WHERE prn <= {N_PROBE}
    ),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round(list_reduce(list_transform(generate_series(1, {DIM}),
                                                i -> q.v[i] * c.v[i]),
                                 (x, y) -> x + y) / (q.nrm * c.nrm), 4) AS cos_sim
        FROM queries q
        JOIN probes p ON p.query_id = q.vec_id
        JOIN (SELECT n.*, e.label FROM normed n JOIN embeddings e USING (vec_id)) c
          ON c.label = p.label AND c.vec_id <> q.vec_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {TOP_K}
    """,
    survey="similarity search (IVF-probed ANN — the 100 TB path)",
    doc="IVF: coarse centroids (per-label means; k-means at scale), "
    f"probe the {N_PROBE} nearest cells per query, exact top-{TOP_K} "
    "inside probed cells only. With the corpus parquet partitioned by "
    "cell id, the probe join partition-prunes the scan — searched "
    "fraction ~ n_probe/n_cells of 100 TB.",
)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    normed = _normed(spark, sf_dir)

    # centroid per cell (label): positional explode -> per-dim mean ->
    # re-assemble ordered vector. One shuffle over (label, dim).
    cells = (
        normed.select("label", F.posexplode("v").alias("i", "x"))
        .groupBy("label", "i")
        .agg(F.avg("x").alias("c"))
    )
    centroids = (
        cells.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("i", "c"))).alias("ic"))
        .select("label", F.transform(F.col("ic"), lambda s: s.c).alias("cv"))
        .select("label", "cv", l2norm("cv").alias("cn"))
    )

    queries = normed.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    qcos = F.round(dot("qv", "cv") / (F.col("qn") * F.col("cn")), 4)
    pw = W.partitionBy("query_id").orderBy(F.desc("qc"), F.asc("label"))
    probes = (
        queries.crossJoin(F.broadcast(centroids))
        .select("query_id", "qv", "qn", "label", qcos.alias("qc"))
        .withColumn("prn", F.row_number().over(pw))
        .filter(F.col("prn") <= N_PROBE)
        .select("query_id", "qv", "qn", "label")
    )

    # probe join: corpus side filtered to probed cells (partition pruning
    # when the corpus is stored partitioned by cell).
    cos = F.round(pair_dot("qv", "v") / (F.col("qn") * F.col("nrm")), 4)
    scored = (
        normed.join(F.broadcast(probes), "label")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos_sim"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )
