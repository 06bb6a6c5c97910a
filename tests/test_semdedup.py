"""Planted-structure tests for SemDeDup (operators/semdedup.py) and
cross-doc duplicate-span detection (operators/text_ext.dup_span_stats).
The oracle-parity sweep (test_oracle_parity.py over ALL_LIBRARY_SPECS)
value-checks both against DuckDB on testdata; these tests pin the
SEMANTICS on hand-built inputs where the right answer is computable by
eye.

The semdedup_audit tests on hand-built and testdata clusters run in the
default tier, so it exercises the grouped-Arrow kernel; the dup-span
tests and the multi-second end-to-end ones stay in the slow tier."""

from __future__ import annotations

import math
import re
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pytest

from pyspark.sql import functions as F

from radares_spark.functions.vectors import l2norm, pair_dot
from radares_spark.operators.semdedup import _TILE_ROWS, semdedup_audit
from radares_spark.operators.text_ext import dup_span_stats


def _arrow_frame(spark, rows, fields):
    """A one-partition local relation built through Arrow: a list-built
    frame scans through Python workers on every action, one task per
    core (seconds per test), and the pandas path turns NaN elements
    into nulls."""
    table = pa.table({n: pa.array(c, t) for (n, t), c in zip(fields, zip(*rows))})
    return spark.createDataFrame(table).coalesce(1)


VEC = pa.list_(pa.float64())


def _members(spark, rows):
    """rows: (vec_id, cell, vector list) -> members frame with norms."""
    df = _arrow_frame(
        spark,
        [(i, c, [float(x) for x in v]) for i, c, v in rows],
        [("vec_id", pa.int64()), ("cell", pa.string()), ("v", VEC)],
    )
    return df.select("vec_id", "cell", "v", l2norm("v", dim=4).alias("nrm"))


def _centroids(spark, rows):
    df = _arrow_frame(
        spark, [(c, [float(x) for x in v]) for c, v in rows], [("cell", pa.string()), ("cv", VEC)]
    )
    return df.select("cell", "cv", l2norm("cv", dim=4).alias("cn"))


def test_semdedup_drops_the_more_central_twin(spark):
    """Two near-identical vectors: the one MORE similar to the centroid
    drops; the diversity-preserving outlier is kept (paper keep rule)."""
    cen = _centroids(spark, [("a", [1, 0, 0, 0])])
    # v1 is the centroid direction exactly; v2 is v1 slightly rotated
    # (cos(v1,v2) ~ 0.995, both well above tau); v3 is orthogonal.
    members = _members(
        spark,
        [
            (1, "a", [1, 0, 0, 0]),
            (2, "a", [1, 0.1, 0, 0]),
            (3, "a", [0, 0, 1, 0]),
        ],
    )
    out = {
        r["vec_id"]: r["kept"]
        for r in semdedup_audit(members, cen, tau=0.9).collect()
    }
    assert out == {1: False, 2: True, 3: True}


def test_semdedup_never_compares_across_cells(spark):
    """Identical vectors in DIFFERENT cells both survive — blocking is
    the scale contract (cluster id == LSH band role)."""
    cen = _centroids(spark, [("a", [1, 0, 0, 0]), ("b", [1, 0, 0, 0])])
    members = _members(
        spark, [(1, "a", [1, 0, 0, 0]), (2, "b", [1, 0, 0, 0])]
    )
    out = {
        r["vec_id"]: r["kept"]
        for r in semdedup_audit(members, cen, tau=0.99).collect()
    }
    assert out == {1: True, 2: True}


def test_semdedup_tie_breaks_on_vec_id(spark):
    """Exactly identical vectors (same centroid_sim): the smaller
    vec_id is 'lower rank' and survives; the larger drops."""
    cen = _centroids(spark, [("a", [1, 1, 0, 0])])
    members = _members(
        spark, [(7, "a", [1, 0, 0, 0]), (9, "a", [1, 0, 0, 0])]
    )
    out = {
        r["vec_id"]: r["kept"]
        for r in semdedup_audit(members, cen, tau=0.99).collect()
    }
    assert out == {7: True, 9: False}


def _pairwise_audit(members, centroids, tau):
    """The keep rule in its per-pair form, as the reference: a self-join
    on the cell, every pair scored with pair_dot and rounded in Spark."""
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
    return (
        ranked.join(other, "cell", "left")
        .groupBy("vec_id", "cell", "centroid_sim")
        .agg((F.max(dropped) == 0).alias("kept"))
    )


def _by_id(df):
    """vec_id -> row, with NaN spelled out so it compares equal."""
    return {
        r["vec_id"]: tuple("NaN" if isinstance(x, float) and math.isnan(x) else x for x in r)
        for r in df.collect()
    }


@contextmanager
def _ansi(spark, on):
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", str(on).lower())
    try:
        yield
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)


def test_kernel_matches_the_pairwise_plan(spark):
    """The grouped kernel's rows equal the per-pair self-join's, row
    for row, on a cluster larger than one tile, a centroid_sim tie, a
    singleton cluster, vectors whose cosines are NaN and a zero vector."""
    rng = np.random.default_rng(7)
    n_big = _TILE_ROWS + 72
    assert n_big > _TILE_ROWS
    base = rng.normal(size=4)
    big = [(i, "big", base + rng.normal(scale=0.6, size=4)) for i in range(n_big)]
    rows = big + [
        # same centroid_sim: an identical pair (the larger id drops) and
        # a partner at the same angle to the centroid (cosine 0.5)
        (500, "tie", [1, 1, 0, 0]),
        (501, "tie", [1, 1, 0, 0]),
        (502, "tie", [1, 0, 1, 0]),
        (600, "one", [0, 0, 0, 1]),
        # degenerate vectors. 700 has a NaN dot with everything: a null
        # rank, kept. 701 and 704 rank above every number (inf / inf =
        # NaN) and tie there; 701's NaN cosine with 702 drops it.
        # 710's only partner gives a NaN dot, which is no verdict.
        (700, "nan", [math.nan, 0, 0, 0]),
        (701, "nan", [math.inf, 1, 0, 0]),
        (702, "nan", [1, 1, 0, 0]),
        (703, "nan", [0, 1, 0.1, 0]),
        (704, "nan", [math.inf, 0, 0, 0]),
        (710, "inf", [math.inf, 0, 0, 0]),
        (711, "inf", [0, 1, 0, 0]),
    ]
    cen = _centroids(
        spark,
        [
            ("big", base),
            ("tie", [1, 0, 0, 0]),
            ("one", [0, 0, 0, 1]),
            ("nan", [1, 1, 0, 0]),
            ("inf", [1, 1, 0, 0]),
        ],
    )
    members = _members(spark, rows)
    tau = 0.9
    got = _by_id(semdedup_audit(members, cen, tau=tau))
    assert got == _by_id(_pairwise_audit(members, cen, tau))
    assert len(got) == len(rows)
    kept = {i: r[3] for i, r in got.items()}
    assert 0 < sum(kept[i] for i in range(n_big)) < n_big
    assert (kept[500], kept[501], kept[502]) == (True, False, True)
    assert kept[600] and kept[700] and got[700][2] is None
    assert got[701][2] == got[704][2] == "NaN" and not kept[701] and not kept[704]
    assert kept[710]
    assert semdedup_audit(members, cen, tau=tau).schema["cell"].dataType.simpleString() == "string"

    # a zero vector: its centroid rank divides by a zero norm in both
    # plans — an error under ANSI, a null rank (kept, nobody's
    # partner) without it
    zero = _members(spark, rows[-7:] + [(800, "nan", [0, 0, 0, 0])])
    for plan in (semdedup_audit, _pairwise_audit):
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            plan(zero, cen, tau).collect()
    with _ansi(spark, False):
        got = _by_id(semdedup_audit(zero, cen, tau=tau))
        assert got == _by_id(_pairwise_audit(zero, cen, tau))
    assert got[800][2:] == (None, True)

    # a vector whose length is not its centroid's cannot be ranked
    ragged = _members(spark, [(1, "r", [1, 0, 0, 0, 0]), (2, "r", [1, 0, 0, 0])])
    with pytest.raises(Exception, match="differ in length"):
        semdedup_audit(ragged, _centroids(spark, [("r", [1, 0, 0, 0])]), tau).collect()


def test_dedup_semantic_crosses_to_python_once(spark):
    """dedup_semantic's executed plan has exactly one Python node, the
    grouped kernel: no per-pair UDF stage can come back unnoticed."""
    from radares_spark.plans.library import ALL_LIBRARY_SPECS
    from tests.conftest import SF_SMOKE

    sd = ALL_LIBRARY_SPECS["dedup_semantic"].fn(spark, SF_SMOKE)
    plan = sd._jdf.queryExecution().executedPlan().toString()
    nodes = re.findall(r"\b(?:\w+EvalPython|\w+In(?:Pandas|Arrow))\b", plan)
    assert nodes == ["FlatMapGroupsInArrow"], plan


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


SPAN = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 words


@pytest.mark.slow
def test_dup_spans_flags_shared_window(spark):
    docs = _docs(
        spark,
        [
            (1, f"intro words here {SPAN} and a unique one two three tail"),
            (2, f"totally different opening {SPAN} different closing words four"),
            (3, "no shared material in this document at all nine ten eleven"),
        ],
    )
    out = {r["doc_id"]: r for r in dup_span_stats(docs, w=8).collect()}
    assert out[1]["n_dup_windows"] == 1 and out[2]["n_dup_windows"] == 1
    assert out[3]["n_dup_windows"] == 0
    n_tokens_1 = len(f"intro words here {SPAN} and a unique one two three tail".split())
    assert out[1]["n_windows"] == n_tokens_1 - 7
    assert math.isclose(
        out[1]["dup_frac"], round(1 / out[1]["n_windows"], 6), rel_tol=0, abs_tol=1e-9
    )


@pytest.mark.slow
def test_dup_spans_short_and_empty_docs_survive(spark):
    docs = _docs(spark, [(1, "only four words here"), (2, None), (3, "")])
    out = {r["doc_id"]: r for r in dup_span_stats(docs, w=8).collect()}
    assert set(out) == {1, 2, 3}
    for r in out.values():
        assert r["n_windows"] == 0 and r["n_dup_windows"] == 0 and r["dup_frac"] == 0.0


@pytest.mark.slow  # >=10 s: k-means training plus a driver-side replay
def test_semdedup_with_trained_kmeans_cells(spark):
    """End-to-end production path: IVF k-means trainer supplies the
    cells, semdedup audits within them — verified against a driver-side
    brute force replay of the keep rule on the collected vectors."""
    from radares_spark.operators.semdedup import semdedup_audit
    from radares_spark.operators.similarity import _normed, build_ivf_index
    from tests.conftest import SF_SMOKE

    normed = _normed(spark, SF_SMOKE)
    assignment, centroids = build_ivf_index(normed, n_cells=8, iters=2)
    members = normed.join(assignment, "vec_id").select("vec_id", "cell", "v", "nrm")
    tau = 0.3
    out = {
        r["vec_id"]: (r["cell"], r["centroid_sim"], r["kept"])
        for r in semdedup_audit(members, centroids, tau=tau).collect()
    }
    assert len(out) == normed.count()  # every vector audited exactly once

    # brute-force replay on the driver
    vecs = {r["vec_id"]: r["v"] for r in normed.collect()}
    cents = {r["cell"]: r["cv"] for r in centroids.collect()}

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(y * y for y in b))
        return num / (na * nb)

    for vid, (cell, csim, kept) in out.items():
        assert round(cos(vecs[vid], cents[cell]), 4) == round(csim, 4)
        peers = [
            (o, oc, ocs)
            for o, (oc, ocs, _) in out.items()
            if oc == cell and o != vid
        ]
        should_drop = any(
            ((ocs, o) < (csim, vid)) and round(cos(vecs[vid], vecs[o]), 4) >= tau
            for o, _, ocs in peers
        )
        assert kept == (not should_drop), vid


@pytest.mark.slow
def test_plan_shapes_are_pinned(spark):
    """The scale claims in the docstrings, held in the executed plans
    (same contract as tests/test_plans.py for registered queries)."""
    from radares_spark.plans.library import ALL_LIBRARY_SPECS
    from tests.conftest import SF_SMOKE

    sd = ALL_LIBRARY_SPECS["dedup_semantic"].fn(spark, SF_SMOKE)
    plan = sd._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # no corpus-wide join back
    assert "BatchEvalPython" not in plan  # Arrow-batched dots only
    # centroid rank + pair join are broadcast/equi on the cluster id
    assert "BroadcastHashJoin [cell" in plan

    ds = ALL_LIBRARY_SPECS["text_dup_spans"].fn(spark, SF_SMOKE)
    plan = ds._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # single-pass: (doc,h) rollup + window-on-h + doc regroup — exactly
    # three hash shuffles; the doc-spine join is broadcast
    assert plan.count("Exchange hashpartitioning") == 3, plan
    assert "BroadcastHashJoin [doc_id" in plan


@pytest.mark.slow
def test_dup_spans_internal_repeat_is_not_cross_doc(spark):
    """A window repeated twice WITHIN one doc only is not shared
    boilerplate — the >= 2 distinct-docs rule must not fire."""
    docs = _docs(
        spark,
        [
            (1, f"{SPAN} filler middle words go here {SPAN}"),
            (2, "entirely unrelated second document with enough words to window"),
        ],
    )
    out = {r["doc_id"]: r for r in dup_span_stats(docs, w=8).collect()}
    assert out[1]["n_dup_windows"] == 0
    assert out[2]["n_dup_windows"] == 0


@pytest.mark.slow  # >=10 s in the r15 full-suite durations log
def test_semdedup_at_paper_tau_drops_exactly_the_planted_twins(spark):
    """r5 (VERDICT ask #5): the registered tau=0.35 exists only because
    the testdata embeddings are near-orthogonal. This runs the audit at
    the PAPER'S operating point (tau=0.95) on real 64-dim testdata
    embeddings with planted near-identical twins: exactly one member of
    each planted pair drops, nothing else does, and the whole audit
    matches a driver-side brute-force replay of the keep rule."""
    from radares_spark.operators.semdedup import semdedup_audit
    from radares_spark.operators.similarity import _normed, build_ivf_index
    from radares_spark.functions.vectors import l2norm
    from tests.conftest import SF_SMOKE

    base = _normed(spark, SF_SMOKE).filter(F.col("vec_id") < 100)
    # twins: copies of vecs 0..9 with a tiny deterministic perturbation
    # (+1% of the first coordinate) -> pair cosine > 0.999, far above tau
    twins = (
        base.filter(F.col("vec_id") < 10)
        .select(
            (F.col("vec_id") + 1_000).alias("vec_id"),
            F.transform(
                "v", lambda x, i: F.when(i == 0, x * 1.01).otherwise(x)
            ).alias("v"),
        )
        .select("vec_id", "v", l2norm("v").alias("nrm"))
    )
    normed = base.select("vec_id", "v", "nrm").unionByName(twins)

    assignment, centroids = build_ivf_index(normed, n_cells=4, iters=2)
    members = normed.join(assignment, "vec_id").select("vec_id", "cell", "v", "nrm")
    tau = 0.95
    out = {
        r["vec_id"]: (r["cell"], r["centroid_sim"], r["kept"])
        for r in semdedup_audit(members, centroids, tau=tau).collect()
    }
    assert len(out) == 110

    dropped = {vid for vid, (_, _, kept) in out.items() if not kept}
    # exactly one member of each planted twin pair drops — no more, no
    # less: at tau 0.95 the original near-orthogonal corpus is untouched
    assert len(dropped) == 10
    for i in range(10):
        assert (i in dropped) != (i + 1_000 in dropped), i
    assert all(v in dropped or v - 1_000 in dropped for v in dropped)

    # full brute-force replay (same contract as the kmeans test above)
    vecs = {r["vec_id"]: r["v"] for r in normed.collect()}
    cents = {r["cell"]: r["cv"] for r in centroids.collect()}

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        return num / math.sqrt(sum(x * x for x in a) * sum(y * y for y in b))

    for vid, (cell, csim, kept) in out.items():
        assert round(cos(vecs[vid], cents[cell]), 4) == round(csim, 4)
        should_drop = any(
            ((ocs, o) < (csim, vid))
            and round(cos(vecs[vid], vecs[o]), 4) >= tau
            for o, (oc, ocs, _) in out.items()
            if oc == cell and o != vid
        )
        assert kept == (not should_drop), vid
