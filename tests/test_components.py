"""Connected components (operators/components.py): correctness on
known graph shapes + the transitive dedup property on real LSH pairs."""

from __future__ import annotations

import pytest

# Whole-module slow tier (r15): multi-second Spark e2e tests dominate
# this module's wall; deselected by default so the driver's verify
# window fits — run with -m slow (see COVERAGE.md).
pytestmark = pytest.mark.slow

from radares_spark.operators.components import connected_components


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    return {
        r["node"]: r["component"] for r in connected_components(df).collect()
    }


def test_chain_collapses_to_min(spark):
    # 1-2-3-4-5 chain: everything labels 1, needs > 1 propagation round
    got = _cc(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_disjoint_groups_stay_disjoint(spark):
    got = _cc(spark, [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_star_and_cycle(spark):
    # star around 7 + a cycle 30-31-32-30 bridged to the star via (7, 30)
    got = _cc(spark, [(7, 8), (7, 9), (7, 10), (30, 31), (31, 32), (30, 32), (7, 30)])
    assert set(got.values()) == {7}


def test_string_node_ids(spark):
    # md5-keyed pair tables key docs by strings; min-label propagation
    # and the changed-label fixed point must both work on them (r2
    # ADVICE: a sum(label) convergence check crashes here)
    df = spark.createDataFrame(
        [("aa", "bb"), ("bb", "cc"), ("zz", "yy")], "doc_a string, doc_b string"
    )
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert got == {"aa": "aa", "bb": "aa", "cc": "aa", "zz": "yy", "yy": "yy"}


def test_on_real_lsh_pairs(spark):
    """Components over the testdata LSH pairs: both members of every
    pair share one component, labelled by a member that is its
    minimum."""
    from radares_spark.operators.dedup import dedup_minhash_pairs
    from tests.conftest import SF_ORACLE

    pairs = dedup_minhash_pairs(spark, SF_ORACLE).select("doc_a", "doc_b").cache()
    label = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    for r in pairs.collect():
        assert label[r["doc_a"]] == label[r["doc_b"]]
    for node, comp in label.items():
        assert label[comp] == comp and comp <= node


def test_cluster_representatives_keeps_best_not_min(spark):
    """Chain 1~2~3 is one transitive group; doc 3 is the longest so it
    is the representative — min-id canonicalization would keep doc 1,
    losing the long original. Separate pair (10, 11) ties on score and
    falls back to min id."""
    from radares_spark.operators.components import (
        cluster_representatives,
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    scores = spark.createDataFrame(
        [(1, 5), (2, 8), (3, 50), (10, 7), (11, 7)],
        "doc_id long, score int",
    )
    cc = connected_components(pairs)
    out = {
        r["doc_id"]: (r["component"], r["rep_doc_id"], r["keep"])
        for r in cluster_representatives(cc, scores).collect()
    }
    assert out[3] == (1, 3, 1) and out[1] == (1, 3, 0) and out[2] == (1, 3, 0)
    # tie -> min id wins
    assert out[10] == (10, 10, 1) and out[11] == (10, 10, 0)
