"""BM25 ranked retrieval: hand-computed scores, planted relevance,
store round-trip + partition pruning, and edge cases.

The corpus-level oracle parity for ``text_bm25_topk`` runs in
tests/test_oracle_parity.py via ALL_LIBRARY_SPECS; this file pins the
math and the serving-store contract.
"""

from __future__ import annotations

import math

import pytest

# Whole-module slow tier (r15): multi-second Spark e2e tests dominate
# this module's wall; deselected by default so the driver's verify
# window fits — run with -m slow (see COVERAGE.md).
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from radares_spark.operators.retrieval import (
    B,
    K1,
    bm25_topk,
    bm25_topk_from_store,
    build_postings_store,
    corpus_postings,
)
from tests.conftest import SF_SMOKE


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _mk_queries(spark, rows):
    return spark.createDataFrame(rows, "query_id long, qtext string")


# Four-doc corpus with fully hand-checkable statistics.
_CORPUS = [
    (0, "apple banana apple cherry"),
    (1, "banana cherry cherry durian"),
    (2, "apple apple apple apple"),
    (3, "elderberry fig grape durian"),
]


def _py_bm25(term_stats, n_docs, avgdl, k1=K1, b=B):
    """Reference scorer: term_stats = [(tf, df, dl), ...] per matched
    term of one (query, doc)."""
    s = 0.0
    for tf, df, dl in term_stats:
        idf = math.log(1 + (n_docs - df + 0.5) / (df + 0.5))
        s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
    return round(s, 6)


def test_bm25_matches_hand_computation(spark):
    docs = _mk_docs(spark, _CORPUS)
    queries = _mk_queries(spark, [(100, "apple durian")])
    got = {
        (r["doc_id"]): (r["score"], r["rank"])
        for r in bm25_topk(docs, queries, k=10).collect()
    }
    # corpus stats: N=4, every doc has dl=4, avgdl=4.0
    # df: apple=2, durian=2
    n, avgdl = 4, 4.0
    expect = {
        0: _py_bm25([(2, 2, 4)], n, avgdl),  # apple tf=2
        1: _py_bm25([(1, 2, 4)], n, avgdl),  # durian tf=1
        2: _py_bm25([(4, 2, 4)], n, avgdl),  # apple tf=4
        3: _py_bm25([(1, 2, 4)], n, avgdl),  # durian tf=1
    }
    assert set(got) == set(expect)
    for d, sc in expect.items():
        assert got[d][0] == pytest.approx(sc, abs=1e-6), d
    # ranks: doc 2 (tf=4) > doc 0 (tf=2) > docs 1,3 (tied, doc_id asc)
    ranks = {d: rk for d, (_, rk) in got.items()}
    assert ranks == {2: 1, 0: 2, 1: 3, 3: 4}


def test_rare_term_outranks_common(spark):
    # "elderberry" appears in exactly one doc; "apple" in two with
    # higher tf. For the two-term query the rare-term doc must win on
    # IDF despite tf=1.
    docs = _mk_docs(spark, _CORPUS + [(4, "apple banana"), (5, "apple cherry")])
    queries = _mk_queries(spark, [(0, "elderberry")])
    top = bm25_topk(docs, queries, k=1).collect()
    assert [(r["doc_id"], r["rank"]) for r in top] == [(3, 1)]


def test_query_term_frequency_ignored(spark):
    # Lucene convention: duplicated query terms score identically to
    # the deduplicated query.
    docs = _mk_docs(spark, _CORPUS)
    q1 = _mk_queries(spark, [(0, "apple")])
    q2 = _mk_queries(spark, [(0, "apple apple apple")])
    r1 = sorted((r["doc_id"], r["score"]) for r in bm25_topk(docs, q1).collect())
    r2 = sorted((r["doc_id"], r["score"]) for r in bm25_topk(docs, q2).collect())
    assert r1 == r2


def test_empty_and_null_inputs(spark):
    docs = _mk_docs(spark, _CORPUS + [(9, None), (10, "   ")])
    queries = _mk_queries(spark, [(0, "apple"), (1, None), (2, "!!!")])
    out = bm25_topk(docs, queries).collect()
    # NULL / no-token docs and queries vanish; query 0 still works
    assert {r["query_id"] for r in out} == {0}
    assert all(r["doc_id"] in (0, 2) for r in out)


def test_postings_payload(spark):
    docs = _mk_docs(spark, _CORPUS)
    p = {
        (r["doc_id"], r["tok"]): (r["tf"], r["dl"])
        for r in corpus_postings(docs).collect()
    }
    assert p[(0, "apple")] == (2, 4)
    assert p[(2, "apple")] == (4, 4)
    assert p[(3, "fig")] == (1, 4)


def test_store_roundtrip_and_pruning(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    path = str(tmp_path / "bm25_store")
    build_postings_store(docs, path, n_buckets=16)
    queries = _mk_queries(
        spark, [(0, "spark table join"), (1, "vector stream")]
    )
    direct = sorted(
        tuple(r) for r in bm25_topk(docs, queries, k=7).collect()
    )
    served = bm25_topk_from_store(spark, path, queries, k=7)
    assert sorted(tuple(r) for r in served.collect()) == direct

    # pruning: the bucket IN-list must reach the scan as a STATIC
    # partition filter (inputFiles() can't see pruning — it lists the
    # unfiltered base relation; the physical plan is the truth).
    plan = served._jdf.queryExecution().executedPlan().toString()
    scan_lines = [
        ln
        for ln in plan.splitlines()
        if "FileScan" in ln and "bucket#" in ln
    ]
    assert scan_lines, "postings store was never scanned"
    for ln in scan_lines:
        assert "PartitionFilters: [" in ln and "bucket" in ln.split(
            "PartitionFilters:"
        )[1].split("]")[0], ln


def test_store_empty_query_contract(spark, tmp_path):
    docs = _mk_docs(spark, _CORPUS)
    path = str(tmp_path / "bm25_store_e")
    build_postings_store(docs, path, n_buckets=4)
    queries = _mk_queries(spark, [(0, None), (1, "   ")])
    out = bm25_topk_from_store(spark, path, queries)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id",
        "doc_id",
        "score",
        "rank",
    ]


def _store_state(spark, path):
    rows = sorted(
        tuple(r)
        for r in spark.read.parquet(f"{path}/postings")
        .select("bucket", "tok", "doc_id", "tf", "dl", "df")
        .collect()
    )
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    return rows, (meta["n_docs"], meta["sum_dl"], meta["avgdl"], meta["n_buckets"])


@pytest.mark.slow  # >=10 s in the r15 full-suite durations log
def test_refresh_equals_rebuild(spark, tmp_path):
    """refresh(build(base), +added, -removed) is ROW-IDENTICAL to
    build(base - removed + added): new-vocab terms, changed docs
    (remove old text + add new), pure removals, df patches for
    surviving docs sharing terms with the delta, and exact meta."""
    from radares_spark.operators.retrieval import refresh_postings_store

    base = _mk_docs(
        spark,
        [
            (0, "apple banana apple cherry"),
            (1, "banana cherry cherry durian"),
            (2, "apple apple apple apple"),
            (3, "elderberry fig grape durian"),
            (4, "banana grape"),
        ],
    )
    added = _mk_docs(
        spark,
        [
            (5, "kumquat lychee kumquat"),  # brand-new vocabulary
            (1, "banana mango"),  # changed doc: new text
        ],
    )
    removed = _mk_docs(
        spark,
        [
            (1, "banana cherry cherry durian"),  # old text of changed doc
            (3, "elderberry fig grape durian"),  # pure removal
        ],
    )
    inc = str(tmp_path / "inc")
    build_postings_store(base, inc, n_buckets=8)
    stats = refresh_postings_store(spark, inc, add_docs=added, remove_docs=removed)

    target = _mk_docs(
        spark,
        [
            (0, "apple banana apple cherry"),
            (1, "banana mango"),
            (2, "apple apple apple apple"),
            (4, "banana grape"),
            (5, "kumquat lychee kumquat"),
        ],
    )
    full = str(tmp_path / "full")
    build_postings_store(target, full, n_buckets=8)

    assert _store_state(spark, inc) == _store_state(spark, full)
    assert stats["n_added"] == 2 and stats["n_removed"] == 2
    # the delta's vocabulary spans fewer buckets than the corpus's
    assert 0 < stats["n_buckets_rewritten"] < 8

    # serving equivalence through the refreshed store
    q = _mk_queries(spark, [(0, "banana kumquat"), (1, "apple durian")])
    got = sorted(tuple(r) for r in bm25_topk_from_store(spark, inc, q).collect())
    want = sorted(tuple(r) for r in bm25_topk_from_store(spark, full, q).collect())
    assert got == want
    # durian left the corpus entirely with docs 1 and 3
    assert all("durian" != r for _, r, *_ in got)


def test_refresh_vacates_emptied_bucket(spark, tmp_path):
    """Removing the only doc holding a bucket's terms must clear the
    bucket directory (dynamic overwrite cannot vacate a partition
    absent from the written frame)."""
    import glob

    from radares_spark.operators.retrieval import refresh_postings_store

    docs = _mk_docs(spark, [(0, "solo"), (1, "alpha beta")])
    path = str(tmp_path / "vac")
    build_postings_store(docs, path, n_buckets=64)
    before = {d.rsplit("=", 1)[1] for d in glob.glob(f"{path}/postings/bucket=*")}
    refresh_postings_store(
        spark, path, remove_docs=_mk_docs(spark, [(0, "solo")])
    )
    after = {d.rsplit("=", 1)[1] for d in glob.glob(f"{path}/postings/bucket=*")}
    assert after < before
    rebuilt = str(tmp_path / "vac_full")
    build_postings_store(_mk_docs(spark, [(1, "alpha beta")]), rebuilt, n_buckets=64)
    assert _store_state(spark, path) == _store_state(spark, rebuilt)


def test_refresh_empty_delta_is_noop(spark, tmp_path):
    from radares_spark.operators.retrieval import refresh_postings_store

    docs = _mk_docs(spark, _CORPUS)
    path = str(tmp_path / "noop")
    build_postings_store(docs, path, n_buckets=8)
    before = _store_state(spark, path)
    stats = refresh_postings_store(spark, path)
    assert stats == {"n_added": 0, "n_removed": 0, "n_buckets_rewritten": 0}
    assert _store_state(spark, path) == before


def test_sparse_cosine_self_retrieval_and_symmetry(spark):
    """A query doc scores cos 1.0 against itself; rank 1 therefore has
    cos 1.0 (ties — e.g. sign-cancelled bags collapsing onto the same
    bucket, REAL at dim 16 with a shared vocabulary — break by min
    doc_id, so rank 1 need not BE the query doc). Cosine is symmetric
    across query/corpus roles."""
    from radares_spark.operators.embed import hashed_tf
    from radares_spark.operators.retrieval import sparse_cosine_topk

    docs = _mk_docs(spark, _CORPUS)
    emb = hashed_tf(docs, 16)
    qids = spark.createDataFrame([(0,), (2,)], "query_id long")
    rows = sparse_cosine_topk(emb, qids, k=4).collect()
    by_pair = {(r["query_id"], r["doc_id"]): r["cos"] for r in rows}
    rank1 = {r["query_id"]: r["cos"] for r in rows if r["rank"] == 1}
    assert by_pair[(0, 0)] == 1.0 and by_pair[(2, 2)] == 1.0
    assert rank1 == {0: 1.0, 2: 1.0}
    assert by_pair[(0, 2)] == by_pair[(2, 0)]  # symmetry


def test_sparse_cosine_query_emb_consistent_pair_is_identical(spark):
    """The query_emb fast path's CONTRACT (r14 ADVICE): for a
    CONSISTENT (query_ids, query_emb) pair — query_emb built from the
    doc_id-filtered source under tf_idf=False — the rows must equal
    the default join-above-emb path exactly. (An inconsistent pair or
    a tf_idf=True query_emb is documented caller error; this pins the
    equivalence the fast path's pushdown relies on.)"""
    from radares_spark.operators.embed import hashed_tf
    from radares_spark.operators.retrieval import sparse_cosine_topk

    docs = _mk_docs(spark, _CORPUS)
    emb = hashed_tf(docs, 16)
    qids = spark.createDataFrame([(0,), (2,)], "query_id long")
    base = sparse_cosine_topk(emb, qids, k=4)
    fast = sparse_cosine_topk(
        emb,
        qids,
        k=4,
        query_emb=hashed_tf(docs.filter(F.col("doc_id").isin(0, 2)), 16),
    )
    assert sorted(map(tuple, base.collect())) == sorted(map(tuple, fast.collect()))


def test_rrf_fuse_hand_math(spark):
    """Doc in both lists scores 1/(60+r1) + 1/(60+r2); a doc in one
    list scores its single term; ordering follows the fused score."""
    from radares_spark.operators.retrieval import rrf_fuse

    l1 = spark.createDataFrame(
        [(0, 100, 1), (0, 101, 2)], "query_id long, doc_id long, rank int"
    )
    l2 = spark.createDataFrame(
        [(0, 101, 1), (0, 102, 2)], "query_id long, doc_id long, rank int"
    )
    got = {
        r["doc_id"]: (r["rrf_score"], r["rank"])
        for r in rrf_fuse([l1, l2], k=10).collect()
    }
    assert got[101] == (round(1 / 62 + 1 / 61, 6), 1)  # both lists
    assert got[100] == (round(1 / 61, 6), 2)
    assert got[102] == (round(1 / 62, 6), 3)


def test_hybrid_fusion_ranks_related_doc_above_unrelated(spark):
    """Planted distinct-vocabulary corpus: for the quantum query doc,
    the other quantum doc must fuse above both gardening docs, and the
    seed doc itself fuses first (it tops both retrievers here — no
    shared-vocab cos-1.0 ties like the synthetic sf corpora have)."""
    from radares_spark.operators.embed import hashed_tf
    from radares_spark.operators.retrieval import (
        bm25_topk,
        rrf_fuse,
        sparse_cosine_topk,
    )

    docs = _mk_docs(
        spark,
        [
            (0, "quantum entanglement superposition qubit"),
            (1, "quantum qubit decoherence experiment"),
            (2, "gardening tomato soil compost"),
            (3, "tomato sauce recipe basil"),
        ],
    )
    queries = _mk_queries(spark, [(0, "quantum entanglement superposition qubit")])
    lex = bm25_topk(docs, queries, k=4)
    qids = spark.createDataFrame([(0,)], "query_id long")
    dense = sparse_cosine_topk(hashed_tf(docs, 64), qids, k=4)
    fused = {r["doc_id"]: r["rank"] for r in rrf_fuse([lex, dense], k=4).collect()}
    assert fused[0] == 1  # self
    assert fused[1] == 2  # shares quantum+qubit lexically AND densely
    assert all(fused[1] < fused[d] for d in (2, 3) if d in fused)


def test_hybrid_oracle_drops_sign_cancelled_zero_cells(spark, tmp_path):
    """Regression: the HYBRID_RRF_SQL oracle must mirror the Spark
    side's v != 0 cell filter. Tokens 'aac'/'aae' hash to the same
    embedding bucket with opposite signs, so a doc containing both once
    has a sign-cancelled (zero) cell there; before the HAVING fix the
    oracle kept that cell, emitted cos=0.0 candidate pairs for docs
    whose ONLY bucket overlap with a query is the cancelled one, and
    those phantom candidates outranked negative-cosine docs — shifting
    every fused RRF rank below them."""
    import duckdb

    from radares_spark.operators.retrieval import (
        HYBRID_RRF_SQL,
        text_hybrid_rrf_topk,
    )
    from tests.oracle import compare_frames

    # doc 0 is a query (doc_id < N_QUERY_DOCS); its query = first 4
    # normalized tokens, hashing to buckets {10, 1, 2, 3}. Doc 10's
    # 'aac'(+)/'aae'(-) cancel at bucket 10 and its live cells sit in
    # buckets {4, 5} — so its ONLY embedding overlap with query 0 is
    # the cancelled cell. Verified offline: the pre-fix oracle ranks
    # doc 10 at dense rank 3 for query 0 (cos=0.0 phantom) and the
    # fused top-5 diverges ((0,10,...,3) appears, (0,4,...) drops).
    rows = [
        (0, "aac abq adb abh extra words here"),
        (1, "unrelated one two three"),
        (2, "different four five six"),
        (3, "another seven eight nine"),
        (4, "more ten eleven twelve"),
        (5, "last thirteen fourteen fifteen"),
        (10, "aac aae aeh adh"),
        (11, "aag aad aai"),
        (12, "abq acs"),
        (13, "adb filler stuff"),
    ]
    import pandas as pd

    df = pd.DataFrame(
        [
            {
                "doc_id": i,
                "text": t,
                "lang": "en",
                "source": "test",
                "n_chars": len(t),
            }
            for i, t in rows
        ]
    )
    df.to_parquet(str(tmp_path / "documents.parquet"))
    con = duckdb.connect()
    con.register("documents", df)
    oracle = con.execute(HYBRID_RRF_SQL).arrow()
    got = text_hybrid_rrf_topk(spark, str(tmp_path))
    ok, msg = compare_frames(got, oracle)
    assert ok, msg


@pytest.mark.slow  # >=10 s in the r15 full-suite durations log
def test_refresh_crash_rerun_is_idempotent(spark, tmp_path):
    """r9 hardening: the touched-bucket rewrite is a pure function
    (survivors exclude ADDED ids too; df recomputed from the written
    rows), and the meta deltas apply exactly once via the night tag.
    Pins the two crash points: a replay AFTER the bucket write but
    before the meta write converges to the same store; a COMPLETED
    apply's re-run is a recognized no-op that touches nothing."""
    import shutil

    from radares_spark.operators.retrieval import refresh_postings_store

    base = _mk_docs(
        spark,
        [
            (0, "apple banana apple cherry"),
            (1, "banana cherry cherry durian"),
            (2, "elderberry fig grape durian"),
        ],
    )
    added = _mk_docs(spark, [(5, "kumquat banana"), (1, "banana mango")])
    removed = _mk_docs(
        spark, [(1, "banana cherry cherry durian"), (2, "elderberry fig grape durian")]
    )
    path = str(tmp_path / "store")
    build_postings_store(base, path, n_buckets=8)
    meta_pre = str(tmp_path / "meta_pre")
    shutil.copytree(f"{path}/meta", meta_pre)

    refresh_postings_store(
        spark, path, add_docs=added, remove_docs=removed, night="n1"
    )
    want = _store_state(spark, path)

    # crash BEFORE the meta write: buckets already rewritten, meta
    # still the pre-apply one -> the replay must converge exactly
    shutil.rmtree(f"{path}/meta")
    shutil.copytree(meta_pre, f"{path}/meta")
    stats = refresh_postings_store(
        spark, path, add_docs=added, remove_docs=removed, night="n1"
    )
    assert "already_applied" not in stats
    assert _store_state(spark, path) == want

    # completed apply: re-run is a recognized no-op, files untouched
    import glob
    import os

    before = {
        f: os.stat(f).st_mtime_ns
        for f in glob.glob(f"{path}/**/*.parquet", recursive=True)
    }
    again = refresh_postings_store(
        spark, path, add_docs=added, remove_docs=removed, night="n1"
    )
    assert again["already_applied"] == 1
    after = {
        f: os.stat(f).st_mtime_ns
        for f in glob.glob(f"{path}/**/*.parquet", recursive=True)
    }
    assert after == before
    # and a NEW night still applies
    nxt = refresh_postings_store(
        spark, path, remove_docs=_mk_docs(spark, [(5, "kumquat banana")]),
        night="n2",
    )
    assert "already_applied" not in nxt and nxt["n_removed"] == 1
