"""Text extensions (operators/text_ext.py): repetition signals against
the testdata oracle; PII scrubbing against a planted frame fed
identically to Spark and DuckDB (the test_tpch_full group-B pattern)."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from radares_spark.operators.text_ext import (
    PII_RULES,
    pii_scrub_sql,
    repetition_signals,
    scrub_pii,
)
from tests.oracle import compare_frames

# DuckDB parity for text_repetition_signals runs in the consolidated
# library sweep (tests/test_oracle_parity.py::test_library_parity).


PII_DOCS = pd.DataFrame(
    {
        "doc_id": [0, 1, 2, 3, 4],
        "text": [
            "contact Jane.Doe+spam@example.co.uk or admin@test.io today",
            "server at 10.0.255.3 timed out, retry 192.168.1.1 later",
            "call +55 11 98765-4321 or +44 20 7946-0958 now",
            "no pii here at all, just words and numbers 12345",
            None,
        ],
    }
)


def test_pii_scrub_matches_duckdb_on_planted_frame(spark):
    sdf = scrub_pii(spark.createDataFrame(PII_DOCS))
    con = duckdb.connect()
    try:
        con.register("pii_docs", PII_DOCS)
        tbl = con.execute(pii_scrub_sql("pii_docs")).arrow()
    finally:
        con.close()
    ok, msg = compare_frames(sdf, tbl)
    assert ok, msg


def test_pii_scrub_semantics(spark):
    rows = {r["doc_id"]: r for r in scrub_pii(spark.createDataFrame(PII_DOCS)).collect()}
    assert rows[0]["n_email"] == 2 and "<EMAIL>" in rows[0]["clean_text"]
    assert "@" not in rows[0]["clean_text"]
    assert rows[1]["n_ipv4"] == 2 and rows[1]["clean_text"].count("<IP>") == 2
    assert rows[2]["n_phone"] == 2 and rows[2]["clean_text"].count("<PHONE>") == 2
    clean3 = rows[3]
    assert clean3["clean_text"] == clean3["text"]  # untouched
    assert clean3["n_email"] == clean3["n_ipv4"] == clean3["n_phone"] == 0
    assert rows[4]["clean_text"] is None  # null text stays null


def test_pii_scrub_is_shuffle_free(spark):
    df = scrub_pii(spark.createDataFrame(PII_DOCS))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_repetition_flags_planted_repetitive_doc(spark):
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2],
                "text": [
                    "spam spam spam spam spam spam spam spam",
                    "all words here are fully distinct tokens friend",
                    None,
                ],
            }
        )
    )
    got = {r["doc_id"]: r for r in repetition_signals(docs).collect()}
    assert got[0]["word_rep_ratio"] == pytest.approx(1 - 1 / 8)
    assert got[0]["top_word_frac"] == 1.0
    assert got[0]["top_bigram_frac"] == 1.0
    assert got[1]["word_rep_ratio"] == 0.0
    assert got[1]["top_word_frac"] == pytest.approx(1 / 8)
    # null-text doc keeps its audit row (n_words 0, null ratios)
    assert got[2]["n_words"] == 0 and got[2]["word_rep_ratio"] is None
    assert len(got) == 3


def test_rules_cover_expected_families():
    assert [n for n, _, _ in PII_RULES] == ["email", "ipv4", "phone"]


HTML_DOCS = __import__("pandas").DataFrame(
    {
        "doc_id": [1, 2, 3, 4],
        "html": [
            "<html><head><script>var x = '<p>not text</p>';</script>"
            "<style>.a{color:red}</style></head>"
            "<body><h1>Title</h1><p>Hello &amp; welcome to the "
            "<a href='/x'>site</a>.</p><!-- hidden --></body></html>",
            "plain text, no markup at all",
            "<ul><li>one</li><li>two&nbsp;&amp;&nbsp;three</li></ul>"
            "<A HREF='y'>UPPER link</A>",
            "",
        ],
    }
)


def test_html_extract_matches_duckdb_on_planted_frame(spark):
    from radares_spark.operators.text_ext import extract_html_text, html_extract_sql
    import duckdb

    sdf = extract_html_text(spark.createDataFrame(HTML_DOCS))
    con = duckdb.connect()
    con.register("html_docs", HTML_DOCS)
    tbl = con.execute(html_extract_sql("html_docs")).arrow().to_pylist()
    oracle = {r["doc_id"]: r for r in tbl}
    for r in sdf.collect():
        o = oracle[r["doc_id"]]
        assert r["plain_text"] == o["plain_text"], r["doc_id"]
        assert r["n_tags"] == o["n_tags"] and r["n_links"] == o["n_links"]


def test_html_extract_semantics(spark):
    from radares_spark.operators.text_ext import extract_html_text

    rows = {
        r["doc_id"]: r
        for r in extract_html_text(spark.createDataFrame(HTML_DOCS)).collect()
    }
    # script/style/comment content must NOT leak into the text
    # (every tag becomes a space, so inline tags leave one before
    # trailing punctuation — the standard strip-tags artifact)
    assert rows[1]["plain_text"] == "Title Hello & welcome to the site ."
    assert "not text" not in rows[1]["plain_text"]
    assert "color:red" not in rows[1]["plain_text"]
    assert "hidden" not in rows[1]["plain_text"]
    assert rows[1]["n_links"] == 1
    # markup-free text passes through untouched, zero counts
    assert rows[2]["plain_text"] == "plain text, no markup at all"
    assert rows[2]["n_tags"] == 0 and rows[2]["n_links"] == 0
    # entities + nbsp + case-insensitive link counting
    assert rows[3]["plain_text"] == "one two & three UPPER link"
    assert rows[3]["n_links"] == 1
    assert rows[4]["plain_text"] == ""


def test_html_extract_is_shuffle_free(spark):
    from radares_spark.operators.text_ext import extract_html_text

    df = extract_html_text(spark.createDataFrame(HTML_DOCS))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_html_entities_decode_amp_last(spark):
    """ADVICE r4: double-escaped text must single-unescape — '&amp;lt;'
    is the ESCAPED form of '&lt;' and must become '&lt;', never '<'.
    Requires &amp; to decode after every other entity, in BOTH mirrors."""
    import duckdb
    import pandas as pd

    from radares_spark.operators.text_ext import extract_html_text, html_extract_sql

    pdf = pd.DataFrame(
        {
            "doc_id": [1],
            "html": ["<p>&amp;lt;tag&amp;gt; &amp; &lt;real&gt; &amp;quot;q&amp;quot;</p>"],
        }
    )
    got = extract_html_text(spark.createDataFrame(pdf)).collect()[0]["plain_text"]
    assert got == '&lt;tag&gt; & <real> &quot;q&quot;'
    con = duckdb.connect()
    con.register("dd_docs", pdf)
    oracle = con.execute(html_extract_sql("dd_docs")).arrow().to_pylist()[0]
    assert oracle["plain_text"] == got


# ---- duplicate-span removal (Lee et al. 2021 transform stage) ----

SPAN = "the quick brown fox jumps over the lazy"  # exactly 8 words
SPAN_DOCS = pd.DataFrame(
    {
        "doc_id": [0, 1, 2, 3, 4],
        "text": [
            f"alpha beta gamma {SPAN} delta epsilon",
            f"one two {SPAN} three four five",
            "completely unique text with many different words here now",
            "short doc",  # < 8 words: no windows, nothing removable
            None,
        ],
    }
)


def test_dup_span_removal_planted_semantics(spark):
    from radares_spark.operators.text_ext import remove_dup_spans

    rows = {
        r["doc_id"]: r
        for r in remove_dup_spans(spark.createDataFrame(SPAN_DOCS)).collect()
    }
    # docs 0 and 1 share exactly the 8-word span; only those windows are
    # cross-doc, so exactly 8 tokens drop and the unique rims survive
    assert rows[0]["n_removed"] == 8
    assert rows[0]["clean_text"] == "alpha beta gamma delta epsilon"
    assert rows[1]["n_removed"] == 8
    assert rows[1]["clean_text"] == "one two three four five"
    # unique doc untouched
    assert rows[2]["n_removed"] == 0
    assert rows[2]["clean_text"] == SPAN_DOCS["text"][2]
    # short doc: no windows exist, so nothing can be removed
    assert rows[3]["n_removed"] == 0 and rows[3]["clean_text"] == "short doc"
    # NULL text keeps its audit row
    assert rows[4]["n_tokens"] == 0 and rows[4]["clean_text"] == ""
    assert rows[4]["removed_frac"] == 0.0


def test_dup_span_removal_matches_duckdb_on_planted_frame(spark):
    from radares_spark.operators.text_ext import DUP_REMOVAL_SQL, remove_dup_spans

    sdf = remove_dup_spans(spark.createDataFrame(SPAN_DOCS))
    con = duckdb.connect()
    try:
        con.register("documents", SPAN_DOCS)
        tbl = con.execute(DUP_REMOVAL_SQL).arrow()
    finally:
        con.close()
    ok, msg = compare_frames(sdf, tbl)
    assert ok, msg


def test_dup_span_removal_overlapping_spans(spark):
    """Two overlapping shared windows cover their UNION of positions —
    coverage dedups per (doc, pos), not per window."""
    from radares_spark.operators.text_ext import remove_dup_spans

    nine = "w1 w2 w3 w4 w5 w6 w7 w8 w9"  # 9 words => 2 rolling windows
    pdf = pd.DataFrame(
        {
            "doc_id": [10, 11],
            "text": [f"unique1 {nine} tail1", f"other {nine} tail2"],
        }
    )
    rows = {r["doc_id"]: r for r in remove_dup_spans(spark.createDataFrame(pdf)).collect()}
    assert rows[10]["n_removed"] == 9
    assert rows[10]["clean_text"] == "unique1 tail1"
    assert rows[11]["clean_text"] == "other tail2"


def test_longest_dup_span_planted(spark):
    """Two overlapping shared windows merge into ONE 9-token run; a
    second disjoint shared 8-token span in the same doc stays its own
    island — max picks the 9."""
    from radares_spark.operators.text_ext import longest_dup_span

    nine = "w1 w2 w3 w4 w5 w6 w7 w8 w9"
    other = "x1 x2 x3 x4 x5 x6 x7 x8"
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": [
                f"u0 {nine} mid1 mid2 mid3 {other} tail0",
                f"v0 {nine} vtail",
                f"z0 {other} ztail",
            ],
        }
    )
    rows = {
        r["doc_id"]: r["max_dup_run"]
        for r in longest_dup_span(spark.createDataFrame(pdf)).collect()
    }
    assert rows[0] == 9  # the merged 9-run beats the disjoint 8-run
    assert rows[1] == 9
    assert rows[2] == 8


def test_html_extraction_conformance_fuzz(spark):
    """Cross-engine conformance sweep for HTML extraction: every
    combination of wrapper (script/style/comment/plain tags), entity
    (incl. double-escaped), and body placement must extract
    IDENTICALLY in Spark and DuckDB."""
    import itertools

    from radares_spark.operators.text_ext import extract_html_text, html_extract_sql

    wrappers = [
        "<p>{}</p>",
        "<SCRIPT type=x>var a=1;</script>{}",
        "<style>p {{color: red}}</style><div>{}</div>",
        "<!-- a comment with <tags> inside -->{}",
        '{}<a href="u">link</a> <A HREF="v">L2</A>',
        "<div class='x'>{}</div><br/>",
    ]
    bodies = [
        "plain words",
        "&amp;lt;escaped&amp;gt;",
        "&lt;real&gt; &quot;q&quot; &#39;s&#39; &nbsp;x",
        "spaces   and\tmore\nlines",
        "",
    ]
    rows = [
        (i, w.format(b))
        for i, (w, b) in enumerate(itertools.product(wrappers, bodies))
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "html"])
    got = {
        r["doc_id"]: (r["plain_text"], r["n_tags"], r["n_links"])
        for r in extract_html_text(spark.createDataFrame(pdf)).collect()
    }
    con = duckdb.connect()
    try:
        con.register("hfuzz", pdf)
        want = {
            r[0]: (r[3], r[1], r[2])
            for r in con.execute(
                "SELECT doc_id, n_tags, n_links, plain_text FROM ("
                + html_extract_sql("hfuzz")
                + ")"
            ).fetchall()
        }
    finally:
        con.close()
    mismatches = {i: (got[i], want[i]) for i in got if got[i] != want[i]}
    assert not mismatches, list(mismatches.items())[:5]


def test_normalize_text_conformance_unicode(spark):
    """normalize_text must agree across engines even on the unicode
    casing pathologies where lower() itself diverges (Turkish İ
    expands to i+combining-dot in the JVM, folds to i in DuckDB): the
    ASCII pre-strip removes the divergence class by construction."""
    from radares_spark.operators.dedup import NORM_SQL, normalize_text

    texts = [f"a {ch} b{ch}c 1" for ch in "ÉßİIıΣςΩﬁＡ１K…—"] + [
        "MiXeD CaSe 123!!",
        "tabs\tand\nnewlines",
        "  lots   of   spaces  ",
        "ümlaut Über",
        "",
    ]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    got = {
        r["doc_id"]: r["n"]
        for r in spark.createDataFrame(pdf)
        .select("doc_id", normalize_text(F.col("text")).alias("n"))
        .collect()
    }
    con = duckdb.connect()
    try:
        con.register("t", pdf)
        want = {
            r[0]: r[1]
            for r in con.execute(
                f"SELECT doc_id, {NORM_SQL.format(c='text')} FROM t"
            ).fetchall()
        }
    finally:
        con.close()
    bad = [(texts[i], got[i], want[i]) for i in got if got[i] != want[i]]
    assert not bad, bad


def test_pii_scrub_conformance_fuzz_ascii(spark):
    """Cross-engine conformance on every ASCII neighbor x PII-core
    combination. Non-ASCII neighbors are the documented \\b caveat
    (JVM Unicode word boundary vs RE2 ASCII — see PII_RULES) and are
    deliberately excluded here."""
    import itertools

    from radares_spark.operators.text_ext import pii_scrub_sql, scrub_pii

    pre = ["", "x", ".", "-", " ", "9", "(", "@"]
    core = ["a@b.co", "10.0.0.1", "+55 11 98765-4321", "no pii 12345"]
    post = ["", "x", " ", ".", "5", ")", "-"]
    texts = [f"{a}{c}{b}" for a, c, b in itertools.product(pre, core, post)]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    got = {
        r["doc_id"]: (r["n_email"], r["n_ipv4"], r["n_phone"], r["clean_text"])
        for r in scrub_pii(spark.createDataFrame(pdf)).collect()
    }
    con = duckdb.connect()
    try:
        con.register("pfuzz", pdf)
        want = {
            r[0]: (r[1], r[2], r[3], r[4])
            for r in con.execute(
                "SELECT doc_id, n_email, n_ipv4, n_phone, clean_text FROM ("
                + pii_scrub_sql("pfuzz")
                + ")"
            ).fetchall()
        }
    finally:
        con.close()
    bad = [(texts[i], got[i], want[i]) for i in got if got[i] != want[i]]
    assert not bad, bad[:5]


def test_winnowing_guarantee_and_density(spark):
    """The Schleimer guarantee: two docs sharing a run of >= w+k-1
    words share at least one (hash, same-content) fingerprint; and the
    selected set is sparse (between n_grams/w and n_grams)."""
    from radares_spark.operators.text_ext import (
        WINNOW_K,
        WINNOW_W,
        winnow_fingerprints,
    )

    shared = " ".join(f"s{i}" for i in range(WINNOW_W + WINNOW_K - 1))
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": [
                f"alpha beta gamma {shared} delta epsilon zeta",
                f"one two {shared} three four",
                "totally different words everywhere all the time forever",
            ],
        }
    )
    fps = winnow_fingerprints(spark.createDataFrame(pdf)).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp_hash"])
    assert by_doc[0] & by_doc[1], "shared run must share a fingerprint"
    assert not (by_doc[2] & (by_doc[0] | by_doc[1]))
    # density: per doc, between ceil(n_grams/w) and n_grams
    for d in (0, 1, 2):
        n_grams = len(pdf["text"][d].split()) - WINNOW_K + 1
        n_sel = sum(1 for r in fps if r["doc_id"] == d)
        assert n_grams / WINNOW_W <= n_sel <= n_grams, (d, n_sel, n_grams)


def test_winnow_pairs_catch_shifted_passage_minhash_misses(spark):
    """The consumer the fingerprint index existed for (r5 verdict ask
    #4): a 12-word passage copied into two otherwise-disjoint docs AT
    DIFFERENT OFFSETS. Whole-doc Jaccard is ~0.07, so MinHash-LSH at
    the default bands forms NO candidate — but winnowing's guarantee
    (any shared run of w+k-1 words shares a fingerprint) is
    position-independent, so winnow_pairs flags the pair with exact
    set scores."""
    from radares_spark.operators.dedup import (
        bucket_pairs,
        lsh_bands,
        minhash_signatures,
    )
    from radares_spark.operators.text_ext import winnow_pairs

    passage = " ".join(f"stolen{i}" for i in range(12))
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2],
                "text": [
                    " ".join(f"alpha{i}" for i in range(20))
                    + f" {passage} "
                    + " ".join(f"beta{i}" for i in range(40)),
                    " ".join(f"gamma{i}" for i in range(45))
                    + f" {passage} "
                    + " ".join(f"delta{i}" for i in range(15)),
                    " ".join(f"noise{i}" for i in range(70)),
                ],
            }
        )
    )
    mh = bucket_pairs(lsh_bands(minhash_signatures(docs))).collect()
    assert mh == [], f"premise broken: minhash-at-default found {mh}"

    wp = {(r["doc_a"], r["doc_b"]): r for r in winnow_pairs(docs).collect()}
    assert (0, 1) in wp, wp
    assert all(p == (0, 1) for p in wp), wp  # doc 2 pairs with nobody
    row = wp[(0, 1)]
    assert row["n_shared"] >= 2
    assert 0 < row["fp_jaccard"] < 1
    assert row["fp_containment"] >= row["fp_jaccard"]


def test_winnow_pairs_max_bucket_drops_boilerplate_fp(spark):
    """MOSS stop-fingerprint semantics: a fingerprint shared by every
    doc (boilerplate) is dropped by max_bucket, removing the pairs it
    alone would create while keeping pairs backed by rarer shared
    content."""
    from radares_spark.operators.text_ext import winnow_pairs

    boiler = "the quick brown fox jumps over the lazy dog again"
    unique = " ".join(f"extra{i}" for i in range(10))
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2, 3],
                "text": [
                    f"{boiler} {unique}",
                    f"{boiler} {unique}",
                    f"{boiler} zzz yyy xxx www vvv uuu ttt sss rrr qqq",
                    f"{boiler} aaa bbb ccc ddd eee fff ggg hhh iii jjj",
                ],
            }
        )
    )
    full = {(r["doc_a"], r["doc_b"]) for r in winnow_pairs(docs, min_shared=1).collect()}
    assert full == {(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)}
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in winnow_pairs(docs, min_shared=1, max_bucket=3).collect()
    }
    # boilerplate fingerprints live in 4-doc buckets -> dropped; only
    # the pair sharing the additional unique passage survives
    assert capped == {(0, 1)}, capped


def test_blocklist_stats_planted(spark):
    """C4 badwords gate: token-exact matching (substrings never trip),
    any hit fails the gate, NULL/empty text passes with zero counts."""
    from radares_spark.operators.text_ext import blocklist_stats

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2, 3, 4],
                "text": [
                    "a perfectly clean document about gardening",
                    "win the LOTTERY now casino casino",  # 3 hits, case-folded
                    "the casinos are lotteries",  # substrings only: clean
                    None,
                    "xxx",
                ],
            }
        )
    )
    got = {r["doc_id"]: r for r in blocklist_stats(docs).collect()}
    assert got[0]["n_banned"] == 0 and got[0]["blocklist_pass"] == 1
    assert got[1]["n_banned"] == 3 and got[1]["blocklist_pass"] == 0
    assert got[1]["banned_ratio"] == 0.5  # 3 of 6 tokens
    assert got[2]["n_banned"] == 0 and got[2]["blocklist_pass"] == 1
    assert got[3]["n_banned"] == 0 and got[3]["n_tokens"] == 0 and got[3]["blocklist_pass"] == 1
    assert got[4]["n_banned"] == 1 and got[4]["blocklist_pass"] == 0


def test_blocklist_rejects_unsafe_or_empty_lists(spark):
    """Review finding: published badword lists carry regex
    metacharacters that would silently anchor-away their own matches,
    and an empty list's empty alternative matches every boundary —
    both must raise, not corrupt counts."""
    from radares_spark.operators.text_ext import blocklist_stats

    docs = spark.createDataFrame(pd.DataFrame({"doc_id": [0], "text": ["x"]}))
    with pytest.raises(ValueError, match="empty"):
        blocklist_stats(docs, words=[])
    with pytest.raises(ValueError, match="offending"):
        blocklist_stats(docs, words=["fine", "a$$"])
    with pytest.raises(ValueError, match="offending"):
        blocklist_stats(docs, words=["Upper"])
