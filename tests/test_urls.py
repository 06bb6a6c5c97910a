"""URL canonicalization + URL-level dedup (operators/urls.py):
planted-frame DuckDB parity (same contract as extract_html_text /
scrub_pii), rule-by-rule semantics, shuffle-free projection plan."""

from __future__ import annotations

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from radares_spark.operators.urls import (
    canonical_url_sql,
    url_dedup_audit,
    with_canonical_url,
)

URLS = pd.DataFrame(
    {
        "doc_id": list(range(1, 16)),
        "url": [
            "HTTP://WWW.Example.COM:80/a/b/?utm_source=x&b=2&a=1#frag",
            "http://example.com/a/b?a=1&b=2",  # same page as doc 1
            "https://example.com:443/a/b/",  # https twin, not the same
            "https://example.com/a/b",  # same as doc 3
            "http://example.com/",  # root with slash
            "http://example.com",  # root bare -> same as doc 5
            "http://example.com/x?gclid=123&fbclid=9&ref=nav",  # tracking only
            "http://example.com/x",  # same as doc 7
            "http://other.org:8080/p?z=1&y=2&utm_campaign=q",  # nondefault port kept
            "ftp://example.com/file#sec",  # non-http scheme passes through
            "/relative/path?b=1&a=2",  # schemeless
            "http://example.com/x?a=1%20b&a=0",  # duplicate param names sort
            "http://example.com/a#frag?x=1",  # '?' inside fragment is NOT a query
            None,  # NULL url keeps its audit row
            "http://example.com/a",  # same page as doc 13
        ],
    }
)


def test_canonicalization_matches_duckdb_on_planted_frame(spark):
    got = {
        r["doc_id"]: (r["canonical_url"], r["url_host"])
        for r in with_canonical_url(spark.createDataFrame(URLS)).collect()
    }
    con = duckdb.connect()
    con.register("urls", URLS)
    oracle = {
        r["doc_id"]: (r["canonical_url"], r["url_host"])
        for r in con.execute(canonical_url_sql("urls")).arrow().to_pylist()
    }
    assert got == oracle


def test_canonicalization_rules(spark):
    got = {
        r["doc_id"]: r["canonical_url"]
        for r in with_canonical_url(spark.createDataFrame(URLS)).collect()
    }
    # case/www/port/tracking/fragment/order all normalize away
    assert got[1] == "http://example.com/a/b?a=1&b=2"
    assert got[1] == got[2]
    assert got[3] == "https://example.com/a/b" == got[4]
    assert got[1] != got[3]  # scheme is part of identity
    assert got[5] == "http://example.com" == got[6]
    assert got[7] == "http://example.com/x" == got[8]
    assert got[9] == "http://other.org:8080/p?y=2&z=1"  # 8080 kept, params sorted
    assert got[10] == "ftp://example.com/file"  # fragment still dropped
    assert got[11] == "/relative/path?a=2&b=1"
    assert got[12] == "http://example.com/x?a=0&a=1%20b"  # bytewise sort
    # review fix: '?' inside the fragment is fragment, not query
    assert got[13] == "http://example.com/a" == got[15]
    assert got[14] is None  # NULL propagates, no fabricated identity


def test_url_dedup_audit_keeps_min_id(spark):
    out = {
        r["doc_id"]: r["outcome"]
        for r in url_dedup_audit(spark.createDataFrame(URLS)).collect()
    }
    assert out[1] == "kept" and out[2] == "url_dup"
    assert out[3] == "kept" and out[4] == "url_dup"
    assert out[5] == "kept" and out[6] == "url_dup"
    assert out[7] == "kept" and out[8] == "url_dup"
    for d in (9, 10, 11, 12):
        assert out[d] == "kept"
    # review fixes: fragment-only difference IS a dup; NULL url gets an
    # audit row (kept — no URL identity), never vanishes from the spine
    assert out[13] == "kept" and out[15] == "url_dup"
    assert out[14] == "kept"
    assert len(out) == 15  # every row audited exactly once


def test_canonicalization_is_shuffle_free(spark):
    df = with_canonical_url(spark.createDataFrame(URLS))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_canonicalization_is_idempotent(spark):
    """Property: canonicalize(canonicalize(u)) == canonicalize(u) —
    the canonical form is a fixed point, so re-crawling already-
    canonical URLs never reshuffles identities. Checked over the
    planted frame plus adversarial shapes (ports on non-default
    schemes, empty queries, bare '?', deep fragments)."""
    import pandas as pd

    adversarial = pd.DataFrame(
        {
            "doc_id": [101, 102, 103, 104, 105],
            "url": [
                "https://a.b:8443/p/?",
                "http://x.y/?#",
                "HTTPS://WWW.A.B/",
                "http://h/p?utm_source=only",
                "scheme+x://Host/Path/?z=1&utm_a=2#f?g",
            ],
        }
    )
    frame = pd.concat([URLS, adversarial], ignore_index=True)
    once = with_canonical_url(spark.createDataFrame(frame)).select(
        "doc_id", F.col("canonical_url").alias("url")
    )
    twice = with_canonical_url(once)
    rows = twice.collect()
    assert len(rows) == len(frame)
    for r in rows:
        assert r["canonical_url"] == r["url"], r["doc_id"]


# ---- per-domain quota cap ----


def test_domain_cap_semantics_and_null_passthrough(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    from radares_spark.operators.urls import domain_cap

    pdf = pd.DataFrame(
        {
            "doc_id": list(range(8)),
            "url": [
                "https://a.com/1",
                "https://a.com/2",
                "https://a.com/3",
                "https://a.com/4",  # 4 docs on a.com, cap 2 keeps best 2
                "https://b.com/1",
                "http://WWW.B.com:80/2/",  # canonicalizes onto b.com
                None,  # NULL url: always kept, NULL host
                "https://c.com/1",
            ],
            "q": [10.0, 40.0, 30.0, 20.0, 5.0, 6.0, 1.0, 2.0],
        }
    )
    got = {
        r["doc_id"]: (r["url_host"], r["host_rank"])
        for r in domain_cap(spark.createDataFrame(pdf), 2, F.col("q")).collect()
    }
    # a.com: top-2 by quality are docs 1 (40) and 2 (30)
    assert got[1] == ("a.com", 1) and got[2] == ("a.com", 2)
    assert 0 not in got and 3 not in got
    # b.com: both survive (cap 2), rank by quality desc
    assert got[5] == ("b.com", 1) and got[4] == ("b.com", 2)
    # NULL url passes through
    assert got[6] == (None, 1)
    assert got[7] == ("c.com", 1)


def test_domain_cap_uses_window_group_limit(spark):
    """rank<=k must compile to WindowGroupLimit so each upstream
    partition pre-filters to k rows per host before the shuffle."""
    import pandas as pd
    from pyspark.sql import functions as F

    from radares_spark.operators.urls import domain_cap

    pdf = pd.DataFrame(
        {
            "doc_id": range(100),
            "url": [f"https://host{i % 5}.com/p/{i}" for i in range(100)],
            "q": [float(i) for i in range(100)],
        }
    )
    df = domain_cap(spark.createDataFrame(pdf), 3, F.col("q"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan


def test_domain_cap_null_quality_ranks_last(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    from radares_spark.operators.urls import domain_cap

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "url": ["https://d.com/1", "https://d.com/2", "https://d.com/3"],
            "q": [None, 5.0, 1.0],
        }
    )
    got = {
        r["doc_id"]: r["host_rank"]
        for r in domain_cap(spark.createDataFrame(pdf), 3, F.col("q")).collect()
    }
    assert got == {1: 1, 2: 2, 0: 3}  # NULL quality never outranks real scores


def test_canonicalization_conformance_fuzz(spark):
    """Cross-engine conformance sweep: every combination of
    adversarial URL parts (schemes incl. casing and non-http, hosts
    with www/ports, paths with trailing/multiple slashes, tracking and
    orderable query params, fragments with '?' inside) must
    canonicalize IDENTICALLY in Spark and DuckDB — the rules are only
    trustworthy if the mirrors agree beyond the planted frames."""
    import itertools

    import duckdb
    import pandas as pd

    from radares_spark.operators.urls import canonical_url_sql, with_canonical_url

    schemes = ["https://", "HTTPS://", "http://", "ftp://", ""]
    hosts = ["Example.com", "www.example.com", "example.com:443", "example.com:8080"]
    paths = ["", "/", "/a/b", "/a/b/", "/a//"]
    queries = [
        "",
        "?b=2&a=1",
        "?utm_source=x",
        "?utm_source=x&z=9&a=1",
        "?a=1&a=0",
        "?=&a",
    ]
    frags = ["", "#f", "#f?fake=1"]
    urls = [
        "".join(parts)
        for parts in itertools.product(schemes, hosts, paths, queries, frags)
    ]
    pdf = pd.DataFrame({"doc_id": range(len(urls)), "url": urls})
    got = {
        r["doc_id"]: (r["canonical_url"], r["url_host"])
        for r in with_canonical_url(spark.createDataFrame(pdf))
        .select("doc_id", "canonical_url", "url_host")
        .collect()
    }
    con = duckdb.connect()
    try:
        con.register("fuzz", pdf)
        want = {
            r[0]: (r[1], r[2])
            for r in con.execute(
                f"SELECT doc_id, canonical_url, url_host FROM ({canonical_url_sql('fuzz')})"
            ).fetchall()
        }
    finally:
        con.close()
    assert len(got) == len(urls) == len(want)
    mismatches = {
        i: (urls[i], got[i], want[i]) for i in got if got[i] != want[i]
    }
    assert not mismatches, list(mismatches.items())[:5]


def test_incremental_url_dedup_recrawl_idempotency(spark, tmp_path):
    """r5 verdict #5: URL dedup was batch-only — a recrawl re-admitted
    every previously-seen URL. Two 'nightly runs' with the ledger
    appended between them (epoch partitions, the admission-stream
    layout): run 2 over the SAME fetch list admits nothing, appends
    nothing; genuinely new URLs still admit."""
    from radares_spark.operators.urls import (
        incremental_url_dedup,
        url_ledger_rows,
    )

    ledger_dir = str(tmp_path / "url_ledger")
    night1 = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "url": [
                    "HTTP://WWW.Example.COM:80/a?utm_source=x",
                    "http://example.com/a",  # canonical twin of doc 1
                    "https://example.com/b",
                    None,  # no URL identity
                ],
            }
        )
    )
    empty_ledger = url_ledger_rows(night1).filter(F.lit(False))
    audit1, append1 = incremental_url_dedup(night1, empty_ledger)
    out1 = {r["doc_id"]: r["outcome"] for r in audit1.collect()}
    assert out1 == {1: "kept", 2: "url_dup_batch", 3: "kept", 4: "kept"}
    append1.withColumn("epoch", F.lit(0)).write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("epoch").parquet(ledger_dir)

    # night 2: identical fetch list -> every URL-bearing doc is a
    # ledger dup, the append set is EMPTY (idempotency)
    ledger = spark.read.parquet(ledger_dir).drop("epoch")
    audit2, append2 = incremental_url_dedup(night1, ledger)
    out2 = {r["doc_id"]: r["outcome"] for r in audit2.collect()}
    assert out2 == {
        1: "url_dup_ledger",
        2: "url_dup_ledger",
        3: "url_dup_ledger",
        4: "kept",  # NULL url: no identity, never blocked, never appended
    }
    assert append2.count() == 0

    # night 3: one seen URL (cosmetically different), one new
    night3 = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [10, 11],
                "url": [
                    "http://EXAMPLE.com:80/a/",  # canonicalizes to night-1 doc 1
                    "https://fresh.example.net/new",
                ],
            }
        )
    )
    audit3, append3 = incremental_url_dedup(night3, ledger)
    out3 = {r["doc_id"]: r["outcome"] for r in audit3.collect()}
    assert out3 == {10: "url_dup_ledger", 11: "kept"}
    kept3 = append3.collect()
    assert [r["doc_id"] for r in kept3] == [11]
    assert kept3[0]["canonical_url"] == "https://fresh.example.net/new"


def test_url_ledger_bucketed_join_shuffles_only_the_batch(spark, tmp_path):
    """The docstring's scale recipe, plan-asserted (the admission band
    join's test_band_join_shuffles_only_the_batch twin): persist the
    URL ledger bucketed on canonical_url and the nightly admission
    semi-join shuffles ONLY the batch — exactly one Exchange, ledger
    side scans its buckets in place."""
    from radares_spark.io.bucketing import write_bucketed
    from radares_spark.operators.urls import url_ledger_rows

    ledger_pages = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(100),
                "url": [f"https://site{i % 9}.example.com/p/{i}" for i in range(100)],
            }
        )
    )
    write_bucketed(
        url_ledger_rows(ledger_pages),
        "url_ledger_b",
        str(tmp_path / "url_ledger_b"),
        ["canonical_url"],
        4,
    )
    batch_pages = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [500, 501],
                "url": [
                    "https://site1.example.com/p/1",  # seen
                    "https://new.example.com/x",  # fresh
                ],
            }
        )
    )
    from radares_spark.operators.urls import with_canonical_url

    batch = (
        with_canonical_url(batch_pages)
        .select("doc_id", "canonical_url")
        .localCheckpoint()  # cut lineage: isolate the join plan
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        joined = batch.join(
            spark.table("url_ledger_b").select("canonical_url"),
            "canonical_url",
            "left_semi",
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert "SelectedBucketsCount: 4 out of 4" in plan
        assert [r["doc_id"] for r in joined.collect()] == [500]
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
