"""CLI entry points (cli.py) — the reference's three executables,
exercised offline end to end: a fake portal serves REAL fixture
workbooks, so backload plans -> fetches -> lands -> parses ->
idempotently appends -> audits, all through the public surface."""

from __future__ import annotations

import datetime as dt

import pytest

# Slow tier per test: multi-second Spark e2e tests dominate this
# module's wall; deselected by default so the default run fits its
# time window — run with -m slow (see COVERAGE.md). Three tests stay
# in the default tier: test_corpus_refresh_subcommand_two_nights runs
# the refresh layer (epoch 0 -> 1 of the state ledger) end to end
# through main(), and the two crawl-nightly tests
# (test_crawl_nightly_three_night_recrawl,
# test_crawl_nightly_content_ledger_cross_night_dedup) run the night's
# URL and content ledger reads and epoch appends, including a crash
# between the two appends.

from pyspark.sql import functions as F

from radares_spark.cli import cmd_backload, cmd_scrape, cmd_verify, parse_cli_date
from radares_spark.io.report_parser import build_report
from radares_spark.pipeline.state_ledger import LedgerState

TODAY = dt.date(2024, 5, 10)


@pytest.mark.slow
def test_parse_cli_date_contract():
    assert parse_cli_date("5/3/2024", today=TODAY) == dt.date(2024, 3, 5)
    assert parse_cli_date("05/03/2024", today=TODAY) == dt.date(2024, 3, 5)
    with pytest.raises(ValueError, match="invalid date"):
        parse_cli_date("2024-03-05", today=TODAY)
    with pytest.raises(ValueError, match="future"):
        parse_cli_date("11/5/2024", today=TODAY)


class FakePortal:
    """Serves a real template-1 workbook per (equipment, date) request."""

    def __init__(self):
        self.fetched: list[tuple[str, str]] = []

    def get(self, url, params=None, stream=False):
        equip = params["equipamento"]
        d, m, y = params["dataStr"].split("/")
        day = dt.date(int(y), int(m), int(d))
        self.fetched.append((equip, day.isoformat()))

        class R:
            status_code = 200
            content = build_report(1, day, equip)

            def raise_for_status(self):
                pass

        return R()


@pytest.mark.slow
def test_backload_plans_fetches_ingests_then_noop(spark, tmp_path):
    devices = spark.createDataFrame([("FS551JOI",), ("FS655JOI",)], "equipment string")
    landing, wh, ckpt = str(tmp_path / "l"), str(tmp_path / "w"), str(tmp_path / "c")
    portal = FakePortal()
    start, end = dt.date(2024, 5, 1), dt.date(2024, 5, 2)

    n = cmd_backload(spark, portal, "https://portal/r", devices, start, end, landing, wh, ckpt)
    assert n == 4  # 2 devices x 2 days, nothing ingested yet
    assert len(portal.fetched) == 4

    flows = spark.read.parquet(f"{wh}/flows")
    assert flows.count() == 4 * 96  # template 1: 96 slot rows per report
    ledger = spark.read.parquet(f"{wh}/equipment_files")
    assert ledger.count() == 4

    # re-run over the same range: the anti-join plans NOTHING
    n2 = cmd_backload(spark, portal, "https://portal/r", devices, start, end, landing, wh, ckpt)
    assert n2 == 0 and len(portal.fetched) == 4

    # widen the range by one day: exactly the 2 new items are fetched
    n3 = cmd_backload(
        spark, portal, "https://portal/r", devices, start, dt.date(2024, 5, 3), landing, wh, ckpt
    )
    assert n3 == 2
    assert spark.read.parquet(f"{wh}/flows").count() == 6 * 96

    # verify: both devices present on every day -> audit at expected=2
    # is empty; at expected=3 every day is short
    assert cmd_verify(spark, wh, expected=2).count() == 0
    short = {r["pubdate"].isoformat() for r in cmd_verify(spark, wh, expected=3).collect()}
    assert short == {"2024-05-01", "2024-05-02", "2024-05-03"}


@pytest.mark.slow
def test_scrape_pulls_one_day_and_logs(spark, tmp_path):
    landing, wh, ckpt = str(tmp_path / "l"), str(tmp_path / "w"), str(tmp_path / "c")
    portal = FakePortal()
    day = dt.date(2024, 5, 1)
    cmd_scrape(
        spark, portal, "https://portal/r", ["FS551JOI"], landing, wh, ckpt, day=day
    )
    assert spark.read.parquet(f"{wh}/flows").count() == 96
    log = spark.read.parquet(f"{wh}/run_log")
    statuses = {r["status"] for r in log.collect()}
    assert statuses == {"downloaded", "processed"}  # fetch log + parse log
    # pubdate parsed from the report header, not the filename
    got_day = spark.read.parquet(f"{wh}/flows").select(F.min("pubdate")).first()[0]
    assert got_day == day


@pytest.mark.slow
def test_corpus_health_subcommand(spark, tmp_path, capsys):
    """corpus-health audits a parquet documents store from the CLI."""
    import pandas as pd

    from radares_spark.cli import cmd_corpus_health

    good = (
        "the quick brown fox jumps over the lazy dog while the rain in "
        "spain falls mainly on the plain every single day of the year"
    )
    docs = str(tmp_path / "docs")
    spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2],
                "text": [good, good, None],
                "source": ["a", "a", "b"],
            }
        )
    ).write.parquet(docs)
    rows = {r["source"]: r for r in cmd_corpus_health(spark, docs).collect()}
    assert rows["a"]["n_docs"] == 2 and rows["a"]["n_exact_dup_extra"] == 1
    assert rows["b"]["n_null_text"] == 1


@pytest.mark.slow
def test_corpus_health_needs_only_docs_flag():
    """Review finding: the advertised one-flag invocation must parse —
    the radar-domain globals are not demanded globally (corpus-health
    reads none; the fetch commands re-check what they need). Pinned at
    the source level so a revert to required=True fails here."""
    import inspect

    from radares_spark import cli

    src = inspect.getsource(cli.main)
    assert 'p.add_argument("--warehouse")' in src
    assert "required=True" not in src.split("add_subparsers")[0]
    assert "corpus-health" in src


@pytest.mark.slow
def test_curate_crawl_subcommand(spark, tmp_path, capsys):
    """The flagship pipeline through the public CLI: pages in, kept/ +
    audit/ parquet out, per-outcome counts printed; URL-dup pages never
    reach the kept store."""
    import pandas as pd

    from radares_spark.cli import main

    body_a = "genuine prose with the quick brown fox and many more words " * 5
    body_b = (
        "an entirely different article about the history of astronomy "
        "and the telescopes that mapped the sky in early modern times " * 5
    )
    pages = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "url": [
                "https://a.example.com/page?utm_source=x",
                "https://A.example.com:443/page",  # canonical twin of 0
                "https://b.example.com/other",
            ],
            "html": [
                f"<html><body><p>{b}</p></body></html>"
                for b in (body_a, body_a, body_b)
            ],
        }
    )
    src = tmp_path / "pages"
    spark.createDataFrame(pages).write.parquet(str(src))
    out = tmp_path / "out"
    rc = main(["curate-crawl", "--pages", str(src), "--out", str(out)])
    assert rc == 0
    printed = capsys.readouterr().out
    assert "url_dup: 1" in printed and "kept: 2" in printed
    kept = spark.read.parquet(str(out / "kept"))
    assert {r["doc_id"] for r in kept.select("doc_id").collect()} == {0, 2}
    audit = spark.read.parquet(str(out / "audit"))
    assert audit.count() == 3


def test_crawl_nightly_three_night_recrawl(spark, tmp_path, capsys):
    """r6 verdict #5: the fetch-list → incremental_url_dedup →
    append-epoch → curate sequence as ONE crawl-nightly command.
    Three nights against one ledger dir: night 2's unchanged URLs
    fetch NOTHING (all url_dup_ledger); night 3's genuinely new URL
    is the only fetch; ledger epochs accumulate 0,1,2."""
    import pandas as pd

    from radares_spark.cli import main
    from radares_spark.io import fs as iofs

    def _pages(rows):
        body = (
            "genuine prose with the quick brown fox and many more words "
            "covering several sentences of plausible english text " * 5
        )
        return pd.DataFrame(
            {
                "doc_id": [i for i, _ in rows],
                "url": [u for _, u in rows],
                "html": [
                    f"<html><body><p>{body} article {i}</p></body></html>"
                    for i, _ in rows
                ],
            }
        )

    ledger = str(tmp_path / "url_ledger")

    def _night(n, rows):
        src = tmp_path / f"pages{n}"
        spark.createDataFrame(_pages(rows)).write.parquet(str(src))
        out = tmp_path / f"out{n}"
        rc = main(
            ["crawl-nightly", "--pages", str(src), "--url-ledger", ledger,
             "--out", str(out)]
        )
        assert rc == 0
        return out, capsys.readouterr().out

    # night 1: two distinct URLs, both fetched and curated
    out1, p1 = _night(1, [(0, "https://a.example.com/x?utm_source=s"),
                          (1, "https://b.example.com/y")])
    assert "discovered: 2" in p1 and "fetched: 2" in p1
    assert iofs.epoch_partitions(spark, ledger) == [0]

    # night 2: the SAME urls recrawled (new doc_ids) — nothing fetches
    out2, p2 = _night(2, [(10, "https://A.example.com:443/x"),
                          (11, "https://b.example.com/y")])
    assert "fetched: 0" in p2 and "url_dup_ledger: 2" in p2
    assert spark.read.parquet(str(out2 / "audit")).count() == 0
    # nothing admitted -> the epoch write lands zero partitions; the
    # ledger is byte-identical to night 1 (idempotent recrawl)
    assert sorted(iofs.epoch_partitions(spark, ledger)) == [0]

    # night 3: one unchanged + one genuinely new URL — only the new fetches
    out3, p3 = _night(3, [(20, "https://b.example.com/y"),
                          (21, "https://c.example.com/fresh")])
    assert "fetched: 1" in p3 and "url_dup_ledger: 1" in p3
    kept3 = spark.read.parquet(str(out3 / "kept"))
    assert {r["doc_id"] for r in kept3.select("doc_id").collect()} == {21}
    assert sorted(iofs.epoch_partitions(spark, ledger)) == [0, 1]
    # ledger holds exactly the three canonical URLs ever admitted
    urls = {
        r["canonical_url"]
        for r in spark.read.parquet(ledger).select("canonical_url").collect()
    }
    assert urls == {
        "https://a.example.com/x",
        "https://b.example.com/y",
        "https://c.example.com/fresh",
    }

    # re-running a COMPLETED night against its own out dir must not
    # clobber the night's outputs with empty frames (review finding:
    # the crash-recovery contract says re-run, so re-run must be safe
    # on the other side of the crash window too)
    rc = main(
        ["crawl-nightly", "--pages", str(tmp_path / "pages3"),
         "--url-ledger", ledger, "--out", str(out3)]
    )
    assert rc == 0
    p3b = capsys.readouterr().out
    assert "fetched: 0" in p3b and "outputs_preserved: 1" in p3b
    # the preserved branch reads the night's audit back so the re-run
    # reports the same per-outcome counts as the original run (review
    # finding: output shape must not differ between the two)
    audit3 = spark.read.parquet(str(out3 / "audit"))
    for r in audit3.groupBy("outcome").count().collect():
        assert f"{r['outcome']}: {r['count']}" in p3b, (
            f"re-run dropped audit count {r['outcome']}={r['count']}"
        )
    kept3b = spark.read.parquet(str(out3 / "kept"))
    assert {r["doc_id"] for r in kept3b.select("doc_id").collect()} == {21}
    # and the ledger grew no new epoch (nothing admitted)
    assert sorted(iofs.epoch_partitions(spark, ledger)) == [0, 1]


@pytest.mark.slow
def test_snapshot_diff_subcommand(spark, tmp_path, capsys):
    """snapshot-diff compares two parquet snapshots from the CLI,
    lands the per-key delta when --out is given, and prints summary
    counts for every populated status."""
    import pandas as pd

    from radares_spark.cli import cmd_snapshot_diff

    old = str(tmp_path / "snap_old")
    new = str(tmp_path / "snap_new")
    spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": ["a", "b", "c"]})
    ).write.parquet(old)
    spark.createDataFrame(
        pd.DataFrame({"doc_id": [2, 3, 4], "text": ["b", "c2", "d"]})
    ).write.parquet(new)
    out = str(tmp_path / "delta")
    counts = cmd_snapshot_diff(spark, old, new, out_dir=out)
    assert counts == {"removed": 1, "unchanged": 1, "changed": 1, "added": 1}
    landed = {r["doc_id"]: r["status"] for r in spark.read.parquet(out).collect()}
    assert landed == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}


def test_corpus_refresh_subcommand_two_nights(spark, tmp_path, capsys):
    """corpus-refresh through ``main``: epoch 0 batch-curates and lands
    the state ledger; epoch 1 refreshes against it, reporting the
    delta-proportional stats alongside outcome counts. The default
    tier's one run of the refresh layer end to end."""
    import pandas as pd

    from radares_spark.cli import main
    from tests.test_refresh import mk_text

    led = str(tmp_path / "state_ledger")

    def corpus_refresh(docs, epoch):
        argv = ["corpus-refresh", "--docs", docs,
                "--state-ledger", led, "--epoch", str(epoch)]
        assert main(argv) == 0
        printed = capsys.readouterr().out.strip().splitlines()
        return {k: int(v) for k, v in (line.split(": ") for line in printed)}

    rows = [(i, mk_text(i)) for i in range(10)] + [(10, mk_text(0))]
    n0 = str(tmp_path / "docs_n0")
    spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    ).write.parquet(n0)
    c0 = corpus_refresh(n0, 0)
    assert c0["kept"] == 10 and c0["exact_dup"] == 1

    n1 = str(tmp_path / "docs_n1")
    spark.createDataFrame(
        pd.DataFrame(rows[1:], columns=["doc_id", "text"])  # drop keeper 0
    ).write.parquet(n1)
    c1 = corpus_refresh(n1, 1)
    assert c1["kept"] == 10 and "exact_dup" not in c1  # 10 resurrected
    assert c1["n_removed"] == 1 and c1["n_delta"] == 0


@pytest.mark.slow
def test_corpus_refresh_store_flag(spark, tmp_path):
    """--store maintains the kept-corpus parquet across nights: full
    write on night zero, churned-bucket rewrite stats on night one,
    store content tracking the kept set."""
    import pandas as pd

    from radares_spark.cli import cmd_corpus_refresh
    from tests.test_refresh import mk_text

    rows = [(i, mk_text(i)) for i in range(8)]
    n0 = str(tmp_path / "docs_n0")
    spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    ).write.parquet(n0)
    store = str(tmp_path / "store")
    led = str(tmp_path / "state_ledger")
    c0 = cmd_corpus_refresh(spark, n0, LedgerState(led, 0), store_dir=store)
    assert c0["kept"] == 8
    assert spark.read.parquet(store).count() == 8

    n1 = str(tmp_path / "docs_n1")
    spark.createDataFrame(
        pd.DataFrame(rows[2:], columns=["doc_id", "text"])
    ).write.parquet(n1)
    c1 = cmd_corpus_refresh(spark, n1, LedgerState(led, 1), store_dir=store)
    assert c1["kept"] == 6 and c1["n_churned_docs"] == 2
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(store).collect()
    ) == list(range(2, 8))


@pytest.mark.slow  # >=10 s in the r15 full-suite durations log
def test_corpus_refresh_all_stores_three_nights(spark, tmp_path):
    """One corpus-refresh invocation carries ALL THREE serving stores
    (kept corpus, BM25 postings, IVF vectors) from one snapshot diff.
    Pins per night: each store equals its full rebuild over the kept
    set, and a no-op night rewrites ZERO buckets/cells/files in every
    store (mtime listings byte-stable)."""
    import glob
    import os

    import pandas as pd
    from pyspark.sql import functions as F

    from radares_spark.cli import cmd_corpus_refresh
    from radares_spark.operators.retrieval import build_postings_store
    from radares_spark.operators.similarity import assign_to_centroids
    from radares_spark.pipeline.refresh import _kept, _kept_vectors
    from tests.test_refresh import mk_text

    S = [LedgerState(str(tmp_path / "state_ledger"), e) for e in range(3)]
    kst = str(tmp_path / "kept_store")
    pst = str(tmp_path / "postings")
    ivf = str(tmp_path / "ivf")

    def write_docs(name, rows):
        p = str(tmp_path / name)
        spark.createDataFrame(
            pd.DataFrame(rows, columns=["doc_id", "text"])
        ).write.parquet(p)
        return p

    def postings_rows(path):
        return {
            tuple(r)
            for r in spark.read.parquet(f"{path}/postings")
            .select("tok", "doc_id", "tf", "dl", "df", "bucket")
            .collect()
        }

    def assert_postings_equals_rebuild(docs_path, state):
        kept = (
            spark.read.parquet(docs_path)
            .select("doc_id", "text")
            .join(_kept(spark, state), "doc_id", "left_semi")
        )
        rb = str(tmp_path / "postings_rebuild")
        build_postings_store(kept, rb)
        assert postings_rows(pst) == postings_rows(rb)
        got = spark.read.parquet(f"{pst}/meta").collect()[0]
        want = spark.read.parquet(f"{rb}/meta").collect()[0]
        assert (got["n_docs"], got["sum_dl"]) == (want["n_docs"], want["sum_dl"])

    def ivf_rows(path):
        return {
            (r["vec_id"], r["cell"], tuple(round(x, 9) for x in r["v"]))
            for r in spark.read.parquet(path).collect()
        }

    def assert_ivf_equals_rebuild(docs_path, state):
        """Rebuild-with-same-centroids: the store's frozen quantizer
        over tonight's full kept vector set."""
        kept = (
            spark.read.parquet(docs_path)
            .select("doc_id", "text")
            .join(_kept(spark, state), "doc_id", "left_semi")
        )
        vecs = _kept_vectors(kept, 16)
        cents = spark.read.parquet(f"{ivf}/_centroids")
        want = {
            (r["vec_id"], r["cell"], tuple(round(x, 9) for x in r["v"]))
            for r in vecs.join(assign_to_centroids(vecs, cents), "vec_id").collect()
        }
        assert ivf_rows(ivf) == want

    def files(path, pat):
        return {f: os.path.getmtime(f) for f in glob.glob(f"{path}/{pat}")}

    # night 0: 10 kept docs incl. an exact-dup pair
    rows0 = [(i, mk_text(i)) for i in range(10)] + [(20, mk_text(0))]
    d0 = write_docs("d0", rows0)
    c0 = cmd_corpus_refresh(
        spark, d0, S[0], store_dir=kst, postings_dir=pst, ivf_dir=ivf,
    )
    assert c0["kept"] == 10
    assert_postings_equals_rebuild(d0, S[0])
    assert_ivf_equals_rebuild(d0, S[0])

    # night 1: churn — doc 3 rewritten, doc 5 removed, doc 30 added
    rows1 = [
        (i, mk_text(i + 100) if i == 3 else t)
        for (i, t) in rows0
        if i != 5
    ] + [(30, mk_text(30))]
    d1 = write_docs("d1", rows1)
    c1 = cmd_corpus_refresh(
        spark, d1, S[1], store_dir=kst, postings_dir=pst, ivf_dir=ivf,
    )
    assert_postings_equals_rebuild(d1, S[1])
    assert_ivf_equals_rebuild(d1, S[1])
    # delta-proportional: each store reports bounded rewrites
    assert 0 < c1["postings_n_buckets_rewritten"]
    assert 0 < c1["ivf_n_cells_rewritten"]
    assert 0 < c1["n_buckets_rewritten"]

    # night 2: NO-OP — same snapshot; zero rewrites in all three stores
    d2 = write_docs("d2", rows1)
    before = {
        "kept": files(kst, "part_bucket=*/*.parquet"),
        "postings": files(pst, "postings/bucket=*/*.parquet"),
        "ivf": files(ivf, "cell=*/*.parquet"),
    }
    c2 = cmd_corpus_refresh(
        spark, d2, S[2], store_dir=kst, postings_dir=pst, ivf_dir=ivf,
    )
    after = {
        "kept": files(kst, "part_bucket=*/*.parquet"),
        "postings": files(pst, "postings/bucket=*/*.parquet"),
        "ivf": files(ivf, "cell=*/*.parquet"),
    }
    assert before == after, "no-op night must not touch any store file"
    assert c2["postings_n_buckets_rewritten"] == 0
    assert c2["ivf_n_cells_rewritten"] == 0
    assert c2["n_buckets_rewritten"] == 0


@pytest.mark.slow
def test_corpus_refresh_postings_requires_store(spark, tmp_path):
    import pandas as pd
    import pytest as _pytest

    from radares_spark.cli import cmd_corpus_refresh
    from tests.test_refresh import mk_text

    p = str(tmp_path / "docs")
    spark.createDataFrame(
        pd.DataFrame([(1, mk_text(1))], columns=["doc_id", "text"])
    ).write.parquet(p)
    with _pytest.raises(ValueError, match="requires --store"):
        cmd_corpus_refresh(
            spark, p, LedgerState(str(tmp_path / "state_ledger"), 0),
            postings_dir=str(tmp_path / "pst"),
        )


@pytest.mark.slow  # >=10 s in the r15 full-suite durations log
def test_tokenizer_train_and_shards_append_nightly(spark, tmp_path, capsys):
    """The terminal lifecycle pair: ``tokenizer-train`` freezes the
    tokenizer artifact and seals an empty shard store under its vocab
    fingerprint; three ``shards-append`` nights (driven through
    ``main``, i.e. the frozen artifact on disk, not in-memory frames)
    produce EXACTLY the store the library path builds — which pins the
    save/load round-trip end to end — and a completed night's re-run
    with the same ``--night`` tag is a recognized no-op."""
    from radares_spark.cli import main
    from radares_spark.operators.bpe import train_bpe, word_counts
    from radares_spark.pipeline.shards import (
        append_shards,
        init_shards,
        read_shards,
        token_vocab,
    )

    train = [
        "low lower lowest low low",
        "new newer newest new newer",
        "the new low price the low price",
    ]
    nights = [
        [(10, "low lower the new price"), (11, "newest lowest")],
        [(20, "price " * 30), (21, "the new new low")],
        [(30, "lower newer wider")],
    ]
    corpus = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(i, t) for i, t in enumerate(train)], "doc_id long, text string"
    ).write.parquet(corpus)
    tok, store = str(tmp_path / "tok"), str(tmp_path / "shards")
    rc = main(
        [
            "tokenizer-train", "--docs", corpus, "--out", tok,
            "--n-merges", "8", "--shards", store, "--ctx-len", "16",
        ]
    )
    assert rc == 0
    printed = capsys.readouterr().out
    assert "n_merges: 8" in printed and "shards_initialized: 1" in printed

    night_dirs = []
    for k, night in enumerate(nights):
        d = str(tmp_path / f"night{k}")
        spark.createDataFrame(night, "doc_id long, text string").write.parquet(d)
        night_dirs.append(d)
        rc = main(
            [
                "shards-append", "--docs", d, "--tokenizer", tok,
                "--shards", store, "--night", f"n{k}",
            ]
        )
        assert rc == 0
        assert f"epoch: {k}" in capsys.readouterr().out

    # completed-night re-run: recognized no-op, store untouched
    rc = main(
        [
            "shards-append", "--docs", night_dirs[-1], "--tokenizer", tok,
            "--shards", store, "--night", "n2",
        ]
    )
    assert rc == 0
    assert "already_appended: 1" in capsys.readouterr().out

    # library twin from the in-memory tokenizer — must match exactly
    merges, word_syms = train_bpe(
        word_counts(spark.read.parquet(corpus)), n_merges=8
    )
    twin = str(tmp_path / "twin")
    init_shards(spark, twin, token_vocab(word_syms, merges), ctx_len=16)
    for k, d in enumerate(night_dirs):
        append_shards(
            spark, twin, spark.read.parquet(d), word_syms, merges, night=f"n{k}"
        )

    def snap(path):
        return sorted(
            (
                r["seq_id"],
                list(r["input_ids"]),
                [(s["doc_id"], s["begin"], s["n"]) for s in r["doc_spans"]],
                r["epoch"],
            )
            for r in read_shards(spark, path).collect()
        )

    got, want = snap(store), snap(twin)
    assert got == want and len(got) > 0

    # epoch export through main(): every sealed sequence lands once
    epoch_out = str(tmp_path / "epoch0")
    rc = main(
        [
            "shards-export", "--shards", store, "--out", epoch_out,
            "--seed", "7", "--n-shards", "4",
        ]
    )
    assert rc == 0
    assert f"n_sequences: {len(got)}" in capsys.readouterr().out
    back = spark.read.parquet(epoch_out)
    assert {r["seq_id"] for r in back.select("seq_id").collect()} == {
        s for s, _, _, _ in got
    }


def test_crawl_nightly_content_ledger_cross_night_dedup(spark, tmp_path, capsys):
    """--content-ledger closes the cross-night CONTENT hole: the same
    article re-syndicated at a NEW url passes the URL ledger but drops
    against the cross-run hash+minhash ledger (exact AND near twins);
    the ledger accumulates each night's final kept docs; a crash
    between the content append and the URL append reruns to the
    identical state (own-epoch exclusion); a completed night's re-run
    preserves everything."""
    import shutil

    import pandas as pd

    from radares_spark.cli import main
    from radares_spark.io import fs as iofs

    _PROSE = {
        "alpha": "the quick brown fox jumps over the lazy dog while rain "
        "falls on the plain and the morning train arrives at the station ",
        "beta": "an entirely different article about the history of early "
        "astronomy and the telescopes that mapped the sky for centuries ",
        "gamma": "a long report on river navigation describing locks and "
        "barges and the seasonal floods that shaped trade along the banks ",
        "delta": "notes from a kitchen garden covering soil compost beds "
        "and the slow patient work of growing vegetables through summer ",
    }

    def _body(tag, tail="ends here today"):
        # bodies are template-disjoint so only the PLANTED twins are
        # related; the tail knob turns a copy into a near twin
        return (_PROSE[tag] * 5) + tail

    def _pages(rows):  # rows: (doc_id, url, body)
        return pd.DataFrame(
            {
                "doc_id": [i for i, _, _ in rows],
                "url": [u for _, u, _ in rows],
                "html": [f"<html><body><p>{b}</p></body></html>" for _, _, b in rows],
            }
        )

    url_led = str(tmp_path / "url_ledger")
    con_led = str(tmp_path / "content_ledger")

    def _night(n, rows):
        src = tmp_path / f"pages{n}"
        spark.createDataFrame(_pages(rows)).write.parquet(str(src))
        out = tmp_path / f"out{n}"
        rc = main(
            ["crawl-nightly", "--pages", str(src), "--url-ledger", url_led,
             "--out", str(out), "--content-ledger", con_led]
        )
        assert rc == 0
        return out, capsys.readouterr().out

    A, B, C = _body("alpha"), _body("beta"), _body("gamma")

    out1, p1 = _night(1, [(1, "https://a.example.com/1", A),
                          (2, "https://b.example.com/2", B)])
    assert "kept: 2" in p1
    assert sorted(iofs.epoch_partitions(spark, con_led)) == [0]
    assert {
        r["doc_id"] for r in spark.read.parquet(con_led).select("doc_id").collect()
    } == {1, 2}

    # night 2: A verbatim at a NEW url (syndication), B with one word
    # changed at a new url (near twin), C genuinely new
    B_near = _body("beta", tail="ends here tomorrow")
    out2, p2 = _night(2, [(10, "https://c.example.com/10", A),
                          (11, "https://d.example.com/11", B_near),
                          (12, "https://e.example.com/12", C)])
    assert "exact_dup_corpus: 1" in p2
    assert "near_dup_corpus: 1" in p2
    assert "kept: 1" in p2
    kept2 = {r["doc_id"] for r in spark.read.parquet(str(out2 / "kept")).collect()}
    assert kept2 == {12}
    assert sorted(iofs.epoch_partitions(spark, con_led)) == [0, 1]
    led_ids = {
        r["doc_id"] for r in spark.read.parquet(con_led).select("doc_id").collect()
    }
    assert led_ids == {1, 2, 12}  # only FINAL kept docs claim residency

    # crash between the content append and the URL append: night 2's
    # URL epoch vanishes, content epoch 1 remains — the rerun must
    # reproduce the same outputs and NOT dedup tonight against itself
    shutil.rmtree(f"{url_led}/epoch=1")
    out2b, p2b = _night("2b", [(10, "https://c.example.com/10", A),
                               (11, "https://d.example.com/11", B_near),
                               (12, "https://e.example.com/12", C)])
    assert "exact_dup_corpus: 1" in p2b and "kept: 1" in p2b
    assert {
        r["doc_id"] for r in spark.read.parquet(str(out2b / "kept")).collect()
    } == {12}
    assert sorted(iofs.epoch_partitions(spark, con_led)) == [0, 1]
    assert {
        r["doc_id"] for r in spark.read.parquet(con_led).select("doc_id").collect()
    } == {1, 2, 12}

    # completed-night re-run: all URLs in the ledger, outputs preserved,
    # content ledger untouched
    out2c, p2c = _night("2c", [(10, "https://c.example.com/10", A),
                               (11, "https://d.example.com/11", B_near),
                               (12, "https://e.example.com/12", C)])
    assert "fetched: 0" in p2c
    assert sorted(iofs.epoch_partitions(spark, con_led)) == [0, 1]

    # night 3: C's text at yet another url — caught by the residency
    # night 2 added; a fresh doc keeps
    D = _body("delta")
    out3, p3 = _night(3, [(20, "https://f.example.com/20", C),
                          (21, "https://g.example.com/21", D)])
    assert "exact_dup_corpus: 1" in p3 and "kept: 1" in p3
    assert {
        r["doc_id"] for r in spark.read.parquet(str(out3 / "kept")).collect()
    } == {21}
    assert {
        r["doc_id"] for r in spark.read.parquet(con_led).select("doc_id").collect()
    } == {1, 2, 12, 21}


@pytest.mark.slow
def test_crawl_nightly_decontam_gate(spark, tmp_path, capsys):
    """--decontam: a page embedding an eval-benchmark 8-gram drops
    with outcome 'contaminated' BEFORE the content ledger (no
    residency); clean pages keep."""
    import pandas as pd

    from radares_spark.cli import main

    eval_q = (
        "what is the capital city of the ancient kingdom mentioned in "
        "the third passage"
    )
    clean = (
        "a long report on river navigation describing locks and barges "
        "and the seasonal floods that shaped trade along the banks " * 5
    )
    padding = (
        "the quick brown fox jumps over the lazy dog while rain falls "
        "on the plain and the morning train arrives at the station " * 4
    )
    dirty = padding + eval_q + " plus trailing words to finish the page"
    evals = str(tmp_path / "evals")
    spark.createDataFrame(
        pd.DataFrame({"doc_id": [9000], "text": [eval_q]})
    ).write.parquet(evals)
    src = str(tmp_path / "pages")
    spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1],
                "url": ["https://a.example.com/dirty", "https://b.example.com/clean"],
                "html": [f"<html><body><p>{b}</p></body></html>" for b in (dirty, clean)],
            }
        )
    ).write.parquet(src)
    out = tmp_path / "out"
    con_led = str(tmp_path / "content_ledger")
    rc = main(
        ["crawl-nightly", "--pages", src, "--url-ledger", str(tmp_path / "ul"),
         "--out", str(out), "--content-ledger", con_led, "--decontam", evals]
    )
    assert rc == 0
    printed = capsys.readouterr().out
    assert "contaminated: 1" in printed and "kept: 1" in printed
    audit = {
        r["doc_id"]: r["outcome"]
        for r in spark.read.parquet(str(out / "audit")).collect()
    }
    assert audit == {0: "contaminated", 1: "kept"}
    assert {
        r["doc_id"] for r in spark.read.parquet(str(out / "kept")).collect()
    } == {1}
    assert {
        r["doc_id"] for r in spark.read.parquet(con_led).select("doc_id").collect()
    } == {1}
