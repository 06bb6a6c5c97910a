"""Streaming URL admission (``run_admission_stream(...,
admission="urls")`` in streaming/admission_stream.py): batch==stream
parity, cross-micro-batch ledger growth (a recrawled URL classifies
url_dup_ledger), crash-replay idempotency, and compaction — the
streaming face of the cross-run URL ledger."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from radares_spark.io import fs
from radares_spark.operators.urls import incremental_url_dedup, url_ledger_rows
from radares_spark.streaming.admission_stream import (
    compact_ledger,
    run_admission_stream,
)


@pytest.fixture(scope="module")
def dirs(tmp_path_factory):
    root = tmp_path_factory.mktemp("url_admission")
    return {
        "landing": str(root / "landing"),
        "ledger": str(root / "ledger"),
        "audit": str(root / "audit"),
        "ckpt": str(root / "ckpt"),
    }


def _pages(spark, ids_urls):
    return spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [i for i, _ in ids_urls], "url": [u for _, u in ids_urls]}
        )
    )


NIGHT1 = [
    (1, "HTTP://WWW.Example.COM:80/a?utm_source=x"),
    (2, "http://example.com/a"),  # canonical twin of doc 1 -> batch dup
    (3, "https://example.com/b"),
    (4, None),  # no URL identity
]
NIGHT2 = [
    (10, "http://EXAMPLE.com:80/a/"),  # canonical twin of night-1 doc 1
    (11, "https://fresh.example.net/new"),
    (12, None),
]


def test_url_stream_matches_batch_and_skips_recrawls(spark, dirs):
    _pages(spark, NIGHT1).coalesce(1).write.mode("append").parquet(dirs["landing"])
    run_admission_stream(
        spark, dirs["landing"], dirs["ledger"], dirs["audit"], dirs["ckpt"],
        admission="urls",
    )
    got1 = {
        r["doc_id"]: r["outcome"]
        for r in spark.read.parquet(dirs["audit"]).collect()
    }
    batch1 = _pages(spark, NIGHT1)
    empty = url_ledger_rows(batch1).filter(F.lit(False))
    expect1 = {
        r["doc_id"]: r["outcome"]
        for r in incremental_url_dedup(batch1, empty)[0].collect()
    }
    assert got1 == expect1
    assert got1[2] == "url_dup_batch" and got1[4] == "kept"

    # night 2: the recrawled URL is skipped, the fresh one admits,
    # NULL-url passes through; the ledger grew by exactly the new URL
    _pages(spark, NIGHT2).coalesce(1).write.mode("append").parquet(dirs["landing"])
    run_admission_stream(
        spark, dirs["landing"], dirs["ledger"], dirs["audit"], dirs["ckpt"],
        admission="urls",
    )
    audit = spark.read.parquet(dirs["audit"])
    ep2 = {
        r["doc_id"]: r["outcome"] for r in audit.filter(F.col("epoch") > 0).collect()
    }
    assert ep2 == {10: "url_dup_ledger", 11: "kept", 12: "kept"}
    ledger = spark.read.parquet(dirs["ledger"])
    urls = {r["canonical_url"] for r in ledger.select("canonical_url").collect()}
    assert urls == {
        "http://example.com/a",
        "https://example.com/b",
        "https://fresh.example.net/new",
    }
    # NULL-url docs never enter the ledger
    assert ledger.filter(F.col("canonical_url").isNull()).count() == 0

    # nothing new landed -> no-op (checkpoint file log)
    before = audit.count()
    run_admission_stream(
        spark, dirs["landing"], dirs["ledger"], dirs["audit"], dirs["ckpt"],
        admission="urls",
    )
    assert spark.read.parquet(dirs["audit"]).count() == before


def test_url_stream_crash_replay_is_idempotent(spark, dirs):
    """Delete the newest commit marker (the crash window between the
    sink's writes and the commit) and re-run: the replayed epoch
    overwrites its own partitions and outcomes are unchanged."""
    audit_before = {
        (r["doc_id"], r["outcome"])
        for r in spark.read.parquet(dirs["audit"]).collect()
    }
    ledger_before = {
        (r["doc_id"], r["canonical_url"])
        for r in spark.read.parquet(dirs["ledger"]).collect()
    }
    commits_dir = os.path.join(dirs["ckpt"], "commits")
    newest = max(f for f in os.listdir(commits_dir) if f.isdigit())
    os.remove(os.path.join(commits_dir, newest))
    crc = os.path.join(commits_dir, f".{newest}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    run_admission_stream(
        spark, dirs["landing"], dirs["ledger"], dirs["audit"], dirs["ckpt"],
        admission="urls",
    )
    assert {
        (r["doc_id"], r["outcome"])
        for r in spark.read.parquet(dirs["audit"]).collect()
    } == audit_before
    assert {
        (r["doc_id"], r["canonical_url"])
        for r in spark.read.parquet(dirs["ledger"]).collect()
    } == ledger_before


def test_url_ledger_compaction_preserves_urls(spark, dirs):
    before = {
        r["canonical_url"]
        for r in spark.read.parquet(dirs["ledger"]).select("canonical_url").collect()
    }
    compact_ledger(spark, dirs["ledger"])
    assert fs.epoch_partitions(spark, dirs["ledger"]) == [-1]
    after = {
        r["canonical_url"]
        for r in spark.read.parquet(dirs["ledger"]).select("canonical_url").collect()
    }
    assert after == before
    # admission against the compacted ledger still skips seen URLs
    audit, append = incremental_url_dedup(
        _pages(spark, [(20, "http://example.com/a"), (21, "http://example.com/zzz")]),
        spark.read.parquet(dirs["ledger"]).drop("epoch"),
    )
    got = {r["doc_id"]: r["outcome"] for r in audit.collect()}
    assert got == {20: "url_dup_ledger", 21: "kept"}


def test_url_compaction_never_folds_uncommitted_epochs(spark, tmp_path):
    """r6 ADVICE: an epoch written but not yet committed (crash between
    the sink's writes and the checkpoint commit) must NOT fold into
    epoch=-1 — once folded, the replay's own-epoch exclusion can't
    excise it and the replayed audit misclassifies kept docs as
    url_dup_ledger. With the checkpoint passed, compaction folds only
    committed epochs; the replay then recomputes identical outcomes."""
    landing = str(tmp_path / "landing")
    ledger = str(tmp_path / "ledger")
    audit_dir = str(tmp_path / "audit")
    ckpt = str(tmp_path / "ckpt")

    _pages(spark, NIGHT1).coalesce(1).write.mode("append").parquet(landing)
    run_admission_stream(spark, landing, ledger, audit_dir, ckpt, admission="urls")
    _pages(spark, NIGHT2).coalesce(1).write.mode("append").parquet(landing)
    run_admission_stream(spark, landing, ledger, audit_dir, ckpt, admission="urls")
    audit_before = {
        (r["doc_id"], r["outcome"])
        for r in spark.read.parquet(audit_dir).collect()
    }

    # crash window: epoch 1's sink writes landed, its commit did not
    commits_dir = os.path.join(ckpt, "commits")
    newest = max(f for f in os.listdir(commits_dir) if f.isdigit())
    os.remove(os.path.join(commits_dir, newest))
    crc = os.path.join(commits_dir, f".{newest}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    compact_ledger(spark, ledger, checkpoint=ckpt)
    # committed epoch 0 folded; uncommitted epoch 1 stays excludable
    assert sorted(fs.epoch_partitions(spark, ledger)) == [-1, int(newest)]

    # the replay recomputes the same outcomes (doc 10 is a ledger dup
    # against night-1 history, NOT against its own replayed rows)
    run_admission_stream(spark, landing, ledger, audit_dir, ckpt, admission="urls")
    assert {
        (r["doc_id"], r["outcome"])
        for r in spark.read.parquet(audit_dir).collect()
    } == audit_before

    # with every epoch committed, a second compaction folds the rest
    compact_ledger(spark, ledger, checkpoint=ckpt)
    assert fs.epoch_partitions(spark, ledger) == [-1]

    # before any commit exists, a gated compaction is a no-op
    empty_ckpt = str(tmp_path / "ckpt_empty")
    probe = str(tmp_path / "probe_ledger")
    spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "canonical_url": ["http://x/a"], "epoch": [0]})
    ).write.partitionBy("epoch").parquet(probe)
    compact_ledger(spark, probe, checkpoint=empty_ckpt)
    assert fs.epoch_partitions(spark, probe) == [0]
