"""Streaming corpus admission (streaming/admission_stream.py):
batch==stream parity, cross-micro-batch ledger growth, and re-landed
content classifying as corpus duplicates — the streaming face of the
reference's nightly existence-guarded insert (clean_data.py:168-180)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from radares_spark.io import fs
from radares_spark.io.tables import load_table
from radares_spark.operators.incremental import (
    OUT_EXACT_CORPUS,
    OUT_KEPT,
    incremental_dedup,
    ledger_rows,
)
from radares_spark.streaming.admission_stream import run_admission_stream
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def dirs(tmp_path_factory):
    root = tmp_path_factory.mktemp("admission")
    d = {
        "landing": str(root / "landing"),
        "ledger": str(root / "ledger"),
        "audit": str(root / "audit"),
        "ckpt": str(root / "ckpt"),
    }
    return d


def _docs(spark, lo, hi):
    return (
        load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "text")
        .filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
    )


@pytest.mark.slow  # >=10 s in the r15 full-suite durations log
def test_stream_admission_matches_batch_and_accumulates(spark, dirs):
    # land file 1 (docs 0..100), run one AvailableNow pass
    _docs(spark, 0, 100).coalesce(1).write.mode("append").parquet(dirs["landing"])
    run_admission_stream(
        spark, dirs["landing"], dirs["ledger"], dirs["audit"], dirs["ckpt"]
    )
    audit1 = spark.read.parquet(dirs["audit"])
    got1 = {r["doc_id"]: r["outcome"] for r in audit1.collect()}

    # parity: epoch-1 outcomes == batch incremental_dedup on empty ledger
    batch1 = _docs(spark, 0, 100)
    empty = ledger_rows(batch1).filter(F.lit(False))
    expect1 = {
        r["doc_id"]: r["outcome"]
        for r in incremental_dedup(batch1, empty)[0].collect()
    }
    assert got1 == expect1

    # land file 2: half re-sent content (corpus dups), half new docs
    resent = _docs(spark, 0, 50).select(
        (F.col("doc_id") + 1_000).alias("doc_id"), "text"
    )
    fresh = _docs(spark, 100, 150)
    resent.unionByName(fresh).coalesce(1).write.mode("append").parquet(
        dirs["landing"]
    )
    run_admission_stream(
        spark, dirs["landing"], dirs["ledger"], dirs["audit"], dirs["ckpt"]
    )

    audit = spark.read.parquet(dirs["audit"])
    ep2 = {
        r["doc_id"]: r["outcome"]
        for r in audit.filter(F.col("epoch") > 0).collect()
    }
    # only the second file's docs are in later epochs (exactly-once per file)
    assert set(ep2) == {1_000 + i for i in range(50)} | set(range(100, 150))
    # every re-sent doc whose original was KEPT in epoch 1 must now be
    # an exact corpus duplicate — the ledger carried across batches
    kept1 = {d for d, o in got1.items() if o == OUT_KEPT and d < 50}
    assert kept1  # non-vacuous
    for d in kept1:
        assert ep2[1_000 + d] == OUT_EXACT_CORPUS

    # ledger holds rows only for kept docs, never duplicates per (doc, band)
    ledger = spark.read.parquet(dirs["ledger"])
    dup_rows = (
        ledger.groupBy("doc_id", "band").agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    assert dup_rows == 0
    kept_all = {r["doc_id"] for r in audit.filter(F.col("outcome") == OUT_KEPT).collect()}
    assert {r["doc_id"] for r in ledger.select("doc_id").distinct().collect()} == kept_all

    # re-running with nothing new landed is a no-op (checkpoint file log)
    n_audit_before = audit.count()
    run_admission_stream(
        spark, dirs["landing"], dirs["ledger"], dirs["audit"], dirs["ckpt"]
    )
    assert (
        spark.read.parquet(dirs["audit"]).count()
        == n_audit_before
    )


@pytest.mark.slow  # chained on the module `dirs` state built by the first (slow) test
def test_replay_after_crash_is_idempotent(spark, dirs):
    """ADVICE r4: crash between the sink's writes and the checkpoint
    commit = output partitions exist but the commit marker is missing.
    Deleting the newest commit marker and re-running reproduces exactly
    that replay; the replayed micro-batch must dedup against the
    PRE-epoch ledger (its own epoch excluded), so every audit and
    ledger row is reproduced bit-identically."""
    import os

    def snapshot(d):
        return sorted(
            tuple(r) for r in spark.read.parquet(d).collect()
        )

    audit_before = snapshot(dirs["audit"])
    ledger_before = snapshot(dirs["ledger"])

    commits_dir = os.path.join(dirs["ckpt"], "commits")
    commits = sorted(
        (f for f in os.listdir(commits_dir) if f.isdigit()), key=int
    )
    assert len(commits) >= 2  # the module's first test ran two epochs
    os.remove(os.path.join(commits_dir, commits[-1]))
    # Hadoop's checksummed local FS would refuse to rewrite the commit
    # over a stale .crc sidecar — a real crash loses both together
    crc = os.path.join(commits_dir, f".{commits[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    run_admission_stream(
        spark, dirs["landing"], dirs["ledger"], dirs["audit"], dirs["ckpt"]
    )
    assert snapshot(dirs["audit"]) == audit_before
    assert snapshot(dirs["ledger"]) == ledger_before


@pytest.mark.slow  # chained on the module `dirs` state built by the first (slow) test
def test_compact_then_admit_is_idempotent(spark, dirs, tmp_path):
    """r5 ledger lifecycle: compaction folds the epoch partitions into
    one deduplicated epoch=-1 partition without changing ledger content;
    admission after compaction still sees all history (re-sent content
    classifies exact_dup_corpus); a second compaction is a no-op."""
    import os

    from radares_spark.io.fs import COMPACTED_EPOCH
    from radares_spark.streaming.admission_stream import compact_ledger

    def content(d):
        return sorted(tuple(r) for r in spark.read.parquet(d).drop("epoch").collect())

    before = content(dirs["ledger"])
    kept_before = {
        r["doc_id"]
        for r in spark.read.parquet(dirs["audit"])
        .filter(F.col("outcome") == OUT_KEPT)
        .collect()
    }
    compact_ledger(
        spark,
        dirs["ledger"],
        bucketed_table="ledger_compact_b",
        bucketed_path=str(tmp_path / "ledger_b"),
        n_buckets=4,
    )
    assert content(dirs["ledger"]) == before  # content preserved exactly
    parts = [d for d in os.listdir(dirs["ledger"]) if d.startswith("epoch=")]
    assert parts == [f"epoch={COMPACTED_EPOCH}"]  # one folded partition
    assert spark.table("ledger_compact_b").count() == len(before)

    # admission after compaction: re-sent kept content is still a
    # corpus duplicate; genuinely new docs are kept
    resent = _docs(spark, 100, 120).select(
        (F.col("doc_id") + 2_000).alias("doc_id"), "text"
    )
    fresh = _docs(spark, 150, 170)
    resent.unionByName(fresh).coalesce(1).write.mode("append").parquet(
        dirs["landing"]
    )
    run_admission_stream(
        spark, dirs["landing"], dirs["ledger"], dirs["audit"], dirs["ckpt"]
    )
    ep = {
        r["doc_id"]: r["outcome"]
        for r in spark.read.parquet(dirs["audit"])
        .filter(F.col("epoch") >= 2)
        .collect()
    }
    assert set(ep) == {2_000 + i for i in range(100, 120)} | set(range(150, 170))
    resent_of_kept = {2_000 + d for d in kept_before if 100 <= d < 120}
    assert resent_of_kept  # non-vacuous
    for d in resent_of_kept:
        assert ep[d] == OUT_EXACT_CORPUS, d

    # second compaction: semantically a no-op
    mid = content(dirs["ledger"])
    compact_ledger(spark, dirs["ledger"])
    assert content(dirs["ledger"]) == mid


@pytest.mark.slow  # chained on the module `dirs` state built by the first (slow) test
def test_partial_compaction_is_superset_safe(spark, dirs):
    """Review fix: a crash between the epoch=-1 fold and the old-epoch
    deletion leaves DUPLICATE rows (old epochs + compacted partition),
    never a missing ledger dir. Admission outcomes must be unchanged
    under that duplication, and the next compaction heals it."""
    import os
    import shutil

    from radares_spark.operators.incremental import incremental_dedup, ledger_rows
    from radares_spark.io.fs import COMPACTED_EPOCH, read_ledger
    from radares_spark.streaming.admission_stream import compact_ledger

    def content(d):
        return sorted(
            tuple(r) for r in spark.read.parquet(d).drop("epoch").collect()
        )

    # land one more file so a live epoch>=0 partition coexists with the
    # compacted epoch=-1 from the previous test
    _docs(spark, 170, 185).coalesce(1).write.mode("append").parquet(
        dirs["landing"]
    )
    run_admission_stream(
        spark, dirs["landing"], dirs["ledger"], dirs["audit"], dirs["ckpt"]
    )
    before = content(dirs["ledger"])

    # simulate the crash: fold into epoch=-1 but "die" before deleting
    # the superseded epoch dirs — exactly compact_ledger's steps 1-2
    tmp = dirs["ledger"].rstrip("/") + "__crash_tmp"
    spark.read.parquet(dirs["ledger"]).drop("epoch").distinct().write.mode(
        "overwrite"
    ).parquet(tmp)
    (
        spark.read.parquet(tmp)
        .withColumn("epoch", F.lit(COMPACTED_EPOCH))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch")
        .parquet(dirs["ledger"])
    )
    shutil.rmtree(tmp)
    parts = {d for d in os.listdir(dirs["ledger"]) if d.startswith("epoch=")}
    assert len(parts) > 1  # duplicates really exist (old epochs + fold)

    # outcomes are multiplicity-insensitive: admitting a batch against
    # the duplicated ledger equals admitting against the clean content
    batch = _docs(spark, 150, 160).select(
        (F.col("doc_id") + 9_000).alias("doc_id"), "text"
    )
    # the epoch this batch would take: no partition is excluded
    next_epoch = max(fs.epoch_partitions(spark, dirs["ledger"])) + 1
    dup_ledger = read_ledger(spark, dirs["ledger"], next_epoch, ledger_rows, batch)
    audit_dup = {
        r["doc_id"]: r["outcome"]
        for r in incremental_dedup(batch, dup_ledger)[0].collect()
    }
    clean_path = dirs["ledger"].rstrip("/") + "__clean_view"
    spark.read.parquet(dirs["ledger"]).drop("epoch").distinct().write.mode(
        "overwrite"
    ).parquet(clean_path)
    audit_clean = {
        r["doc_id"]: r["outcome"]
        for r in incremental_dedup(batch, spark.read.parquet(clean_path))[0].collect()
    }
    assert audit_dup == audit_clean

    # re-running compaction heals: one partition, original content
    compact_ledger(spark, dirs["ledger"])
    assert content(dirs["ledger"]) == before
    assert [d for d in os.listdir(dirs["ledger"]) if d.startswith("epoch=")] == [
        f"epoch={COMPACTED_EPOCH}"
    ]


def test_admission_compaction_gates_on_commit_watermark(spark, tmp_path):
    """r6 ADVICE (URL admission twin): with the checkpoint passed,
    compact_ledger folds only committed epochs — a written-but-
    uncommitted epoch stays an excludable delta so its crash-replay
    can reconstruct the exact pre-epoch ledger state."""
    import os

    from radares_spark.streaming.admission_stream import compact_ledger

    landing = str(tmp_path / "landing")
    ledger = str(tmp_path / "ledger")
    audit_dir = str(tmp_path / "audit")
    ckpt = str(tmp_path / "ckpt")

    _docs(spark, 0, 10).coalesce(1).write.mode("append").parquet(landing)
    run_admission_stream(spark, landing, ledger, audit_dir, ckpt)
    _docs(spark, 20, 30).coalesce(1).write.mode("append").parquet(landing)
    run_admission_stream(spark, landing, ledger, audit_dir, ckpt)
    audit_before = {
        (r["doc_id"], r["outcome"])
        for r in spark.read.parquet(audit_dir).collect()
    }

    commits_dir = os.path.join(ckpt, "commits")
    newest = max(f for f in os.listdir(commits_dir) if f.isdigit())
    os.remove(os.path.join(commits_dir, newest))
    crc = os.path.join(commits_dir, f".{newest}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    compact_ledger(spark, ledger, checkpoint=ckpt)
    assert sorted(fs.epoch_partitions(spark, ledger)) == [-1, int(newest)]

    # replay of the uncommitted epoch recomputes identical outcomes
    run_admission_stream(spark, landing, ledger, audit_dir, ckpt)
    assert {
        (r["doc_id"], r["outcome"])
        for r in spark.read.parquet(audit_dir).collect()
    } == audit_before

    # all committed now -> full fold; and a commit-less checkpoint no-ops
    compact_ledger(spark, ledger, checkpoint=ckpt)
    assert fs.epoch_partitions(spark, ledger) == [-1]
    compact_ledger(spark, ledger, checkpoint=str(tmp_path / "no_ckpt"))
    assert fs.epoch_partitions(spark, ledger) == [-1]


def test_compact_before_first_landing_is_a_noop(spark, tmp_path):
    """Ops hardening: a nightly maintenance script may fire before any
    data has ever landed — compaction must no-op, not throw."""
    import os

    from radares_spark.streaming.admission_stream import compact_ledger

    empty = str(tmp_path / "never_landed")
    compact_ledger(spark, empty)  # missing dir
    assert not os.path.exists(empty)
    os.makedirs(empty)
    compact_ledger(spark, empty)  # present but parquet-less
    assert os.listdir(empty) == []
