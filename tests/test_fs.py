"""Scheme-agnostic maintenance-path helpers (io/fs.py): every ledger
GC / snapshot-prune / commit-inspection call goes through Hadoop's
FileSystem, resolved from the path's own scheme. These tests drive the
helpers and the compaction paths through EXPLICIT ``file:`` URIs — the
paths os.path/shutil-based code would mishandle (os.path.isdir of
'file:///x' is False) — so a regression back to driver-local FS calls
fails here, not on the first hdfs://s3a deployment."""

from __future__ import annotations

import os

import pandas as pd
import pyspark.sql.functions as F

from radares_spark.io import fs


def _furi(p) -> str:
    return "file://" + str(p)


def test_fs_helpers_on_file_uris(spark, tmp_path):
    d = tmp_path / "store"
    assert not fs.exists(spark, _furi(d))
    assert not fs.has_parquet(spark, _furi(d))
    assert fs.list_names(spark, _furi(d)) == []
    assert fs.epoch_partitions(spark, _furi(d)) == []
    # os-based probes would see nothing behind the scheme prefix
    assert not os.path.isdir(_furi(d))

    spark.createDataFrame(pd.DataFrame({"k": ["a", "b"], "n_rows": [1, 2]})).withColumn(
        "epoch", F.lit(3)
    ).write.partitionBy("epoch").parquet(_furi(d))
    assert fs.exists(spark, _furi(d))
    assert fs.has_parquet(spark, _furi(d))
    assert "epoch=3" in fs.list_names(spark, _furi(d))
    assert fs.epoch_partitions(spark, _furi(d)) == [3]

    fs.delete(spark, _furi(d / "epoch=3"))
    assert fs.epoch_partitions(spark, _furi(d)) == []
    assert not fs.has_parquet(spark, _furi(d))
    fs.delete(spark, _furi(d / "epoch=3"))  # missing path is a no-op


def test_epoch_ledger_read_and_append_on_file_uris(spark, tmp_path):
    """The shared epoch-ledger layout: appends land one dynamic
    partition each (a replay overwrites its own epoch, empty rows land
    none), the read drops exactly the epoch about to be written, and a
    missing ledger reads as the row-shape operator's empty frame."""
    led = _furi(tmp_path / "ledger")

    def rows(*ids):
        return spark.createDataFrame([(i, f"u{i}") for i in ids], "doc_id long, url string")

    def shape(df):
        return df.select("doc_id", F.upper("url").alias("canonical_url"))

    first = fs.read_ledger(spark, led, 0, shape, rows(1))
    assert first.columns == ["doc_id", "canonical_url"] and first.count() == 0

    fs.append_epoch(rows(1, 2), led, fs.COMPACTED_EPOCH)
    fs.append_epoch(rows(3), led, 0)
    fs.append_epoch(rows(4), led, 1)
    fs.append_epoch(rows(5), led, 1)  # replay of epoch 1: overwrites it
    fs.append_epoch(rows(), led, 2)  # empty: no partition
    assert sorted(fs.epoch_partitions(spark, led)) == [-1, 0, 1]
    assert fs.night_epochs(spark, led) == [0, 1]

    def ids(epoch):
        got = fs.read_ledger(spark, led, epoch, shape, rows(9))
        assert got.columns == ["doc_id", "url"]
        return sorted(r["doc_id"] for r in got.collect())

    assert ids(1) == [1, 2, 3]  # own epoch dropped, compacted kept
    assert ids(2) == [1, 2, 3, 5]


def test_admission_compaction_over_file_uri(spark, tmp_path):
    """compact_ledger end to end with every path an explicit file: URI
    — stream a landing dir, compact behind the commit watermark
    (last_committed_epoch reads the checkpoint's commit log via
    FileSystem), verify the fold and the GC."""
    from radares_spark.streaming.admission_stream import (
        compact_ledger,
        run_admission_stream,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    pdf = pd.DataFrame(
        {"doc_id": range(8), "text": [f"unique document text {i} " * 12 for i in range(8)]}
    )
    spark.createDataFrame(pdf).coalesce(1).write.parquet(_furi(landing / "f0"))

    ledger = _furi(tmp_path / "ledger")
    audit = _furi(tmp_path / "audit")
    ckpt = _furi(tmp_path / "ckpt")
    run_admission_stream(spark, _furi(landing), ledger, audit, ckpt)
    assert fs.last_committed_epoch(spark, ckpt) == 0
    assert fs.epoch_partitions(spark, ledger) == [0]
    led_df = spark.read.parquet(ledger)
    assert led_df.select("doc_id").distinct().count() == 8
    before = led_df.drop("epoch").distinct().count()

    compact_ledger(spark, ledger, checkpoint=ckpt)
    assert fs.epoch_partitions(spark, ledger) == [-1]
    assert spark.read.parquet(ledger).drop("epoch").distinct().count() == before
    # the staging sibling is GC'd (suffixed with the target epoch, r7)
    assert not fs.exists(spark, ledger.rstrip("/") + "__compact_tmp_e-1")


def test_heartbeat_survives_object_store_settimes_noop(
    spark, tmp_path, monkeypatch
):
    """r13 advice #1 — Hadoop's ``FileSystem.setTimes`` base
    implementation is EMPTY and S3AFileSystem does not override it,
    so on s3a a heartbeat built on it alone would silently never
    refresh and a live holder would be usurped 5 minutes in. The
    refresh must therefore VERIFY the mtime advanced and fall back to
    a content-preserving rewrite (an atomic PUT on object stores).
    Simulated here by no-op'ing the isolated ``_set_times`` seam —
    exactly the object store's behavior."""
    import os
    import time

    from radares_spark.io import fs

    marker = str(tmp_path / "root" / "_writer_lease")
    content = "corpus-nightly:n1\nhost:42:1700000000000"
    assert fs.claim_marker(spark, marker, content)
    monkeypatch.setattr(fs, "_set_times", lambda *_a, **_k: None)

    # age the marker far past any staleness threshold, then beat:
    # the fallback rewrite must land (True), preserve the content
    # byte-for-byte, and advance the mtime to now
    old = time.time() - 3600
    os.utime(marker, (old, old))
    assert fs.refresh_marker_mtime(spark, marker, content=content) is True
    assert fs.read_marker(spark, marker) == content
    mt = fs.marker_mtime(spark, marker)
    assert mt is not None and time.time() - mt < 60

    # content omitted: the fallback re-reads the marker's own bytes
    os.utime(marker, (old, old))
    assert fs.refresh_marker_mtime(spark, marker) is True
    assert fs.read_marker(spark, marker) == content
    mt = fs.marker_mtime(spark, marker)
    assert mt is not None and time.time() - mt < 60

    # a vanished marker reports lost, no resurrection
    fs.delete(spark, marker)
    assert fs.refresh_marker_mtime(spark, marker, content=content) is False
    assert not os.path.exists(marker)

    # a marker that stopped carrying OUR bytes (a takeover landed
    # between the holder's last read and this refresh) reports lost
    # and the fallback must NOT clobber the usurper's fresh lease
    # back to ours (r14 review find)
    usurper = "corpus-nightly:n1\nother:77:1700000001111"
    assert fs.claim_marker(spark, marker, usurper)
    os.utime(marker, (old, old))
    assert fs.refresh_marker_mtime(spark, marker, content=content) is False
    assert fs.read_marker(spark, marker) == usurper
    fs.delete(spark, marker)

    # and with a WORKING setTimes (the HDFS/local path) the marker is
    # refreshed metadata-only — content untouched, mtime advanced
    monkeypatch.undo()
    assert fs.claim_marker(spark, marker, content)
    os.utime(marker, (old, old))
    assert fs.refresh_marker_mtime(spark, marker, content=content) is True
    assert fs.read_marker(spark, marker) == content
    mt = fs.marker_mtime(spark, marker)
    assert mt is not None and time.time() - mt < 60


def test_claim_marker_verifies_surviving_bytes(spark, tmp_path, monkeypatch):
    """r14 — ``FileSystem.create(path, overwrite=false)`` is atomic
    create-if-absent on HDFS but BEST-EFFORT on LocalFileSystem and
    object stores: the forked two-JVM race test caught two truly
    simultaneous claimers both passing the exists check and both
    reporting a won claim (last writer's bytes surviving). claim_marker
    is therefore claim-then-verify — a won create is believed only
    after a settle + read-back. The rival's write landing inside the
    settle window is planted via the isolated ``_settle`` seam."""
    marker = str(tmp_path / "log" / "_claim_idx_0")

    # clean win: claimed, content survives, True
    assert fs.claim_marker(spark, marker, "night:n1") is True
    assert fs.read_marker(spark, marker) == "night:n1"

    # ordinary lost race (claim already exists): False, untouched
    assert fs.claim_marker(spark, marker, "night:n2") is False
    assert fs.read_marker(spark, marker) == "night:n1"

    # simultaneous rival: our create "wins" but the rival's bytes land
    # during the settle — the verify read must turn our claim into a
    # loss, exactly as if the create itself had lost
    rival_marker = str(tmp_path / "log" / "_claim_idx_1")

    def hadoop_write(path_str, data):
        # through Hadoop's own API, as the real rival writes (a plain
        # os-level write leaves LocalFileSystem's .crc sidecar stale)
        h, p = fs._fs_and_path(spark, path_str)
        out = h.create(p, True)
        try:
            out.write(bytearray(data))
        finally:
            out.close()

    monkeypatch.setattr(
        fs, "_settle", lambda: hadoop_write(rival_marker, b"night:rival")
    )
    assert fs.claim_marker(spark, rival_marker, "night:ours") is False
    assert fs.read_marker(spark, rival_marker) == "night:rival"

    # identical-content simultaneity is the deterministic-replay case
    # the content check exists to admit: both claimers may see True
    same_marker = str(tmp_path / "log" / "_claim_idx_2")
    monkeypatch.setattr(
        fs, "_settle", lambda: hadoop_write(same_marker, b"night:n9")
    )
    assert fs.claim_marker(spark, same_marker, "night:n9") is True
