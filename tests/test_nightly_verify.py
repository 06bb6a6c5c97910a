"""nightly-verify (pipeline/nightly_audit.py): a healthy
corpus-nightly root passes every cross-store flag; a planted
half-completed night (store ahead of the night log), a foreign store,
and a destroyed log each trip their own named flag and the exit
code."""

from __future__ import annotations

import pytest

import shutil

from pyspark.sql import functions as F

from radares_spark.cli import cmd_nightly_verify, main
from tests.test_nightly_e2e import _body, _write_pages

# Whole-module slow tier: every test here is a multi-second e2e /
# sweep (r15 durations log); deselected by default so the driver's
# verify window fits — run with -m slow (see COVERAGE.md).
pytestmark = pytest.mark.slow


def test_nightly_verify_flags(spark, tmp_path, capsys):
    A, B, C = (_body(t) for t in ("alpha", "beta", "gamma"))
    root = str(tmp_path / "root")
    src1, src2 = tmp_path / "p1", tmp_path / "p2"
    _write_pages(spark, src1, [(1, "https://a.example.com/1", A),
                               (2, "https://b.example.com/2", B)])
    _write_pages(spark, src2, [(10, "https://c.example.com/10", C)])
    assert main(["corpus-nightly", "--pages", str(src1), "--root", root,
                 "--night", "n1", "--n-merges", "8", "--ctx-len", "16"]) == 0
    assert main(["corpus-nightly", "--pages", str(src2), "--root", root,
                 "--night", "n2", "--n-merges", "8"]) == 0
    capsys.readouterr()

    # --- healthy root: every flag green, exit code 0 ------------------
    assert main(["nightly-verify", "--root", root]) == 0
    printed = capsys.readouterr().out
    assert "ok: True" in printed
    checks = cmd_nightly_verify(spark, root)
    assert checks["ok"] and checks["n_nights"] == 2
    for flag in ("log_contiguous", "url_epochs_match", "content_epochs_match",
                 "states_present", "knobs_uniform", "kept_matches_state",
                 "ivf_matches_kept", "postings_count_matches",
                 "postings_nights_match", "shards_nights_match"):
        assert checks[flag] is True, flag

    log = f"{root}/night_log"
    saved_log = str(tmp_path / "saved_log")
    shutil.copytree(log, saved_log)

    # --- planted half-completed night: n2's stores landed but the log
    # append "crashed" — every tagged store is now AHEAD of the log
    shutil.rmtree(f"{log}/idx=1")
    checks = cmd_nightly_verify(spark, root)
    assert not checks["ok"]
    assert checks["shards_nights_match"] is False
    assert checks["shards_ahead_of_log"] == ["n2"]
    assert checks["postings_nights_match"] is False
    shutil.rmtree(log)
    shutil.copytree(saved_log, log)
    assert cmd_nightly_verify(spark, root)["ok"]

    # --- zero-admission night (review find): re-discovering ONLY
    # already-ledgered URLs appends NO url epoch (an empty dynamic
    # overwrite creates no partition) and keeps nothing — the night
    # still completes, and the audit must read the root as healthy
    assert main(["corpus-nightly", "--pages", str(src2), "--root", root,
                 "--night", "n3", "--n-merges", "8"]) == 0
    capsys.readouterr()
    checks = cmd_nightly_verify(spark, root)
    assert checks["ok"] and checks["n_nights"] == 3
    assert checks["url_epochs_match"] and checks["content_epochs_match"]
    # re-snapshot the now-3-night log for the sections below
    saved_log = str(tmp_path / "saved_log3")
    shutil.copytree(log, saved_log)

    # --- destroyed log over populated stores ---------------------------
    shutil.rmtree(log)
    checks = cmd_nightly_verify(spark, root)
    assert checks["log_present"] is False and not checks["ok"]
    shutil.copytree(saved_log, log)

    # --- foreign serving store: an IVF assignment ledger from some
    # other root covers the wrong ids
    ivf_assign = f"{root}/ivf_store/_assignment"
    saved_assign = str(tmp_path / "saved_assign")
    shutil.copytree(ivf_assign, saved_assign)
    spark.createDataFrame([(999999, 0)], "vec_id long, cell int").repartition(
        1
    ).write.mode("overwrite").parquet(ivf_assign)
    checks = cmd_nightly_verify(spark, root)
    assert checks["ivf_matches_kept"] is False and not checks["ok"]
    shutil.rmtree(ivf_assign)
    shutil.copytree(saved_assign, ivf_assign)

    # --- shards meta with no night tags: every night appends its
    # shards under its tag, so a multi-night root whose shard store
    # records none has lost them — the audit demands the full prefix
    meta_dir = f"{root}/shards/_meta"
    meta = spark.read.parquet(meta_dir)
    saved_meta = str(tmp_path / "saved_meta")
    shutil.copytree(meta_dir, saved_meta)
    untagged = {**meta.head().asDict(), "nights": [], "last_night": None}
    spark.createDataFrame(
        [tuple(untagged[c] for c in meta.columns)], meta.schema
    ).repartition(1).write.mode("overwrite").parquet(meta_dir)
    checks = cmd_nightly_verify(spark, root)
    assert checks["shards_nights_match"] is False
    assert not checks["ok"], checks
    shutil.rmtree(meta_dir)
    shutil.copytree(saved_meta, meta_dir)

    # --- lost state ledger: completed nights with no refresh state
    state_led = f"{root}/state_ledger"
    saved_led = str(tmp_path / "saved_state_ledger")
    shutil.move(state_led, saved_led)
    checks = cmd_nightly_verify(spark, root)
    assert checks["states_present"] is False and not checks["ok"]
    shutil.move(saved_led, state_led)
    assert cmd_nightly_verify(spark, root)["ok"]

    # --- foreign kept store: a resident the state never audited -------
    spark.createDataFrame([(888888, "foreign doc text")], "doc_id long, text string").withColumn(
        "part_bucket", F.lit(int(888888 % 64))
    ).write.mode("append").partitionBy("part_bucket").parquet(f"{root}/kept_store")
    checks = cmd_nightly_verify(spark, root)
    assert checks["kept_matches_state"] is False and not checks["ok"]
    assert main(["nightly-verify", "--root", root]) == 1


def test_orphan_and_contradicting_claims_surface(spark, tmp_path):
    """r11 verdict #3: a _claim_idx_<n> with no matching log partition
    is the signature of a crashed/killed writer — nightly-verify now
    lists it under ``orphan_claims`` (informational crash state, the
    state_ahead_of_log convention) instead of the operator first
    learning from the next writer's claim error; a claim whose content
    CONTRADICTS its logged night means a buried writer and fails the
    audit. Healthy claims stay silent."""
    from radares_spark.cli import cmd_nightly_verify
    from radares_spark.io import fs as iofs

    root = str(tmp_path / "root")
    src = tmp_path / "p1"
    _write_pages(spark, src, [(1, "https://a.example.com/1", _body("alpha"))])
    assert main(["corpus-nightly", "--pages", str(src), "--root", root,
                 "--night", "n1", "--n-merges", "8", "--ctx-len", "16"]) == 0

    # healthy: the completed night's own claim raises no flag
    checks = cmd_nightly_verify(spark, root)
    assert checks["ok"] and checks["log_claims_match"]
    assert "orphan_claims" not in checks

    # a crashed writer claimed the next idx but never appended its
    # partition: surfaced, but still legitimate replayable crash state
    log = f"{root}/night_log"
    assert iofs.claim_marker(spark, f"{log}/_claim_idx_1", "n2")
    checks = cmd_nightly_verify(spark, root)
    assert checks["orphan_claims"] == ["night_log/_claim_idx_1"]
    assert checks["log_claims_match"] and checks["ok"]
    iofs.delete(spark, f"{log}/_claim_idx_1")

    # a pointer-log claim with no recorded flip surfaces the same way
    assert iofs.claim_marker(
        spark, f"{root}/store_pointers/_claim_idx_0", "[('ivf_store', 'x')]"
    )
    checks = cmd_nightly_verify(spark, root)
    assert checks["orphan_claims"] == ["store_pointers/_claim_idx_0"]
    iofs.delete(spark, f"{root}/store_pointers")

    # a held root writer lease surfaces informationally (in-flight or
    # killed writer — the operator decides which)
    assert iofs.claim_marker(spark, f"{root}/_writer_lease", "corpus-nightly:n2")
    checks = cmd_nightly_verify(spark, root)
    assert checks["writer_lease_held"] == "corpus-nightly:n2" and checks["ok"]
    # heartbeat age rides along (r13 liveness runbook): fresh here,
    # and classified LIVE against the staleness threshold (r14 —
    # the runbook's "never delete a fresh lease" as a machine flag)
    assert 0 <= checks["writer_lease_age_s"] < 120
    assert checks["writer_lease_live"] is True
    # aged past the threshold: the holder is dead — a replay of its
    # own work re-enters; classified not-live, still informational
    import os as _os
    import time as _time

    from radares_spark.cli import LEASE_STALE_AFTER_S

    old = _time.time() - LEASE_STALE_AFTER_S - 5
    _os.utime(f"{root}/_writer_lease", (old, old))
    checks = cmd_nightly_verify(spark, root)
    assert checks["writer_lease_live"] is False and checks["ok"]
    iofs.delete(spark, f"{root}/_writer_lease")

    # a claim CONTRADICTING its logged partition = a buried writer
    iofs.delete(spark, f"{log}/_claim_idx_0")
    assert iofs.claim_marker(spark, f"{log}/_claim_idx_0", "not-n1")
    checks = cmd_nightly_verify(spark, root)
    assert checks["log_claims_match"] is False and not checks["ok"]


def test_logless_root_with_only_ledgers_reads_unhealthy(spark, tmp_path):
    """r10 ADVICE: a destroyed log over a root holding ANY completed-
    night evidence (here: a url ledger, no kept store) must read
    unhealthy — the old probe checked the kept store alone."""
    import os

    from radares_spark.cli import cmd_nightly_verify

    root = str(tmp_path / "r2")
    spark.createDataFrame([(1,)], ["x"]).write.parquet(
        os.path.join(root, "url_ledger")
    )
    checks = cmd_nightly_verify(spark, root)
    assert checks["log_present"] is False and not checks["ok"]
    # a genuinely empty root stays healthy
    assert cmd_nightly_verify(spark, str(tmp_path / "empty"))["ok"]
