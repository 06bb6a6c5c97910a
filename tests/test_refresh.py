"""Incremental corpus refresh (pipeline/refresh.py).

The contract: after any night's delta, the refreshed audit is
EXACTLY batch ``curate``'s audit over the new snapshot — including
the two non-local propagation effects (exact-keeper churn and
near-dup bucket churn) — while per-doc text work stays
delta-proportional (stats pinned)."""

from __future__ import annotations

import random

import pandas as pd
import pytest

# Whole-module slow tier (r15): multi-second Spark e2e tests dominate
# this module's wall; deselected by default so the driver's verify
# window fits — run with -m slow (see COVERAGE.md).
pytestmark = pytest.mark.slow

from radares_spark.pipeline.corpus import curate
from radares_spark.pipeline.refresh import init_state, refresh
from radares_spark.pipeline.state_ledger import LedgerState

STOP = "the and is in of to it was for on"  # high-frequency english


def mk_text(i: int, words: int = 40) -> str:
    """Quality-passing english-ish text, unique per i."""
    rng = random.Random(i)
    stop = STOP.split()
    body = []
    for j in range(words):
        if j % 3 == 0:
            body.append(stop[rng.randrange(len(stop))])
        else:
            body.append(f"word{i}x{j}")
    return " ".join(body)


def near_variant(i: int, words: int = 40) -> str:
    toks = mk_text(i, words).split()
    toks[words // 2] = "tweaked"
    return " ".join(toks)


def _led(tmp_path, epoch: int) -> LedgerState:
    """Epoch ``epoch`` of the test's one state ledger."""
    return LedgerState(str(tmp_path / "led"), epoch)


def _df(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def _audit_map(audit_df):
    return {r["doc_id"]: r["outcome"] for r in audit_df.collect()}


def _assert_matches_batch(spark, docs, audit_df):
    _, batch_audit, _ = curate(docs)
    assert _audit_map(audit_df) == _audit_map(batch_audit)


BASE = [
    (1, mk_text(1)),
    (2, mk_text(2)),
    (3, mk_text(1)),          # exact dup of 1 (1 is keeper)
    (4, near_variant(2)),     # near dup of 2 (4 dropped)
    (5, mk_text(5)),
    (6, "short text"),        # quality fail
    (7, None),                # NULL text -> quality fail
    (8, mk_text(8)),
]


def test_init_matches_batch_curate(spark, tmp_path):
    docs = _df(spark, BASE)
    audit = init_state(spark, docs, _led(tmp_path, 0))
    _assert_matches_batch(spark, docs, audit)
    got = _audit_map(audit)
    assert got[3] == "exact_dup" and got[4] == "near_dup"
    assert got[6] == "quality" and got[7] == "quality"


def test_noop_night_zero_recompute(spark, tmp_path):
    docs = _df(spark, BASE)
    init_state(spark, docs, _led(tmp_path, 0))
    audit, stats = refresh(
        spark, docs, _led(tmp_path, 1)
    )
    _assert_matches_batch(spark, docs, audit)
    assert stats == {
        "n_delta": 0,
        "n_removed": 0,
        "n_affected_hashes": 0,
        "n_rebanded": 0,
        "n_near_affected": 0,
        "n_pairs_verified": 0,
        "n_hot_buckets_touched": 0,
        "n_hot_buckets_global": 0,
    }


def test_keeper_removal_resurrects_exact_dup(spark, tmp_path):
    """Doc 1 (keeper of the {1,3} hash group) disappears; doc 3 must
    flip exact_dup -> kept via the affected-hash recompute."""
    docs = _df(spark, BASE)
    init_state(spark, docs, _led(tmp_path, 0))
    night2 = [r for r in BASE if r[0] != 1]
    new_docs = _df(spark, night2)
    audit, stats = refresh(
        spark, new_docs, _led(tmp_path, 1)
    )
    _assert_matches_batch(spark, new_docs, audit)
    assert _audit_map(audit)[3] == "kept"
    assert stats["n_delta"] == 0 and stats["n_removed"] == 1
    # doc 3's resurrection enters it into the LSH set -> rebanded
    assert stats["n_rebanded"] == 1


def test_new_lower_id_demotes_old_keeper(spark, tmp_path):
    """A new doc 0 with doc 5's content becomes the group keeper;
    doc 5 must flip kept -> exact_dup."""
    docs = _df(spark, BASE)
    init_state(spark, docs, _led(tmp_path, 0))
    new_docs = _df(spark, [(0, mk_text(5))] + BASE)
    audit, _ = refresh(
        spark, new_docs, _led(tmp_path, 1)
    )
    _assert_matches_batch(spark, new_docs, audit)
    got = _audit_map(audit)
    assert got[0] == "kept" and got[5] == "exact_dup"


def test_partner_removal_resurrects_near_dup(spark, tmp_path):
    """Doc 2 vanishes; its near-dup 4 (dropped as the higher id of the
    verified pair) must resurrect via the churned-bucket recompute."""
    docs = _df(spark, BASE)
    init_state(spark, docs, _led(tmp_path, 0))
    night2 = [r for r in BASE if r[0] != 2]
    new_docs = _df(spark, night2)
    audit, stats = refresh(
        spark, new_docs, _led(tmp_path, 1)
    )
    _assert_matches_batch(spark, new_docs, audit)
    assert _audit_map(audit)[4] == "kept"
    assert stats["n_near_affected"] >= 1


def test_changed_doc_forms_new_near_pair(spark, tmp_path):
    """Doc 8 is rewritten into a near-variant of doc 5: the fresh
    bands must collide, verify, and drop 8 (higher id)."""
    docs = _df(spark, BASE)
    init_state(spark, docs, _led(tmp_path, 0))
    night2 = [(i, t) if i != 8 else (8, near_variant(5)) for i, t in BASE]
    new_docs = _df(spark, night2)
    audit, stats = refresh(
        spark, new_docs, _led(tmp_path, 1)
    )
    _assert_matches_batch(spark, new_docs, audit)
    assert _audit_map(audit)[8] == "near_dup"
    assert stats["n_delta"] == 1 and stats["n_pairs_verified"] >= 1


def test_delta_proportional_stats(spark, tmp_path):
    """60-doc corpus, 2-doc delta: per-doc recompute counts stay
    delta-sized, not corpus-sized."""
    big = [(i, mk_text(i)) for i in range(100, 160)]
    docs = _df(spark, big)
    init_state(spark, docs, _led(tmp_path, 0))
    night2 = [(i, t) if i != 100 else (100, mk_text(999)) for i, t in big]
    night2.append((200, mk_text(200)))
    new_docs = _df(spark, night2)
    audit, stats = refresh(
        spark, new_docs, _led(tmp_path, 1)
    )
    _assert_matches_batch(spark, new_docs, audit)
    assert stats["n_delta"] == 2  # changed 100 + added 200
    assert stats["n_rebanded"] == 2
    # near recompute confined to buckets the two delta docs touch
    assert stats["n_near_affected"] <= 10


@pytest.mark.slow  # >=10 s in the r15 full-suite durations log
def test_three_nights_randomized_equivalence(spark, tmp_path):
    """Seeded random add/remove/rewrite churn over three nights —
    every night's incremental audit equals batch curate from scratch,
    with each night one epoch of the state ledger. Mutations are
    biased toward the interacting cases (dup-group and near-pair
    members)."""
    rng = random.Random(7)
    corpus: dict[int, str | None] = {i: mk_text(i) for i in range(300, 330)}
    corpus[330] = mk_text(300)       # exact dup group {300, 330}
    corpus[331] = near_variant(301)  # near pair (301, 331)
    corpus[332] = None
    corpus[333] = "too short"

    def as_df():
        return _df(spark, sorted(corpus.items()))

    init_state(spark, as_df(), _led(tmp_path, 0))
    for night in range(1, 4):
        for _ in range(4):
            op = rng.choice(["add", "remove", "rewrite", "dup", "near"])
            ids = sorted(corpus)
            if op == "add":
                corpus[max(ids) + 1] = mk_text(rng.randrange(1000, 2000))
            elif op == "remove" and len(ids) > 5:
                corpus.pop(rng.choice(ids))
            elif op == "rewrite":
                corpus[rng.choice(ids)] = mk_text(rng.randrange(2000, 3000))
            elif op == "dup":
                src = rng.choice([i for i in ids if corpus[i]])
                corpus[max(ids) + 1] = corpus[src]
            elif op == "near":
                corpus[max(ids) + 1] = near_variant(rng.choice(range(300, 330)))
        new_docs = as_df()
        audit, _ = refresh(
            spark,
            new_docs,
            _led(tmp_path, night),
        )
        _assert_matches_batch(spark, new_docs, audit)


# --- incremental kept-store materialization --------------------------


def _store_files(path):
    import glob
    import os

    return {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{path}/part_bucket=*/*.parquet")
    }


@pytest.mark.slow  # >=10 s in the r15 full-suite durations log
def test_store_init_and_incremental_apply(spark, tmp_path):
    """Night zero materializes the kept set; a refresh night rewrites
    ONLY buckets containing churned docs (untouched partitions keep
    their files byte-for-byte by mtime+path), and the store always
    equals batch curate's kept set."""
    from radares_spark.pipeline.refresh import (
        apply_refresh_to_store,
        init_store,
        init_state,
        refresh,
    )

    docs = _df(spark, BASE)
    s0, s1 = _led(tmp_path, 0), _led(tmp_path, 1)
    store = str(tmp_path / "store")
    init_state(spark, docs, s0)
    init_store(spark, docs, s0, store, n_buckets=4)
    curated0, _, _ = curate(docs)
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(store).collect()
    ) == sorted(r["doc_id"] for r in curated0.collect())

    before = _store_files(store)
    # night 2: remove keeper 1 (resurrects 3: bucket 3%4), others stable
    night2 = [r for r in BASE if r[0] != 1]
    new_docs = _df(spark, night2)
    refresh(spark, new_docs, s1)
    stats = apply_refresh_to_store(spark, new_docs, s1, store, n_buckets=4)
    # doc 1 left kept (bucket 1), doc 3 entered kept (bucket 3)
    assert stats == {"n_churned_docs": 2, "n_buckets_rewritten": 2}
    after = _store_files(store)
    churned_buckets = {f"part_bucket={1 % 4}", f"part_bucket={3 % 4}"}
    for f, mtime in before.items():
        bucket = f.split("/")[-2]
        if bucket not in churned_buckets:
            assert f in after and after[f] == mtime, f
    curated2, _, _ = curate(new_docs)
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(store).collect()
    ) == sorted(r["doc_id"] for r in curated2.collect())


def test_store_noop_night_rewrites_nothing(spark, tmp_path):
    from radares_spark.pipeline.refresh import (
        apply_refresh_to_store,
        init_store,
        init_state,
        refresh,
    )

    docs = _df(spark, BASE)
    s0, s1 = _led(tmp_path, 0), _led(tmp_path, 1)
    store = str(tmp_path / "store")
    init_state(spark, docs, s0)
    init_store(spark, docs, s0, store, n_buckets=4)
    before = _store_files(store)
    refresh(spark, docs, s1)
    stats = apply_refresh_to_store(spark, docs, s1, store, n_buckets=4)
    assert stats == {"n_churned_docs": 0, "n_buckets_rewritten": 0}
    assert _store_files(store) == before


def test_knobs_equivalence_sample_pct_and_langs(spark, tmp_path):
    """Non-default curation knobs thread through both paths
    identically: sample_pct=50 exercises the carve-out rung, and
    stopword-free pseudo-foreign docs exercise the lang rung (both
    engines share the expressions, so equivalence is the contract
    regardless of which language the heuristic predicts)."""
    foreign = " ".join(f"palavra{j} de um texto em outra lingua" for j in range(8))
    rows = BASE + [(20, foreign), (21, foreign + " extra")]
    docs = _df(spark, rows)
    init_state(
        spark, docs, _led(tmp_path, 0), sample_pct=50
    )
    night2 = [r for r in rows if r[0] != 1] + [(22, mk_text(22))]
    new_docs = _df(spark, night2)
    audit, _ = refresh(
        spark, new_docs, _led(tmp_path, 1),
        sample_pct=50,
    )
    _, batch_audit, _ = curate(new_docs, sample_pct=50)
    assert _audit_map(audit) == _audit_map(batch_audit)
    outcomes = set(_audit_map(audit).values())
    assert "sampled_out" in outcomes or "kept" in outcomes


@pytest.mark.slow  # >=10 s in the r15 full-suite durations log
def test_sf01_recrawl_night_equivalence(spark, tmp_path):
    """The production-shape gate: the full sf0.1 document corpus
    (5000 docs) through init_state, then a modulo-derived recrawl
    night (1% rewrites, 0.5% removals, 25 adds) through refresh —
    audit equals batch curate() on the new snapshot, and the
    recompute footprint stays delta-sized."""
    from pyspark.sql import functions as F

    from radares_spark.io.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.1", "documents").select(
        "doc_id", "text"
    )
    s0, s1 = _led(tmp_path, 0), _led(tmp_path, 1)
    init_state(spark, docs, s0)
    changed = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 100 == 7,
            F.concat(F.col("text"), F.lit(" night-two rewrite")),
        ).otherwise(F.col("text")),
    )
    new_docs = (
        changed.filter(F.col("doc_id") % 200 != 11)
        .unionByName(
            docs.filter(F.col("doc_id") % 200 == 13).select(
                (F.col("doc_id") + 100000).alias("doc_id"), "text"
            )
        )
        .localCheckpoint()
    )
    audit, stats = refresh(spark, new_docs, s1)
    _assert_matches_batch(spark, new_docs, audit)
    n = new_docs.count()
    assert stats["n_delta"] < n // 20 and stats["n_rebanded"] < n // 20


def test_store_rejects_mismatched_bucket_count(spark, tmp_path):
    """A mismatched n_buckets would mismap docs to partitions and
    strand stale copies — the _meta sidecar written at init makes the
    apply fail fast instead."""
    from radares_spark.pipeline.refresh import (
        apply_refresh_to_store,
        init_store,
        init_state,
        refresh,
    )

    docs = _df(spark, BASE)
    s0, s1 = _led(tmp_path, 0), _led(tmp_path, 1)
    store = str(tmp_path / "store")
    init_state(spark, docs, s0)
    init_store(spark, docs, s0, store, n_buckets=4)
    refresh(spark, docs, s1)
    with pytest.raises(ValueError, match="n_buckets=4"):
        apply_refresh_to_store(spark, docs, s1, store, n_buckets=8)


def test_store_rejects_schema_narrowed_new_docs(spark, tmp_path):
    """Review finding parity with the IVF twin: rewriting churned
    buckets from a new_docs frame missing store payload columns must
    fail fast, not leave per-partition schema drift."""
    from radares_spark.pipeline.refresh import (
        apply_refresh_to_store,
        init_store,
        init_state,
        refresh,
    )

    rows = [(i, mk_text(i), "web") for i in range(6)]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    s0, s1 = _led(tmp_path, 0), _led(tmp_path, 1)
    store = str(tmp_path / "store")
    init_state(spark, docs.select("doc_id", "text"), s0)
    init_store(spark, docs, s0, store, n_buckets=4)
    night2 = docs.filter("doc_id != 0")
    refresh(spark, night2.select("doc_id", "text"), s1)
    with pytest.raises(ValueError, match="source"):
        apply_refresh_to_store(
            spark, night2.select("doc_id", "text"), s1, store, n_buckets=4
        )


# --- hot-bucket cap (max_bucket) under incremental refresh -----------


def hot_variant(k: int, words: int = 60) -> str:
    """Near-identical boilerplate family: one token differs per k, so
    members are distinct (never exact dups) but pairwise Jaccard stays
    far above 0.8 and they share (hence overpopulate) LSH buckets."""
    toks = mk_text(9999, words).split()
    toks[words // 2] = f"variant{k}"
    return " ".join(toks)


def _assert_matches_batch_capped(spark, docs, audit_df, max_bucket):
    _, batch_audit, _ = curate(docs, max_bucket=max_bucket)
    assert _audit_map(audit_df) == _audit_map(batch_audit)


@pytest.mark.slow  # >=10 s in the r15 full-suite durations log
def test_capped_refresh_hot_bucket_churns_across_cap(spark, tmp_path):
    """The r7 gap: max_bucket was batch-only. Planted boilerplate
    family crosses the cap in BOTH directions across three nights —
    night 1 removals cool the bucket below the cap (pairs must now
    form and drop the higher ids), night 2 re-additions reheat it
    (capped again: everyone readmitted). Every night's refreshed audit
    equals batch curate(max_bucket=...) on that snapshot."""
    from radares_spark.pipeline.corpus import curate as _curate

    CAP = 3
    base = {i: mk_text(i) for i in range(700, 706)}
    hot = {i: hot_variant(i) for i in range(720, 725)}  # 5 members: hot
    docs0 = _df(spark, sorted({**base, **hot}.items()))

    # the scenario must actually exercise the cap: batch reports hot
    # buckets on night 0 and the family is admitted wholesale
    _, batch0, hot0 = _curate(docs0, max_bucket=CAP)
    assert hot0.count() > 0, "planted family failed to overpopulate a bucket"
    b0 = _audit_map(batch0)
    assert all(b0[i] == "kept" for i in hot), b0

    audit0 = init_state(spark, docs0, _led(tmp_path, 0), max_bucket=CAP)
    assert _audit_map(audit0) == b0

    # night 1: two members leave -> population 3 <= CAP -> bucket goes
    # COLD -> pairs form -> higher ids drop (keeper = lowest id)
    corpus1 = {**base, **{i: hot[i] for i in (720, 721, 722)}}
    docs1 = _df(spark, sorted(corpus1.items()))
    audit1, stats1 = refresh(
        spark, docs1, _led(tmp_path, 1), max_bucket=CAP
    )
    _assert_matches_batch_capped(spark, docs1, audit1, CAP)
    a1 = _audit_map(audit1)
    assert a1[720] == "kept" and a1[721] == "near_dup" and a1[722] == "near_dup", a1

    # night 2: the two return -> population 5 > CAP -> HOT again ->
    # pairs excluded -> the night-1 drops resurrect
    docs2 = _df(spark, sorted({**base, **hot}.items()))
    audit2, stats2 = refresh(
        spark, docs2, _led(tmp_path, 2), max_bucket=CAP
    )
    _assert_matches_batch_capped(spark, docs2, audit2, CAP)
    a2 = _audit_map(audit2)
    assert all(a2[i] == "kept" for i in hot), a2
    assert stats2["n_hot_buckets_touched"] > 0  # the cap demonstrably fired
    # stat semantics (r8 verdict #6): global == what batch
    # lsh_pairs_capped reports on the same snapshot; touched (hot
    # buckets among tonight's candidate buckets) never exceeds it
    from pyspark.sql import functions as F

    from radares_spark.operators.dedup import lsh_bands, minhash_signatures
    from radares_spark.operators.dedup import lsh_pairs_capped as _lpc

    alive2 = audit2.filter(F.col("outcome").isin("kept", "near_dup")).select(
        "doc_id"
    )
    _, batch_hot2 = _lpc(
        lsh_bands(minhash_signatures(docs2.join(alive2, "doc_id", "left_semi"))),
        CAP,
    )
    assert stats2["n_hot_buckets_global"] == batch_hot2.count()
    assert stats2["n_hot_buckets_touched"] <= stats2["n_hot_buckets_global"]


@pytest.mark.slow  # >=10 s in the r15 full-suite durations log
def test_capped_refresh_randomized_churn(spark, tmp_path):
    """Seeded random churn with the cap on, including hot-family
    mutations, three nights — refresh == batch curate(max_bucket=...)
    every night."""
    rng = random.Random(13)
    CAP = 3
    corpus: dict[int, str | None] = {i: mk_text(i) for i in range(800, 815)}
    for k in range(830, 835):
        corpus[k] = hot_variant(k)  # hot family seed

    def as_df():
        return _df(spark, sorted(corpus.items()))

    init_state(spark, as_df(), _led(tmp_path, 0), max_bucket=CAP)
    for night in range(1, 4):
        for _ in range(3):
            op = rng.choice(["add", "remove", "hot_add", "hot_remove", "rewrite"])
            ids = sorted(corpus)
            hot_ids = [i for i in ids if i >= 830]
            if op == "add":
                corpus[max(ids) + 1] = mk_text(rng.randrange(5000, 6000))
            elif op == "remove" and len(ids) > 6:
                corpus.pop(rng.choice([i for i in ids if i < 830]))
            elif op == "hot_add":
                corpus[max(max(ids) + 1, 836 + night * 10)] = hot_variant(
                    rng.randrange(7000, 8000)
                )
            elif op == "hot_remove" and len(hot_ids) > 1:
                corpus.pop(rng.choice(hot_ids))
            elif op == "rewrite":
                corpus[rng.choice([i for i in ids if i < 830])] = mk_text(
                    rng.randrange(6000, 7000)
                )
        new_docs = as_df()
        audit, _ = refresh(
            spark,
            new_docs,
            _led(tmp_path, night),
            max_bucket=CAP,
        )
        _assert_matches_batch_capped(spark, new_docs, audit, CAP)


def test_refresh_knob_mismatch_fails_fast(spark, tmp_path):
    docs = _df(spark, BASE)
    init_state(spark, docs, _led(tmp_path, 0), max_bucket=4)
    with pytest.raises(ValueError, match="knobs"):
        refresh(spark, docs, _led(tmp_path, 1))
    with pytest.raises(ValueError, match="knobs"):
        refresh(
            spark, docs, _led(tmp_path, 1),
            max_bucket=4, jaccard_threshold=0.9,
        )
    # matching knobs proceed
    audit, _ = refresh(
        spark, docs, _led(tmp_path, 1), max_bucket=4
    )
    _assert_matches_batch_capped(spark, docs, audit, 4)
