"""Incremental corpus refresh — re-curate only tonight's delta.

Batch ``pipeline.corpus.curate`` costs one full pass over the corpus
every run.  A nightly recrawl changes a sliver of a 100 TB corpus, so
the production shape is: detect the delta (pipeline/snapshot.py),
recompute per-doc features ONLY for changed/added docs, and propagate
the two global effects a delta can have —

1. **exact-dedup keeper churn**: removing/rewriting the keeper of a
   content-hash group must resurrect the next-lowest doc_id; a new
   lower-id doc must demote the old keeper.  Recomputed per AFFECTED
   HASH only (hashes any delta/removed doc carried, old or new) over
   the narrow (doc_id, text_hash) ledger — never the corpus text.
2. **near-dup bucket churn**: a doc entering or leaving the
   LSH-alive set (or changing content) invalidates exactly the
   band-buckets its signature rows touch.  Outcomes are recomputed
   only for docs sharing a bucket with a churned band row; their
   candidate pairs are re-formed from those docs' buckets alone and
   re-verified with the exact Jaccard (shingling only pair members).
   One hop suffices: pair FORMATION depends on the pre-near alive
   set, never on near outcomes, so near flips do not cascade.

Everything else reuses the previous night's state: per-doc features
(quality/lang/hashes), the band rows of alive docs, and the audit
outcomes.  The refreshed audit is EQUIVALENT to running batch
``curate`` on the new snapshot from scratch — pinned by
tests/test_refresh.py across keeper-resurrection, bucket-churn,
partner-removal and randomized three-night scenarios.

State layout: one delta state ledger (pipeline/state_ledger.py)
holding ``features`` (doc_id, text_hash, raw_hash, quality_pass,
pred_lang, exact_keep) · ``bands`` (doc_id, band, band_hash —
stage-alive docs only) · ``audit`` (doc_id, outcome).  Every entry
point takes ONE :class:`LedgerState`, the epoch being written:
``init_state`` lands the full night-zero state as that epoch, and a
refresh into epoch N reads epoch N-1 of the same ledger and writes
ONLY the rows the night changed (plus tombstones) as ``epoch=N`` —
state work scales with the delta, never the corpus.

The curation knobs (keep_langs, sample_pct, jaccard_threshold,
max_bucket) must match across nights — they are part of the state's
meaning, so ``init_state`` lands them in a one-row ``knobs`` meta,
once per ledger, and every refresh FAILS FAST when the caller's
knobs differ from the ledger's (silently mixing semantics would
corrupt every carried outcome).

``max_bucket`` hot-bucket capping (the 100 TB guard against
boilerplate mega-buckets) IS honored incrementally: the cap makes an
outcome depend on bucket POPULATION, but population only changes in
buckets that gained or lost band rows — exactly the CHURNED buckets
whose members the refresh already recomputes. So cap-status flips
(a bucket crossing the cap in either direction) always land inside
the affected set, and the only addition the cap needs is to form the
affected docs' candidate pairs under the CURRENT populations:
recount the candidate buckets from the refreshed band ledger (narrow
ids+hashes, delta-bounded by the semi-join) and exclude the hot ones
from pair formation, mirroring ``operators/dedup.lsh_pairs_capped``.
Unaffected docs' buckets kept both membership and population, so
their carried outcomes remain cap-correct.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from radares_spark.operators.dedup import (
    _md5,
    bucket_pairs,
    lsh_bands,
    lsh_pairs_capped,
    minhash_signatures,
    normalize_text,
)
from radares_spark.operators.text import lang_id_per_doc
from radares_spark.pipeline.corpus import (
    DROP_NEAR,
    KEPT,
    _quality_pass,
    outcome_ladder,
    verify_near_pairs,
)
from radares_spark.io import fs as iofs
from radares_spark.pipeline.snapshot import content_fingerprint
from radares_spark.pipeline.state_ledger import (
    STATE_TABLES,
    LedgerState,
    compaction_floor,
    read_state,
    write_state_epoch,
)


def knobs_row(
    keep_langs: tuple[str, ...],
    sample_pct: int,
    jaccard_threshold: float,
    max_bucket: int | None,
) -> tuple:
    """The curation knobs as the ledger's one-row ``knobs`` meta
    stores them (columns of ``_KNOBS_SCHEMA``, in order)."""
    return (
        ",".join(keep_langs),
        int(sample_pct),
        float(jaccard_threshold),
        -1 if max_bucket is None else int(max_bucket),
    )


_KNOBS_SCHEMA = (
    "keep_langs string, sample_pct int, jaccard_threshold double, max_bucket int"
)


def ledger_knobs(spark: SparkSession, ledger_dir: str) -> tuple | None:
    """The ledger's recorded :func:`knobs_row`, or None before its
    night zero landed one."""
    path = f"{ledger_dir}/knobs"
    if not iofs.has_parquet(spark, path):
        return None
    return tuple(spark.read.parquet(path).head())


def _write_read(
    spark: SparkSession,
    state: LedgerState,
    table: str,
    delta: DataFrame,
    dead: DataFrame,
) -> DataFrame:
    """Land one table's ``delta`` rows + ``dead`` tombstones as the
    state's epoch partition and return the as-of read-back (the
    lineage break every downstream step keys off). Carry = no write,
    so the nightly state write scales with the delta."""
    write_state_epoch(spark, state, table, delta, dead)
    return read_state(spark, state, table)


def _prior_tables(
    spark: SparkSession, state: LedgerState, knobs: tuple
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(features, bands, audit) as of the epoch a refresh into
    ``state`` reads: ``epoch - 1`` of the same ledger. Fails fast on
    an as-of read below the compaction floor (it would silently serve
    a base view that already contains LATER nights' changes) and on
    ``knobs`` (a :func:`knobs_row`) differing from the ledger's —
    carried outcomes are only valid under the SAME semantics."""
    prior = LedgerState(state.ledger_dir, state.epoch - 1)
    if prior.epoch < 0:
        raise ValueError(
            f"epoch {state.epoch} has no prior epoch to refresh from — "
            "night zero is init_state"
        )
    floor = compaction_floor(spark, state.ledger_dir)
    if floor is not None and prior.epoch < floor:
        raise ValueError(
            f"state ledger {state.ledger_dir!r} is compacted through "
            f"epoch {floor}; the as-of epoch {prior.epoch} view no "
            "longer exists (bounded retention) — refresh against the "
            "floor or a later epoch"
        )
    got = ledger_knobs(spark, state.ledger_dir)
    if knobs != got:
        raise ValueError(
            f"refresh knobs {knobs} differ from the state's knobs {got} "
            "(keep_langs, sample_pct, jaccard_threshold, max_bucket); "
            "carried outcomes are only valid under the state's semantics — "
            "re-run init_state to change knobs"
        )
    return tuple(read_state(spark, prior, t) for t in STATE_TABLES)


def _features(docs: DataFrame) -> DataFrame:
    """(doc_id, text_hash, raw_hash, quality_pass, pred_lang) — every
    content-derived per-doc feature, same expressions as batch curate
    (text_hash over normalized text feeds exact dedup; raw_hash is the
    byte-level change detector — a case-only edit must re-enter the
    pipeline even though its normalized hash is stable)."""
    hashed = docs.select(
        "doc_id",
        _md5(normalize_text(F.coalesce(F.col("text"), F.lit("")))).alias("text_hash"),
        content_fingerprint(["text"]).alias("raw_hash"),
    )
    return hashed.join(_quality_pass(docs), "doc_id").join(lang_id_per_doc(docs), "doc_id")


def _alive(feats: DataFrame, keep_langs: tuple[str, ...]):
    return F.col("quality_pass") & F.col("pred_lang").isin(*keep_langs) & F.col("exact_keep")


def init_state(
    spark: SparkSession,
    docs: DataFrame,
    state: LedgerState,
    keep_langs: tuple[str, ...] = ("en",),
    sample_pct: int = 100,
    jaccard_threshold: float = 0.8,
    max_bucket: int | None = None,
) -> DataFrame:
    """Night zero: full batch curation, landing the reusable state as
    ``state``'s epoch (every row is that epoch's "delta"; later
    nights refresh from it) and recording the ledger's knobs. Returns
    the audit (read back from the state)."""
    none_dead = docs.select("doc_id").limit(0)
    feats = _features(docs)
    keeper = feats.groupBy("text_hash").agg(F.min("doc_id").alias("keep_id"))
    feats = (
        feats.join(keeper, "text_hash")
        .withColumn("exact_keep", F.col("doc_id") == F.col("keep_id"))
        .drop("keep_id")
    )
    feats = _write_read(spark, state, "features", feats, none_dead)

    alive_ids = feats.filter(_alive(feats, keep_langs)).select("doc_id")
    bands = lsh_bands(minhash_signatures(docs.join(alive_ids, "doc_id", "left_semi")))
    bands = _write_read(spark, state, "bands", bands, none_dead)

    if max_bucket is not None:
        cand, _hot = lsh_pairs_capped(bands, max_bucket)
    else:
        cand = bucket_pairs(bands)
    verified = verify_near_pairs(
        cand.select("doc_a", "doc_b"),
        docs.join(alive_ids, "doc_id", "left_semi"),
        jaccard_threshold,
    )
    near = verified.select(F.col("doc_b").alias("doc_id")).distinct().withColumn(
        "near_drop", F.lit(True)
    )
    audit = feats.join(near, "doc_id", "left").select(
        "doc_id", outcome_ladder(keep_langs, sample_pct).alias("outcome")
    )
    # repartition(1), never coalesce(1), on local relations — the
    # coalesce form serializes 32 Python slices in one task, ~4 s of
    # fixed cost per write (see shards._write_meta)
    spark.createDataFrame(
        [knobs_row(keep_langs, sample_pct, jaccard_threshold, max_bucket)],
        _KNOBS_SCHEMA,
    ).repartition(1).write.mode("overwrite").parquet(f"{state.ledger_dir}/knobs")
    return _write_read(spark, state, "audit", audit, none_dead)


def refresh(
    spark: SparkSession,
    new_docs: DataFrame,
    state: LedgerState,
    keep_langs: tuple[str, ...] = ("en",),
    sample_pct: int = 100,
    jaccard_threshold: float = 0.8,
    max_bucket: int | None = None,
) -> tuple[DataFrame, dict[str, int]]:
    """One night of incremental curation: ``(audit, stats)`` for the
    new snapshot, refreshing epoch ``state.epoch - 1`` of the ledger
    into ``state``.

    Per-doc text work (features, signatures, shingles) touches ONLY
    delta docs, resurrected/demoted dedup members, and near-pair
    members in churned buckets; the corpus-wide operations are narrow
    ledger joins (ids + hashes).  ``stats`` reports exactly how much
    was recomputed — a no-op night reports zeros across the board
    (pinned in tests).  ``max_bucket`` applies the hot-bucket cap
    under CURRENT bucket populations (module docstring: population
    changes are always bucket churn, so cap flips land inside the
    affected set); it must match the knob the state was built with —
    mismatches fail fast via the state's knobs meta."""
    prior_feats, prior_bands, prior_audit = _prior_tables(
        spark, state, knobs_row(keep_langs, sample_pct, jaccard_threshold, max_bucket)
    )

    # -- 1. delta detection on the raw-byte fingerprint ---------------
    # Every small multi-consumer frame below is PINNED with an eager
    # localCheckpoint: delta_ids alone feeds five consumers, and lazy
    # composition would re-run the corpus fingerprint join (and later
    # the delta signature chain) once per consumer — measured at
    # sf0.1 with a 2% delta: 26.2 s lazy (2x the 13 s BATCH cost!)
    # vs 7.2 s pinned; the residual is ~25 small-job overheads that
    # amortize away at real corpus sizes. The
    # pinned frames are delta-sized (ids, band rows, pairs); the one
    # corpus-sized pin is fp, two hashes per doc, the frame the whole
    # night keys off. (The nightly orchestrator avoids even that via
    # refresh_night below, which derives fp from the state ledger.)
    new_fp = new_docs.select("doc_id", content_fingerprint(["text"]).alias("raw_hash"))
    old_fp = prior_feats.select("doc_id", F.col("raw_hash").alias("old_raw"))
    fp = new_fp.join(old_fp, "doc_id", "full_outer").localCheckpoint()
    delta_ids = fp.filter(
        F.col("old_raw").isNull()  # added
        | (F.col("raw_hash").isNotNull() & (F.col("raw_hash") != F.col("old_raw")))
    ).select("doc_id").localCheckpoint()
    removed_ids = fp.filter(F.col("raw_hash").isNull()).select("doc_id").localCheckpoint()

    def text_for(ids: DataFrame) -> DataFrame:
        return new_docs.join(ids.select("doc_id"), "doc_id", "left_semi").select(
            "doc_id", "text"
        )

    return _refresh_core(
        spark, text_for, delta_ids, removed_ids,
        prior_feats, prior_bands, prior_audit, state,
        keep_langs, sample_pct, jaccard_threshold, max_bucket,
    )


def _store_n_buckets(spark: SparkSession, store_dir: str) -> int | None:
    """The kept store's pinned bucket count, or None for a plain
    (non-init_store) parquet dir without the ``_meta`` sidecar."""
    if not iofs.has_parquet(spark, f"{store_dir}/_meta"):
        return None
    return spark.read.parquet(f"{store_dir}/_meta").head()["n_buckets"]


def _store_partitions_for(
    spark: SparkSession,
    store_dir: str,
    ids: DataFrame,
    n_buckets: int | None,
    buckets_read: set[int] | None = None,
) -> DataFrame:
    """The kept store pruned to the ``part_bucket`` partitions ``ids``
    map to — ALL rows of exactly those partitions (callers narrow
    further): the delta-proportional read unit (≤ |ids| of the store's
    n_buckets partitions; at 100 TB n_buckets is sized so a bucket is
    a cheap unit, init_store's contract). The bucket list is a
    driver-side collect of ≤ n_buckets ints, never of ids. Stores
    without the init_store bucket layout return the plain full read."""
    store = spark.read.parquet(store_dir)
    if n_buckets is None or "part_bucket" not in store.columns:
        return store
    buckets = sorted(
        int(r["part_bucket"])
        for r in ids.select(_store_bucket(n_buckets)).distinct().collect()
    )
    if buckets_read is not None:
        buckets_read.update(buckets)
    return store.filter(
        F.col("part_bucket").isin(buckets) if buckets else F.lit(False)
    )


def _pruned_store_text(
    spark: SparkSession,
    store_dir: str,
    ids: DataFrame,
    n_buckets: int | None,
    buckets_read: set[int] | None = None,
) -> DataFrame:
    """Point-read ``(doc_id, text)`` for ``ids`` from a
    bucket-partitioned kept store: :func:`_store_partitions_for` opens
    only the ids' partitions, then a semi-join narrows to the ids."""
    return (
        _store_partitions_for(spark, store_dir, ids, n_buckets, buckets_read)
        .select("doc_id", "text")
        .join(ids.select("doc_id"), "doc_id", "left_semi")
    )


def refresh_night(
    spark: SparkSession,
    tonight_docs: DataFrame,
    state: LedgerState,
    kept_store_dir: str,
    keep_langs: tuple[str, ...] = ("en",),
    sample_pct: int = 100,
    jaccard_threshold: float = 0.8,
    max_bucket: int | None = None,
) -> tuple[DataFrame, dict[str, int]]:
    """Delta-direct nightly refresh — the O(delta)-I/O entry point the
    production night uses (r9 verdict #1: the orchestrator used to
    materialize the FULL kept corpus to ``nights/<night>/snapshot``
    and ``refresh()`` then re-hashed every doc's text — an O(corpus)
    write + read + hash per night wrapped around a recompute that was
    already delta-proportional).

    Semantics are EXACTLY ``refresh()`` over the virtual snapshot
    ``kept_store ∖ tonight ∪ tonight``, but nothing corpus-sized is
    written, read or hashed:

    - delta detection joins tonight's fingerprints against the raw
      hashes ALREADY recorded in the prior epoch's ``features`` — no stable
      doc's text is hashed (a stable store doc's text is the text the
      state fingerprinted, by the store-apply contract);
    - the stable side of the snapshot is never materialized: stable
      ids come from the kept store's doc_id column (one narrow
      column-pruned scan — the exact ids the virtual snapshot holds),
      and stable TEXT is fetched per-id through the store's
      part_bucket partitions (``_pruned_store_text``), so text bytes
      read scale with the delta neighborhood, never the corpus; the
      stats report ``n_store_buckets_read``;
    - crash replay converges exactly as the materialized path did:
      a re-run after a crashed night's store applies sees the mutated
      store the same way ``refresh()`` saw the re-derived snapshot —
      tonight's rewritten docs ride tonight's frame, docs the crashed
      run dropped read as removed.
    """
    prior_feats, prior_bands, prior_audit = _prior_tables(
        spark, state, knobs_row(keep_langs, sample_pct, jaccard_threshold, max_bucket)
    )

    tonight = tonight_docs.select("doc_id", "text").localCheckpoint()
    tonight_ids = tonight.select("doc_id")
    # deliberately LAZY: at corpus scale this is billions of ids, and
    # its two consumers (the orphan gate, removed_ids) each cost one
    # column-pruned doc_id scan — far cheaper than pinning the column
    # in executor memory
    store_ids = spark.read.parquet(kept_store_dir).select("doc_id")

    # a store doc the state never fingerprinted cannot be carried and
    # cannot be hashed without the corpus text scan this entry point
    # exists to avoid — it means the store/state pair is out of step
    # (foreign store, manual edit): fail fast, never silently diverge.
    # Tonight's own ids are exempt: on a crashed-night REPLAY the store
    # already holds tonight's applied docs, and those are recomputed
    # from tonight's frame, never carried.
    orphans = store_ids.join(
        prior_feats.select("doc_id"), "doc_id", "left_anti"
    ).join(tonight_ids, "doc_id", "left_anti")
    n_orphans = orphans.count()
    if n_orphans:
        some = sorted(r["doc_id"] for r in orphans.limit(5).collect())
        raise ValueError(
            f"kept store {kept_store_dir!r} holds {n_orphans} doc(s) absent "
            f"from the prior state's features ledger (e.g. {some}); the "
            "store and state are out of step — run nightly-verify, or "
            "rebuild the state with init_state over the real corpus"
        )

    # delta detection from ledgers alone: tonight's docs are hashed
    # (O(tonight)); stable docs keep their recorded raw_hash; a prior
    # doc in neither the store nor tonight is removed — byte-for-byte
    # the ids refresh() derives by hashing the full snapshot.
    tonight_fp = tonight.select(
        "doc_id", content_fingerprint(["text"]).alias("raw_hash")
    )
    old_fp = prior_feats.select("doc_id", F.col("raw_hash").alias("old_raw"))
    fp = tonight_fp.join(old_fp, "doc_id", "left").localCheckpoint()
    delta_ids = (
        fp.filter(
            F.col("old_raw").isNull() | (F.col("raw_hash") != F.col("old_raw"))
        )
        .select("doc_id")
        .localCheckpoint()
    )
    removed_ids = (
        old_fp.select("doc_id")
        .join(store_ids, "doc_id", "left_anti")
        .join(tonight_ids, "doc_id", "left_anti")
        .localCheckpoint()
    )

    n_buckets = _store_n_buckets(spark, kept_store_dir)
    buckets_read: set[int] = set()

    def text_for(ids: DataFrame) -> DataFrame:
        wanted = ids.select("doc_id")
        own = tonight.join(wanted, "doc_id", "left_semi")
        stable = wanted.join(tonight_ids, "doc_id", "left_anti")
        return own.unionByName(
            _pruned_store_text(
                spark, kept_store_dir, stable, n_buckets, buckets_read
            )
        )

    audit, stats = _refresh_core(
        spark, text_for, delta_ids, removed_ids,
        prior_feats, prior_bands, prior_audit, state,
        keep_langs, sample_pct, jaccard_threshold, max_bucket,
    )
    stats["n_store_buckets_read"] = len(buckets_read)
    return audit, stats


def _refresh_core(
    spark: SparkSession,
    text_for,
    delta_ids: DataFrame,
    removed_ids: DataFrame,
    prior_feats: DataFrame,
    prior_bands: DataFrame,
    prior_audit: DataFrame,
    state: LedgerState,
    keep_langs: tuple[str, ...],
    sample_pct: int,
    jaccard_threshold: float,
    max_bucket: int | None,
) -> tuple[DataFrame, dict[str, int]]:
    """Shared refresh body: steps 2–7 of the incremental night, with
    text access abstracted behind ``text_for(ids) -> (doc_id, text)``
    so the generic entry (full snapshot frame) and the delta-direct
    nightly entry (tonight ∪ pruned store point-reads) run the SAME
    churn logic — equivalence between the two is pinned row-for-row in
    tests/test_refresh_delta.py."""
    gone_ids = delta_ids.unionByName(removed_ids)  # rows whose OLD state is void

    # -- 2. features: recompute delta, carry the rest -----------------
    feats_delta = _features(text_for(delta_ids)).localCheckpoint()
    feats_stable = prior_feats.drop("exact_keep").join(gone_ids, "doc_id", "left_anti")

    # -- 3. exact-dedup keeper churn, per affected hash ---------------
    affected_hashes = (
        feats_delta.select("text_hash")
        .unionByName(
            prior_feats.join(gone_ids, "doc_id", "left_semi").select("text_hash")
        )
        .distinct()
        .localCheckpoint()
    )
    ledger = feats_stable.select("doc_id", "text_hash").unionByName(
        feats_delta.select("doc_id", "text_hash")
    )
    new_keepers = (
        ledger.join(affected_hashes, "text_hash", "left_semi")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_id"))
    )
    affected_rows = feats_stable.unionByName(feats_delta).join(
        new_keepers, "text_hash", "left_semi"
    )
    recomputed = (
        affected_rows.join(new_keepers, "text_hash")
        .withColumn("exact_keep", F.col("doc_id") == F.col("keep_id"))
        .drop("keep_id")
    )
    # ledger delta = exactly the recomputed rows (delta-bounded by the
    # affected-hash semi-joins above; a recomputed row that happens to
    # equal its prior value shadows equal content) + tombstones for
    # removed docs; an untouched hash's rows keep their prior keeper
    # decision, carried BY NOT BEING WRITTEN
    feats_new = _write_read(spark, state, "features", recomputed, removed_ids)

    # -- 4. aliveness churn (quality/lang flips ride delta_ids;
    #       exact flips can hit ANY doc in an affected hash group) ----
    alive_new = feats_new.filter(_alive(feats_new, keep_langs)).select("doc_id")
    alive_old = prior_feats.filter(_alive(prior_feats, keep_langs)).select("doc_id")
    enterers = alive_new.join(alive_old, "doc_id", "left_anti").localCheckpoint()
    leavers = alive_old.join(alive_new, "doc_id", "left_anti").localCheckpoint()

    # -- 5. band churn ------------------------------------------------
    # state band rows void for: delta docs (content changed), leavers,
    # removed docs. Fresh rows needed for: alive delta docs + enterers.
    void_ids = gone_ids.unionByName(leavers).distinct()
    need_bands = (
        alive_new.join(delta_ids, "doc_id", "left_semi")
        .unionByName(enterers)
        .distinct()
        .localCheckpoint()
    )
    fresh_bands = lsh_bands(
        minhash_signatures(text_for(need_bands))
    ).localCheckpoint()
    # ledger delta: a re-banded doc writes its FULL current row-set
    # (lsh_bands emits every band per doc, so the newest epoch fully
    # shadows the old); a voided doc with no fresh rows tombstones —
    # but only if it HAD prior rows (never-alive delta docs don't)
    band_dead = (
        void_ids.join(fresh_bands.select("doc_id"), "doc_id", "left_anti")
        .join(prior_bands.select("doc_id"), "doc_id", "left_semi")
        .distinct()
    )
    bands_new = _write_read(spark, state, "bands", fresh_bands, band_dead)
    churned = (
        prior_bands.join(void_ids, "doc_id", "left_semi")
        .select("band", "band_hash")
        .unionByName(fresh_bands.select("band", "band_hash"))
        .distinct()
    )

    # -- 6. near outcomes for affected docs only ----------------------
    affected = (
        bands_new.join(churned, ["band", "band_hash"], "left_semi")
        .select("doc_id")
        .distinct()
        .localCheckpoint()
    )
    cand_buckets = (
        bands_new.join(affected, "doc_id", "left_semi")
        .select("band", "band_hash")
        .distinct()
    )
    # full membership of the candidate buckets — bands_new holds every
    # row of each bucket, so the group-by below counts the GLOBAL
    # population (delta-bounded work: the semi-join keeps only the
    # affected docs' buckets)
    bucket_rows = bands_new.join(cand_buckets, ["band", "band_hash"], "left_semi")
    n_hot = 0
    n_hot_global = 0
    if max_bucket is not None:
        # GLOBAL hot count over the refreshed band ledger — the number
        # batch ``lsh_pairs_capped`` reports on the same snapshot, so
        # night-over-night stats stay comparable between batch and
        # refresh runs (r8 verdict: the touched-only count below reads
        # as "cooling buckets" to an operator tracking the batch stat).
        # One map-side-combinable count over the narrow ledger.
        n_hot_global = (
            bands_new.groupBy("band", "band_hash")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .filter(F.col("n_docs") > max_bucket)
            .count()
        )
        hot = (
            bucket_rows.groupBy("band", "band_hash")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .filter(F.col("n_docs") > max_bucket)
            .select("band", "band_hash")
            .localCheckpoint()
        )
        n_hot = hot.count()
        # same broadcast anti-join as lsh_pairs_capped: hot buckets
        # never enter the quadratic pair explode
        bucket_rows = bucket_rows.join(
            F.broadcast(hot), ["band", "band_hash"], "left_anti"
        )
    pairs = (
        bucket_pairs(bucket_rows)
        .select("doc_a", "doc_b")
        .join(affected.withColumnRenamed("doc_id", "doc_b"), "doc_b", "left_semi")
        .localCheckpoint()
    )
    member_ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    verified = verify_near_pairs(
        pairs, text_for(member_ids), jaccard_threshold
    ).localCheckpoint()
    near_affected = verified.select(F.col("doc_b").alias("doc_id")).distinct()

    # stable alive docs keep their prior near flag (outcome==near_dup)
    near_carry = (
        prior_audit.filter(F.col("outcome") == DROP_NEAR)
        .select("doc_id")
        .join(affected, "doc_id", "left_anti")
        .join(alive_new, "doc_id", "left_semi")
    )
    near = (
        near_affected.unionByName(near_carry)
        .distinct()
        .withColumn("near_drop", F.lit(True))
    )

    # -- 7. recompose the audit with the batch ladder -----------------
    audit = feats_new.join(near, "doc_id", "left").select(
        "doc_id", outcome_ladder(keep_langs, sample_pct).alias("outcome")
    )
    # outcome is a deterministic function of a doc's features row and
    # its near flag, so it can only change for docs whose features
    # were recomputed or whose bucket neighborhood churned (near flags
    # flip only inside `affected`; near_carry preserves the rest) —
    # the ledger delta is that union, tombstones are the removed docs
    audit_changed = (
        recomputed.select("doc_id").unionByName(affected).distinct()
    )
    audit = _write_read(
        spark,
        state,
        "audit",
        audit.join(audit_changed, "doc_id", "left_semi"),
        removed_ids,
    )

    stats = {
        "n_delta": delta_ids.count(),
        "n_removed": removed_ids.count(),
        "n_affected_hashes": affected_hashes.count(),
        "n_rebanded": need_bands.count(),
        "n_near_affected": affected.count(),
        "n_pairs_verified": verified.count(),
        # touched = hot buckets among the CANDIDATE buckets this night
        # re-examined (delta-bounded); global = every hot bucket in the
        # refreshed ledger, comparable to batch lsh_pairs_capped's
        # report. touched <= global by construction.
        "n_hot_buckets_touched": n_hot,
        "n_hot_buckets_global": n_hot_global,
    }
    return audit, stats


# --- incremental kept-store materialization --------------------------

N_STORE_BUCKETS = 64


def _kept(spark: SparkSession, state: LedgerState) -> DataFrame:
    return (
        read_state(spark, state, "audit")
        .filter(F.col("outcome") == KEPT)
        .select("doc_id")
    )


def kept_churn(
    spark: SparkSession, state: LedgerState
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """``(entered, left, rewritten)`` doc_id frames describing how the
    KEPT set changed across the refresh into ``state`` — the single
    churn computation every downstream serving store keys off
    (kept-corpus parquet, postings index, IVF vector store):
    entered/left are the kept-set symmetric difference (two anti-joins
    — a union-exceptAll would double-count common ids), rewritten are
    docs kept on BOTH nights whose raw content hash changed (features
    ledger — no text ever compared). Callers maintaining SEVERAL
    stores from one night compute this once (pinned) and pass it via
    each apply's ``churn`` param.

    Read from the night's delta partitions: a doc entering/leaving the
    kept set has a changed outcome (in the audit's ``epoch=N``); a
    rewritten doc has a changed raw_hash (in the features'
    ``epoch=N``), by the ledger's write contract. The prior side reads
    only the changed docs' history (broadcast semi-join pushed into
    the scan), so the whole computation is O(tonight's delta), not
    O(corpus) — equivalence to a diff of two full as-of views is
    pinned in tests/test_state_ledger.py."""
    from pyspark.sql import Window

    def _delta_and_prior(table: str, cols: list[str]):
        raw = spark.read.parquet(state.table_dir(table))
        tonight = raw.filter(F.col("epoch") == F.lit(state.epoch))
        ids = tonight.select("doc_id").distinct()
        prior_rows = raw.filter(F.col("epoch") < F.lit(state.epoch)).join(
            ids, "doc_id", "left_semi"
        )
        # latest-per-doc via max-over-window: one doc_id shuffle
        # instead of the groupBy-max + self-join pair (the read_state
        # formulation — same rationale)
        latest = F.max("epoch").over(Window.partitionBy("doc_id"))
        prior = (
            prior_rows.withColumn("__latest", latest)
            .filter((F.col("epoch") == F.col("__latest")) & ~F.col("_deleted"))
            .select("doc_id", *cols)
        )
        return tonight, prior

    a_new, a_old = _delta_and_prior("audit", ["outcome"])
    kept_now = a_new.filter(
        ~F.col("_deleted") & (F.col("outcome") == KEPT)
    ).select("doc_id")
    kept_before = a_old.filter(F.col("outcome") == KEPT).select("doc_id")
    entered = kept_now.join(kept_before, "doc_id", "left_anti")
    left = kept_before.join(kept_now, "doc_id", "left_anti")

    f_new, f_old = _delta_and_prior("features", ["raw_hash"])
    rewritten = (
        f_new.filter(~F.col("_deleted"))
        .select("doc_id", "raw_hash")
        .join(f_old.select("doc_id", F.col("raw_hash").alias("old_raw")), "doc_id")
        .filter(F.col("raw_hash") != F.col("old_raw"))
        .join(kept_now, "doc_id", "left_semi")
        .join(kept_before, "doc_id", "left_semi")
        .select("doc_id")
    )
    return entered, left, rewritten


def _store_bucket(n_buckets: int):
    return (F.col("doc_id") % n_buckets).cast("int").alias("part_bucket")


def init_store(
    spark: SparkSession,
    docs: DataFrame,
    state: LedgerState,
    store_dir: str,
    n_buckets: int = N_STORE_BUCKETS,
) -> None:
    """Night zero of the curated-corpus store: land every kept doc
    under ``store_dir`` partitioned by a deterministic doc_id bucket.
    The bucket is the REWRITE UNIT for refresh nights: at 100 TB,
    ``n_buckets`` is sized so one bucket is an acceptable rewrite
    (churning b buckets rewrites b/n of the store, never all of it)."""
    audit = read_state(spark, state, "audit")
    kept = docs.join(
        audit.filter(F.col("outcome") == KEPT), "doc_id", "left_semi"
    ).withColumn("part_bucket", _store_bucket(n_buckets))
    kept.write.mode("overwrite").partitionBy("part_bucket").parquet(store_dir)
    # _-prefixed dir => invisible to Spark reads of store_dir; pins the
    # bucket count so a later apply with a different n_buckets (which
    # would mismap docs to partitions and strand stale copies) fails
    # fast instead of corrupting the store
    spark.createDataFrame([(n_buckets,)], ["n_buckets"]).repartition(
        1
    ).write.mode("overwrite").parquet(f"{store_dir}/_meta")


def apply_refresh_to_store(
    spark: SparkSession,
    new_docs: DataFrame,
    state: LedgerState,
    store_dir: str,
    n_buckets: int = N_STORE_BUCKETS,
    churn: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> dict[str, int]:
    """Bring the materialized kept-store in line with the refreshed
    ``state``, rewriting ONLY churned buckets via dynamic partition
    overwrite — untouched bucket partitions keep their files byte for
    byte (pinned in tests via the file listing).

    A bucket churns when any of its docs changed kept-membership
    between the prior epoch's audit and tonight's, or stayed kept with different content
    (raw_hash from the features state — no text comparison). Returns
    ``{"n_churned_docs": ..., "n_buckets_rewritten": ...}``."""
    stored = spark.read.parquet(f"{store_dir}/_meta").head()["n_buckets"]
    if stored != n_buckets:
        raise ValueError(
            f"store was initialized with n_buckets={stored}, got {n_buckets}: "
            "a mismatched bucket count would rewrite the wrong partitions"
        )
    entered, left, rewritten = churn or kept_churn(spark, state)
    churned = (
        entered.unionByName(left).unionByName(rewritten).distinct().localCheckpoint()
    )
    buckets = churned.select(_store_bucket(n_buckets)).distinct().localCheckpoint()
    n_docs, n_buckets_hit = churned.count(), buckets.count()
    if n_buckets_hit:
        # same guard as refresh_ivf_store: a delta frame missing store
        # payload columns would rewrite churned buckets with a narrower
        # schema than their untouched neighbors
        store_cols = [
            c for c in spark.read.parquet(store_dir).columns if c != "part_bucket"
        ]
        missing = set(store_cols) - set(new_docs.columns)
        if missing:
            raise ValueError(
                f"new_docs lacks store columns {sorted(missing)}; the "
                "rewrite would drop them for every row in a churned bucket"
            )
        rows = (
            new_docs.select(*store_cols)
            .join(_kept(spark, state), "doc_id", "left_semi")
            .withColumn("part_bucket", _store_bucket(n_buckets))
            .join(buckets, "part_bucket", "left_semi")
            .localCheckpoint()
        )
        rows.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("part_bucket").parquet(store_dir)
        # dynamic overwrite only replaces partitions PRESENT in the
        # written data — a churned bucket whose kept set emptied out
        # (all its docs removed/dropped) must be vacated explicitly
        still_populated = rows.select("part_bucket").distinct()
        emptied = [
            r["part_bucket"]
            for r in buckets.join(
                still_populated, "part_bucket", "left_anti"
            ).collect()
        ]
        for b in emptied:
            iofs.delete(spark, f"{store_dir}/part_bucket={b}")
    return {"n_churned_docs": n_docs, "n_buckets_rewritten": n_buckets_hit}


def night_snapshot_source(
    spark: SparkSession,
    tonight: DataFrame,
    kept_store_dir: str,
    churn: tuple[DataFrame, DataFrame, DataFrame],
) -> DataFrame:
    """The store-rewrite source for a delta-direct night: tonight's
    docs plus the kept store's CHURNED part_bucket partitions only.
    Over the churned buckets (the only rows ``apply_refresh_to_store``
    writes) this is row-equal to the full virtual snapshot
    ``kept_store ∖ tonight ∪ tonight`` — but it reads exactly the
    partitions the apply is about to rewrite, never the corpus."""
    entered, left, rewritten = churn
    churned = entered.unionByName(left).unionByName(rewritten).distinct()
    tonight = tonight.select("doc_id", "text")
    store = _store_partitions_for(
        spark, kept_store_dir, churned, _store_n_buckets(spark, kept_store_dir)
    )
    stable = store.select("doc_id", "text").join(
        tonight.select("doc_id"), "doc_id", "left_anti"
    )
    return stable.unionByName(tonight)


# --- serving-store bridges: one snapshot diff drives every store ------


def init_postings_from_state(
    spark: SparkSession, docs: DataFrame, state: LedgerState, postings_dir: str
) -> None:
    """Night zero of the retrieval index: BM25 postings over exactly
    the kept docs (operators/retrieval.build_postings_store)."""
    from radares_spark.operators.retrieval import build_postings_store

    build_postings_store(
        docs.join(_kept(spark, state), "doc_id", "left_semi"), postings_dir
    )


def apply_refresh_to_postings_store(
    spark: SparkSession,
    new_docs: DataFrame,
    state: LedgerState,
    kept_store_dir: str,
    postings_dir: str,
    night: str | None = None,
    churn: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> dict[str, int]:
    """Bring the BM25 postings store in line with one night's kept-set
    churn, rewriting only touched term buckets.

    Removal from an inverted index needs the removed docs AS INDEXED
    (retrieval.refresh_postings_store's contract — removal by bare id
    is a full index scan by construction), and the only place last
    night's kept text persists is the KEPT STORE, so this MUST run
    BEFORE ``apply_refresh_to_store`` rewrites it for the same night
    (the CLI orders the three stores accordingly). Changed docs appear
    on both sides: old text removed, new text added. ``night`` is the
    apply-once idempotency tag (refresh_postings_store's meta ladder) —
    pass it when a caller may re-run a completed night (the nightly
    orchestrator's crash contract)."""
    from radares_spark.operators.retrieval import refresh_postings_store

    entered, left, rewritten = churn or kept_churn(spark, state)
    remove_ids = left.unionByName(rewritten).distinct()
    add_ids = entered.unionByName(rewritten).distinct()
    # pruned point-read of the removed docs' OLD text: only the
    # part_bucket partitions holding remove_ids are opened (plain
    # semi-join scan for stores without the init_store layout)
    remove_docs = _pruned_store_text(
        spark, kept_store_dir, remove_ids, _store_n_buckets(spark, kept_store_dir)
    )
    add_docs = new_docs.select("doc_id", "text").join(
        add_ids, "doc_id", "left_semi"
    )
    return refresh_postings_store(
        spark,
        postings_dir,
        add_docs=add_docs,
        remove_docs=remove_docs,
        night=night,
    )


def _kept_vectors(docs: DataFrame, dim: int) -> DataFrame:
    """(vec_id, v, nrm) hashed_tf vectors for IVF serving — hashed_tf
    L2-normalizes by construction, so nrm is exactly 1.0 (the
    test_embed bridge idiom)."""
    from radares_spark.operators.embed import hashed_tf

    return hashed_tf(docs, dim).select(
        F.col("doc_id").alias("vec_id"),
        F.col("embedding").alias("v"),
        F.lit(1.0).alias("nrm"),
    )


def init_ivf_from_state(
    spark: SparkSession,
    docs: DataFrame,
    state: LedgerState,
    ivf_dir: str,
    n_cells: int = 8,
) -> None:
    """Night zero of the ANN serving store: hashed_tf vectors of the
    kept docs through k-means training into the partition-pruned IVF
    layout with refresh sidecars (similarity.write_ivf_store)."""
    from radares_spark.operators.embed import EMBED_DIM
    from radares_spark.operators.similarity import build_ivf_index, write_ivf_store

    normed = _kept_vectors(
        docs.join(_kept(spark, state), "doc_id", "left_semi"), EMBED_DIM
    ).localCheckpoint()
    assignment, centroids = build_ivf_index(normed, n_cells=n_cells, dim=EMBED_DIM)
    write_ivf_store(spark, normed, assignment, centroids, ivf_dir)


def apply_refresh_to_ivf_store(
    spark: SparkSession,
    new_docs: DataFrame,
    state: LedgerState,
    ivf_dir: str,
    churn: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> dict[str, int]:
    """Bring the IVF store in line with one night's kept-set churn —
    delta vectors (entered + rewritten kept docs, re-embedded from the
    NEW snapshot) assigned against the store's frozen centroids,
    removed ids (left + rewritten) dropped; only affected cell
    partitions rewrite (similarity.refresh_ivf_store). Needs no old
    content — vector removal is by id — so it has no ordering
    dependency on the kept store."""
    from radares_spark.operators.embed import EMBED_DIM
    from radares_spark.operators.similarity import refresh_ivf_store

    entered, left, rewritten = churn or kept_churn(spark, state)
    delta = _kept_vectors(
        new_docs.join(
            entered.unionByName(rewritten).distinct(), "doc_id", "left_semi"
        ),
        EMBED_DIM,
    )
    removed = left.unionByName(rewritten).distinct().withColumnRenamed(
        "doc_id", "vec_id"
    )
    return refresh_ivf_store(spark, delta, removed, ivf_dir)
