"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Each query is materialized via the no-op sink (full result produced,
nothing collected to the driver):

- ``queries``  — MEDIAN of ``warm_reps`` post-cold wall seconds:
  steady-state engine throughput, which is what scales to a
  long-running cluster job;
- ``cold_s``   — first-run seconds, which on a fresh local JVM are
  dominated by whole-stage-codegen compilation + JIT (tens of seconds
  for wide expressions) and say little about per-row cost. Cold is
  also SINGLE-SHOT by definition, so a one-off environment event (the
  container's root disk stalls for seconds at random — the reason
  shuffle dirs live on tmpfs, see session.py) lands entirely in one
  cold number: a 12x cold outlier with a flat warm median was chased
  in r5 and did not reproduce in three controlled re-runs (3.5-3.6 s
  vs 39 s). Judge cold_s with that in mind; warm medians are the
  signal.

``value`` is the warm total.

Calibration (r4 verdict ask): the same physical machine does not run
the same speed every day (container co-tenancy, page cache, thermal
state), and r2->r4 showed byte-identical plans drifting 1.3-1.9x.
``calibration_s`` is the median warm time of a FROZEN constant plan —
a lineitem scan-aggregate that has never changed and never will — so
any round-over-round comparison can be normalized:

    value_r5 / calibration_r5  vs  value_r6 / calibration_r6

``value_per_calibration`` ships that ratio precomputed; it is the
machine-drift-free number. If calibration_s itself moved between
rounds, the environment moved, not the engine.

Per-query anchor normalization (r11 verdict #4): the two anchors can
drift APART under co-tenancy (the r11 driver session's CPU anchor sat
at 2.6x its prior value while the scan anchor moved 3%, inflating
every hash/LM-heavy query 3-6x in the raw walls), so a single shared
divisor over- or under-corrects per query. Each timed query is
therefore assigned the anchor matching its dominant cost
(``query_anchor``): hash/string/vector/LM kernels (the dedup_ /
text_ / corpus_ / similarity_ / shards_ / crawl_ / url_ /
incremental_ / multimodal_ families) normalize by the CPU anchor;
scan-shuffle-join plans (TPC-H q*, window/calendar/events/radar/asof/
range/json/scalar relational families) by the scan anchor.
``queries_per_anchor`` ships wall / own-anchor per query and
``value_per_anchor`` the headline total of those ratios — the numbers
a noisy session can be read by WITHOUT a judge re-run.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F  # noqa: E402

from radares_spark.plans import REGISTRY, radar  # noqa: E402
from radares_spark.session import DEFAULT_CPUS, DEFAULT_SF_DIR, get_spark  # noqa: E402

WARM_REPS = 3  # median of this many post-cold runs per query
CALIBRATION_REPS = 5

# Headline set: one per operator family, weighted toward shuffle-heavy
# plans (the ones that matter at scale). This list is FROZEN across
# rounds so ``value`` stays round-over-round comparable; radar_p85 is
# no longer a registered query (merged into radar_stats_suite) but the
# identical plan is kept as a library function for this purpose.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_nation_revenue",
    "q7_nation_volume",
    "q18_large_orders",
    "window_topk_parts_per_brand",
    "calendar_gap_fill_orders",
    "events_15min_window",
    "radar_histogram_build",
    "radar_p85",
    "dedup_exact",
    "dedup_minhash_pairs",
    "similarity_cosine_topk",
    "text_quality_score",
]

# Newest heavy plans (r3 LSH/jaccard/sessionize/asof; r4 semantic
# dedup + duplicate-span detection). Timed identically and reported in
# ``queries``/``extra_total`` but NOT in ``value``, which remains the
# frozen-14 total.
EXTRA = [
    "dedup_embedding_lsh",
    "dedup_ngram_jaccard",
    "events_sessionize",
    "asof_join_error_click",
    "dedup_semantic",
    "text_dup_spans",
    "corpus_dsir_select",
    "incremental_admission_audit",  # driver-registered r5
    "text_dup_span_removal",  # r5: substring-dedup transform stage
    "corpus_weighted_sample",  # r5: Efraimidis-Spirakis draw
    "corpus_pack_emit",  # r5: packed-sequence materialization
    "corpus_bigram_logprob",  # r5: conditional LM score
    "text_longest_dup_span",  # r5: span-length threshold signal
    "crawl_pipeline_audit",  # r6: flagship e2e crawl oracle, driver-registered
    "text_winnow_pairs",  # r6: MOSS match stage (fingerprint pair formation)
    "url_incremental_audit",  # r6: cross-run URL ledger admission
    "text_hash_embed_4k",  # r7: feature-hash embeddings at production dim 4096
    "text_bpe_encode",  # r7: 64-merge BPE train (cold) + encode join (warm)
    "corpus_snapshot_diff",  # r7: recrawl delta via narrow fingerprint join
    "text_bm25_topk",  # r7: Okapi BM25 ranked retrieval
    "text_hybrid_rrf_topk",  # r7: BM25 + sparse-cosine RRF fusion
    "shards_pack",  # r8: token-id encode + fixed-ctx sequence packing
    "shards_manifest_audit",  # r9: driver-registered manifest audit
    "corpus_kn_bigram_logprob",  # r9: interpolated Kneser-Ney LM score
    "corpus_kn_trigram_logprob",  # r9: recursive KN trigram chain
    "text_chunk_windows",  # r11: overlapping context-window chunking
    "events_drift_psi",  # r11: per-bucket PSI drift monitor
]


def _text_hash_embed_4k(spark, sf_dir: str):
    """hashed_tf at dim 4096 (the production ANN-bridge shape, not the
    dim-16 oracle spec): times the r7 Arrow scatter assembly — the JVM
    map-probe form this replaced never finished at this dim."""
    from radares_spark.io.tables import spread
    from radares_spark.operators.embed import hashed_tf

    # spread(): parallelize the Arrow scatter over a one-split corpus
    # (interleaved A/B at sf0.1: 1.67 -> 1.25 s, rows identical)
    docs = spread(spark, sf_dir, "documents").select("doc_id", "text")
    return hashed_tf(docs, dim=4096)

def _text_bpe_encode(spark, sf_dir: str):
    """The production tokenizer path end to end: train a 64-merge BPE
    table on the corpus (batched-disjoint trainer) and encode every
    document through the word-table dictionary join. Training
    localCheckpoints, so the pin spy flags this plan: COLD times
    train+encode, WARM times the encode join alone — exactly the
    steady-state split (a real deployment trains once, encodes every
    batch)."""
    from radares_spark.io.tables import spread
    from radares_spark.operators.bpe import bpe_encode, train_bpe_batched, word_counts

    # spread(): one-split corpus single-threads the encode front
    # (interleaved A/B at sf0.1: 0.85 -> 0.78 s warm, rows identical)
    docs = spread(spark, sf_dir, "documents").select("doc_id", "text")
    merges, word_syms, _rounds = train_bpe_batched(
        word_counts(docs), n_merges=64, batch_size=16
    )
    return bpe_encode(docs, word_syms, merges=merges)


def _shards_pack(spark, sf_dir: str):
    """The terminal training-shard stage at production shape: 64-merge
    BPE train (localCheckpoints -> pin-spy-flagged; a deployment
    trains once), then integer-id encoding resolved at the
    DISTINCT-WORD tier + fixed-ctx sequence packing via the two-phase
    bucketed prefix sum. WARM times encode+pack alone — the
    steady-state nightly shards-append minus store I/O."""
    from radares_spark.io.tables import load_table
    from radares_spark.operators.bpe import train_bpe_batched, word_counts
    from radares_spark.pipeline.shards import encode_ids, pack_ids

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    merges, word_syms, _rounds = train_bpe_batched(
        word_counts(docs), n_merges=64, batch_size=16
    )
    return pack_ids(encode_ids(docs, word_syms, merges))


# families whose warm cost is dominated by JVM hash/string/vector/LM
# kernels rather than the parquet scan+shuffle — normalized by the CPU
# anchor; everything else by the scan anchor (see module docstring)
CPU_ANCHORED_PREFIXES = (
    "dedup_",
    "similarity_",
    "text_",
    "corpus_",
    "shards_",
    "crawl_",
    "url_",
    "incremental_",
    "multimodal_",
)


def _anchor_for(name: str) -> str:
    return "cpu" if name.startswith(CPU_ANCHORED_PREFIXES) else "scan"


LIBRARY_PLANS = {
    "radar_p85": radar.radar_p85,
    # moved out of the driver window (radar_bins_long covers it
    # transitively) but frozen here for round-over-round comparability
    "radar_histogram_build": radar.radar_histogram_build,
    "text_hash_embed_4k": _text_hash_embed_4k,
    "text_bpe_encode": _text_bpe_encode,
    "shards_pack": _shards_pack,
}


def _late_library_plans():
    # library-tier heavies (not in REGISTRY; specs in plans/library.py):
    # resolve EVERY timed name that isn't driver-registered, so adding
    # a query to EXTRA can never KeyError the run again
    from radares_spark.plans.library import ALL_LIBRARY_SPECS

    return {
        name: ALL_LIBRARY_SPECS[name].fn
        for name in HEADLINE + EXTRA
        if name not in REGISTRY and name in ALL_LIBRARY_SPECS
    }


def _materialize(df) -> None:
    """The one definition of 'run the query': full result produced via
    the noop sink, nothing collected to the driver."""
    df.write.format("noop").mode("overwrite").save()


def _noop_time(df) -> float:
    t0 = time.perf_counter()
    _materialize(df)
    return time.perf_counter() - t0


def _calibration_plan(spark, sf_dir: str):
    """FROZEN calibration anchor — DO NOT CHANGE, EVER: its whole value
    is being byte-identical across rounds. A plain lineitem scan +
    ungrouped aggregate: scan-bound, shuffle-free, no joins, no window
    — it measures the machine (disk/page-cache/JIT/CPU), not the
    engine, so its drift between rounds is pure environment drift."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    return li.agg(
        F.sum("l_quantity").alias("a"),
        F.sum("l_extendedprice").alias("b"),
        F.avg("l_discount").alias("c"),
        F.count(F.lit(1)).alias("d"),
    )


def _construct_with_pin_spy(fn, spark, sf_dir):
    """Build the query frame while recording whether construction called
    ``DataFrame.localCheckpoint`` anywhere in its lineage (the crawl
    curation and incremental admission plans pin their stages). For
    such plans the WARM median measures a
    re-read of the pinned rows, NOT the pipeline — the honest
    throughput number is ``cold_s``, where construction (and therefore
    the pinned stages' real work) is inside the timer. The detected
    names ship in the ``pinned`` key so a reader never quotes a
    checkpoint-read as pipeline throughput (r6 verdict honesty item #1).
    Detection is dynamic so any future pinned plan is flagged without
    touching this file.

    Both the abstract ``pyspark.sql.DataFrame`` AND the concrete
    ``pyspark.sql.classic.dataframe.DataFrame`` are patched: Spark 4's
    classic class OVERRIDES localCheckpoint, so patching only the base
    never fires (verified empirically — the base-only spy reported
    zero pins against three known pinned plans)."""
    targets = []
    from pyspark.sql import DataFrame as _Base

    targets.append(_Base)
    try:
        from pyspark.sql.classic.dataframe import DataFrame as _Classic

        targets.append(_Classic)
    except ImportError:  # older pyspark: no classic submodule
        pass

    calls: list[int] = []
    origs = {t: t.__dict__.get("localCheckpoint") for t in targets}

    def make_spy(orig):
        def spy(self, *a, **k):
            calls.append(1)
            return orig(self, *a, **k)

        return spy

    for t, orig in origs.items():
        if orig is not None:
            t.localCheckpoint = make_spy(orig)
    try:
        df = fn(spark, sf_dir)
    finally:
        for t, orig in origs.items():
            if orig is not None:
                t.localCheckpoint = orig
    return df, bool(calls)


def _calibration_cpu_plan(spark):
    """FROZEN CPU anchor — DO NOT CHANGE, EVER. md5 over an in-memory
    range: zero I/O, so together with the scan anchor it separates
    disk-speed drift from CPU drift (a same-session pair of runs
    showed the scan anchor moving 55% while CPU-bound queries moved
    ~10% — one anchor alone over- or under-corrects)."""
    return (
        spark.range(0, 2_000_000)
        .select(F.md5(F.col("id").cast("string")).alias("h"))
        .agg(F.count(F.lit(1)).alias("n"), F.max("h").alias("m"))
    )


STREAM_BATCHES = 4  # landed files => micro-batches (maxFilesPerTrigger=1)


def _bench_nightly_refresh(spark, sf_dir: str) -> dict:
    """The delta-direct nightly refresh (pipeline/refresh.py
    ``refresh_night``) timed as corpus-nightly actually runs it — the
    WHOLE night after crawl (r10 verdict #3: the old window omitted
    the postings and IVF applies): delta detection against the delta
    STATE LEDGER (the r11 production layout), delta-only
    feature/band/near recompute with stable text point-read through
    the store's bucket partitions, kept-churn, and all three store
    applies (postings -> IVF -> kept store). Night-zero setup
    (init_state + the three store inits) is EXCLUDED — a deployment
    initializes once and refreshes forever.

    TWO delta points (~2% and ~20% of residents) pin the
    fixed-overhead amortization the r10 verdict asked to demonstrate:
    at toy scale a night is almost all fixed scheduler/commit cost —
    140 small Spark jobs inside ``refresh_night`` plus about 148 for
    the rest of the night (the excluded night-zero setup is 130) — so
    rows/s at a tiny delta reads alarmingly low; the 10x point plus
    the solved-out ``fixed_night_s_est`` / ``marginal_ms_per_row``
    show the floor amortizing (at a real corpus delta the marginal
    term dominates).
    ``n_store_buckets_read`` stays the structural I/O proof — it
    scales with the delta neighborhood, never the corpus."""
    import shutil
    import tempfile

    from radares_spark.pipeline.refresh import (
        apply_refresh_to_ivf_store,
        apply_refresh_to_postings_store,
        apply_refresh_to_store,
        init_ivf_from_state,
        init_postings_from_state,
        init_state,
        init_store,
        kept_churn,
        night_snapshot_source,
        refresh_night,
    )
    from radares_spark.pipeline.state_ledger import LedgerState

    root = tempfile.mkdtemp(prefix="radares_bench_refresh_")
    try:
        docs = (
            spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
            .select("doc_id", "text")
        )
        led = os.path.join(root, "state_ledger")
        store = os.path.join(root, "store")
        postings = os.path.join(root, "postings")
        ivf = os.path.join(root, "ivf")
        base = LedgerState(led, 0)
        init_state(spark, docs, base)
        init_store(spark, docs, base, store)
        init_postings_from_state(spark, docs, base, postings)
        init_ivf_from_state(spark, docs, base, ivf)
        n_resident = docs.count()

        def night(idx: int, mod: int, tag: str) -> dict:
            tonight = (
                docs.filter(F.col("doc_id") % mod == 0)
                .select(
                    "doc_id",
                    F.concat(
                        F.col("text"), F.lit(f" edit {tag}")
                    ).alias("text"),
                )
                .unionByName(
                    docs.filter(F.col("doc_id") % mod == 1).select(
                        (F.col("doc_id") + 10_000_000 * idx).alias("doc_id"),
                        "text",
                    )
                )
                .localCheckpoint()
            )
            n_delta = tonight.count()
            t0 = time.perf_counter()
            state = LedgerState(led, idx)
            _, stats = refresh_night(spark, tonight, state, store)
            churn = tuple(f.localCheckpoint() for f in kept_churn(spark, state))
            apply_refresh_to_postings_store(
                spark, tonight, state, store, postings,
                night=f"n{idx}", churn=churn,
            )
            apply_refresh_to_ivf_store(spark, tonight, state, ivf, churn=churn)
            apply_refresh_to_store(
                spark,
                night_snapshot_source(spark, tonight, store, churn),
                state, store, churn=churn,
            )
            t = time.perf_counter() - t0
            return {
                "delta_rows": n_delta,
                "wall_s": round(t, 3),
                "delta_rows_per_s": round(n_delta / t, 1),
                "n_store_buckets_read": stats.get("n_store_buckets_read"),
                "n_rebanded": stats.get("n_rebanded"),
            }

        # UNMEASURED warm-up night: the FIRST night through this plan
        # pays the JVM codegen/JIT cost for the whole refresh chain
        # (~2 s at sf0.1), which systematically inflates whichever
        # delta point runs first. This is the actual mechanism behind
        # BENCH_r12's negative marginal (-1.409 ms/row), not sampling
        # noise. One tiny discarded night warms the first-measured
        # code paths.
        #
        # PALINDROMIC counterbalancing + explicit drift term (r14):
        # the r13 a,b,c,a,b,c interleave with min-of-two-reps STILL
        # fit inverted even in a QUIET session, and the emitted
        # night_fit_points showed why — the JVM keeps getting faster
        # for minutes (tiered JIT over 140 + ~148 jobs/night), a monotone
        # ~1 s/night session drift that dwarfs the ~1.5 s marginal
        # signal; min() filters load SPIKES but preserves a monotone
        # trend's ordering, and in the cyclic order run position
        # correlates with delta size (r = 0.47), so the drift aliases
        # straight into the rows slope. The palindrome a,b,c,c,b,a
        # zeroes that correlation (every shape's mean position is
        # 3.5), and the fit models the drift explicitly:
        #   wall = fixed + marginal*rows + drift*pos
        # over all six (pos, rows, wall) points. rows ⟂ pos by
        # construction, so the normal equations decouple and a linear
        # session drift CANNOT bias the marginal estimate; warm-up
        # curvature (a decelerating drift) is the residual —
        # second-order, and diagnosable from night_fit_points.
        night(1, 100, "w")  # warms the exact first-measured shape
        reps = [
            night(2, 100, "a"),  # ~2% delta — the nightly shape
            night(3, 25, "b"),   # ~8% delta — the fit's middle point
            night(4, 10, "c"),   # ~20% delta — the amortization point
            night(5, 10, "d"),
            night(6, 25, "e"),
            night(7, 100, "f"),
        ]
        # per-shape representative row (structural fields + the
        # round-over-round delta_4x/delta_10x keys): min wall of the
        # shape's palindromic pair
        one = min((reps[0], reps[5]), key=lambda p: p["wall_s"])
        mid = min((reps[1], reps[4]), key=lambda p: p["wall_s"])
        ten = min((reps[2], reps[3]), key=lambda p: p["wall_s"])
        pts = [
            (pos, p["delta_rows"], p["wall_s"])
            for pos, p in enumerate(reps, start=1)
        ]
        n_p = len(pts)
        mp = sum(p for p, _, _ in pts) / n_p
        mr = sum(r for _, r, _ in pts) / n_p
        mw = sum(w for _, _, w in pts) / n_p
        # centered rows and pos are exactly orthogonal (palindrome),
        # so the two slopes are independent simple regressions
        var_r = sum((r - mr) ** 2 for _, r, _ in pts)
        var_p = sum((p - mp) ** 2 for p, _, _ in pts)
        marginal = (
            sum((r - mr) * (w - mw) for _, r, w in pts) / var_r if var_r else 0.0
        )
        drift = (
            sum((p - mp) * (w - mw) for p, _, w in pts) / var_p if var_p else 0.0
        )
        # steady-state fixed cost: evaluate the drift term at the
        # session's most-settled position (last when warming, first
        # when a load ramp slows the session) — never extrapolated
        # beyond what was measured
        settled_pos = n_p if drift < 0 else 1
        fixed = mw - marginal * mr + drift * (settled_pos - mp)
        out = {
            "resident_docs": n_resident,
            **one,
            "delta_4x": mid,
            "delta_10x": ten,
            # every measured wall, in run order — the r13 ask: an
            # inverted fit must be diagnosable from the artifact
            "night_fit_points": [
                {"delta_rows": p["delta_rows"], "wall_s": p["wall_s"]}
                for p in reps
            ],
        }
        if marginal < 0:
            out["fit_inverted"] = True
            out["fixed_night_s_est"] = round(min(w for *_, w in pts), 3)
            out["marginal_ms_per_row"] = 0.0
        else:
            out["fixed_night_s_est"] = round(fixed, 3)
            out["marginal_ms_per_row"] = round(marginal * 1000, 3)
        out["session_drift_s_per_night"] = round(drift, 3)
        return out
    except Exception as exc:  # noqa: BLE001 — isolation is the point
        return {"error": f"{type(exc).__name__}: {exc}"[:300]}
    finally:
        shutil.rmtree(root, ignore_errors=True)


# --sf-scaling: the five heaviest extra-tier text/corpus plans, spot-
# checked for super-linear terms local sf0.1 cannot expose (r13
# verdict #7). Wall at REPLICATIONx the corpus must stay within
# SCALE_BOUND x the sf-dir wall — linear scaling plus a generous
# allowance for the log-factors a sort/shuffle legitimately adds.
SCALE_QUERIES = [
    "shards_pack",
    "shards_manifest_audit",
    "text_hash_embed_4k",
    "text_hybrid_rrf_topk",
    "dedup_ngram_jaccard",
]
SCALE_REPLICATION = 10
SCALE_BOUND = 12.0


def _build_scaled_documents(spark, sf_dir: str, out_dir: str, replication: int) -> int:
    """A replication-x documents table for the scaling spot-check:
    every doc appears ``replication`` times with remapped unique ids
    and a PER-REPLICA character bijection over the text, so replicas
    of one doc are NOT near-duplicates of each other and the corpus's
    near-dup DENSITY (what pair-forming operators key on) matches the
    original instead of being 100x inflated by construction."""
    # per-replica BIJECTIVE character rotation: rewrites char n-grams
    # (and hence the vocabulary) THROUGHOUT the text so replicas of
    # one doc are not near-duplicates of each other, yet preserves
    # within-replica equality/similarity structure exactly (a
    # bijection), so the original corpus's dup density carries over —
    # and is LENGTH-PRESERVING, so the big corpus is exactly
    # replication x the BYTES (a word-suffix variant inflated chars
    # ~30% and read as a false super-linear term in the ratios).
    alpha = "aeiousnrtl"
    if replication > len(alpha):
        # rotation i % len(alpha) would wrap to the IDENTITY map and
        # mint exact byte-for-byte duplicate replicas — silently
        # inflating dup density, the artifact this builder exists to
        # avoid (review find)
        raise ValueError(
            f"replication {replication} exceeds the {len(alpha)} "
            "distinct character rotations; extend the alphabet before "
            "scaling further"
        )
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    rep = docs.select(
        "doc_id",
        "lang",
        "source",
        "text",
        F.explode(F.sequence(F.lit(0), F.lit(replication - 1))).alias("rep"),
    )
    base = F.col("text")
    text = F.when(F.col("rep") == 0, base)
    for i in range(1, replication):
        # guarded above: i < len(alpha), so the rotation is never the
        # identity and every replica pair differs
        text = text.when(
            F.col("rep") == i,
            F.translate(base, alpha, alpha[i:] + alpha[:i]),
        )
    scaled = rep.select(
        (F.col("doc_id") * replication + F.col("rep")).alias("doc_id"),
        text.alias("text"),
        "lang",
        "source",
    ).withColumn("n_chars", F.length("text"))
    out = os.path.join(out_dir, "documents.parquet")
    scaled.repartition(DEFAULT_CPUS).write.mode("overwrite").parquet(out)
    return spark.read.parquet(out).count()


def sf_scaling_main() -> None:
    """``python bench.py --sf-scaling``: one JSON line with, per scale
    query, the warm wall at $SPARK_GRAFT_SF_DIR and at a REPLICATIONx
    replicated documents corpus, plus the ratio and the bound verdict.
    Warm medians only (the cold pass eats codegen/JIT and, for the
    pinned shards plans, the train-once construction — exactly the
    split the main bench uses), so the ratio compares steady-state
    per-row cost, which is where a super-linear term would live."""
    import shutil
    import tempfile

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    spark = get_spark("radares-spark-sf-scaling", shuffle_partitions=DEFAULT_CPUS)
    big_dir = tempfile.mkdtemp(prefix="radares_bench_scale_")
    out: dict = {
        "metric": "sf_scaling_wall_ratio",
        "unit": "ratio",
        "replication": SCALE_REPLICATION,
        "bound": SCALE_BOUND,
        "queries": {},
    }
    # the two FROZEN calibration anchors ride along (r14 verdict #9):
    # cross-core / cross-session ratios are only readable against the
    # machine health of the session that produced them, and the c8/c32
    # scaling runs landed on different health windows in r14 — with the
    # anchors in every artifact the comparison is self-adjudicating
    try:
        cal_df = _calibration_plan(spark, sf_dir)
        _noop_time(cal_df)
        out["calibration_s"] = round(
            statistics.median(_noop_time(cal_df) for _ in range(CALIBRATION_REPS)), 4
        )
    except Exception:  # noqa: BLE001 — isolation
        out["calibration_s"] = None
    try:
        cpu_df = _calibration_cpu_plan(spark)
        _noop_time(cpu_df)
        out["calibration_cpu_s"] = round(
            statistics.median(_noop_time(cpu_df) for _ in range(CALIBRATION_REPS)), 4
        )
    except Exception:  # noqa: BLE001
        out["calibration_cpu_s"] = None
    try:
        n_big = _build_scaled_documents(
            spark, sf_dir, big_dir, SCALE_REPLICATION
        )
        out["rows_big"] = n_big
        # byte-honesty receipt: the builder is length-preserving, so
        # the char ratio must equal the replication — emitted so a
        # wall ratio is always read against the TRUE data ratio
        chars = lambda d: (  # noqa: E731
            spark.read.parquet(os.path.join(d, "documents.parquet"))
            .agg(F.sum(F.length("text")))
            .head()[0]
        )
        c_small, c_big = chars(sf_dir), chars(big_dir)
        out["char_ratio"] = round(c_big / max(c_small, 1), 3)
        library_plans = {**LIBRARY_PLANS, **_late_library_plans()}
        for name in SCALE_QUERIES:
            try:
                fn = library_plans.get(name) or REGISTRY[name].fn
                walls = {}
                cold = {}
                pinned = False
                for key, d in (("small", sf_dir), ("big", big_dir)):
                    t0 = time.perf_counter()
                    df, pin = _construct_with_pin_spy(fn, spark, d)
                    _materialize(df)  # codegen JIT + the pinned
                    # construction stages (e.g. shards_pack's BPE
                    # train) — timed as the COLD wall so a
                    # super-linear term hiding in a localCheckpointed
                    # stage is still visible in cold_ratio; the warm
                    # ratio alone would re-read the checkpoint and
                    # never see it (review find)
                    cold[key] = round(time.perf_counter() - t0, 3)
                    pinned = pinned or pin
                    walls[key] = round(
                        statistics.median(
                            _noop_time(df) for _ in range(WARM_REPS)
                        ),
                        3,
                    )
                ratio = round(walls["big"] / max(walls["small"], 1e-3), 2)
                cold_ratio = round(cold["big"] / max(cold["small"], 1e-3), 2)
                out["queries"][name] = {
                    "wall_small_s": walls["small"],
                    "wall_big_s": walls["big"],
                    "ratio": ratio,
                    "cold_small_s": cold["small"],
                    "cold_big_s": cold["big"],
                    "cold_ratio": cold_ratio,
                    # True => the warm walls exclude pinned
                    # construction; read cold_ratio for those stages
                    "pinned": pinned,
                    # cold pays one-time codegen JIT on the small side
                    # (inflating its wall, DEFLATING the ratio) yet a
                    # pinned plan's construction scales with data — so
                    # bound the MAX of both ratios: warm catches the
                    # steady state, cold catches construction
                    "within_bound": max(ratio, cold_ratio) <= SCALE_BOUND,
                }
            except Exception as exc:  # noqa: BLE001 — isolation
                out["queries"][name] = {
                    "error": f"{type(exc).__name__}: {exc}"[:300]
                }
        sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
        out["sf"] = float(sf) if sf.replace(".", "").isdigit() else sf
        out["ok"] = all(
            q.get("within_bound") for q in out["queries"].values()
        )
        print(json.dumps(out))
    finally:
        shutil.rmtree(big_dir, ignore_errors=True)
        spark.stop()


def _bench_streaming(spark, sf_dir: str) -> dict:
    """Streaming micro-batch throughput (r6 verdict #7): one
    AvailableNow pass of the admission and URL-admission streams over
    ``STREAM_BATCHES`` landed files with ``maxFilesPerTrigger=1`` — one
    micro-batch per file, so the wall time covers N full
    ledger-load → admit → epoch-partition-write cycles including all
    checkpoint/commit overhead. State dirs are fresh per run (cold
    ledger), so this is first-crawl admission throughput — the
    dominant production case; later batches dedup against the ledger
    rows the earlier ones appended, exactly the nightly shape.
    Per stream: wall seconds, epochs, input rows, rows/s, epochs/s.
    Isolation mirrors the query loop: a streaming failure records an
    ``error`` key, never kills the batch numbers."""
    import shutil
    import tempfile
    from functools import partial

    from radares_spark.streaming.admission_stream import run_admission_stream

    out: dict = {}
    root = tempfile.mkdtemp(prefix="radares_bench_stream_")

    def _one(key, frame, runner):
        try:
            n = frame.count()
            landing = os.path.join(root, f"{key}_landing")
            frame.repartition(STREAM_BATCHES, "doc_id").write.parquet(landing)
            # epochs = files actually landed (hash-partitioning does not
            # guarantee STREAM_BATCHES non-empty outputs; with
            # maxFilesPerTrigger=1 each landed file IS one micro-batch)
            epochs = len(
                [f for f in os.listdir(landing) if f.endswith(".parquet")]
            )
            t0 = time.perf_counter()
            runner(
                spark,
                landing,
                os.path.join(root, f"{key}_ledger"),
                os.path.join(root, f"{key}_audit"),
                os.path.join(root, f"{key}_ckpt"),
                max_files_per_trigger=1,
            )
            t = time.perf_counter() - t0
            # r10 verdict #4: attribute the per-epoch FIXED cost by
            # timing one ZERO-ROW micro-batch (an empty landed file)
            # through the same checkpoint — pure file-log/plan/commit
            # overhead. Cross-session rows/s drift can then be read
            # against the floor instead of looking like regression.
            frame.limit(0).coalesce(1).write.mode("append").parquet(landing)
            t0 = time.perf_counter()
            runner(
                spark,
                landing,
                os.path.join(root, f"{key}_ledger"),
                os.path.join(root, f"{key}_audit"),
                os.path.join(root, f"{key}_ckpt"),
                max_files_per_trigger=1,
            )
            fixed = time.perf_counter() - t0
            out[key] = {
                "epochs": epochs,
                "rows": n,
                "wall_s": round(t, 3),
                "rows_per_s": round(n / t, 1),
                "epochs_per_s": round(epochs / t, 3),
                "fixed_epoch_s": round(fixed, 3),
            }
        except Exception as exc:  # noqa: BLE001 — isolation is the point
            out[key] = {"error": f"{type(exc).__name__}: {exc}"[:300]}

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    _one("admission", docs.select("doc_id", "text"), run_admission_stream)
    # URL identities derived deterministically from the testdata's own
    # columns (doc_id % 2048 plants real cross-batch recrawl dups)
    _one(
        "url_admission",
        docs.select(
            "doc_id",
            F.concat(
                F.lit("http://example.com/"),
                F.col("source"),
                F.lit("/p"),
                (F.col("doc_id") % F.lit(2048)).cast("string"),
            ).alias("url"),
        ),
        partial(run_admission_stream, admission="urls"),
    )
    # r8: the shards stream — tokenize + fixed-ctx pack per micro-batch
    # against the frozen tokenizer artifact. One-time setup (train +
    # freeze + init store) is excluded from the timed window: that is
    # the production shape (a deployment trains once, appends forever).
    try:
        from radares_spark.operators.bpe import (
            save_tokenizer,
            train_bpe_batched,
            word_counts,
        )
        from radares_spark.pipeline.shards import init_shards, token_vocab
        from radares_spark.streaming.shards_stream import run_shards_stream

        d = docs.select("doc_id", "text")
        merges, word_syms, _rounds = train_bpe_batched(
            word_counts(d), n_merges=64, batch_size=16
        )
        tok = os.path.join(root, "shards_tok")
        save_tokenizer(spark, tok, word_syms, merges)
        store = os.path.join(root, "shards_store")
        init_shards(spark, store, token_vocab(word_syms, merges))
        landing = os.path.join(root, "shards_landing")
        d.repartition(STREAM_BATCHES, "doc_id").write.parquet(landing)
        epochs = len([f for f in os.listdir(landing) if f.endswith(".parquet")])
        n = d.count()
        t0 = time.perf_counter()
        run_shards_stream(
            spark,
            landing,
            tok,
            store,
            os.path.join(root, "shards_ckpt"),
            max_files_per_trigger=1,
        )
        t = time.perf_counter() - t0
        # per-epoch fixed cost via one zero-row micro-batch (same
        # rationale as the admission streams above)
        d.limit(0).coalesce(1).write.mode("append").parquet(landing)
        t0 = time.perf_counter()
        run_shards_stream(
            spark,
            landing,
            tok,
            store,
            os.path.join(root, "shards_ckpt"),
            max_files_per_trigger=1,
        )
        fixed = time.perf_counter() - t0
        out["shards_append"] = {
            "epochs": epochs,
            "rows": n,
            "wall_s": round(t, 3),
            "rows_per_s": round(n / t, 1),
            "epochs_per_s": round(epochs / t, 3),
            "fixed_epoch_s": round(fixed, 3),
        }
    except Exception as exc:  # noqa: BLE001 — isolation is the point
        out["shards_append"] = {"error": f"{type(exc).__name__}: {exc}"[:300]}
    shutil.rmtree(root, ignore_errors=True)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    spark = get_spark("radares-spark-bench", shuffle_partitions=DEFAULT_CPUS)

    # warm the JVM + parquet footers once so timings measure the plans
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()

    # calibration: one discarded cold run, then median of warm reps.
    # Isolated like the queries below — a transient calibration failure
    # must never zero out the round's measurements (the r3 lesson);
    # value_per_calibration already tolerates calibration_s = None.
    # the anchors are isolated from each other too: the CPU anchor needs
    # no files, so a broken sf_dir must not take it down with the scan
    calibration_s = None
    calibration_cpu_s = None
    try:
        cal_df = _calibration_plan(spark, sf_dir)
        _noop_time(cal_df)
        calibration_s = round(
            statistics.median(_noop_time(cal_df) for _ in range(CALIBRATION_REPS)), 4
        )
    except Exception:  # noqa: BLE001 — isolation is the point
        pass
    try:
        cpu_df = _calibration_cpu_plan(spark)
        _noop_time(cpu_df)
        calibration_cpu_s = round(
            statistics.median(_noop_time(cpu_df) for _ in range(CALIBRATION_REPS)), 4
        )
    except Exception:  # noqa: BLE001
        pass

    # Per-query exception isolation: one broken plan must never zero
    # out the whole round's measurement (r3 lesson — a single
    # AnalysisException left BENCH_r03 with no numbers at all). A
    # failed query is recorded in ``errors`` and excluded from totals.
    warm: dict[str, float] = {}
    cold: dict[str, float] = {}
    errors: dict[str, str] = {}
    pinned: list[str] = []
    library_plans = {**LIBRARY_PLANS, **_late_library_plans()}
    for name in HEADLINE + EXTRA:
        try:
            fn = library_plans.get(name) or REGISTRY[name].fn
            # construction is INSIDE the cold timer: operators that pin
            # an intermediate (localCheckpoint — e.g. the admission
            # audit's signature rows) do real work while building the
            # frame, and excluding it would flatter their cold number
            t0 = time.perf_counter()
            df, did_pin = _construct_with_pin_spy(fn, spark, sf_dir)
            _materialize(df)
            cold[name] = round(time.perf_counter() - t0, 3)
            warm[name] = round(
                statistics.median(_noop_time(df) for _ in range(WARM_REPS)), 3
            )
            if did_pin:
                pinned.append(name)
        except Exception as exc:  # noqa: BLE001 — isolation is the point
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]

    try:
        streaming = _bench_streaming(spark, sf_dir)
    except Exception as exc:  # noqa: BLE001
        streaming = {"error": f"{type(exc).__name__}: {exc}"[:300]}
    nightly_refresh = _bench_nightly_refresh(spark, sf_dir)

    total = round(sum(warm[n] for n in HEADLINE if n in warm), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # The stdout line carries the CONTRACT FIELDS ONLY (r14 verdict
    # #2): the driver retains just the last ~2000 bytes of stdout, and
    # the r13 line (9+ KB of per-query diagnostic maps) outgrew that
    # capture — the stored tail began mid-object, PERF lost the whole
    # round-over-round table. The full line here is ~1.8 KB, so the
    # tail-capture always holds ONE complete parseable object. Every
    # bulky diagnostic (cold walls, anchors per query, streaming,
    # nightly-refresh fit points) moves to the
    # ``bench_details_sf<sf>_c<cores>.json`` sidecar next to this file
    # (named per run shape so concurrent c8/c32 runs keep their own),
    # echoed to stderr as a labeled line.
    contract = {
        "metric": "headline_queries_total_wall_warm",
        "queries": warm,
        "unit": "sec",
        "warm_reps": WARM_REPS,
        # WARM medians for these plans measure a checkpoint re-read,
        # not the pipeline — quote cold_s (sidecar) for them
        "pinned": pinned,
        "errors": errors,
        "calibration_s": calibration_s,
        "calibration_cpu_s": calibration_cpu_s,
        "value_per_calibration": round(total / calibration_s, 2)
        if calibration_s
        else None,
        "value_per_cpu_calibration": round(total / calibration_cpu_s, 2)
        if calibration_cpu_s
        else None,
        # headline total of per-own-anchor ratios — the single
        # machine-drift-free scalar (each query divided by the
        # anchor that tracks ITS bottleneck)
        "value_per_anchor": round(
            sum(
                warm[n]
                / (
                    calibration_cpu_s
                    if _anchor_for(n) == "cpu"
                    else calibration_s
                )
                for n in HEADLINE
                if n in warm
            ),
            2,
        )
        if calibration_s and calibration_cpu_s
        else None,
        "extra_total": round(sum(warm[n] for n in EXTRA if n in warm), 3),
        "cold_total": round(sum(cold[n] for n in HEADLINE if n in cold), 3),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "value": total,
    }
    details = {
        **contract,
        "comparable_queries": HEADLINE,
        # r5 verdict #7: per-query drift-normalized numbers, so a
        # single-query regression localizes from the JSON alone
        "queries_per_calibration": {
            n: round(t / calibration_s, 2) for n, t in warm.items()
        }
        if calibration_s
        else None,
        # r11 verdict #4: each query normalized by the anchor matching
        # its cost profile (the anchors drift APART under co-tenancy;
        # one shared divisor over- or under-corrects) — read THESE
        # across sessions
        "query_anchor": {n: _anchor_for(n) for n in warm},
        "queries_per_anchor": {
            n: round(
                t
                / (
                    calibration_cpu_s
                    if _anchor_for(n) == "cpu"
                    else calibration_s
                ),
                2,
            )
            for n, t in warm.items()
        }
        if calibration_s and calibration_cpu_s
        else None,
        "cold_s": cold,
        "streaming": streaming,
        # batch ops timings (not streams): the delta-direct nightly
        # refresh, the r10 structural-I/O proof
        "nightly_refresh": nightly_refresh,
    }
    details_path = (
        Path(__file__).resolve().parent / f"bench_details_sf{sf}_c{DEFAULT_CPUS}.json"
    )
    try:
        details_path.write_text(json.dumps(details) + "\n")
    except OSError:
        pass  # a read-only checkout still gets the stderr copy below
    print("BENCH_DETAILS: " + json.dumps(details), file=sys.stderr)
    print(json.dumps(contract))
    spark.stop()


if __name__ == "__main__":
    if "--sf-scaling" in sys.argv[1:]:
        sf_scaling_main()
    else:
        main()
