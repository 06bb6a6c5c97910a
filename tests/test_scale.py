"""Scale stress: the dedup/similarity family must scale
sub-quadratically when the corpus is inflated (VERDICT r2 ask #6 — the
sf0.1 bench cannot see a silent bucket-skew blow-up; this test can).

Corpus inflation is DISSIMILAR by construction (each copy's tokens /
vector layout are perturbed per copy index), so candidate-pair volume
should grow ~linearly; a quadratic blow-up would mean the banding
degenerated into all-pairs. Assertions are layered:

- structural (deterministic): max LSH bucket size stays bounded, and
  candidate pairs grow sub-quadratically (4x corpus => << 16x pairs);
- wall-clock (generous margins, warm-measured): 4x corpus must run in
  < 8x the 1x time — quadratic work would be ~16x.
"""

from __future__ import annotations

import time

import pytest

# Whole-module slow tier (r15): multi-second Spark e2e tests dominate
# this module's wall; deselected by default so the driver's verify
# window fits — run with -m slow (see COVERAGE.md).
pytestmark = pytest.mark.slow

from pyspark.sql import functions as F

from radares_spark.io.tables import load_table
from radares_spark.operators.dedup import (
    embedding_lsh_pairs,
    lsh_bands,
    minhash_signatures,
)
from radares_spark.operators.similarity import build_ivf_index, l2norm
from tests.conftest import SF_ORACLE

INFLATE = 4


def _inflate_docs(docs, k: int):
    parts = [docs]
    for i in range(1, k):
        parts.append(
            docs.select(
                (F.col("doc_id") + i * 1_000_000).alias("doc_id"),
                # suffix every WORD with a per-copy marker: each copy's
                # shingle vocabulary is disjoint from every other copy's
                # (so copies are not near-dups of anything), while the
                # within-copy shingle diversity matches the original
                # corpus — statistically a genuine 4x corpus. (An
                # interleaved marker TOKEN is wrong: it makes every
                # common word w produce the same 'm w m' shingle across
                # all docs, i.e. a MORE similar corpus.)
                F.regexp_replace("text", "(\\S+)", f"$1v{i}").alias("text"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _inflate_vecs(emb, k: int):
    parts = [emb.select("vec_id", "embedding")]
    dim = 64
    for i in range(1, k):
        # rotate the vector layout by 7*i positions: a rolled random
        # vector is ~orthogonal to the original — dissimilar inflation
        s = (7 * i) % dim
        rolled = F.concat(F.slice("embedding", s + 1, dim - s), F.slice("embedding", 1, s))
        parts.append(
            emb.select(
                (F.col("vec_id") + i * 1_000_000).alias("vec_id"),
                rolled.alias("embedding"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _minhash_pairs_stats(docs):
    # the PRODUCTION pair path (bucket collect-and-explode since r4)
    from radares_spark.operators.dedup import bucket_pairs

    bands = lsh_bands(minhash_signatures(docs))
    pairs = bucket_pairs(bands).select("doc_a", "doc_b")
    max_bucket = (
        bands.groupBy("band", "band_hash").count().agg(F.max("count")).collect()[0][0]
    )
    t0 = time.perf_counter()
    n_pairs = pairs.count()
    return n_pairs, max_bucket, time.perf_counter() - t0


@pytest.mark.slow
def test_minhash_lsh_subquadratic(spark):
    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    big = _inflate_docs(docs, INFLATE)

    _minhash_pairs_stats(docs)  # codegen/JIT warm-up, discard
    n1, mb1, t1 = _minhash_pairs_stats(docs)
    n4, mb4, t4 = _minhash_pairs_stats(big)

    # structural: buckets stay tiny — no degenerate hot bucket
    assert mb4 <= max(4 * mb1, 32), f"bucket blow-up: {mb1} -> {mb4}"
    # candidate volume sub-quadratic: 4x corpus => far below 16x pairs
    assert n4 <= 6 * max(n1, 4), f"pair blow-up: {n1} -> {n4}"
    # wall-clock sub-quadratic with generous noise margin
    assert t4 <= 8 * t1 + 2.0, f"time blow-up: {t1:.2f}s -> {t4:.2f}s"


@pytest.mark.slow
def test_embedding_lsh_no_skew_blowup(spark):
    """On near-uniform random vectors, sign-LSH candidate volume is
    inherently ~ C(n,2) x collision-rate (the rate — ~1.5% for 4x8-bit
    bands — is the 'never all-pairs' guarantee). The silent blow-up to
    guard against is SKEW: a hot band bucket drives the rate up and
    concentrates the join. So the assertions are rate constancy under
    4x inflation and bucket balance — not raw pair counts, which
    legitimately grow ~16x when the corpus has no structure."""
    emb = load_table(spark, SF_ORACLE, "embeddings")
    big = _inflate_vecs(emb, INFLATE)

    def run(frame):
        n_vec = frame.count()
        n_cand = embedding_lsh_pairs(frame, threshold=-1.0).count()  # all cands
        return n_cand / (n_vec * (n_vec - 1) / 2)

    rate1 = run(emb)
    rate4 = run(big)
    assert rate4 <= 2 * rate1, f"collision rate grew: {rate1:.4f} -> {rate4:.4f}"
    assert rate4 <= 0.05  # stays ~the theoretical 1.5%, never all-pairs


@pytest.mark.slow
def test_ivf_cells_stay_balanced_under_inflation(spark):
    """IVF probe work is ~ n_probe/n_cells of the corpus ONLY if cells
    stay balanced; a collapse into one giant cell is the silent
    blow-up. Train on the inflated corpus, assert no cell exceeds half
    the corpus."""
    emb = load_table(spark, SF_ORACLE, "embeddings")
    big = _inflate_vecs(emb, INFLATE)
    normed = big.select(
        "vec_id", F.col("embedding").alias("v"), l2norm("embedding").alias("nrm")
    )
    assignment, _ = build_ivf_index(normed, n_cells=8, iters=2)
    total = assignment.count()
    biggest = assignment.groupBy("cell").count().agg(F.max("count")).collect()[0][0]
    assert total == INFLATE * 500
    assert biggest <= total / 2, f"degenerate cell: {biggest}/{total}"


@pytest.mark.slow
def test_dup_spans_exactly_linear_under_dissimilar_inflation(spark):
    """Duplicate-span detection is linear in corpus tokens by design;
    per-copy-suffixed inflation keeps window vocabularies disjoint
    across copies, so BOTH totals must grow exactly 4x — any
    super-linear growth means cross-copy hash pollution (a broken
    bucketing) and any sub-linear growth means lost windows."""
    from radares_spark.operators.text_ext import dup_span_stats

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    big = _inflate_docs(docs, INFLATE)

    def totals(frame):
        r = (
            dup_span_stats(frame)
            .agg(
                F.sum("n_windows").alias("w"),
                F.sum("n_dup_windows").alias("d"),
            )
            .collect()[0]
        )
        return r["w"], r["d"]

    w1, d1 = totals(docs)
    w4, d4 = totals(big)
    assert d1 > 0  # the testdata's planted near-dups share spans
    assert w4 == INFLATE * w1
    assert d4 == INFLATE * d1


@pytest.mark.slow
def test_semdedup_per_cluster_work_constant_when_k_scales(spark):
    """SemDeDup's quadratic term is per cluster; the published scale
    recipe is k ~ N / target_cluster_size. Train k cells on 1x and
    4k cells on 4x: the LARGEST cluster (= worst-case task) must stay
    in the same ballpark instead of growing with the corpus."""
    from radares_spark.operators.similarity import build_ivf_index

    emb = load_table(spark, SF_ORACLE, "embeddings")
    big = _inflate_vecs(emb, INFLATE)

    def max_cell(frame, k):
        normed = frame.select(
            "vec_id", F.col("embedding").alias("v"), l2norm("embedding").alias("nrm")
        )
        assignment, _ = build_ivf_index(normed, n_cells=k, iters=2)
        return (
            assignment.groupBy("cell").count().agg(F.max("count")).collect()[0][0]
        )

    m1 = max_cell(emb, 8)
    m4 = max_cell(big, 8 * INFLATE)
    assert m4 <= 3 * m1, f"worst task grew with the corpus: {m1} -> {m4}"


def test_span_removal_exactly_linear_under_dissimilar_inflation(spark):
    """Span REMOVAL inherits detection's linearity: per-copy-suffixed
    inflation keeps window vocabularies disjoint across copies, so the
    removed-token total must grow exactly 4x and removal must excise
    the same text in every copy (no cross-copy coverage pollution)."""
    from radares_spark.operators.text_ext import remove_dup_spans

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    big = _inflate_docs(docs, INFLATE)

    def totals(frame):
        r = (
            remove_dup_spans(frame)
            .agg(F.sum("n_tokens").alias("t"), F.sum("n_removed").alias("rm"))
            .collect()[0]
        )
        return r["t"], r["rm"]

    t1, r1 = totals(docs)
    t4, r4 = totals(big)
    assert r1 > 0
    assert t4 == INFLATE * t1
    assert r4 == INFLATE * r1


def test_chunking_exactly_linear_under_inflation(spark):
    """Chunking is per-doc arithmetic: 4x corpus => exactly 4x chunks
    and 4x chunk tokens (suffixed inflation keeps per-doc token counts
    identical across copies)."""
    from radares_spark.pipeline.corpus import chunk_documents

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    big = _inflate_docs(docs, INFLATE)

    def totals(frame):
        r = (
            chunk_documents(frame, 48, 8)
            .agg(F.count(F.lit(1)).alias("c"), F.sum("n_chunk_tokens").alias("t"))
            .collect()[0]
        )
        return r["c"], r["t"]

    c1, t1 = totals(docs)
    c4, t4 = totals(big)
    assert c1 > 0 and c4 == INFLATE * c1 and t4 == INFLATE * t1


def test_winnowing_is_corpus_independent_per_doc(spark):
    """The scale property that matters for winnowing is per-doc
    LOCALITY: a doc's fingerprint set is a pure function of its own
    text — growing the corpus 4x must not change a single selection
    (no cross-doc coupling => no shuffle grows with the corpus). The
    COUNT is hash-dependent per doc (each window picks its min, so
    density varies in [1/w, 1]), so exact-multiple laws don't apply —
    identity of the original docs' sets is the stronger claim anyway."""
    from pyspark.sql import functions as F

    from radares_spark.operators.text_ext import winnow_fingerprints

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    big = _inflate_docs(docs, INFLATE)
    alone = sorted(map(tuple, winnow_fingerprints(docs).collect()))
    inside = sorted(
        map(
            tuple,
            winnow_fingerprints(big)
            .filter(F.col("doc_id") < 1_000_000)
            .collect(),
        )
    )
    assert alone and inside == alone


def test_winnow_pairs_are_corpus_independent(spark):
    """The pair former inherits winnowing's locality: candidate pairs
    come only from docs sharing a fingerprint bucket, so inflating the
    corpus 4x with vocabulary-disjoint copies must reproduce the
    original docs' pairs EXACTLY (scores included) and add no pair
    crossing copy boundaries — the property that keeps per-bucket work
    flat while bucket count scales with the corpus."""
    from pyspark.sql import functions as F

    from radares_spark.operators.text_ext import winnow_pairs

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    big = _inflate_docs(docs, INFLATE)
    alone = sorted(map(tuple, winnow_pairs(docs).collect()))
    inflated = winnow_pairs(big)
    inside = sorted(
        map(
            tuple,
            inflated.filter(
                (F.col("doc_a") < 1_000_000) & (F.col("doc_b") < 1_000_000)
            ).collect(),
        )
    )
    assert alone and inside == alone
    # no pair crosses a copy boundary (disjoint vocabularies)
    crossing = inflated.filter(
        F.floor(F.col("doc_a") / 1_000_000) != F.floor(F.col("doc_b") / 1_000_000)
    ).count()
    assert crossing == 0


def test_hashed_tf_is_corpus_independent_per_doc(spark):
    """hashed_tf's scale law (plain TF): a doc's embedding is a pure
    function of its own tokens — md5 buckets, signs, counts, and the
    L2 norm involve no corpus statistics — so inflating the corpus 4x
    must reproduce the original docs' vectors BIT-identically. That is
    what keeps the operator one map-side-combined aggregate whose
    shuffle grows linearly with the corpus and nothing else. (tf_idf
    deliberately breaks this: IDF is a corpus statistic; its contract
    is the separate parity + downweighting suite in test_embed.py.)"""
    from radares_spark.operators.embed import hashed_tf

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    big = _inflate_docs(docs, INFLATE)
    alone = {
        r["doc_id"]: tuple(r["embedding"]) for r in hashed_tf(docs).collect()
    }
    inside = {
        r["doc_id"]: tuple(r["embedding"])
        for r in hashed_tf(big).filter(F.col("doc_id") < 1_000_000).collect()
    }
    assert alone and inside == alone


@pytest.mark.slow  # >=10 s in the r15 full-suite durations log
def test_refresh_recompute_is_corpus_independent(spark, tmp_path):
    """Incremental refresh (pipeline/refresh.py): with a FIXED delta,
    the per-doc recompute footprint must not grow with the corpus —
    4x the corpus, same 3-doc delta => identical n_delta/n_rebanded
    and near-affected counts bounded by bucket co-membership, not
    corpus size. This is the structural form of the refresh promise
    (delta-proportional work), immune to wall-clock noise."""
    from radares_spark.pipeline.refresh import init_state, refresh
    from radares_spark.pipeline.state_ledger import LedgerState
    from tests.test_refresh import mk_text

    footprints = []
    for scale, tag in ((1, "a"), (4, "b")):
        rows = [(i, mk_text(i)) for i in range(1000, 1000 + 30 * scale)]
        docs = spark.createDataFrame(rows, ["doc_id", "text"])
        led = str(tmp_path / f"{tag}_state_ledger")
        init_state(spark, docs, LedgerState(led, 0))
        night2 = [
            (i, t if i != 1001 else mk_text(5001)) for i, t in rows if i != 1002
        ] + [(9000, mk_text(9000))]
        _, stats = refresh(
            spark, spark.createDataFrame(night2, ["doc_id", "text"]),
            LedgerState(led, 1),
        )
        footprints.append(stats)
    small, big = footprints
    assert big["n_delta"] == small["n_delta"] == 2
    assert big["n_removed"] == small["n_removed"] == 1
    assert big["n_rebanded"] == small["n_rebanded"] == 2
    # affected near-docs may pick up coincidental bucket co-members,
    # but must stay delta-neighborhood-sized, not corpus-sized
    assert big["n_near_affected"] <= small["n_near_affected"] + 8
    assert big["n_near_affected"] < 30  # << the 120-doc corpus
