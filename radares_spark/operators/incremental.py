"""Incremental corpus dedup — admit a NEW batch of documents against
the already-accepted corpus without rescanning corpus bytes.

The accepted corpus is represented by a compact *dedup ledger*: one
row per (accepted doc, LSH band) carrying the content hash and the
full minhash signature::

    (doc_id, content_hash, s0..s7, band, band_hash)

Hashes and sketches only — at a 100 TB corpus the ledger is hundreds
of GB of longs, and the nightly admission join never touches corpus
text. This is the missing half of the batch dedup family
(operators/dedup.py): those operators dedup a corpus against itself;
this one dedups tonight's crawl against everything ever accepted.

Admission outcomes (first hit wins, mirroring the stage-priority
audit idiom of pipeline/corpus.curate):

1. ``exact_dup_corpus`` — content hash already in the ledger;
2. ``exact_dup_batch``  — duplicate content within the batch (the
   minimum doc_id is kept);
3. ``near_dup_corpus``  — an LSH band collision with an accepted doc
   whose signature agrees on >= ``NEAR_MIN_MATCH`` of the 8 minhash mins
   (signature-estimated Jaccard — candidates come from band buckets,
   never all-pairs);
4. ``near_dup_batch``   — same estimate within the batch; the higher
   doc_id of a pair drops (min of each pairwise-connected group stays
   reachable — same contract as curate's near stage);
5. ``kept``             — survivor; its ledger rows are the append
   set that makes the next run see tonight's corpus.

Precision contract (stated, not hidden): near-dup drops use the
SIGNATURE estimate (matching mins / 8), not exact Jaccard — the
ledger stores no text to verify against. E[matches/8] equals the true
Jaccard, so ``NEAR_MIN_MATCH=7`` targets ~0.875+ overlap. The in-batch
curation path (pipeline/corpus.curate) keeps its exact-Jaccard
verification; this operator is the at-scale admission gate where
re-reading accepted text would cost more than a rare false drop.

Scale shape: persist the ledger bucketed+sorted on the band join keys
(io/bucketing.write_bucketed) and the nightly band join shuffles ONLY
the new batch — the ledger side scans its buckets in place with zero
Exchange (plan-asserted in tests/test_incremental.py). All joins are
equi-joins on hash keys; nothing is quadratic in either the batch or
the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from radares_spark.operators.dedup import (
    MINHASH_SQL,
    N_PERM,
    NORM_SQL,
    _md5,
    lsh_bands,
    minhash_signatures,
    normalize_text,
)
from radares_spark.registry import QuerySpec, register

NEAR_MIN_MATCH = 7  # of N_PERM=8 — signature-estimated Jaccard ~0.875
SIG_COLS = [f"s{i}" for i in range(N_PERM)]

OUT_EXACT_CORPUS = "exact_dup_corpus"
OUT_EXACT_BATCH = "exact_dup_batch"
OUT_NEAR_CORPUS = "near_dup_corpus"
OUT_NEAR_BATCH = "near_dup_batch"
OUT_KEPT = "kept"


def ledger_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, content_hash, s0..s7, band, band_hash) — the dedup
    ledger representation of ``docs`` (one row per doc per band).
    The signature ride-along on every band row is deliberate: the
    admission join scores candidates from the band row alone, no
    second lookup against a signature table.

    Docs too short to shingle (<3 normalized words) produce no
    signature rows; they get ONE hash-only ledger row (null sig/band)
    via the left joins, so short docs still participate in exact
    dedup and never silently vanish from the audit spine or the
    append set. Null band_hash never equi-joins, so the near-dup
    band paths ignore these rows by construction."""
    sig = minhash_signatures(docs)
    # coalesce: md5 of NULL text would be a NULL content_hash, which
    # never equi-joins — a NULL-text doc would re-admit as 'kept' every
    # night and grow the ledger forever (same rule as corpus.curate)
    exact = docs.select(
        "doc_id",
        _md5(normalize_text(F.coalesce(F.col("text"), F.lit("")))).alias(
            "content_hash"
        ),
    )
    return exact.join(sig, "doc_id", "left").join(
        lsh_bands(sig), "doc_id", "left"
    )


def _sig_score(left_prefix: str, right_prefix: str):
    return sum(
        (F.col(f"{left_prefix}{i}") == F.col(f"{right_prefix}{i}")).cast("int")
        for i in range(N_PERM)
    )


def incremental_dedup(
    new_docs: DataFrame,
    ledger: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Admit ``new_docs`` against ``ledger`` (rows shaped like
    :func:`ledger_rows`; may be empty).

    Returns ``(audit, append_rows)``: ``audit`` is one
    ``(doc_id, outcome)`` row per batch doc; ``append_rows`` is the
    ledger rows of the kept docs — append them (idempotently) and the
    next batch dedups against tonight's corpus too.

    The batch's ledger rows are materialized once
    (``localCheckpoint``): the admission logic consumes them from five
    branches (exact, signatures, bands, spine, append), and a lazy
    plan re-runs the shingle+minhash pipeline in EVERY branch —
    measured 14 Generate subtrees / 21 scans in the audit plan before
    pinning. The batch is nightly-crawl sized and the pinned rows are
    hashes+signatures only, so this is cheap by the same argument the
    ledger itself is (module docstring).
    """
    batch = ledger_rows(new_docs).localCheckpoint(eager=True)
    exact = batch.select("doc_id", "content_hash").distinct()
    sig = batch.select("doc_id", *SIG_COLS).distinct()
    bands = batch.select("doc_id", "band", "band_hash")

    # 1. exact vs corpus — NO distinct on the ledger side: a semi-join
    # ignores right-side multiplicity, and a distinct here would be a
    # full-ledger shuffle before the join even starts.
    led_hashes = ledger.select("content_hash")
    f_exact_corpus = (
        exact.join(led_hashes, "content_hash", "left_semi")
        .select("doc_id")
        .withColumn("f_exact_corpus", F.lit(True))
    )

    # 2. exact within batch (min doc_id keeps)
    keeper = exact.groupBy("content_hash").agg(F.min("doc_id").alias("keep_id"))
    f_exact_batch = (
        exact.join(keeper, "content_hash")
        .filter(F.col("doc_id") != F.col("keep_id"))
        .select("doc_id")
        .withColumn("f_exact_batch", F.lit(True))
    )

    # 3. near vs corpus: band-bucket candidates, signature-scored
    led_bands = ledger.select(
        "band",
        "band_hash",
        *[F.col(f"s{i}").alias(f"t{i}") for i in range(N_PERM)],
    )
    f_near_corpus = (
        bands.join(sig, "doc_id")
        .join(led_bands, ["band", "band_hash"])
        .filter(_sig_score("s", "t") >= NEAR_MIN_MATCH)
        .select("doc_id")
        .distinct()
        .withColumn("f_near_corpus", F.lit(True))
    )

    # 4. near within batch: band self-join, higher doc_id drops
    a = bands.join(sig, "doc_id")
    b = a.select(
        F.col("doc_id").alias("other_id"),
        "band",
        "band_hash",
        *[F.col(f"s{i}").alias(f"t{i}") for i in range(N_PERM)],
    )
    f_near_batch = (
        a.join(b, ["band", "band_hash"])
        .filter(F.col("doc_id") > F.col("other_id"))
        .filter(_sig_score("s", "t") >= NEAR_MIN_MATCH)
        .select("doc_id")
        .distinct()
        .withColumn("f_near_batch", F.lit(True))
    )

    audit = (
        exact.select("doc_id")
        .join(f_exact_corpus, "doc_id", "left")
        .join(f_exact_batch, "doc_id", "left")
        .join(f_near_corpus, "doc_id", "left")
        .join(f_near_batch, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("f_exact_corpus"), OUT_EXACT_CORPUS)
            .when(F.col("f_exact_batch"), OUT_EXACT_BATCH)
            .when(F.col("f_near_corpus"), OUT_NEAR_CORPUS)
            .when(F.col("f_near_batch"), OUT_NEAR_BATCH)
            .otherwise(OUT_KEPT)
            .alias("outcome"),
        )
    )
    append_rows = batch.join(
        audit.filter(F.col("outcome") == OUT_KEPT).select("doc_id"), "doc_id", "left_semi"
    )
    return audit, append_rows


# --- Library spec: admission outcomes vs a full DuckDB SQL replay ----------

LEDGER_SPLIT = 250  # doc_id < split = accepted corpus; rest = tonight's batch


def incremental_admission_audit(spark, sf_dir: str) -> DataFrame:
    """Driver-checkable admission scenario over the documents table:
    ledger = docs 0..LEDGER_SPLIT-1 (as if accepted on a prior night),
    batch = the rest. The oracle replays EVERYTHING in SQL — normalize,
    shingles, minhash signatures, banding, semi-joins, signature
    scoring and outcome priority — the same end-to-end rigor tier as
    corpus_curation_audit. Driver-registered since r5 (was library
    tier); the slot came from dedup_minhash_signatures, which
    dedup_minhash_pairs covers transitively."""
    from radares_spark.io.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    accepted = docs.filter(F.col("doc_id") < LEDGER_SPLIT)
    batch = docs.filter(F.col("doc_id") >= LEDGER_SPLIT)
    # pin the simulated ledger: in production it is a parquet table
    # (cheap scans); recomputing it from raw text per consuming branch
    # is an artifact of the simulation, not the architecture
    ledger = ledger_rows(accepted).localCheckpoint(eager=True)
    audit, _ = incremental_dedup(batch, ledger)
    return audit


INCREMENTAL_SQL = f"""
    {MINHASH_SQL},
    bands AS (
        SELECT doc_id, b.band, b.band_hash
        FROM sig, LATERAL (
            VALUES (0, md5(s0::VARCHAR || '_' || s1::VARCHAR)), (1, md5(s2::VARCHAR || '_' || s3::VARCHAR)), (2, md5(s4::VARCHAR || '_' || s5::VARCHAR)), (3, md5(s6::VARCHAR || '_' || s7::VARCHAR))
        ) AS b(band, band_hash)
    ),
    hashes AS (
        SELECT doc_id, md5({NORM_SQL.format(c="coalesce(text, '')")}) AS content_hash
        FROM documents
    ),
    bat AS (SELECT doc_id FROM documents WHERE doc_id >= {LEDGER_SPLIT}),
    led AS (SELECT doc_id FROM documents WHERE doc_id < {LEDGER_SPLIT}),
    f_exact_corpus AS (
        SELECT h.doc_id FROM hashes h JOIN bat USING (doc_id)
        WHERE h.content_hash IN (
            SELECT content_hash FROM hashes JOIN led USING (doc_id))
    ),
    keeper AS (
        SELECT content_hash, min(doc_id) AS keep_id
        FROM hashes JOIN bat USING (doc_id) GROUP BY content_hash
    ),
    f_exact_batch AS (
        SELECT h.doc_id FROM hashes h JOIN bat USING (doc_id)
        JOIN keeper k USING (content_hash)
        WHERE h.doc_id <> k.keep_id
    ),
    f_near_corpus AS (
        SELECT DISTINCT b_b.doc_id
        FROM bands b_b JOIN bat ON bat.doc_id = b_b.doc_id
        JOIN sig b_s ON b_s.doc_id = b_b.doc_id
        JOIN bands l_b ON l_b.band = b_b.band AND l_b.band_hash = b_b.band_hash
        JOIN led ON led.doc_id = l_b.doc_id
        JOIN sig l_s ON l_s.doc_id = l_b.doc_id
        WHERE CASE WHEN b_s.s0 = l_s.s0 THEN 1 ELSE 0 END + CASE WHEN b_s.s1 = l_s.s1 THEN 1 ELSE 0 END + CASE WHEN b_s.s2 = l_s.s2 THEN 1 ELSE 0 END + CASE WHEN b_s.s3 = l_s.s3 THEN 1 ELSE 0 END + CASE WHEN b_s.s4 = l_s.s4 THEN 1 ELSE 0 END + CASE WHEN b_s.s5 = l_s.s5 THEN 1 ELSE 0 END + CASE WHEN b_s.s6 = l_s.s6 THEN 1 ELSE 0 END + CASE WHEN b_s.s7 = l_s.s7 THEN 1 ELSE 0 END >= {NEAR_MIN_MATCH}
    ),
    f_near_batch AS (
        SELECT DISTINCT a.doc_id
        FROM bands a JOIN bat ba ON ba.doc_id = a.doc_id
        JOIN sig sa ON sa.doc_id = a.doc_id
        JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
                     AND a.doc_id > b.doc_id
        JOIN bat bb ON bb.doc_id = b.doc_id
        JOIN sig sb ON sb.doc_id = b.doc_id
        WHERE CASE WHEN sa.s0 = sb.s0 THEN 1 ELSE 0 END + CASE WHEN sa.s1 = sb.s1 THEN 1 ELSE 0 END + CASE WHEN sa.s2 = sb.s2 THEN 1 ELSE 0 END + CASE WHEN sa.s3 = sb.s3 THEN 1 ELSE 0 END + CASE WHEN sa.s4 = sb.s4 THEN 1 ELSE 0 END + CASE WHEN sa.s5 = sb.s5 THEN 1 ELSE 0 END + CASE WHEN sa.s6 = sb.s6 THEN 1 ELSE 0 END + CASE WHEN sa.s7 = sb.s7 THEN 1 ELSE 0 END >= {NEAR_MIN_MATCH}
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id IN (SELECT doc_id FROM f_exact_corpus) THEN '{OUT_EXACT_CORPUS}'
                WHEN d.doc_id IN (SELECT doc_id FROM f_exact_batch)  THEN '{OUT_EXACT_BATCH}'
                WHEN d.doc_id IN (SELECT doc_id FROM f_near_corpus)  THEN '{OUT_NEAR_CORPUS}'
                WHEN d.doc_id IN (SELECT doc_id FROM f_near_batch)   THEN '{OUT_NEAR_BATCH}'
                ELSE '{OUT_KEPT}' END AS outcome
    FROM (SELECT doc_id FROM bat) d
"""

register(
    "incremental_admission_audit",
    oracle=INCREMENTAL_SQL,
    survey="LLM-pipeline (incremental admission dedup vs ledger)",
    doc="Nightly-crawl admission against the accepted-corpus "
    "ledger, outcomes replayed end to end in SQL (signatures, "
    "banding, scoring, priority). Reference anchor: the "
    "existence-guarded insert at clean_data.py:168-180.",
)(incremental_admission_audit)

LIBRARY_SPECS: dict[str, QuerySpec] = {}
