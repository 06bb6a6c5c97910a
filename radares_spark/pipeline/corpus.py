"""Corpus curation — the operators composed into the pipeline an LLM
training-data run actually executes.

Stage order follows the standard playbook (cheapest filter first, each
stage sees only survivors of the previous one):

1. **quality gate** — C4-style heuristics (operators/text.py
   text_quality_score): length, stopword ratio, punctuation ratio.
2. **language filter** — keep the requested languages
   (operators/text.lang_id_per_doc).
3. **exact dedup** — keep min(doc_id) per normalized-text hash
   (operators/dedup.py semantics).
4. **near dedup** — MinHash-LSH candidate pairs (operators/dedup
   minhash + banding), each VERIFIED with the exact word-shingle
   Jaccard before dropping the higher doc_id (LSH recall, exact
   precision — a random band collision never deletes a document).
   This keeps the minimum of each pairwise-connected group reachable
   through kept docs; full transitive-closure canonicalization is an
   iterative pair-join (or connected components) over the same pair
   table — at 100 TB you run that as a handful of self-join rounds.
5. **deterministic sample** — hash-mod carve-out (audited in
   relational_checks_suite's sample_10pct checks) so reruns and other
   engines agree on the byte-identical subset.

Every stage is a column expression / join over the previous stage —
one lazy plan, no driver materialization. ``curate`` returns BOTH the
curated docs and a per-doc audit (doc_id, stage it died in) because a
pipeline you cannot audit is a pipeline you cannot debug at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from radares_spark.io.tables import load_table
from radares_spark.operators.dedup import (
    _MH_SIG_EXPRS,
    BAND_R,
    N_BANDS,
    NORM_SQL,
    _md5,
    bucket_pairs,
    lsh_bands,
    lsh_pairs_capped,
    minhash_signatures,
    normalize_text,
    word_shingles,
)
from radares_spark.operators.text import _LANG_SQL_HITS, _LANG_SQL_PICK, lang_id_per_doc
from radares_spark.operators import text as text_ops
from radares_spark.registry import QuerySpec, register

DROP_QUALITY = "quality"
DROP_LANG = "lang"
DROP_EXACT = "exact_dup"
DROP_NEAR = "near_dup"
DROP_SAMPLE = "sampled_out"
KEPT = "kept"


def _quality_pass(docs: DataFrame) -> DataFrame:
    """(doc_id, quality_pass) — same expressions as the registered
    text_quality_score query. NULL text coalesces to '' so the gate
    yields a definite False (not NULL) and the doc stays auditable."""
    t = normalize_text(F.coalesce(F.col("text"), F.lit("")))
    toks = F.split(t, " ")
    n_tokens = F.size(toks)
    stop_hits = text_ops.stopword_hits(t, text_ops.EN_STOPWORDS)
    n_punct = F.length(F.regexp_replace(F.col("text"), "[a-zA-Z0-9\\s]", ""))
    stopword_ratio = stop_hits / n_tokens.cast("double")
    punct_ratio = n_punct / F.length("text").cast("double")
    return docs.select(
        "doc_id",
        (
            (n_tokens >= 20)
            & stopword_ratio.between(0.01, 0.6)
            & (punct_ratio < 0.1)
        ).alias("quality_pass"),
    )


def outcome_ladder(keep_langs: tuple[str, ...], sample_pct: int) -> Column:
    """The stage-priority ladder shared by batch curation and the
    incremental refresh: first failing stage wins. Expects columns
    ``quality_pass``, ``pred_lang``, ``exact_keep``, ``near_drop``
    (NULL near_drop == not dropped) and ``doc_id`` in scope; the
    sample carve-out is the same doc_id md5 bucket the checks suite
    audits."""
    bucket = (
        F.conv(F.substring(_md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("long")
        % 100
    )
    return (
        F.when(~F.col("quality_pass"), DROP_QUALITY)
        .when(~F.col("pred_lang").isin(*keep_langs), DROP_LANG)
        .when(~F.col("exact_keep"), DROP_EXACT)
        .when(F.col("near_drop"), DROP_NEAR)
        .when(bucket >= sample_pct, DROP_SAMPLE)
        .otherwise(KEPT)
    )


def near_dup_drops(
    docs: DataFrame,
    max_bucket: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """``(drops, hot_buckets)`` — drops: doc_ids to drop, the HIGHER id
    of every VERIFIED near-dup pair; hot_buckets: the cap report
    (empty when ``max_bucket`` is None).

    Two stages — LSH recall, exact precision:

    1. MinHash-LSH banding proposes candidate pairs (bucket self-join,
       never all-pairs);
    2. each candidate is verified with the EXACT word-3-shingle Jaccard
       (intersection via an equi-join on (doc, shingle) keyed per pair)
       and only pairs at/above 0.8 drop their higher
       doc_id. Random band collisions — which LSH produces by design —
       therefore never delete a document.

    ``max_bucket`` is the production hot-bucket cap
    (``operators/dedup.lsh_pairs_capped``): buckets with more members
    than the cap are excluded from the quadratic pair join and reported
    in ``hot_buckets`` instead. In the curation chain this routes spam
    clusters through the EXACT stage — byte-identical spam collapsed
    there for free upstream already; the residual near-identical-but-
    distinct members of a hot bucket are admitted-and-reported rather
    than fed to an unbounded pairwise verification.
    """
    bands = lsh_bands(minhash_signatures(docs))
    if max_bucket is not None:
        pairs, hot = lsh_pairs_capped(bands, max_bucket)
    else:
        hot = (
            bands.groupBy("band", "band_hash")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .filter(F.lit(False))
        )
        # collect-and-explode, not a bands self-join: the signature
        # pipeline is evaluated ONCE (the self-join provably ran it
        # twice — see bucket_pairs' docstring)
        pairs = bucket_pairs(bands)
    verified = verify_near_pairs(pairs.select("doc_a", "doc_b"), docs, 0.8)
    return verified.select(F.col("doc_b").alias("doc_id")).distinct(), hot


def verify_near_pairs(
    cand: DataFrame, docs: DataFrame, jaccard_threshold: float
) -> DataFrame:
    """Exact-precision stage shared by batch curation and the
    incremental refresh (pipeline/refresh.py): keep only candidate
    ``(doc_a, doc_b)`` pairs whose EXACT word-3-shingle Jaccard is at
    or above the threshold. ``docs`` must cover every pair member;
    shingle cost is proportional to the docs frame handed in — the
    refresh path passes only pair members, never the corpus."""
    sh = word_shingles(docs)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sh.withColumnRenamed("doc_id", "doc_a")
    sb = sh.withColumnRenamed("doc_id", "doc_b")
    inter = (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    na = sizes.withColumnsRenamed({"doc_id": "doc_a", "n": "na"})
    nb = sizes.withColumnsRenamed({"doc_id": "doc_b", "n": "nb"})
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(
            F.col("i") / (F.col("na") + F.col("nb") - F.col("i")).cast("double")
            >= jaccard_threshold
        )
        .select("doc_a", "doc_b")
    )


def curate(
    docs: DataFrame,
    keep_langs: tuple[str, ...] = ("en",),
    sample_pct: int = 100,
    max_bucket: int | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Run the full curation pipeline.

    Returns ``(curated, audit, hot_buckets)``: curated = surviving doc
    rows; audit = (doc_id, outcome) where outcome is ``kept`` or the
    first stage that dropped the doc; hot_buckets = the near-stage cap
    report (empty unless ``max_bucket`` is set — see
    :func:`near_dup_drops`).
    """
    quality = _quality_pass(docs)
    lang = lang_id_per_doc(docs)

    # coalesce: md5 of NULL text is NULL, which never matches in the
    # equi-join below — the doc would vanish from the audit entirely
    hashed = docs.select(
        "doc_id",
        _md5(normalize_text(F.coalesce(F.col("text"), F.lit("")))).alias("text_hash"),
    )
    keeper = hashed.groupBy("text_hash").agg(F.min("doc_id").alias("keep_id"))
    exact = hashed.join(keeper, "text_hash").select(
        "doc_id", (F.col("doc_id") == F.col("keep_id")).alias("exact_keep")
    )

    # near-dup candidates are computed only over docs still alive after
    # the cheap stages — the LSH shuffle never sees filtered-out bytes
    alive = (
        docs.join(quality, "doc_id")
        .join(lang, "doc_id")
        .join(exact, "doc_id")
        .filter(F.col("quality_pass") & F.col("pred_lang").isin(*keep_langs) & F.col("exact_keep"))
    )
    near, hot = near_dup_drops(alive.select("doc_id", "text"), max_bucket=max_bucket)
    near = near.withColumn("near_drop", F.lit(True))

    audit = (
        docs.select("doc_id")
        .join(quality, "doc_id")
        .join(lang, "doc_id")
        .join(exact, "doc_id")
        .join(near, "doc_id", "left")
        .select("doc_id", outcome_ladder(keep_langs, sample_pct).alias("outcome"))
    )
    curated = docs.join(audit.filter(F.col("outcome") == KEPT), "doc_id", "left_semi")
    return curated, audit, hot


N_BUDGET_BUCKETS = 1024


def sample_to_token_budget(docs: DataFrame, budget_tokens: int) -> DataFrame:
    """Deterministic prefix of the corpus totalling <= ``budget_tokens``
    whitespace tokens, in content-hash order.

    The naive form — a global running sum over one total ordering — is
    a single-partition window (a 100 TB non-starter). This is the
    scalable two-phase prefix sum instead:

    1. order docs by (md5 bucket, doc_id); sum tokens per bucket — one
       small aggregate (``N_BUDGET_BUCKETS`` rows);
    2. running-sum the per-bucket totals on that TINY frame (the only
       single-partition window, over 1024 rows) -> each bucket's global
       offset, broadcast back;
    3. within each bucket, a per-bucket window (parallel across
       buckets) adds the local running sum to the bucket offset; keep
       rows whose global prefix sum stays within budget.

    Deterministic: same corpus + budget -> byte-identical sample, no
    matter the partitioning. The boundary bucket admits docs up to the
    first overflow; later buckets are cut entirely by their offsets.
    """
    toks = F.size(F.split(normalize_text(F.col("text")), " "))
    bucketed = docs.withColumn(
        "__bucket",
        F.conv(F.substring(_md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % N_BUDGET_BUCKETS,
    ).withColumn("__tok", toks.cast("long"))

    # per-bucket totals derive from the in-bucket running sum's OUTPUT
    # (max of a running total over non-negative __tok is the bucket
    # total), so both consumers share the identical Exchange(__bucket)
    # child and the normalize+md5 projection over the corpus runs ONCE
    # — the r14 application of _placed's reuse trick (a direct groupBy
    # on ``bucketed`` puts its partial aggregate below its own
    # exchange, defeating reuse; measured ~8% at sf0.1, rows identical)
    in_w = (
        W.partitionBy("__bucket")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    win = bucketed.withColumn("__cum", F.sum("__tok").over(in_w))
    per_bucket = win.groupBy("__bucket").agg(F.max("__cum").alias("__btok"))
    off_w = (
        W.orderBy("__bucket").rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    offsets = per_bucket.select(
        "__bucket", (F.sum("__btok").over(off_w) - F.col("__btok")).alias("__offset")
    )
    return (
        win.join(F.broadcast(offsets), "__bucket")
        .withColumn("__prefix", F.col("__offset") + F.col("__cum"))
        .filter(F.col("__prefix") <= budget_tokens)
        .drop("__bucket", "__tok", "__offset", "__prefix", "__cum")
    )


def _unit_hash(col: Column, salt: str) -> Column:
    """Deterministic uniform bucket in [0, 1e6) from md5(salt:value) —
    the same partitioning-independent idiom as the budget buckets
    above (and DuckDB-mirrorable:
    ``('0x' || substr(md5(...), 1, 8))::BIGINT % 1000000``). Distinct
    salts give independent streams, so samples never correlate."""
    return (
        F.conv(F.substring(_md5(F.concat(F.lit(salt + ":"), col.cast("string"))), 1, 8), 16, 10)
        .cast("long")
        % 1_000_000
    )


def stratified_sample(docs: DataFrame, k: int) -> DataFrame:
    """Exactly ``k`` docs per source, deterministically: rank every doc
    by its salted content-hash within the group and keep rank <= k.

    The hash order makes the sample a pure function of identity (same
    corpus -> byte-identical sample on any cluster), and distinct
    salts keep it independent of the other sampling streams. The
    plan is ONE hash-partition shuffle on ``source``: Spark's
    WindowGroupLimit rewrite (rank <= k over a window) runs a partial
    top-k per input partition BEFORE the exchange, so only k rows per
    group per upstream partition cross the wire — at 100 TB the
    shuffle carries O(k * groups * partitions) rows, not the corpus.
    A single monster group still sorts k-bounded heaps, never the
    whole group. Plan-asserted in tests/test_corpus.py.
    """
    tagged = docs.withColumn("__u", _unit_hash(F.col("doc_id"), "strat"))
    w = W.partitionBy("source").orderBy("__u", "doc_id")
    return (
        tagged.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__u", "__rk")
    )


BUDGET_TOKENS = 15_000  # ~half the sf0.01 corpus, ~5% of sf0.1


@register(
    "corpus_token_budget",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               len(string_split({NORM_SQL.format(c='text')}, ' ')) AS n_tokens,
               ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                   % {N_BUDGET_BUCKETS} AS bucket
        FROM documents
    ),
    pref AS (
        SELECT doc_id, n_tokens,
               sum(n_tokens) OVER (ORDER BY bucket, doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND CURRENT ROW) AS cum
        FROM toks
    )
    SELECT doc_id, n_tokens FROM pref WHERE cum <= {BUDGET_TOKENS}
    """,
    survey="LLM-pipeline (token-budget corpus sampling, distributed "
    "prefix sum)",
    doc=f"Deterministic corpus prefix totalling <= {BUDGET_TOKENS} "
    "whitespace tokens in content-hash order "
    "(sample_to_token_budget above): the naive global running sum is a "
    "single-partition window; this is the scalable two-phase prefix sum "
    f"— per-bucket totals ({N_BUDGET_BUCKETS} rows) -> tiny offset "
    "window -> per-bucket parallel windows. The oracle replays the SAME "
    "global order (bucket, doc_id) as one flat window, which is "
    "feasible only because the oracle corpus is small — the equivalence "
    "IS the scale claim.",
)
def corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sampled = sample_to_token_budget(docs, BUDGET_TOKENS)
    toks = F.size(F.split(normalize_text(F.col("text")), " "))
    return sampled.select("doc_id", toks.alias("n_tokens"))


# --- Registered end-to-end curation audit ----------------------------------

_NORM_COALESCED = NORM_SQL.format(c="coalesce(text, '')")

CURATION_SQL = f"""
    WITH base AS (
        SELECT doc_id, text, {_NORM_COALESCED} AS t FROM documents
    ),
    quality AS (
        SELECT doc_id,
               (len(string_split(t, ' ')) >= 20
                AND len(list_filter(string_split(t, ' '),
                                    x -> list_contains({text_ops.EN_STOPWORDS!r}, x)))
                    / len(string_split(t, ' '))::DOUBLE BETWEEN 0.01 AND 0.6
                AND length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))
                    / length(text)::DOUBLE < 0.1) AS quality_pass
        FROM base
    ),
    tok AS (SELECT doc_id, string_split(t, ' ') AS toks FROM base),
    lhits AS (
        SELECT doc_id,
{_LANG_SQL_HITS}
        FROM tok
    ),
    lang AS (SELECT doc_id, {_LANG_SQL_PICK} AS pred_lang FROM lhits),
    hashed AS (SELECT doc_id, md5(t) AS th FROM base),
    keeper AS (SELECT th, min(doc_id) AS keep_id FROM hashed GROUP BY th),
    exact AS (
        SELECT h.doc_id, h.doc_id = k.keep_id AS exact_keep
        FROM hashed h JOIN keeper k USING (th)
    ),
    alive AS (
        SELECT b.doc_id, b.t
        FROM base b JOIN quality q USING (doc_id) JOIN lang l USING (doc_id)
                    JOIN exact e USING (doc_id)
        WHERE q.quality_pass AND l.pred_lang IN ('en') AND e.exact_keep
    ),
    atoks AS (SELECT doc_id, string_split(t, ' ') AS w FROM alive),
    sharr AS (
        SELECT doc_id,
               list_filter(list_transform(generate_series(1, greatest(len(w) - 2, 1)),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]),
                           x -> x IS NOT NULL) AS sh
        FROM atoks
    ),
    shashed AS (
        SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS h
        FROM (SELECT doc_id, unnest(sh) AS s FROM sharr)
    ),
    sig AS (SELECT doc_id, {_MH_SIG_EXPRS} FROM shashed GROUP BY doc_id),
    bands AS (
        SELECT doc_id, b.band, b.band_hash
        FROM sig, LATERAL (
            VALUES {", ".join(f"({b}, md5(s{BAND_R * b}::VARCHAR || '_' || s{BAND_R * b + 1}::VARCHAR))" for b in range(N_BANDS))}
        ) AS b(band, band_hash)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    ),
    wsh AS (SELECT DISTINCT doc_id, s
            FROM (SELECT doc_id, unnest(sh) AS s FROM sharr)),
    sizes AS (SELECT doc_id, count(*) AS n FROM wsh GROUP BY doc_id),
    inter AS (
        SELECT c.doc_a, c.doc_b, count(*) AS i
        FROM cand c JOIN wsh a ON a.doc_id = c.doc_a
                    JOIN wsh b ON b.doc_id = c.doc_b AND b.s = a.s
        GROUP BY 1, 2
    ),
    near AS (
        SELECT DISTINCT doc_b AS doc_id
        FROM inter JOIN sizes sa ON sa.doc_id = doc_a
                   JOIN sizes sb ON sb.doc_id = doc_b
        WHERE i / (sa.n + sb.n - i)::DOUBLE >= 0.8
    )
    SELECT d.doc_id,
           CASE WHEN NOT q.quality_pass THEN '{DROP_QUALITY}'
                WHEN l.pred_lang NOT IN ('en') THEN '{DROP_LANG}'
                WHEN NOT e.exact_keep THEN '{DROP_EXACT}'
                WHEN n.doc_id IS NOT NULL THEN '{DROP_NEAR}'
                ELSE '{KEPT}' END AS outcome
    FROM base d JOIN quality q USING (doc_id) JOIN lang l USING (doc_id)
                JOIN exact e USING (doc_id) LEFT JOIN near n USING (doc_id)
"""


# Library-tier since r6: the driver slot went to crawl_pipeline_audit
# (pipeline/crawl.py), whose tail IS this chain — the driver row now
# also value-checks URL dedup, HTML extraction, and PII scrubbing.
# This spec stays hash-compared by the library parity sweep.
def corpus_curation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    _, audit, _ = curate(docs, keep_langs=("en",))
    return audit


STRAT_K = 10

STRATIFIED_SQL = f"""
    WITH u AS (
        SELECT doc_id, source,
               ('0x' || substr(md5('strat:' || doc_id::VARCHAR), 1, 8))::BIGINT
                   % 1000000 AS uh
        FROM documents
    ),
    r AS (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source ORDER BY uh, doc_id) AS rk
        FROM u
    )
    SELECT doc_id, source FROM r WHERE rk <= {STRAT_K}
"""


@register(
    "corpus_stratified_sample",
    oracle=STRATIFIED_SQL,
    survey="LLM-pipeline (stratified per-source sampling)",
    doc=f"Exactly {STRAT_K} docs per source, deterministic in the "
    "salted content-hash order (stratified_sample above). The "
    "rank <= k filter triggers Spark's WindowGroupLimit rewrite, "
    "so each upstream partition forwards at most k rows per group "
    "into the single shuffle — the scalable per-group top-k shape. "
    "Library tier in r3; promoted to the driver window in r4 "
    "(VERDICT r3 ask #5) into the slot freed by radar_clean_suite.",
)
def corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return stratified_sample(docs, STRAT_K)


def emit_sequences(docs: DataFrame, ctx_len: int) -> DataFrame:
    """Materialize the fixed-length training sequences (concat-and-chunk
    packing, zero tokens wasted on padding): lay every doc's tokens end
    to end in the deterministic (hash-bucket, doc_id) corpus order and
    emit one row per ``ctx_len`` window — (seq_id, n_docs,
    n_seq_tokens, seq_text). Every sequence is exactly ``ctx_len``
    tokens except the final partial one; docs straddle boundaries
    (zero padding waste).

    Scale shape: the global token offset is the same two-phase prefix
    sum as :func:`sample_to_token_budget`; each doc then EXPLODES into only
    the sequences it touches (1 + n_tokens/ctx_len rows — linear) and
    contributes its slice via one ``F.slice`` on the already-split
    token array. Reassembly is one shuffle on seq_id with the
    order-preserving ``array_sort(collect_list(struct(offset,
    slice)))`` idiom; per-task work is bounded by ctx_len tokens x
    docs-per-sequence (a sequence holds at most ctx_len docs).
    """
    norm = normalize_text(F.coalesce(F.col("text"), F.lit("")))
    bucketed = (
        docs.select("doc_id", F.split(norm, " ").alias("w"))
        .withColumn(
            "__bucket",
            F.conv(F.substring(_md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long")
            % N_BUDGET_BUCKETS,
        )
        .withColumn(
            "n",
            # split('') is ['']: empty iff exactly one empty element —
            # O(1) per doc, not an O(len) array_join just to test it
            F.when((F.size("w") == 1) & (F.get("w", 0) == ""), F.lit(0))
            .otherwise(F.size("w"))
            .cast("long"),
        )
    )
    per_bucket = bucketed.groupBy("__bucket").agg(F.sum("n").alias("__btok"))
    off_w = W.orderBy("__bucket").rowsBetween(W.unboundedPreceding, W.currentRow)
    offsets = per_bucket.select(
        "__bucket", (F.sum("__btok").over(off_w) - F.col("__btok")).alias("__offset")
    )
    in_w = (
        W.partitionBy("__bucket")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    placed = (
        bucketed.join(F.broadcast(offsets), "__bucket")
        .withColumn("off", F.col("__offset") + F.sum("n").over(in_w) - F.col("n"))
        .filter(F.col("n") > 0)
    )
    # the sequences this doc touches; slice bounds are 1-based in the
    # doc's local token array
    spans = placed.select(
        "doc_id",
        "w",
        "off",
        "n",
        F.explode(
            F.sequence(
                F.floor(F.col("off") / ctx_len),
                F.floor((F.col("off") + F.col("n") - 1) / ctx_len),
            )
        ).alias("seq_id"),
    )
    lo = F.greatest(F.col("seq_id") * ctx_len - F.col("off"), F.lit(0))
    hi = F.least((F.col("seq_id") + 1) * ctx_len - F.col("off"), F.col("n"))
    sliced = spans.select(
        "seq_id",
        "off",
        F.slice(F.col("w"), (lo + 1).cast("int"), (hi - lo).cast("int")).alias(
            "piece"
        ),
    )
    return (
        sliced.groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("off", "piece"))),
                    lambda s: s["piece"],
                )
            ).alias("__toks"),
        )
        .select(
            "seq_id",
            "n_docs",
            F.size("__toks").cast("long").alias("n_seq_tokens"),
            F.array_join("__toks", " ").alias("seq_text"),
        )
    )


PACK_CTX = 256

EMIT_SQL = f"""
    WITH toks AS (
        SELECT doc_id,
               string_split({NORM_SQL.format(c="coalesce(text, '')")}, ' ') AS w,
               ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                   % {N_BUDGET_BUCKETS} AS bucket
        FROM documents
    ),
    sized AS (
        SELECT doc_id, w, bucket,
               CASE WHEN array_to_string(w, ' ') = '' THEN 0 ELSE len(w) END AS n
        FROM toks
    ),
    placed AS (
        SELECT doc_id, w, n,
               (sum(n) OVER (ORDER BY bucket, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) - n)::BIGINT AS off
        FROM sized
    ),
    spans AS (
        SELECT doc_id, w, off, n, s AS seq_id
        FROM placed,
             LATERAL unnest(generate_series(off // {PACK_CTX},
                                            (off + n - 1) // {PACK_CTX})) AS t(s)
        WHERE n > 0
    ),
    sliced AS (
        SELECT seq_id, off,
               w[greatest(seq_id * {PACK_CTX} - off, 0) + 1 :
                 least((seq_id + 1) * {PACK_CTX} - off, n)] AS piece
        FROM spans
    )
    SELECT seq_id,
           count(*) AS n_docs,
           len(flatten(list(piece ORDER BY off))) AS n_seq_tokens,
           array_to_string(flatten(list(piece ORDER BY off)), ' ') AS seq_text
    FROM sliced
    GROUP BY seq_id
"""


def corpus_pack_emit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return emit_sequences(docs, PACK_CTX)


def chunk_documents(
    docs: DataFrame, chunk_tokens: int, overlap: int = 0
) -> DataFrame:
    """Overlapping fixed-size chunking — the retrieval-side sibling of
    :func:`emit_sequences` (training packs docs ACROSS boundaries; a
    RAG/embedding index chunks WITHIN each doc, with overlap so no
    answer span straddles a cut unseen).

    Chunk k of a doc covers tokens [k*stride+1, k*stride+chunk_tokens]
    with stride = chunk_tokens - overlap; the last chunk may be short;
    empty docs yield no chunks. Returns (doc_id, chunk_id,
    n_chunk_tokens, chunk_text).

    Scale shape: per-doc arithmetic only — each doc explodes into its
    own chunk count (1 + (n-overlap-1)//stride rows) and slices its
    already-split token array; zero shuffles, no window, no join. The
    inflation factor is chunk/(chunk-overlap), bounded by the overlap
    policy, never quadratic.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    norm = normalize_text(F.coalesce(F.col("text"), F.lit("")))
    toks = docs.select(
        "doc_id", F.split(norm, " ").alias("w")
    ).withColumn(
        "n",
        F.when((F.size("w") == 1) & (F.get("w", 0) == ""), F.lit(0))
        .otherwise(F.size("w"))
        .cast("long"),
    )
    chunks = toks.filter(F.col("n") > 0).select(
        "doc_id",
        "w",
        "n",
        F.explode(
            F.sequence(
                F.lit(0),
                F.floor((F.greatest(F.col("n") - overlap, F.lit(1)) - 1) / stride),
            )
        ).alias("chunk_id"),
    )
    piece = F.slice(
        F.col("w"),
        (F.col("chunk_id") * stride + 1).cast("int"),
        F.lit(chunk_tokens),
    )
    return chunks.select(
        "doc_id",
        "chunk_id",
        F.size(piece).cast("long").alias("n_chunk_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


CHUNK_TOKENS = 48
CHUNK_OVERLAP = 8

CHUNK_SQL = f"""
    WITH toks AS (
        SELECT doc_id,
               string_split({NORM_SQL.format(c="coalesce(text, '')")}, ' ') AS w
        FROM documents
    ),
    sized AS (
        SELECT doc_id, w,
               CASE WHEN len(w) = 1 AND w[1] = '' THEN 0 ELSE len(w) END AS n
        FROM toks
    ),
    chunks AS (
        SELECT doc_id, w, n, k AS chunk_id
        FROM sized,
             LATERAL unnest(generate_series(0,
                 (greatest(n - {CHUNK_OVERLAP}, 1) - 1)
                     // {CHUNK_TOKENS - CHUNK_OVERLAP})) AS t(k)
        WHERE n > 0
    )
    SELECT doc_id, chunk_id,
           len(w[chunk_id * {CHUNK_TOKENS - CHUNK_OVERLAP} + 1 :
                 chunk_id * {CHUNK_TOKENS - CHUNK_OVERLAP} + {CHUNK_TOKENS}])::BIGINT
               AS n_chunk_tokens,
           array_to_string(w[chunk_id * {CHUNK_TOKENS - CHUNK_OVERLAP} + 1 :
                             chunk_id * {CHUNK_TOKENS - CHUNK_OVERLAP} + {CHUNK_TOKENS}],
                           ' ') AS chunk_text
    FROM chunks
"""


def corpus_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_documents(docs, CHUNK_TOKENS, CHUNK_OVERLAP)


def corpus_health_report(docs: DataFrame) -> DataFrame:
    """Per-source operational health — the one-query audit an operator
    runs before/after every intake (the corpus twin of the reference's
    verify_dates completeness audit): doc and token volumes, NULL-text
    count, within-source exact-duplicate surplus, quality-gate pass
    rate, and English share.

    Shape: the per-doc features reuse the curation stages' own
    expressions (same gate semantics as ``curate``), joined on the doc
    spine, then ONE aggregate on the source key. The dup surplus is
    ``count(*) - count(distinct content-hash)`` — no self-join.
    """
    quality = _quality_pass(docs)
    lang = lang_id_per_doc(docs)
    norm = normalize_text(F.coalesce(F.col("text"), F.lit("")))
    base = docs.select(
        "doc_id",
        "source",
        F.when(F.col("text").isNull(), 1).otherwise(0).alias("is_null"),
        F.size(F.split(norm, " ")).cast("long").alias("ntok"),
        _md5(norm).alias("th"),
    )
    perdoc = base.join(quality, "doc_id").join(lang, "doc_id")
    return perdoc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ntok").alias("n_tokens"),
        F.sum("is_null").alias("n_null_text"),
        (F.count(F.lit(1)) - F.count_distinct("th")).alias("n_exact_dup_extra"),
        F.round(F.avg(F.col("quality_pass").cast("int")), 6).alias("quality_rate"),
        F.round(F.avg((F.col("pred_lang") == "en").cast("int")), 6).alias("en_rate"),
    )


HEALTH_SQL = f"""
    WITH base AS (
        SELECT doc_id, source, text, {_NORM_COALESCED} AS t FROM documents
    ),
    quality AS (
        SELECT doc_id,
               (len(string_split(t, ' ')) >= 20
                AND len(list_filter(string_split(t, ' '),
                                    x -> list_contains({{stop}}, x)))
                    / len(string_split(t, ' '))::DOUBLE BETWEEN 0.01 AND 0.6
                AND length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))
                    / length(text)::DOUBLE < 0.1) AS quality_pass
        FROM base
    ),
    tok AS (SELECT doc_id, string_split(t, ' ') AS toks FROM base),
    lhits AS (
        SELECT doc_id,
{{lang_hits}}
        FROM tok
    ),
    lang AS (SELECT doc_id, {{lang_pick}} AS pred_lang FROM lhits)
    SELECT b.source,
           count(*) AS n_docs,
           sum(len(string_split(b.t, ' ')))::BIGINT AS n_tokens,
           sum(CASE WHEN b.text IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null_text,
           (count(*) - count(DISTINCT md5(b.t)))::BIGINT AS n_exact_dup_extra,
           round(avg(CASE WHEN q.quality_pass THEN 1 ELSE 0 END), 6) AS quality_rate,
           round(avg(CASE WHEN l.pred_lang = 'en' THEN 1 ELSE 0 END), 6) AS en_rate
    FROM base b JOIN quality q USING (doc_id) JOIN lang l USING (doc_id)
    GROUP BY b.source
"""


def corpus_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    return corpus_health_report(docs)


def temperature_rates(
    docs: DataFrame,
    temperature: float,
    budget_tokens: int,
) -> DataFrame:
    """Temperature-scaled source allocation — the multilingual /
    multi-domain rebalancing rule (mT5 / UniMax lineage): sampling
    mass p_s ∝ c_s^(1/T) over per-source token counts c_s, so T=1
    reproduces natural proportions and T→∞ approaches uniform,
    boosting small sources without letting any source exceed its own
    data (rate capped at 1 — the UniMax constraint).

    Returns one row per source: (source, n_tokens, rate_ppm) where
    rate_ppm/1e6 is each source's keep-probability. Everything
    downstream of the per-source count aggregate operates on a frame with ONE ROW PER SOURCE — kilobytes forever —
    so the single-partition window over it is bounded by the source
    vocabulary, same sanction as the DSIR bin window.
    """
    toks = F.size(F.split(normalize_text(F.coalesce(F.col("text"), F.lit(""))), " "))
    sizes = docs.groupBy("source").agg(
        F.sum(toks.cast("long")).alias("n_tokens")
    )
    mass = F.pow(F.col("n_tokens").cast("double"), 1.0 / temperature)
    total_w = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    rated = sizes.withColumn("__mass", mass).withColumn(
        "__target",
        F.col("__mass") / F.sum("__mass").over(total_w) * F.lit(float(budget_tokens)),
    )
    return rated.select(
        "source",
        "n_tokens",
        F.floor(
            F.least(F.lit(1.0), F.col("__target") / F.col("n_tokens")) * 1_000_000
        )
        .cast("long")
        .alias("rate_ppm"),
    )


TEMP_T = 3.0
TEMP_BUDGET = 20_000

TEMP_RATES_SQL = f"""
    WITH sizes AS (
        SELECT source,
               sum(len(string_split({NORM_SQL.format(c="coalesce(text, '')")}, ' ')))::BIGINT
                   AS n_tokens
        FROM documents GROUP BY source
    ),
    rated AS (
        SELECT source, n_tokens,
               pow(n_tokens::DOUBLE, 1.0 / {TEMP_T})
                   / sum(pow(n_tokens::DOUBLE, 1.0 / {TEMP_T})) OVER ()
                   * {TEMP_BUDGET}.0 AS target
        FROM sizes
    )
    SELECT source, n_tokens,
           floor(least(1.0, target / n_tokens) * 1000000)::BIGINT AS rate_ppm
    FROM rated
"""


def corpus_temperature_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    return temperature_rates(docs, TEMP_T, TEMP_BUDGET)


WS_BIN_SCALE = 64  # bins per unit of exponential key
WS_BIN_CLAMP = 1024  # e >= 0 always -> <= 1025 occupied bins


def weighted_sample(
    docs: DataFrame, weight: Column, k: int, seed: str = "ws"
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis & Spirakis
    2006, "Weighted random sampling with a reservoir"): give each doc
    an exponential race key ``e = -ln(u) / w`` with ``u`` uniform in
    (0, 1); the k SMALLEST keys are exactly a weighted draw without
    replacement — the distributed form of the paper's A-ES reservoir.
    Docs with non-positive weight are excluded (zero mass cannot win).

    Deterministic: ``u`` comes from the same ``md5(seed:doc_id)``
    unit-hash idiom as mixing, so the sample is a pure function
    of identity — byte-identical across re-runs, partitionings, and
    cluster sizes, and mirrorable in the DuckDB oracle.

    Scale shape: "take the k smallest e" is a global top-k — a naive
    ``row_number() OVER (ORDER BY e)`` is a single-partition window.
    This reuses the two-phase prefix shape of
    :func:`sample_to_token_budget` / ``dsir_resample`` with a prefix
    COUNT over coarse key bins: bin order equals key order across
    bins, per-bin ranks run parallel, and the only single-partition
    window is over the <= {clamp} occupied bin rows. Selection equals
    the global (e, doc_id) order exactly — binning never changes it.

    Returns (doc_id, weight, sel_rank) for the k winners;
    ``sel_rank`` is the doc's 1-based position in the draw order.
    """
    u = (_unit_hash(F.col("doc_id"), seed) + F.lit(0.5)) / F.lit(1_000_000.0)
    scored = (
        docs.select("doc_id", weight.cast("double").alias("weight"))
        .filter(F.col("weight") > 0)
        .withColumn("__e", -F.log(u) / F.col("weight"))
        .withColumn(
            "__bin",
            F.least(F.lit(WS_BIN_CLAMP), F.floor(F.col("__e") * WS_BIN_SCALE)),
        )
    )
    # NOTE r14: deriving per-bin counts from the ranked window's output
    # (the _placed / sample_to_token_budget exchange-reuse trick) was
    # interleaved-A/B'd here and measured ~8-10% SLOWER at sf0.1: this
    # operator's two branches are latency-bound and run in parallel,
    # while the shared-exchange form serializes them through the window
    # and re-sorts above the exchange once per consumer. The two-branch
    # form stays.
    per_bin = scored.groupBy("__bin").agg(F.count(F.lit(1)).alias("__n"))
    off_w = W.orderBy("__bin").rowsBetween(W.unboundedPreceding, W.currentRow)
    offsets = per_bin.select(
        "__bin", (F.sum("__n").over(off_w) - F.col("__n")).alias("__offset")
    )
    in_w = W.partitionBy("__bin").orderBy(F.asc("__e"), F.asc("doc_id"))
    return (
        scored.join(F.broadcast(offsets), "__bin")
        .withColumn("sel_rank", F.col("__offset") + F.row_number().over(in_w))
        .filter(F.col("sel_rank") <= k)
        .select("doc_id", "weight", "sel_rank")
    )


# under python -O docstrings are stripped to None — guard so the
# module stays importable (the format is cosmetic, not behavior)
if weighted_sample.__doc__:
    weighted_sample.__doc__ = weighted_sample.__doc__.format(clamp=WS_BIN_CLAMP + 1)

WS_K = 100

WEIGHTED_SAMPLE_SQL = f"""
    WITH scored AS (
        SELECT doc_id,
               (CASE WHEN {NORM_SQL.format(c="coalesce(text, '')")} = '' THEN 0
                     ELSE len(string_split({NORM_SQL.format(c="coalesce(text, '')")}, ' '))
                END)::DOUBLE AS weight,
               (('0x' || substr(md5('ws:' || doc_id::VARCHAR), 1, 8))::BIGINT
                    % 1000000 + 0.5) / 1000000.0 AS u
        FROM documents
    ),
    keyed AS (
        SELECT doc_id, weight, -ln(u) / weight AS e
        FROM scored WHERE weight > 0
    )
    SELECT doc_id, weight,
           row_number() OVER (ORDER BY e, doc_id) AS sel_rank
    FROM keyed
    QUALIFY sel_rank <= {WS_K}
"""


def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # split('') is [''], so a bare size() would hand empty-normalized
    # docs weight 1 — a zero-token doc could win the draw, and the
    # streaming reservoir twin (which zeroes them) would diverge from
    # this registered variant (review finding)
    norm = normalize_text(F.coalesce(F.col("text"), F.lit("")))
    toks = F.when(norm == "", F.lit(0)).otherwise(F.size(F.split(norm, " ")))
    return weighted_sample(docs, toks, WS_K)


LIBRARY_SPECS: dict[str, QuerySpec] = {
    "corpus_curation_audit": QuerySpec(
        name="corpus_curation_audit",
        fn=corpus_curation_audit,
        oracle=CURATION_SQL,
        survey="LLM-pipeline (end-to-end curation chain: quality -> lang "
        "-> exact dedup -> verified near-dedup, with per-doc audit)",
        doc="The full curation pipeline (curate above) as ONE "
        "hash-checked query: every doc's (doc_id, outcome) where outcome "
        "is the first stage that dropped it — quality gate, language "
        "filter, exact dedup keeper, MinHash-LSH candidate + exact-Jaccard "
        "verified near-dedup — or 'kept'. The near-dup stage only sees "
        "docs alive after the cheap stages (the LSH shuffle never sees "
        "filtered-out bytes), and every LSH candidate is verified with the "
        "exact word-shingle Jaccard before a drop (a random band collision "
        "never deletes a document). The oracle replays the entire chain in "
        "SQL, so signatures, banding, Jaccard arithmetic and stage "
        "priority are all value-checked end to end. Library-tier since "
        "r6: its driver slot went to crawl_pipeline_audit, which "
        "strictly subsumes this chain as its tail.",
    ),
    "corpus_pack_emit": QuerySpec(
        name="corpus_pack_emit",
        fn=corpus_pack_emit,
        oracle=EMIT_SQL,
        survey="LLM-pipeline (packed-sequence materialization — the "
        "reader side of concat-and-chunk packing)",
        doc=f"One row per {PACK_CTX}-token training sequence: docs laid "
        "end to end in (hash-bucket, doc_id) order, sliced at sequence "
        "boundaries, reassembled per seq_id. Each doc explodes into "
        "only the sequences it touches; per-task work bounded by "
        "ctx_len x docs-per-sequence.",
    ),
    "corpus_chunks": QuerySpec(
        name="corpus_chunks",
        fn=corpus_chunks,
        oracle=CHUNK_SQL,
        survey="LLM-pipeline (overlapping document chunking for "
        "retrieval/embedding indexes)",
        doc=f"{CHUNK_TOKENS}-token chunks with {CHUNK_OVERLAP}-token "
        "overlap; per-doc arithmetic only — zero shuffles, inflation "
        "bounded by chunk/(chunk-overlap).",
    ),
    "corpus_health_report": QuerySpec(
        name="corpus_health_report",
        fn=corpus_health,
        oracle=HEALTH_SQL.format(
            stop=repr(text_ops.EN_STOPWORDS),
            lang_hits=_LANG_SQL_HITS,
            lang_pick=_LANG_SQL_PICK,
        ),
        survey="ops diagnostic (per-source corpus health: volumes, "
        "NULL-text, dup surplus, quality/lang rates)",
        doc="One aggregate on the source key over per-doc features "
        "reusing the curation gates' own expressions; dup surplus is "
        "count minus distinct content hashes — no self-join.",
    ),
    "corpus_temperature_rates": QuerySpec(
        name="corpus_temperature_rates",
        fn=corpus_temperature_rates,
        oracle=TEMP_RATES_SQL,
        survey="LLM-pipeline (temperature-scaled source mixing, "
        "mT5/UniMax lineage)",
        doc=f"Per-source keep-rates for T={TEMP_T}, budget {TEMP_BUDGET} "
        "tokens: mass ∝ tokens^(1/T), rate capped at 1 (UniMax). One "
        "count aggregate, then a one-row-per-source frame — the only "
        "window runs over the source vocabulary.",
    ),
    "corpus_weighted_sample": QuerySpec(
        name="corpus_weighted_sample",
        fn=corpus_weighted_sample,
        oracle=WEIGHTED_SAMPLE_SQL,
        survey="LLM-pipeline (weighted sampling without replacement, "
        "Efraimidis-Spirakis exponential race)",
        doc=f"Top-{WS_K} docs by deterministic exponential race key "
        "-ln(u)/weight (weight = whitespace token count): an exact "
        "weighted-without-replacement draw. Selection via the "
        "two-phase prefix COUNT over coarse key bins — the oracle "
        "replays the same order as one flat window, feasible only "
        "because the oracle corpus is small; the equivalence IS the "
        "scale claim.",
    ),
}
