"""DSIR-style data selection — importance weights from hashed n-gram
features (Xie et al. 2023, "Data Selection for Language Models via
Importance Resampling") — plus the CCNet-flavored unigram log-prob
score (Wenzek et al. 2020 filter by LM perplexity; here the LM is a
hashed-unigram model so the whole thing stays engine-native — the
real KenLM step is an external model this sandbox doesn't ship).

Both scores share one mechanism and one pass:

1. explode docs to word n-gram rows (the proven positions-only
   generator of ``operators/dedup.shingle_rows``);
2. hash each gram into ``N_BUCKETS`` buckets (md5-derived, the
   DuckDB-mirrorable idiom of ``pipeline/corpus._unit_hash``);
3. ONE aggregate over the gram stream computes the raw-corpus count
   AND the target-subset count per bucket (map-side combined; output
   is N_BUCKETS rows — kilobytes);
4. broadcast the per-bucket log-ratio / log-prob table back onto the
   gram stream; one per-doc sum.

Scale shape: the corpus is scanned twice (feature build, scoring) but
shuffled only as (bucket) x counts and (doc_id) x partial sums — both
map-side combined; the model itself is broadcast-sized by
construction (bucketing bounds the vocabulary). That is the published
DSIR architecture: hashed features exist precisely so the model never
grows with the corpus.

DSIR weight per doc = sum over gram occurrences of
log(p_target(b)/p_raw(b)) with add-alpha smoothing — docs that look
like the target distribution score high; resampling then keeps docs
with probability proportional to exp(weight) (the resample step IS
``pipeline/corpus.sample_to_token_budget``-style selection over these
weights, left to the caller).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from radares_spark.io.tables import load_table, spread
from radares_spark.operators.dedup import NORM_SQL, _md5, shingle_rows
from radares_spark.registry import QuerySpec

N_BUCKETS = 1024
ALPHA = 1.0  # add-alpha smoothing per bucket
NGRAM = 2  # word bigrams (DSIR paper: unigrams+bigrams; bigrams carry both)


def _bucket(gram: Column) -> Column:
    """md5-derived bucket in [0, N_BUCKETS) — DuckDB-mirrorable."""
    return (
        F.conv(F.substring(_md5(gram), 1, 8), 16, 10).cast("long") % N_BUCKETS
    )


def gram_buckets(
    docs: DataFrame, n: int = NGRAM, carry: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id, b[, *carry]) — one row per word n-gram occurrence."""
    return shingle_rows(docs, n=n, carry=carry).select(
        "doc_id", _bucket(F.col("shingle")).alias("b"), *carry
    )


def dsir_weights(docs: DataFrame, is_target: Column) -> DataFrame:
    """(doc_id, n_grams, dsir_logweight) for EVERY doc.

    ``is_target`` is a boolean Column over ``docs`` marking the
    high-quality target subset the raw corpus should be steered
    toward (the paper's target = formal text; any predicate works).
    ``dsir_logweight`` = sum over the doc's gram occurrences of
    log(p_target(bucket) / p_raw(bucket)), both add-alpha smoothed.
    Docs with no grams get weight 0.0 (no evidence either way).
    """
    # ONE gram stream with the per-doc target flag riding along each
    # row (shingle_rows' carry): a single map-side-combined aggregate
    # yields BOTH distributions. NEVER a doc-level join or broadcast: a
    # doc_id -> flag table is corpus-sized at 100 TB, while this
    # aggregate is kilobytes regardless of corpus size. (r5: the flag
    # rider replaced a second filtered gram stream — the gram+md5
    # pipeline, the dominant cost, now evaluates once per aggregate
    # pass instead of twice.)
    grams = gram_buckets(
        docs.select("doc_id", "text", is_target.alias("__t")), carry=("__t",)
    )
    counts = grams.groupBy("b").agg(
        F.count(F.lit(1)).alias("c_raw"),
        F.sum(F.when(F.col("__t"), 1).otherwise(0)).alias("c_tgt"),
    )
    # corpus totals via a single-partition window over the <= n_buckets
    # count rows — bounded by construction (the same sanctioned idiom
    # as the resample bin window below). The previous
    # counts.agg(...) + crossJoin(broadcast(totals)) formulation put
    # the counts subtree — gram stream included — into the plan TWICE.
    tot_w = W.partitionBy().rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    model = counts.select(
        "b",
        (
            F.log(
                (F.col("c_tgt") + F.lit(ALPHA))
                / (F.sum("c_tgt").over(tot_w) + F.lit(ALPHA * N_BUCKETS))
            )
            - F.log(
                (F.col("c_raw") + F.lit(ALPHA))
                / (F.sum("c_raw").over(tot_w) + F.lit(ALPHA * N_BUCKETS))
            )
        ).alias("lr"),
    )
    scored = grams.join(F.broadcast(model), "b").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.round(F.sum("lr"), 6).alias("dsir_logweight"),
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("dsir_logweight", F.lit(0.0)).alias("dsir_logweight"),
        )
    )


def unigram_logprob(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, avg_neg_logprob) — CCNet-style LM filter
    score with a hashed-unigram model trained on the corpus itself:
    average negative log-probability per token (high = surprising =
    CCNet's 'tail'; low = head). Empty docs score 0.0."""
    grams = gram_buckets(docs.select("doc_id", "text"), n=1)
    counts = grams.groupBy("b").agg(F.count(F.lit(1)).alias("c"))
    # single-partition window over <= n_buckets rows — see dsir_weights
    tot_w = W.partitionBy().rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    model = counts.select(
        "b",
        (
            -F.log(
                (F.col("c") + F.lit(ALPHA))
                / (F.sum("c").over(tot_w) + F.lit(ALPHA * N_BUCKETS))
            )
        ).alias("nlp"),
    )
    scored = grams.join(F.broadcast(model), "b").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg("nlp"), 6).alias("avg_neg_logprob"),
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("avg_neg_logprob", F.lit(0.0)).alias("avg_neg_logprob"),
        )
    )


WEIGHT_BIN_SCALE = 4  # bins per unit of log-weight
WEIGHT_BIN_CLAMP = 512  # |bin| cap -> <= 1025 occupied bins


def dsir_resample(docs: DataFrame, is_target: Column, budget_tokens: int) -> DataFrame:
    """The paper's resample step, deterministic engine-native variant:
    take docs in DESCENDING importance-weight order (ties on doc_id)
    until ``budget_tokens`` whitespace tokens are admitted. Returns
    (doc_id, n_tokens, dsir_logweight) for the selected prefix.

    A global weight-ordered running sum would be a single-partition
    window; this reuses the two-phase prefix-sum shape of
    ``pipeline.corpus.sample_to_token_budget`` with the bucket being a
    COARSE WEIGHT BIN (floor(-w * SCALE), clamped): bin order equals
    weight order across bins, the exact (weight desc, doc_id) order
    holds within a bin's window, and the only single-partition window
    runs over the <= 1025 occupied bins. Same greedy selection as
    sorting the whole corpus, never a corpus-wide sort.
    """
    w = dsir_weights(docs, is_target)
    # route through normalize_text, never an inline copy of its chain:
    # a hand-inlined variant silently missed the ASCII pre-strip when
    # normalization gained it (conformance-fuzz fix)
    from radares_spark.operators.dedup import normalize_text

    toks = F.size(F.split(normalize_text(F.coalesce(F.col("text"), F.lit(""))), " "))
    scored = (
        docs.select("doc_id", toks.cast("long").alias("n_tokens"))
        .join(w.select("doc_id", "dsir_logweight"), "doc_id")
        .withColumn(
            "__bin",
            F.greatest(
                F.lit(-WEIGHT_BIN_CLAMP),
                F.least(
                    F.lit(WEIGHT_BIN_CLAMP),
                    F.floor(-F.col("dsir_logweight") * WEIGHT_BIN_SCALE),
                ),
            ),
        )
    )
    # per-bin totals derive from the in-bin running sum's OUTPUT (max
    # of a running total over non-negative n_tokens is the bin total):
    # both consumers share the identical Exchange(__bin) child, so the
    # upstream — the doc spine joined to the full dsir_weights gram
    # machinery — evaluates ONCE instead of once per branch (the
    # shards._placed reuse trick; interleaved A/B at sf0.1: ~7%
    # faster, rows identical; the win grows with the upstream, which
    # here is the heaviest in the module)
    in_w = (
        W.partitionBy("__bin")
        .orderBy(F.desc("dsir_logweight"), F.asc("doc_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    win = scored.withColumn("__cum", F.sum("n_tokens").over(in_w))
    per_bin = win.groupBy("__bin").agg(F.max("__cum").alias("__btok"))
    off_w = W.orderBy("__bin").rowsBetween(W.unboundedPreceding, W.currentRow)
    offsets = per_bin.select(
        "__bin", (F.sum("__btok").over(off_w) - F.col("__btok")).alias("__offset")
    )
    return (
        win.join(F.broadcast(offsets), "__bin")
        .withColumn("__prefix", F.col("__offset") + F.col("__cum"))
        .filter(F.col("__prefix") <= budget_tokens)
        .select("doc_id", "n_tokens", "dsir_logweight")
    )


HEAD_FRAC = 0.33  # token-mass fraction in the head (lowest perplexity)
TAIL_FRAC = 0.33  # token-mass fraction in the tail (highest perplexity)
PPL_BIN_SCALE = 64  # bins per unit of avg-neg-logprob
PPL_BIN_CLAMP = 1024  # anlp >= 0 always (smoothed probs < 1) -> <= 1025 bins


def ccnet_buckets(docs: DataFrame) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020 §4.4): per
    language, order docs by LM perplexity ascending and cut the corpus
    into three buckets by TOKEN MASS — ``head`` = the lowest-perplexity
    docs holding the first ``HEAD_FRAC`` of the language's tokens
    (closest to the LM's training distribution), ``tail`` = the last
    ``TAIL_FRAC``, ``middle`` = the rest. Downstream pipelines keep
    head+middle and drop or down-weight the tail.

    Engine-native stand-ins, stated: the score is
    :func:`unigram_logprob` (hashed-unigram avg neg log-prob — the
    KenLM stand-in documented there) and the model is corpus-global
    rather than CCNet's per-language LMs (the hashed model has no
    language-specific vocabulary to exploit; the SPLIT is still
    per-language, which is the part that matters for mixing).

    Returns (doc_id, lang, n_tokens, avg_neg_logprob, bucket) for
    every doc. Docs with 0 scoreable tokens carry no mass and land in
    'head' by prefix convention — callers gate them with the quality
    pass, not here.

    Scale shape: the per-language perplexity-ordered running token sum
    is the same two-phase prefix sum as :func:`dsir_resample`, with
    the coarse bin = floor(anlp * {PPL_BIN_SCALE}) so bin order equals
    score order: per-(lang, bin) offsets come from a window over
    <= {PPL_BIN_CLAMP}+1 bin rows per language, the exact (anlp,
    doc_id) order holds within a bin, and nothing sorts the corpus
    globally. Language totals are a broadcast-sized aggregate.
    """
    scores = unigram_logprob(docs.select("doc_id", "text"))
    # __lang is the JOIN key only: NULL lang never equi-joins (the doc
    # would vanish from the output while the oracle's PARTITION BY
    # keeps it), so NULLs ride under a sentinel no real lang tag uses;
    # the output column stays the original lang
    scored = (
        docs.select("doc_id", "lang")
        .join(scores, "doc_id")
        .withColumn("__lang", F.coalesce(F.col("lang"), F.lit("\x00null")))
        .withColumn(
            "__bin",
            F.least(
                F.lit(PPL_BIN_CLAMP),
                F.floor(F.col("avg_neg_logprob") * PPL_BIN_SCALE),
            ),
        )
    )
    per_bin = scored.groupBy("__lang", "__bin").agg(
        F.sum("n_tokens").alias("__btok")
    )
    off_w = (
        W.partitionBy("__lang")
        .orderBy("__bin")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    offsets = per_bin.select(
        "__lang",
        "__bin",
        (F.sum("__btok").over(off_w) - F.col("__btok")).alias("__offset"),
    )
    totals = scored.groupBy("__lang").agg(F.sum("n_tokens").alias("__tot"))
    in_w = (
        W.partitionBy("__lang", "__bin")
        .orderBy(F.asc("avg_neg_logprob"), F.asc("doc_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    head_cut = F.col("__tot") * F.lit(HEAD_FRAC)
    tail_cut = F.col("__tot") * F.lit(1.0 - TAIL_FRAC)
    return (
        scored.join(F.broadcast(offsets), ["__lang", "__bin"])
        .join(F.broadcast(totals), "__lang")
        .withColumn("__pfx", F.col("__offset") + F.sum("n_tokens").over(in_w))
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            "avg_neg_logprob",
            F.when(F.col("__pfx") <= head_cut, F.lit("head"))
            .when(F.col("__pfx") <= tail_cut, F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket"),
        )
    )


def corpus_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    return ccnet_buckets(docs)


# --- Library specs (DuckDB oracles) ----------------------------------------

# target predicate for the registered variant: English docs — a real
# selection task over the testdata (lang column exists in documents)
_TARGET_SQL = "lang = 'en'"


def corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    return dsir_weights(docs, F.col("lang") == "en")


def corpus_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return unigram_logprob(docs)


_NORM = NORM_SQL.format(c="coalesce(text, '')")

# word n-gram stream with md5 bucketing, mirroring gram_buckets: DuckDB
# slices the token array; out-of-range slices shrink, so the WHERE
# len >= n guard reproduces Spark's NULL-propagating concat filter.
# The len(norm) > 0 guard matches Spark on NULL/empty text: DuckDB's
# string_split('', ' ') yields [''] (one bogus gram at n=1), while
# Spark's shingle stream yields none — drop empty docs from the gram
# stream on both sides (they score n_tokens=0 via the outer LEFT JOIN).
def _grams_sql(n: int) -> str:
    return f"""
        SELECT doc_id,
               ('0x' || substr(md5(array_to_string(w[i:i + {n - 1}], ' ')), 1, 8))::BIGINT
                   % {N_BUCKETS} AS b
        FROM (SELECT doc_id, string_split({_NORM}, ' ') AS w
              FROM documents WHERE len({_NORM}) > 0),
             LATERAL unnest(generate_series(1, len(w) - {n - 1})) AS t(i)
        WHERE len(w) >= {n}
    """


DSIR_SQL = f"""
    WITH grams AS ({_grams_sql(NGRAM)}),
    tagged AS (
        SELECT g.doc_id, g.b, (d.lang = 'en') AS t
        FROM grams g JOIN documents d USING (doc_id)
    ),
    counts AS (
        SELECT b, count(*) AS c_raw,
               sum(CASE WHEN t THEN 1 ELSE 0 END) AS c_tgt
        FROM tagged GROUP BY b
    ),
    totals AS (SELECT sum(c_raw) AS t_raw, sum(c_tgt) AS t_tgt FROM counts),
    model AS (
        SELECT b,
               ln((c_tgt + {ALPHA}) / (t_tgt + {ALPHA * N_BUCKETS}))
               - ln((c_raw + {ALPHA}) / (t_raw + {ALPHA * N_BUCKETS})) AS lr
        FROM counts, totals
    ),
    scored AS (
        SELECT g.doc_id, count(*) AS n_grams, round(sum(m.lr), 6) AS lw
        FROM tagged g JOIN model m USING (b) GROUP BY g.doc_id
    )
    SELECT d.doc_id,
           coalesce(s.n_grams, 0) AS n_grams,
           coalesce(s.lw, 0.0) AS dsir_logweight
    FROM documents d LEFT JOIN scored s USING (doc_id)
"""

UNIGRAM_SQL = f"""
    WITH grams AS ({_grams_sql(1)}),
    counts AS (SELECT b, count(*) AS c FROM grams GROUP BY b),
    totals AS (SELECT sum(c) AS t FROM counts),
    model AS (
        SELECT b, -ln((c + {ALPHA}) / (t + {ALPHA * N_BUCKETS})) AS nlp
        FROM counts, totals
    ),
    scored AS (
        SELECT g.doc_id, count(*) AS n_tokens, round(avg(m.nlp), 6) AS anlp
        FROM grams g JOIN model m USING (b) GROUP BY g.doc_id
    )
    SELECT d.doc_id,
           coalesce(s.n_tokens, 0) AS n_tokens,
           coalesce(s.anlp, 0.0) AS avg_neg_logprob
    FROM documents d LEFT JOIN scored s USING (doc_id)
"""

DSIR_BUDGET = 15_000  # tokens — ~55% of the sf0.01 corpus, so the
# selection is a strict, weight-discriminating prefix


def corpus_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread(): the corpus arrives as one split at small SF and would
    # single-thread the CPU-dense span/hash work (no-op once the scan
    # itself is parallel; interleaved A/B at sf0.1, rows identical)
    docs = spread(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    return dsir_resample(docs, F.col("lang") == "en", DSIR_BUDGET)


DSIR_SELECT_SQL = f"""
    WITH weights AS ({DSIR_SQL}),
    toks AS (
        SELECT doc_id,
               len(string_split({_NORM}, ' '))::BIGINT AS n_tokens
        FROM documents
    ),
    r AS (
        SELECT t.doc_id, t.n_tokens, w.dsir_logweight,
               sum(t.n_tokens) OVER (
                   ORDER BY w.dsir_logweight DESC, t.doc_id
                   ROWS UNBOUNDED PRECEDING) AS pfx
        FROM toks t JOIN weights w USING (doc_id)
    )
    SELECT doc_id, n_tokens, dsir_logweight FROM r WHERE pfx <= {DSIR_BUDGET}
"""

CCNET_SQL = f"""
    WITH scores AS ({UNIGRAM_SQL}),
    r AS (
        SELECT s.doc_id, d.lang, s.n_tokens, s.avg_neg_logprob,
               sum(s.n_tokens) OVER (
                   PARTITION BY d.lang
                   ORDER BY s.avg_neg_logprob ASC, s.doc_id ASC
                   ROWS UNBOUNDED PRECEDING) AS pfx,
               sum(s.n_tokens) OVER (PARTITION BY d.lang) AS tot
        FROM scores s JOIN documents d USING (doc_id)
    )
    SELECT doc_id, lang, n_tokens, avg_neg_logprob,
           CASE WHEN pfx <= tot * {HEAD_FRAC} THEN 'head'
                WHEN pfx <= tot * {1.0 - TAIL_FRAC} THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM r
"""

def bigram_logprob(docs: DataFrame) -> DataFrame:
    """(doc_id, n_bigrams, avg_neg_logprob) — the CONDITIONAL upgrade
    of :func:`unigram_logprob`: average -log p(w | prev) under a
    hashed-bigram model trained on the corpus itself, add-alpha
    smoothed per context. Word order now matters ("the cat sat" vs
    "sat the cat" score identically under the unigram model and
    differently here), which is what separates fluent text from
    shuffled-token spam. Empty/one-token docs score 0.0.

    Model = pair-bucket counts keyed by (context bucket, bigram
    bucket), <= min(distinct bigrams, n_buckets^2) rows — broadcast-
    sized by construction. Context totals derive from the ALREADY
    AGGREGATED pair counts (a tiny rollup). The hashed gram stream has
    two inherently sequential consumers (counts must complete before
    scoring can read the model), so it is PINNED once
    (localCheckpoint, the admission-audit precedent) rather than
    re-running the tokenize+md5 pipeline per consumer — the pin is
    (doc_id, b1, b2) longs, far smaller than the text it replaces.
    For proper Kneser-Ney smoothing (the KenLM-style upgrade of this
    add-alpha form) see :func:`kn_bigram_logprob` and
    :func:`kn_trigram_logprob` below.
    """
    rows = (
        shingle_rows(docs.select("doc_id", "text"), n=2)
        .select(
            "doc_id",
            _bucket(F.substring_index(F.col("shingle"), " ", 1)).alias("b1"),
            _bucket(F.col("shingle")).alias("b2"),
        )
        .localCheckpoint(eager=True)
    )
    c2 = rows.groupBy("b1", "b2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = c2.groupBy("b1").agg(F.sum("c2").alias("c1"))
    model = c2.join(c1, "b1").select(
        "b1",
        "b2",
        (
            -F.log(
                (F.col("c2") + F.lit(ALPHA))
                / (F.col("c1") + F.lit(ALPHA * N_BUCKETS))
            )
        ).alias("nlp"),
    )
    scored = (
        rows.join(F.broadcast(model), ["b1", "b2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("nlp"), 6).alias("avg_neg_logprob"),
        )
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("avg_neg_logprob", F.lit(0.0)).alias("avg_neg_logprob"),
        )
    )


def corpus_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return bigram_logprob(docs)


KN_DISCOUNT = 0.75  # Chen & Goodman 1998's fixed absolute discount


def kn_bigram_logprob(docs: DataFrame) -> DataFrame:
    """(doc_id, n_bigrams, avg_neg_logprob) — interpolated KNESER-NEY
    bigram scoring (Kneser & Ney 1995; fixed-discount form of Chen &
    Goodman 1998 §2.7): the proper-smoothing upgrade of
    :func:`bigram_logprob`'s add-alpha, and the closest engine-native
    stand-in for the KenLM perplexity filter CCNet uses::

        p_KN(w|v)  = max(c(v,w) - D, 0)/c(v)
                     + (D * N1+(v,*) / c(v)) * p_cont(w)
        p_cont(w)  = N1+(*,w) / |{(v,w): c(v,w) > 0}|

    where N1+(v,*) is the number of distinct continuations of context
    v and N1+(*,w) the number of distinct contexts preceding w — the
    continuation counts that make KN rank "San Francisco"-style
    bound words low as unigram fallbacks even when frequent.

    Every statistic is an aggregate over the SAME broadcast-sized
    hashed-pair count table the add-alpha model builds: row counts per
    context give N1+(v,*), row counts per word give N1+(*,w), one
    grand total gives the pair-type denominator — no second corpus
    pass, and the gram stream is pinned once exactly as in
    :func:`bigram_logprob`. Self-scored (the model trains on the
    corpus it scores), so every scored bigram has c(v,w) >= 1 and the
    interpolation needs no unseen branch. Empty/one-token docs score
    0.0."""
    rows = (
        shingle_rows(docs.select("doc_id", "text"), n=2)
        .select(
            "doc_id",
            _bucket(F.substring_index(F.col("shingle"), " ", 1)).alias("b1"),
            _bucket(F.col("shingle")).alias("b2"),
        )
        .localCheckpoint(eager=True)
    )
    c2 = rows.groupBy("b1", "b2").agg(F.count(F.lit(1)).alias("c2"))
    # all four KN statistics from the pair table alone (tiny rollups)
    ctx = c2.groupBy("b1").agg(
        F.sum("c2").alias("c1"), F.count(F.lit(1)).alias("n_after")
    )
    cont = c2.groupBy("b2").agg(F.count(F.lit(1)).alias("n_before"))
    total = c2.agg(F.count(F.lit(1)).alias("t"))
    nlp = -F.log(
        F.greatest(F.col("c2") - F.lit(KN_DISCOUNT), F.lit(0.0)) / F.col("c1")
        + F.lit(KN_DISCOUNT)
        * F.col("n_after")
        / F.col("c1")
        * (F.col("n_before") / F.col("t"))
    )
    model = (
        c2.join(ctx, "b1")
        .join(cont, "b2")
        .crossJoin(F.broadcast(total))
        .select("b1", "b2", nlp.alias("nlp"))
    )
    scored = (
        rows.join(F.broadcast(model), ["b1", "b2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("nlp"), 6).alias("avg_neg_logprob"),
        )
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("avg_neg_logprob", F.lit(0.0)).alias("avg_neg_logprob"),
        )
    )


def corpus_kn_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return kn_bigram_logprob(docs)


def kn_trigram_logprob(docs: DataFrame) -> DataFrame:
    """(doc_id, n_trigrams, avg_neg_logprob) — the FULL RECURSIVE
    interpolated Kneser-Ney chain (Chen & Goodman 1998 §2.7) over
    hashed token buckets::

        p3(w|u,v) = max(C(uvw)-D, 0)/C(uv*) + D*N1+(uv*)/C(uv*) * p2(w|v)
        p2(w|v)   = max(A(vw)-D, 0)/A(v*)   + D*|{w:A(vw)>0}|/A(v*) * p1(w)
        p1(w)     = B(w) / T

    with the lower orders built from CONTINUATION counts exactly as
    the method prescribes (and as kenlm derives them from the highest
    order): ``A(vw) = |{u : C(uvw)>0}|`` (distinct left-extensions of
    the bigram), ``B(w) = |{v : A(vw)>0}|``, ``T = |{(v,w): A(vw)>0}|``
    — raw lower-order counts would over-weight words frequent only
    inside one collocation, the bias KN exists to remove. Both
    conditional levels sum to exactly 1 per context (pinned in tests).

    Scale shape: the trigram count table is bounded by DISTINCT
    trigram triples — corpus-bounded, NOT broadcast-sized like the
    bigram model's n_buckets^2 — so the scoring join carries no
    broadcast hint: AQE broadcasts it at test scale and shuffles
    rows-vs-model on the triple key at corpus scale (one gram-key
    shuffle, the standard distributed LM-scoring shape). Every
    lower-order statistic IS <= n_buckets^2 and rides the same join.
    Docs with < 3 tokens score 0.0; self-scored, so every scored
    triple exists in the model."""
    sh = shingle_rows(docs.select("doc_id", "text"), n=3)
    rows = (
        sh.select(
            "doc_id",
            _bucket(F.substring_index(F.col("shingle"), " ", 1)).alias("b1"),
            _bucket(
                F.substring_index(
                    F.substring_index(F.col("shingle"), " ", 2), " ", -1
                )
            ).alias("b2"),
            _bucket(F.substring_index(F.col("shingle"), " ", -1)).alias("b3"),
        )
        .localCheckpoint(eager=True)
    )
    c3 = rows.groupBy("b1", "b2", "b3").agg(F.count(F.lit(1)).alias("c3"))
    ctx3 = c3.groupBy("b1", "b2").agg(
        F.sum("c3").alias("c12"), F.count(F.lit(1)).alias("n_after12")
    )
    a23 = c3.groupBy("b2", "b3").agg(F.count(F.lit(1)).alias("a23"))
    av = a23.groupBy("b2").agg(
        F.sum("a23").alias("a_sum"), F.count(F.lit(1)).alias("nv")
    )
    bw = a23.groupBy("b3").agg(F.count(F.lit(1)).alias("bw"))
    total = a23.agg(F.count(F.lit(1)).alias("t"))
    p2 = (
        F.greatest(F.col("a23") - F.lit(KN_DISCOUNT), F.lit(0.0)) / F.col("a_sum")
        + F.lit(KN_DISCOUNT)
        * F.col("nv")
        / F.col("a_sum")
        * (F.col("bw") / F.col("t"))
    )
    nlp = -F.log(
        F.greatest(F.col("c3") - F.lit(KN_DISCOUNT), F.lit(0.0)) / F.col("c12")
        + F.lit(KN_DISCOUNT) * F.col("n_after12") / F.col("c12") * p2
    )
    model = (
        c3.join(ctx3, ["b1", "b2"])
        .join(a23, ["b2", "b3"])
        .join(av, "b2")
        .join(bw, "b3")
        .crossJoin(F.broadcast(total))
        .select("b1", "b2", "b3", nlp.alias("nlp"))
    )
    scored = (
        rows.join(model, ["b1", "b2", "b3"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.round(F.avg("nlp"), 6).alias("avg_neg_logprob"),
        )
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_trigrams", F.lit(0)).alias("n_trigrams"),
            F.coalesce("avg_neg_logprob", F.lit(0.0)).alias("avg_neg_logprob"),
        )
    )


def corpus_kn_trigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return kn_trigram_logprob(docs)


BIGRAM_SQL = f"""
    WITH rows AS (
        SELECT doc_id,
               ('0x' || substr(md5(w[i]), 1, 8))::BIGINT % {N_BUCKETS} AS b1,
               ('0x' || substr(md5(array_to_string(w[i:i + 1], ' ')), 1, 8))::BIGINT
                   % {N_BUCKETS} AS b2
        FROM (SELECT doc_id, string_split({_NORM}, ' ') AS w
              FROM documents WHERE len({_NORM}) > 0),
             LATERAL unnest(generate_series(1, len(w) - 1)) AS t(i)
        WHERE len(w) >= 2
    ),
    c2 AS (SELECT b1, b2, count(*) AS c2 FROM rows GROUP BY 1, 2),
    c1 AS (SELECT b1, sum(c2) AS c1 FROM c2 GROUP BY 1),
    model AS (
        SELECT b1, b2,
               -ln((c2 + {ALPHA}) / (c1 + {ALPHA * N_BUCKETS})) AS nlp
        FROM c2 JOIN c1 USING (b1)
    ),
    scored AS (
        SELECT r.doc_id, count(*) AS n_bigrams,
               round(avg(m.nlp), 6) AS avg_neg_logprob
        FROM rows r JOIN model m USING (b1, b2) GROUP BY r.doc_id
    )
    SELECT d.doc_id,
           coalesce(s.n_bigrams, 0) AS n_bigrams,
           coalesce(s.avg_neg_logprob, 0.0) AS avg_neg_logprob
    FROM documents d LEFT JOIN scored s USING (doc_id)
"""


KN_BIGRAM_SQL = f"""
    WITH rows AS (
        SELECT doc_id,
               ('0x' || substr(md5(w[i]), 1, 8))::BIGINT % {N_BUCKETS} AS b1,
               ('0x' || substr(md5(array_to_string(w[i:i + 1], ' ')), 1, 8))::BIGINT
                   % {N_BUCKETS} AS b2
        FROM (SELECT doc_id, string_split({_NORM}, ' ') AS w
              FROM documents WHERE len({_NORM}) > 0),
             LATERAL unnest(generate_series(1, len(w) - 1)) AS t(i)
        WHERE len(w) >= 2
    ),
    c2 AS (SELECT b1, b2, count(*) AS c2 FROM rows GROUP BY 1, 2),
    ctx AS (SELECT b1, sum(c2) AS c1, count(*) AS n_after FROM c2 GROUP BY 1),
    cont AS (SELECT b2, count(*) AS n_before FROM c2 GROUP BY 1),
    total AS (SELECT count(*) AS t FROM c2),
    model AS (
        SELECT b1, b2,
               -ln(greatest(c2 - {KN_DISCOUNT}, 0.0) / c1
                   + {KN_DISCOUNT} * n_after / c1 * (n_before / t)) AS nlp
        FROM c2 JOIN ctx USING (b1) JOIN cont USING (b2) CROSS JOIN total
    ),
    scored AS (
        SELECT r.doc_id, count(*) AS n_bigrams,
               round(avg(m.nlp), 6) AS avg_neg_logprob
        FROM rows r JOIN model m USING (b1, b2) GROUP BY r.doc_id
    )
    SELECT d.doc_id,
           coalesce(s.n_bigrams, 0) AS n_bigrams,
           coalesce(s.avg_neg_logprob, 0.0) AS avg_neg_logprob
    FROM documents d LEFT JOIN scored s USING (doc_id)
"""


KN_TRIGRAM_SQL = f"""
    WITH rows AS (
        SELECT doc_id,
               ('0x' || substr(md5(w[i]), 1, 8))::BIGINT % {N_BUCKETS} AS b1,
               ('0x' || substr(md5(w[i + 1]), 1, 8))::BIGINT % {N_BUCKETS} AS b2,
               ('0x' || substr(md5(w[i + 2]), 1, 8))::BIGINT % {N_BUCKETS} AS b3
        FROM (SELECT doc_id, string_split({_NORM}, ' ') AS w
              FROM documents WHERE len({_NORM}) > 0),
             LATERAL unnest(generate_series(1, len(w) - 2)) AS t(i)
        WHERE len(w) >= 3
    ),
    c3 AS (SELECT b1, b2, b3, count(*) AS c3 FROM rows GROUP BY 1, 2, 3),
    ctx3 AS (SELECT b1, b2, sum(c3) AS c12, count(*) AS n_after12
             FROM c3 GROUP BY 1, 2),
    a23 AS (SELECT b2, b3, count(*) AS a23 FROM c3 GROUP BY 1, 2),
    av AS (SELECT b2, sum(a23) AS a_sum, count(*) AS nv FROM a23 GROUP BY 1),
    bw AS (SELECT b3, count(*) AS bw FROM a23 GROUP BY 1),
    total AS (SELECT count(*) AS t FROM a23),
    model AS (
        SELECT b1, b2, b3,
               -ln(greatest(c3 - {KN_DISCOUNT}, 0.0) / c12
                   + {KN_DISCOUNT} * n_after12 / c12
                     * (greatest(a23 - {KN_DISCOUNT}, 0.0) / a_sum
                        + {KN_DISCOUNT} * nv / a_sum * (bw / t))) AS nlp
        FROM c3 JOIN ctx3 USING (b1, b2) JOIN a23 USING (b2, b3)
             JOIN av USING (b2) JOIN bw USING (b3) CROSS JOIN total
    ),
    scored AS (
        SELECT r.doc_id, count(*) AS n_trigrams,
               round(avg(m.nlp), 6) AS avg_neg_logprob
        FROM rows r JOIN model m USING (b1, b2, b3) GROUP BY r.doc_id
    )
    SELECT d.doc_id,
           coalesce(s.n_trigrams, 0) AS n_trigrams,
           coalesce(s.avg_neg_logprob, 0.0) AS avg_neg_logprob
    FROM documents d LEFT JOIN scored s USING (doc_id)
"""


# r10 window rotation: the recursive KN trigram enters the 50-entry
# driver window (plans/__init__ appends DRIVER_SPECS last);
# pivot_status_by_segment moved to relational's library tier, with R2
# staying driver-covered via radar_bins_long.
# r11 rotation: the interpolated KN bigram joins it (the whole
# Kneser-Ney family now under the driver oracle); cube_orders moved to
# relational's library tier with A3's grouping lattice still
# driver-covered via grouping_analytics_lineitem.
DRIVER_SPECS: dict[str, QuerySpec] = {
    # r14 window rotation: the DSIR budgeted selector joins the two
    # KN rows in the driver window (strict library oracle + bench
    # extra since r7); window_cumsum_qty moved to relational's
    # library tier with §2.8's cumulative window still driver-covered
    # via window_topk_parts_per_brand + events_sessionize.
    "corpus_dsir_select": QuerySpec(
        name="corpus_dsir_select",
        fn=corpus_dsir_select,
        oracle=DSIR_SELECT_SQL,
        survey="LLM-pipeline (DSIR resample: weight-ordered greedy "
        "selection under a token budget)",
        doc=f"Greedy (weight desc, doc_id) prefix totalling <= "
        f"{DSIR_BUDGET} tokens — the oracle is the naive global "
        "window; the engine plan is the two-phase prefix sum over "
        "coarse weight bins (only single-partition window: <= 1025 "
        "bin rows).",
    ),
    "corpus_kn_bigram_logprob": QuerySpec(
        name="corpus_kn_bigram_logprob",
        fn=corpus_kn_bigram_logprob,
        oracle=KN_BIGRAM_SQL,
        survey="LLM-pipeline (interpolated Kneser-Ney bigram LM score "
        "— the proper-smoothing KenLM/CCNet stand-in)",
        doc="avg -log p_KN(w|prev) per doc: fixed-discount absolute "
        "discounting with continuation-count unigram interpolation, "
        "all four statistics tiny rollups of the one broadcast-sized "
        "hashed-pair table; gram stream pinned once.",
    ),
    "corpus_kn_trigram_logprob": QuerySpec(
        name="corpus_kn_trigram_logprob",
        fn=corpus_kn_trigram_logprob,
        oracle=KN_TRIGRAM_SQL,
        survey="LLM-pipeline (recursive interpolated Kneser-Ney "
        "trigram LM score — continuation-count lower orders)",
        doc="avg -log p_KN(w|u,v) per doc: the full Chen-Goodman "
        "recursion with continuation-count middle/low orders derived "
        "from the trigram table; scoring join carries NO broadcast "
        "hint (trigram model is corpus-bounded — AQE shuffles it on "
        "the triple key at scale).",
    ),
}

LIBRARY_SPECS: dict[str, QuerySpec] = {
    "corpus_bigram_logprob": QuerySpec(
        name="corpus_bigram_logprob",
        fn=corpus_bigram_logprob,
        oracle=BIGRAM_SQL,
        survey="LLM-pipeline (conditional LM filter score — hashed "
        "bigram model, the word-order-aware CCNet stand-in)",
        doc="avg -log p(w|prev) per doc under corpus-trained hashed "
        "bigram counts, add-alpha smoothed per context; model "
        "broadcast-sized by construction, gram stream evaluated "
        "exactly twice.",
    ),
    "corpus_ccnet_buckets": QuerySpec(
        name="corpus_ccnet_buckets",
        fn=corpus_ccnet_buckets,
        oracle=CCNET_SQL,
        survey="LLM-pipeline (CCNet head/middle/tail perplexity split)",
        doc="Per-language token-mass thirds by LM score ascending — the "
        "oracle is the naive per-language global window; the engine "
        "plan is the two-phase prefix sum over coarse perplexity bins "
        "(no corpus-wide sort).",
    ),
    "corpus_dsir_weights": QuerySpec(
        name="corpus_dsir_weights",
        fn=corpus_dsir_weights,
        oracle=DSIR_SQL,
        survey="LLM-pipeline (DSIR hashed-ngram importance weights)",
        doc="Per-doc log importance weight toward the lang='en' target "
        "distribution over 1024 hashed bigram buckets, add-1 smoothed. "
        "One gram-stream aggregate builds BOTH distributions; the "
        "model is broadcast-sized by construction.",
    ),
    "corpus_unigram_logprob": QuerySpec(
        name="corpus_unigram_logprob",
        fn=corpus_unigram_logprob,
        oracle=UNIGRAM_SQL,
        survey="LLM-pipeline (CCNet-style LM filter score, hashed-"
        "unigram model)",
        doc="Average negative log-prob per token under a corpus-trained "
        "hashed-unigram model — the engine-native stand-in for CCNet's "
        "KenLM perplexity filter (external model not shipped here).",
    ),
}
