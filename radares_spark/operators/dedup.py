"""Deduplication operators for large-scale text corpora.

Generalizes the reference's ``drop_duplicates(subset=['equipment'])``
(SURVEY §2.5 D1/D2, src/scrape.py:60) to the dedup family an LLM data
pipeline needs:

- **exact**: hash-groupBy on normalized text (one shuffle).
- **MinHash + LSH**: shingle -> k minhashes -> banded bucket hashes ->
  candidate pairs via a bucket self-join. The self-join shuffles on the
  band hash, which IS the LSH bucketing — at 100 TB each bucket is a
  small group, so the pair blow-up is bounded by bucket size, never
  all-pairs.
- **SimHash**: per-token 32-bit hashes, bitwise majority vote -> one
  64-bit-ish signature per doc; near-dups share signatures (or differ
  in a few bits — banded hamming search is the scale path).
- **n-gram Jaccard**: exact character-3-gram Jaccard for candidate
  pairs (here: deterministic adjacent-id pairs, so the oracle can
  verify the arithmetic; in production the pairs come from the LSH
  candidate generator above).
- **embedding near-dup**: cosine >= threshold pairs via deterministic
  random-hyperplane LSH — sign-bit bands bucket the vectors, the exact
  cosine check runs only within candidate buckets (never all-pairs).

Determinism contract: every hash is ``md5`` over UTF-8 bytes, every
float is summed left-to-right (``F.aggregate`` / DuckDB ``list_reduce``
are both sequential) and rounded before comparison — so the DuckDB
oracle matches bit-for-bit. No RNG anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType

from radares_spark.functions.vectors import COSINE_SQL_CTE, l2norm, pair_dot
from radares_spark.io.tables import spread
from radares_spark.registry import register

N_PERM = 8  # minhash permutations
BAND_R = 2  # rows per band
N_BANDS = N_PERM // BAND_R


def normalize_text(col: Column) -> Column:
    """strip non-[A-Za-z0-9 ] -> lower -> collapse spaces -> trim.

    One character-class pass replaces the former two (strip non-ASCII,
    then strip non-[a-z0-9 ] after lowering): every codepoint outside
    [A-Za-z0-9 ] becomes a space in both chains — non-ASCII died at
    the first pass either way, ASCII punctuation dies before instead
    of after lower, and lower() cannot map anything INTO [a-z0-9 ]
    that was not already [A-Za-z0-9] — so the output string is
    identical character for character (asserted corpus-wide at sf0.1),
    for one fewer corpus-sized regexp pass on every tokenize front
    (r14: −27% on the chain itself, −13–18% end-to-end on
    normalize-bound queries). The conformance-fuzz guarantee is
    preserved: non-ASCII is still stripped BEFORE lowercasing, so
    engine-specific unicode case expansion (Turkish İ, U+0130,
    lowercases to 'i' + a COMBINING dot in the JVM but plain 'i' in
    DuckDB) can never reach lower()."""
    x = F.regexp_replace(col, "[^A-Za-z0-9 ]", " ")
    x = F.lower(x)
    x = F.regexp_replace(x, " +", " ")
    return F.trim(x)


# DuckDB-side equivalent of normalize_text — DELIBERATELY the old
# 3-regexp chain, NOT a transliteration of the Spark 2-pass form: the
# r14 collapse proved the two chains string-identical over [^A-Za-z0-9 ]
# stripping (corpus-wide equality at sf0.1 + the full oracle sweep), and
# keeping the oracle side independent means a future Spark-side alphabet
# change must RE-PROVE equivalence against this unchanged mirror instead
# of silently desyncing both sides at once (r14 ADVICE).
# (regexp_replace needs the 'g' flag on DuckDB.)
NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower("
    "regexp_replace({c}, '[^\\x00-\\x7F]', ' ', 'g')"
    "), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Hash/shingle work is CPU-heavy per byte; spread() sizes the
    # rebalance to the input bytes so a small corpus doesn't pay 32
    # task overheads and a 100 TB one still fans out to the full
    # shuffle width.
    return spread(spark, sf_dir, "documents")


def _md5(col: Column) -> Column:
    return F.md5(F.encode(col, "UTF-8"))


# Universal-hash "permutations": perm_i(h) = (A[i]*h + B[i]) % MH_P over
# the 32-bit base hash h = first 8 hex chars of md5(shingle). One md5
# per shingle (not per shingle x perm), the rest is integer arithmetic.
# A[i] < 2^30 keeps A*h + B < 2^63 (no overflow); constants are fixed
# primes so Spark and the DuckDB oracle compute identical signatures.
MH_P = 4294967311  # prime > 2^32
MH_A = [824633720, 593507521, 386910103, 173741827, 935185403, 715225741, 557038937, 274876859]
MH_B = [15485863, 32452843, 49979687, 67867967, 86028121, 104395301, 122949823, 141650939]


def shingle_rows(
    df: DataFrame, n: int = 3, carry: tuple[str, ...] = (), with_pos: bool = False
) -> DataFrame:
    """(doc_id, shingle[, shingle_pos][, *carry]) word n-gram rows —
    map-side, evaluation-safe. ``carry`` columns of ``df`` ride along
    each gram row (e.g. a per-doc target flag), so callers never need
    a doc-level join back onto the gram stream. ``with_pos`` adds the
    1-based start-token position (span-removal needs it; default off
    so set-semantics consumers like ``word_shingles().distinct()``
    keep their meaning).

    Catalyst trap this shape avoids: putting the n-gram assembly inside
    an array ``transform``/generator expression lets CollapseProject
    inline the ``split(regexp_replace(...))`` token array into every
    element access — the normalize+split chain then re-executes
    O(n_shingles) times per doc (measured 30-100x slowdowns). Instead:

    - the Generate (explode) only emits POSITIONS — it references the
      token array exactly once per row;
    - the shingle is assembled in the projection ABOVE the Generate,
      where the token array is a materialized per-row attribute and
      each element access is an O(1) index.

    F.get is 0-based and NULL out-of-bounds; strict concat propagates
    NULL => short docs yield no partial shingle (filtered).
    """
    toks = df.select(
        "doc_id", *carry, F.split(normalize_text(F.col("text")), " ").alias("w")
    )
    pos = toks.select(
        "doc_id",
        *carry,
        "w",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.size("w") - (n - 1), F.lit(1)))
        ).alias("i"),
    )
    w = F.col("w")
    shingle = F.concat(
        *[
            p
            for j in range(n)
            for p in ([F.lit(" ")] if j else []) + [F.get(w, F.col("i") - 1 + j)]
        ]
    )
    # != '' matters only at n=1: split('', ' ') is [''] in Spark, so an
    # empty normalized doc would emit one bogus ''-gram (at n>=2 the
    # NULL-propagating concat already drops it). Empty docs must yield
    # ZERO grams at every n — the DuckDB mirrors exclude them too.
    pos_cols = [F.col("i").alias("shingle_pos")] if with_pos else []
    return pos.select("doc_id", shingle.alias("shingle"), *pos_cols, *carry).filter(
        F.col("shingle").isNotNull() & (F.col("shingle") != "")
    )


def word_shingles(df: DataFrame) -> DataFrame:
    """(doc_id, shingle) distinct word n-grams."""
    return shingle_rows(df, 3).distinct()


def minhash_signatures(df: DataFrame) -> DataFrame:
    """(doc_id, s0..s{k-1}) — per-doc minhash signature.

    Shape chosen for how Catalyst actually evaluates it:

    - explode to shingle ROWS first — a Generate node is a projection-
      collapse barrier, so the md5 below is computed exactly once per
      shingle (an all-array formulation gets CollapseProject'd and
      re-evaluates the md5 chain once per permutation — measured 5x
      slower);
    - ONE md5 per shingle -> 32-bit base hash in its own projection;
    - the k permutations are integer expressions feeding k partial
      mins in a single hash aggregate (map-side combined, the shuffle
      carries n_docs x k longs — negligible at any scale).

    min over a multiset == min over the set, so no distinct needed.
    """
    sh = shingle_rows(df)
    h = sh.select(
        "doc_id",
        F.conv(F.substring(F.md5(F.encode(F.col("shingle"), "UTF-8")), 1, 8), 16, 10)
        .cast("long")
        .alias("h"),
    )
    # permutations as a PROJECTION feeding plain min() aggs — inlining
    # the arithmetic inside the aggregate functions measured ~4x slower
    # (keeps the agg update loop trivially codegen-able)
    perms = h.select(
        "doc_id",
        *[
            ((F.lit(MH_A[i]) * F.col("h") + F.lit(MH_B[i])) % F.lit(MH_P)).alias(f"p{i}")
            for i in range(N_PERM)
        ],
    )
    return perms.groupBy("doc_id").agg(
        *[F.min(f"p{i}").alias(f"s{i}") for i in range(N_PERM)]
    )


def lsh_bands(sig: DataFrame) -> DataFrame:
    """Signature -> (doc_id, band, band_hash). Band hash = md5 of the
    BAND_R concatenated signature values — the LSH bucket key."""
    bands = [
        _md5(
            F.concat_ws("_", *[F.col(f"s{b * BAND_R + i}").cast("string") for i in range(BAND_R)])
        ).alias(f"b{b}")
        for b in range(N_BANDS)
    ]
    wide = sig.select("doc_id", *bands)
    pairs = F.array(
        *[F.struct(F.lit(b).alias("band"), F.col(f"b{b}").alias("band_hash")) for b in range(N_BANDS)]
    )
    return wide.select("doc_id", F.explode(pairs).alias("e")).select(
        "doc_id", "e.band", "e.band_hash"
    )


# DuckDB mirror of shingle_arrays + minhash_signatures.
_MH_SIG_EXPRS = ", ".join(
    f"min(({MH_A[i]} * h + {MH_B[i]}) % {MH_P}) AS s{i}" for i in range(N_PERM)
)

MINHASH_SQL = f"""
    WITH norm AS (
        SELECT doc_id, {NORM_SQL.format(c='text')} AS t FROM documents
    ),
    toks AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
    sharr AS (
        SELECT doc_id,
               list_filter(list_transform(generate_series(1, greatest(len(w) - 2, 1)),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]),
                           x -> x IS NOT NULL) AS sh
        FROM toks
    ),
    hashed AS (
        SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS h
        FROM (SELECT doc_id, unnest(sh) AS s FROM sharr)
    ),
    sig AS (
        SELECT doc_id, {_MH_SIG_EXPRS}
        FROM hashed
        GROUP BY doc_id
    )
"""


@register(
    "dedup_exact",
    oracle=f"""
    WITH norm AS (
        SELECT doc_id, md5({NORM_SQL.format(c='text')}) AS text_hash FROM documents
    )
    SELECT min(doc_id) AS kept_doc_id, count(*) AS group_size, text_hash
    FROM norm GROUP BY text_hash
    """,
    survey="D1/D2 (exact dedup, deterministic keeper)",
    doc="Exact dedup = hash-groupBy; keeps min(doc_id) per normalized-"
    "text hash (deterministic, unlike dropDuplicates' arbitrary row). "
    "One shuffle on the 128-bit hash — uniform keys, no skew at 100 TB.",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return (
        docs.select("doc_id", _md5(normalize_text(F.col("text"))).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("kept_doc_id"), F.count(F.lit(1)).alias("group_size"))
        .select("kept_doc_id", "group_size", "text_hash")
    )


# r5: moved from the driver registry to library tier (strict parity
# still pinned via tests/test_oracle_parity.py over LIBRARY_SPECS).
# dedup_minhash_pairs consumes these exact signatures, so its driver
# row transitively value-checks the signature pipeline; the freed slot
# went to incremental_admission_audit (operators/incremental.py).
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = minhash_signatures(_docs(spark, sf_dir))
    return sig.select(
        "doc_id",
        *[
            _md5(
                F.concat_ws(
                    "_",
                    F.col(f"s{b * BAND_R}").cast("string"),
                    F.col(f"s{b * BAND_R + 1}").cast("string"),
                )
            ).alias(f"band{b}")
            for b in range(N_BANDS)
        ],
    )


@register(
    "dedup_minhash_pairs",
    oracle=f"""
    {MINHASH_SQL},
    bands AS (
        SELECT doc_id, b.band, b.band_hash
        FROM sig, LATERAL (
            VALUES {", ".join(f"({b}, md5(s{2 * b}::VARCHAR || '_' || s{2 * b + 1}::VARCHAR))" for b in range(N_BANDS))}
        ) AS b(band, band_hash)
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """,
    survey="D-fuzzy (MinHash-LSH candidate pairs)",
    doc="LSH candidate generation: docs sharing any band bucket. The "
    "bucket self-join shuffles on band_hash — bounded per-bucket work, "
    "never an all-pairs product. Catches the corpus' planted near-dups "
    "(Jaccard ~0.99 pairs collide in every band).",
)
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    bands = lsh_bands(minhash_signatures(_docs(spark, sf_dir)))
    return bucket_pairs(bands)


def bucket_pairs(bands: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_shared_bands) from band rows — the collect-and-
    explode formulation, NOT a self-join: a bands self-join evaluates
    the entire upstream signature pipeline twice (Spark's ReuseExchange
    does not fire across the two SMJ inputs — verified on the executed
    final plan: 0 ReusedExchange, 4 Generates), doubling the dominant
    shingle+md5 cost. Here the pipeline runs ONCE into a per-bucket
    sorted id list (map-side-combined aggregate — one shuffle), and
    ordered pairs are exploded bucket-locally; per-bucket work is
    |bucket|^2 exactly as before (cap pathological buckets with
    ``lsh_pairs_capped``). Honest measurement: at sf0.1 on local[32]
    WALL-CLOCK is within noise of the self-join (idle cores absorb the
    duplicated pipeline); what halves is total CPU and scan volume —
    the resource that is actually scarce on saturated executors at
    corpus scale — plus one full-width shuffle (3 exchanges vs 2x2)."""
    buckets = (
        bands.groupBy("band", "band_hash")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pairs = F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids) - i - 1), "
        "y -> struct(x AS doc_a, y AS doc_b))))"
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def lsh_pairs_capped(
    bands: DataFrame, max_bucket: int
) -> tuple[DataFrame, DataFrame]:
    """LSH candidate pairs with a per-bucket population cap — the
    guard that keeps the bucket self-join's quadratic term BOUNDED
    when real corpora hand it a pathological bucket (boilerplate spam:
    thousands of near-identical docs sharing every band).

    Returns ``(pairs, hot_buckets)``: pairs as in
    ``dedup_minhash_pairs`` but computed only over buckets with
    <= ``max_bucket`` members, so per-task work is <= max_bucket^2 BY
    CONSTRUCTION, independent of the corpus; ``hot_buckets`` is the
    (band, band_hash, n_docs) report of what was excluded — operators
    route those members to exact-hash dedup (``dedup_exact`` already
    collapses identical spam for free) or to a sampled verification
    pass. This cap-and-report split is the standard production LSH
    hardening: a 10k-member bucket is 50M pairs of almost certainly
    identical text — quadratic work for information the exact pass
    yields linearly.

    The hot set is tiny by nature (it IS the pathology report), so the
    exclusion is a broadcast anti-join — no extra full-width shuffle.
    """
    sizes = bands.groupBy("band", "band_hash").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    hot = sizes.filter(F.col("n_docs") > max_bucket)
    cold = bands.join(
        F.broadcast(hot.select("band", "band_hash")),
        ["band", "band_hash"],
        "left_anti",
    )
    return bucket_pairs(cold), hot


SIMHASH_SQL = f"""
    WITH norm AS (
        SELECT doc_id, {NORM_SQL.format(c='text')} AS t FROM documents
    ),
    toks AS (
        SELECT DISTINCT doc_id, tok FROM (
            SELECT doc_id, unnest(string_split(t, ' ')) AS tok FROM norm
        ) WHERE tok <> ''
    ),
    th AS (
        SELECT doc_id, tok,
               ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h32
        FROM toks
    ),
    votes AS (
        SELECT doc_id, bit,
               sum(CASE WHEN (h32 >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
        FROM th, (SELECT unnest(generate_series(0, 31)) AS bit)
        GROUP BY doc_id, bit
    ),
    simhashes AS (
        SELECT doc_id,
               sum(CASE WHEN vote > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT
                   AS simhash
        FROM votes GROUP BY doc_id
    )
"""


@register(
    "dedup_simhash",
    oracle=f"""
    {SIMHASH_SQL}
    SELECT doc_id, simhash FROM simhashes
    """,
    survey="D-fuzzy (SimHash fingerprint)",
    doc="32-bit SimHash: per-token md5-derived hash, bitwise majority "
    "vote over distinct tokens. Two shuffles (doc×bit vote, doc fold); "
    "at scale the vote agg is map-side combined. Near-dup grouping = "
    "hamming-ball search over banded signature pieces (same LSH "
    "banding as minhash). Oracle sum() is HUGEINT in DuckDB — cast "
    "::BIGINT to match Spark's LongType rendering (r1 hash failure).",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_signatures(_docs(spark, sf_dir))


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) — 32-bit SimHash per doc (see dedup_simhash)."""
    toks = (
        docs.select("doc_id", F.explode(F.split(normalize_text(F.col("text")), " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .distinct()
    )
    th = toks.select(
        "doc_id", F.conv(F.substring(_md5(F.col("tok")), 1, 8), 16, 10).cast("long").alias("h32")
    )
    # 32 projected indicator columns + plain sums in ONE aggregate —
    # no 32x row explosion, one shuffle; vote>0 <=> 2*popcount_b > n
    bits = th.select(
        "doc_id", *[F.expr(f"(h32 >> {b}) & 1").alias(f"b{b}") for b in range(32)]
    )
    counts = bits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"), *[F.sum(f"b{b}").alias(f"c{b}") for b in range(32)]
    )
    simhash = None
    for b in range(32):
        term = F.when(F.col(f"c{b}") * 2 > F.col("n"), F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        simhash = term if simhash is None else simhash + term
    return counts.select("doc_id", simhash.alias("simhash"))


def _char3_gram_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, gs) per-doc char-3-gram SETS — the shared front end of
    the Jaccard and containment pair verifiers (one partial-aggregated
    collect_set shuffle; positions-only generator + substring above it,
    the CollapseProject trap). Factored so a fix to the gram shape can
    never silently diverge between the two verifiers (review finding).
    """
    t = normalize_text(F.col("text"))
    grams = (
        docs.select("doc_id", t.alias("t"))
        .select(
            "doc_id",
            "t",
            F.explode(F.sequence(F.lit(1), F.greatest(F.length("t") - 2, F.lit(1)))).alias("i"),
        )
        .select("doc_id", F.expr("substring(t, i, 3)").alias("g"))
        .filter(F.length("g") == 3)
    )
    # no .distinct(): collect_set dedups, and as an aggregate it
    # partial-combines before the one shuffle
    return grams.groupBy("doc_id").agg(F.collect_set("g").alias("gs"))


def _adjacent_pair_sets(gsets: DataFrame) -> DataFrame:
    """(pair, L, R) rows for adjacent-id doc pairs, L/R = struct(did,
    g) with each side's gram set — pair formation WITHOUT a self-join
    (r5): the join form shuffled gsets on doc_id+1 vs doc_id —
    different keys, so zero ReusedExchange and the whole
    gram+collect_set pipeline executed TWICE (plan showed 2 scans).
    Collect-and-explode instead (the bucket_pairs trick): each doc's
    set rides into pair doc_id as the left member and pair doc_id-1
    as the right member, one aggregate picks both sides. Gram pipeline
    evaluated ONCE; same bytes on the wire (the join also shuffled
    both copies); measured 1.25x faster end-to-end at sf0.1,
    bit-identical output. Pairs that share no gram are dropped: they
    are not near-dups, and the oracles' gram joins never form them."""
    sides = gsets.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_id").alias("pair"),
                    F.lit(0).alias("side"),
                    F.col("doc_id").alias("did"),
                    F.col("gs").alias("g"),
                ),
                F.struct(
                    (F.col("doc_id") - 1).alias("pair"),
                    F.lit(1).alias("side"),
                    F.col("doc_id").alias("did"),
                    F.col("gs").alias("g"),
                ),
            )
        ).alias("x")
    ).select("x.*")
    return (
        sides.groupBy("pair")
        .agg(
            # exactly one row per (pair, side): max-of-struct just picks
            # it (max skips the other side's NULLs)
            F.max(F.when(F.col("side") == 0, F.struct(F.col("did"), F.col("g")))).alias("L"),
            F.max(F.when(F.col("side") == 1, F.struct(F.col("did"), F.col("g")))).alias("R"),
        )
        .filter(
            F.col("L").isNotNull()
            & F.col("R").isNotNull()
            & F.arrays_overlap(F.col("L.g"), F.col("R.g"))
        )
    )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH norm AS (
        SELECT doc_id, {NORM_SQL.format(c='text')} AS t FROM documents
    ),
    grams AS (
        SELECT DISTINCT doc_id, g FROM (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, greatest(len(t) - 2, 1)),
                          i -> substr(t, i, 3))) AS g
            FROM norm
        ) WHERE length(g) = 3
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        FROM grams a JOIN grams b ON a.g = b.g AND b.doc_id = a.doc_id + 1
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(i / (sa.n + sb.n - i)::DOUBLE, 6) AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = doc_a
               JOIN sizes sb ON sb.doc_id = doc_b
    """,
    survey="D-fuzzy (n-gram Jaccard verification)",
    doc="Exact char-3-gram Jaccard for candidate pairs (deterministic "
    "adjacent-id pairs so the oracle can check the arithmetic; in "
    "production the pairs come from dedup_minhash_pairs and the same "
    "computation verifies them — LSH recall, exact precision). "
    "Physical shape: per-doc gram SETS are built in ONE partial-"
    "aggregated shuffle (collect_set combines map-side, so the "
    "exchange carries per-doc partial sets, not the ~300x larger gram "
    "rows); pair formation is collect-and-explode (each set rides into "
    "its two pairs, one aggregate picks both sides) rather than a "
    "self-join, so the gram pipeline executes ONCE — the join form "
    "shuffled on doc_id+1 vs doc_id, got zero ReusedExchange, and ran "
    "the pipeline twice (r5 rewrite, 1.25x faster, bit-identical). "
    "Right whenever a doc's gram set fits a row (3-grams of "
    "normalized text: ~1 array element per char); for pathological "
    "multi-MB docs fall back to the (gram, partner)-keyed row join, "
    "which bounds per-key work without a per-doc row-size requirement.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    pairs = _adjacent_pair_sets(_char3_gram_sets(docs))
    i = F.size(F.array_intersect(F.col("L.g"), F.col("R.g")))
    return pairs.select(
        F.col("L.did").alias("doc_a"),
        F.col("R.did").alias("doc_b"),
        F.round(
            i / (F.size(F.col("L.g")) + F.size(F.col("R.g")) - i).cast("double"), 6
        ).alias("jaccard"),
    )




# --- Random-hyperplane (SimHash-for-vectors) LSH over embeddings -----------
#
# Deterministic hyperplanes: integer weights in [-1000, 1000] derived
# from md5("hp:<plane>:<dim>") at import time and inlined as LITERALS
# into both the Spark expression and the DuckDB oracle SQL — no RNG, no
# in-engine hashing, bit-for-bit identical dot products (left-to-right
# double sums) in both engines, so the sign bits always agree.
import hashlib as _hashlib

HP_PLANES = 32  # sign bits per vector
HP_R = 8  # bits per band
HP_BANDS = HP_PLANES // HP_R  # 4 bands of 8 bits -> 256 buckets/band

# Registered threshold, chosen to MATCH the banding's operating point.
# Sign-LSH collision: p(c) = 1 - acos(c)/pi per bit; a pair survives if
# it collides in >= 1 band, so recall(c) = 1 - (1 - p(c)^HP_R)^HP_BANDS:
#   cos   0.999  0.99   0.98   0.95   0.90   0.80   0.45
#   recall 0.999  0.991  0.972  0.891  0.663  0.329  0.12
# At 0.98 the stated recall is ~0.97 (>= 0.95, measured in
# tests/test_embedding_recall.py on planted near-dups); at the old 0.45
# threshold recall was only ~0.12 — an LSH candidate filter is a
# NEAR-DUPLICATE detector, not a general similarity join. For moderate
# thresholds use similarity search (operators/similarity.py), which is
# exact over its probe set. False-positive control is the flip side:
# a random pair (cos~0) collides in a band with p = (1/2)^8, ~1.5%
# across 4 bands, so candidate volume stays near-linear in the corpus.
NEARDUP_COS = 0.98

# Threshold for the DRIVER-REGISTERED variant only. The testdata
# embeddings are near-uniform random (max candidate-pair cosine ~0.49
# at sf0.01), so at the production 0.98 threshold the correct result
# is the empty set — and a 0-row hash-match verifies no values
# (VERDICT r4 "vacuous pass"). 0.35 sits below the testdata's top
# candidate cosines (20 pairs at sf0.01), so the driver row exercises
# the full banding + in-bucket exact-rescore pipeline against real
# values. Semantics at this point: "banding candidates above 0.35" —
# the banding's RECALL guarantee (~0.97) only holds near 0.98 per the
# curve above; production callers use embedding_lsh_pairs' default.
TESTDATA_NEARDUP_COS = 0.35

_HP_W = [
    [
        int(_hashlib.md5(f"hp:{p}:{d}".encode()).hexdigest()[:8], 16) % 2001 - 1000
        for d in range(64)
    ]
    for p in range(HP_PLANES)
]


def _hp_band_sql(elem: str) -> list[str]:
    """Band-value expressions (one per band), rendered with an
    engine-specific element accessor (``elem`` formats a 1-based index).
    Valid in both Spark SQL and DuckDB: CASE + literal arithmetic only."""
    outs = []
    for b in range(HP_BANDS):
        bits = []
        for i in range(HP_R):
            p = b * HP_R + i
            dot_terms = " + ".join(
                f"({elem.format(i=d + 1)} * {float(_HP_W[p][d])})" for d in range(64)
            )
            bits.append(f"(CASE WHEN ({dot_terms}) >= 0.0 THEN {1 << i} ELSE 0 END)")
        outs.append("(" + " + ".join(bits) + ")")
    return outs


_BANDS_DUCK = _hp_band_sql("v[{i}]")

# Spark side: the 32 hyperplane dot products are ONE Arrow-batched
# pandas UDF, not 2048 scalar expression terms. The scalar form (32
# planes x 64 dims unrolled, whether one-shot or staged through a dots
# projection — CollapseProject re-inlines the stage) exceeds Janino's
# method limits, so whole-stage codegen FAILS and the projection runs
# interpreted: measured ~16 s warm on the sf0.1 bench, re-evaluated on
# both sides of the self-join. Dense linear algebra is exactly what the
# Arrow path is for: per batch this is 64 vectorized (n x 32)
# multiply-adds — milliseconds, and the UDF output is a materialized
# column the band folds index cheaply.
#
# Parity contract: the accumulation iterates DIMENSIONS left-to-right
# in float64 (vectorized across rows/planes), which is bit-for-bit the
# oracle's ((w0*v0 + w1*v1) + w2*v2)... bracketing — numpy's pairwise
# np.dot summation would NOT be, and a last-ulp sign flip on a
# near-zero dot would silently move a vector to another bucket.


@F.pandas_udf(ArrayType(DoubleType()))  # explicit type: no session at import
def _hp_project_udf(v):  # pd.Series of float32[64] -> float64[32]
    import numpy as np
    import pandas as pd

    if len(v) == 0:
        return pd.Series([], dtype=object)
    W = np.asarray(_HP_W, dtype=np.float64)  # HP_PLANES x 64
    M = np.stack(v.to_numpy()).astype(np.float64)  # n x 64 (exact widen)
    acc = np.zeros((M.shape[0], W.shape[0]), dtype=np.float64)
    for d in range(M.shape[1]):  # left-to-right over dims == oracle order
        acc += M[:, d][:, None] * W[:, d][None, :]
    return pd.Series(list(acc))


_HP_BAND_FOLDS = [
    "("
    + " + ".join(
        f"(CASE WHEN element_at(ds, {b * HP_R + i + 1}) >= 0.0 THEN {1 << i} ELSE 0 END)"
        for i in range(HP_R)
    )
    + ")"
    for b in range(HP_BANDS)
]


@register(
    "dedup_embedding_lsh",
    oracle=f"""
    WITH {COSINE_SQL_CTE},
    sig AS (
        SELECT vec_id,
               {", ".join(f"{e} AS band{b}" for b, e in enumerate(_BANDS_DUCK))}
        FROM normed
    ),
    bands AS (
        SELECT vec_id, b.band, b.band_val
        FROM sig, LATERAL (
            VALUES {", ".join(f"({b}, band{b})" for b in range(HP_BANDS))}
        ) AS b(band, band_val)
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_val = b.band_val AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b,
           round(list_reduce(list_transform(generate_series(1, 64),
                                            i -> x.v[i] * y.v[i]),
                             (p, q) -> p + q) / (x.nrm * y.nrm), 4) AS cos_sim
    FROM cand JOIN normed x ON x.vec_id = vec_a
              JOIN normed y ON y.vec_id = vec_b
    WHERE round(list_reduce(list_transform(generate_series(1, 64),
                                           i -> x.v[i] * y.v[i]),
                            (p, q) -> p + q) / (x.nrm * y.nrm), 4) >= {TESTDATA_NEARDUP_COS}
    """,
    survey="D-fuzzy (embedding cosine near-dup via hyperplane LSH)",
    doc=f"Embedding near-dup candidate pairs, 100 TB "
    f"shape: {HP_PLANES} deterministic hyperplane sign bits -> {HP_BANDS} "
    f"bands of {HP_R} bits -> bucket self-join per band (shuffle on the "
    "band value, bounded per-bucket work — NEVER an all-pairs nested "
    "loop) -> exact cosine check only within candidate buckets. "
    f"Registered at cosine >= {TESTDATA_NEARDUP_COS} so the driver row "
    "is NON-EMPTY on the near-orthogonal testdata (r5 de-vacuization — "
    "see TESTDATA_NEARDUP_COS); production default stays "
    f"{NEARDUP_COS}, where the banding's recall is ~0.97 by "
    "recall(c) = 1-(1-p^8)^4, p = 1-acos(c)/pi (measured on planted "
    "near-dups in tests/test_embedding_recall.py). The oracle replays "
    "the identical banding bit-for-bit; the brute-force exactness "
    "baseline lives in operators/similarity.cosine_topk.",
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(spark, sf_dir, "embeddings")
    return embedding_lsh_pairs(emb, threshold=TESTDATA_NEARDUP_COS)


def embedding_lsh_pairs(
    emb: DataFrame, threshold: float = NEARDUP_COS
) -> DataFrame:
    """(vec_a, vec_b, cos_sim) candidate near-dup pairs over any
    (vec_id, embedding) frame — the registered query bound to a
    caller-supplied frame/threshold (the recall test plants its own
    near-dups). Recall depends on ``threshold`` via the banding curve
    documented at ``NEARDUP_COS``."""
    normed = emb.select(
        "vec_id", F.col("embedding").alias("v"), l2norm("embedding").alias("nrm")
    )
    dots = normed.select("vec_id", _hp_project_udf("v").alias("ds"))
    sig = dots.select(
        "vec_id", *[F.expr(e).alias(f"band{b}") for b, e in enumerate(_HP_BAND_FOLDS)]
    )
    pairs_arr = F.array(
        *[
            F.struct(F.lit(b).alias("band"), F.col(f"band{b}").alias("band_val"))
            for b in range(HP_BANDS)
        ]
    )
    bands = sig.select("vec_id", F.explode(pairs_arr).alias("e")).select(
        "vec_id", "e.band", "e.band_val"
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    x = normed.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("xv"), F.col("nrm").alias("xn")
    )
    y = normed.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("yv"), F.col("nrm").alias("yn")
    )
    # Arrow-batched pair dot (functions/vectors.pair_dot) — bit-identical
    # to the unrolled expression, ~2x faster on the candidate-pair join;
    # the interpreted-HOF formulation is ~50x slower again
    cos = F.round(pair_dot("xv", "yv") / (F.col("xn") * F.col("yn")), 4)
    return (
        cand.join(x, "vec_a")
        .join(y, "vec_b")
        .select("vec_a", "vec_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


# --- Transitive dedup groups (connected components over LSH pairs) ---------

_PAIRS_RECURSIVE_CTE = f"""
    {MINHASH_SQL.replace("WITH norm", "WITH RECURSIVE norm", 1)},
    bands AS (
        SELECT doc_id, b.band, b.band_hash
        FROM sig, LATERAL (
            VALUES {", ".join(f"({b}, md5(s{2 * b}::VARCHAR || '_' || s{2 * b + 1}::VARCHAR))" for b in range(N_BANDS))}
        ) AS b(band, band_hash)
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    ),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    reach AS (
        SELECT u AS node, u AS r FROM edges
        UNION
        SELECT e.u, reach.r FROM edges e JOIN reach ON reach.node = e.v
    )
"""


@register(
    "dedup_components_canonical",
    oracle=f"""
    {_PAIRS_RECURSIVE_CTE}
    SELECT node, min(r) AS component FROM reach GROUP BY node
    """,
    survey="D-fuzzy (transitive dedup groups — connected components)",
    doc="Canonicalize the LSH candidate pairs into TRANSITIVE groups: "
    "every doc that appears in any pair maps to the minimum doc_id of "
    "its connected component (operators/components.py — iterated "
    "min-label propagation as DataFrame self-joins, localCheckpoint "
    "lineage truncation, one changed-label scalar per round). This is "
    "the production dedup output: pairwise keep-first misses chains "
    "a~b~c where (a,c) never collided. The oracle replays the same "
    "graph with a recursive CTE (transitive closure + min) — feasible "
    "exactly because the pair graph is bounded; at 100 TB the Spark "
    "side's O(diameter) rounds over bucketed edges is the scalable "
    "form.",
)
def dedup_components_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from radares_spark.operators.components import connected_components

    pairs = dedup_minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return connected_components(pairs)


# --- SimHash hamming-ball near-dup pairs (library tier) --------------------

SH_BAND_BITS = 8
SH_N_BANDS = 32 // SH_BAND_BITS
SH_MAX_HAMMING = 3  # < SH_N_BANDS, so banded recall is EXACT (pigeonhole)


def simhash_pairs(sigs: DataFrame) -> DataFrame:
    """(doc_a, doc_b, hamming) — every pair of signatures within
    ``SH_MAX_HAMMING`` bits, via disjoint-band blocking.

    Unlike probabilistic minhash/hyperplane LSH, this blocking is
    EXACT: a pair differing in <= 3 of 32 bits cannot differ in all 4
    disjoint 8-bit bands (pigeonhole), so at least one band key
    collides and the pair is a candidate — recall 1.0 by construction
    (asserted against the all-pairs oracle in tests/test_simhash_pairs).
    The self-join is per (band, key) bucket, never all-pairs; exact
    hamming (bit_count of xor) then filters false candidates. At
    100 TB: band keys are uniform md5-derived bits -> no bucket skew,
    and the join carries only (doc_id, simhash) — 16 bytes a row.
    """
    bands = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.expr(f"(simhash >> {SH_BAND_BITS * b}) & {(1 << SH_BAND_BITS) - 1}").alias("key"),
                    )
                    for b in range(SH_N_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.key")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sa"),
            F.col("b.simhash").alias("sb"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.expr("sa ^ sb")))
        .filter(F.col("hamming") <= SH_MAX_HAMMING)
        .select("doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming"))
    )


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_pairs(simhash_signatures(_docs(spark, sf_dir)))


# Oracle: brute-force all-pairs hamming (feasible at oracle sf only) —
# deliberately NOT the banded algorithm, so parity proves the banding
# loses nothing, not merely that both sides run the same code.
from radares_spark.registry import QuerySpec  # noqa: E402

def ngram_containment_pairs(docs: DataFrame) -> DataFrame:
    """Char-3-gram CONTAINMENT for candidate pairs — the asymmetric
    twin of ``dedup_ngram_jaccard``: containment = |A ∩ B| / min(|A|,
    |B|) flags a short doc quoted wholesale inside a long one, which
    Jaccard misses (a 100-gram quote in a 10,000-gram page has
    Jaccard <= 0.01 but containment 1.0 — the Lee et al. motivation
    for substring-level dedup, here at doc granularity).

    Same physical shape as the Jaccard verifier (one partial-
    aggregated collect_set shuffle, candidate pairs join the
    1-row-per-doc set table, arrays intersect in place); deterministic
    adjacent-id pairs here so the oracle can check the arithmetic — in
    production the pairs come from ``dedup_minhash_pairs``.
    """
    pairs = _adjacent_pair_sets(_char3_gram_sets(docs))
    i = F.size(F.array_intersect(F.col("L.g"), F.col("R.g")))
    return pairs.select(
        F.col("L.did").alias("doc_a"),
        F.col("R.did").alias("doc_b"),
        F.round(
            i / F.least(F.size(F.col("L.g")), F.size(F.col("R.g"))).cast("double"), 6
        ).alias("containment"),
    )


def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_containment_pairs(_docs(spark, sf_dir))


CONTAINMENT_SQL = f"""
    WITH norm AS (
        SELECT doc_id, {NORM_SQL.format(c='text')} AS t FROM documents
    ),
    grams AS (
        SELECT DISTINCT doc_id, g FROM (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, greatest(len(t) - 2, 1)),
                          i -> substr(t, i, 3))) AS g
            FROM norm
        ) WHERE length(g) = 3
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        FROM grams a JOIN grams b ON a.g = b.g AND b.doc_id = a.doc_id + 1
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(i / least(sa.n, sb.n)::DOUBLE, 6) AS containment
    FROM inter JOIN sizes sa ON sa.doc_id = doc_a
               JOIN sizes sb ON sb.doc_id = doc_b
"""


def dedup_best_of_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware representative selection over the transitive
    near-dup groups: keep the LONGEST member of each MinHash cluster
    (the SlimPajama keep-longest policy), tie-break min doc_id —
    min-id canonicalization keeps an arbitrary member and can drop a
    long original in favor of its truncated copy."""
    from radares_spark.operators.components import (
        cluster_representatives,
        connected_components,
    )

    docs = _docs(spark, sf_dir)
    pairs = dedup_minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    cc = connected_components(pairs)
    scores = docs.select("doc_id", F.length("text").alias("score"))
    return cluster_representatives(cc, scores)


BEST_OF_CLUSTER_SQL = f"""
    {_PAIRS_RECURSIVE_CTE},
    comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
    scored AS (
        SELECT c.node AS doc_id, c.component, length(d.text) AS score
        FROM comp c JOIN documents d ON d.doc_id = c.node
    )
    SELECT doc_id, component, score,
           first_value(doc_id) OVER (
               PARTITION BY component
               ORDER BY score DESC NULLS LAST, doc_id ASC
           ) AS rep_doc_id,
           CASE WHEN doc_id = first_value(doc_id) OVER (
               PARTITION BY component
               ORDER BY score DESC NULLS LAST, doc_id ASC
           ) THEN 1 ELSE 0 END AS keep
    FROM scored
"""


LIBRARY_SPECS: dict[str, QuerySpec] = {
    "dedup_best_of_cluster": QuerySpec(
        name="dedup_best_of_cluster",
        fn=dedup_best_of_cluster,
        oracle=BEST_OF_CLUSTER_SQL,
        survey="D-fuzzy (quality-aware cluster representative — "
        "keep-longest per transitive group)",
        doc="MinHash pairs -> connected components -> argmax-length "
        "representative per group (tie-break min doc_id), emitted "
        "with keep/drop flags for every member. The oracle replays "
        "the recursive-CTE closure plus the same window.",
    ),
    "dedup_ngram_containment": QuerySpec(
        name="dedup_ngram_containment",
        fn=dedup_ngram_containment,
        oracle=CONTAINMENT_SQL,
        survey="D-fuzzy (asymmetric containment verification — "
        "quote-inclusion cases Jaccard misses)",
        doc="Exact char-3-gram containment |A∩B|/min(|A|,|B|) for "
        "candidate pairs; same two-shuffle collect_set shape as the "
        "Jaccard verifier.",
    ),
    "dedup_minhash_signatures": QuerySpec(
        name="dedup_minhash_signatures",
        fn=dedup_minhash_signatures,
        oracle=f"""
        {MINHASH_SQL}
        SELECT doc_id,
               {", ".join(f"md5(s{b * BAND_R}::VARCHAR || '_' || s{b * BAND_R + 1}::VARCHAR) AS band{b}" for b in range(N_BANDS))}
        FROM sig
        """,
        survey="D-fuzzy (MinHash signatures + LSH band hashes)",
        doc="Per-doc MinHash signature folded into LSH band hashes "
        f"(k={N_PERM}, b={N_BANDS}, r={BAND_R}). Value-checked end-to-end "
        "against the oracle — proves the signature math, not just row "
        "counts. Library tier since r5; dedup_minhash_pairs' driver row "
        "covers the same pipeline transitively.",
    ),
    "dedup_simhash_pairs": QuerySpec(
        name="dedup_simhash_pairs",
        fn=dedup_simhash_pairs,
        oracle=f"""
        {SIMHASH_SQL}
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               bit_count(xor(a.simhash, b.simhash))::INT AS hamming
        FROM simhashes a JOIN simhashes b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {SH_MAX_HAMMING}
        """,
        survey="D-fuzzy (SimHash hamming-ball pairs, exact-recall banding)",
        doc="Banded hamming-ball search vs an ALL-PAIRS oracle: the "
        "disjoint-band candidate set provably contains every pair with "
        f"hamming <= {SH_MAX_HAMMING}.",
    ),
}
