"""Text-analysis extensions: within-doc repetition signals and PII
scrubbing — the published quality-filter / redaction steps (Gopher
rules, C4/Dolma PII masking) an LLM data pipeline runs alongside
language-ID and quality scoring (operators/text.py).

Reference anchor: the reference engine declares downstream analysis
only (README.md:3); these extend the BASELINE.json text-analysis
surface. Both are library-tier (the driver's 50-entry window is full)
and are pinned by the SAME strict DuckDB comparison the driver runs
(tests/test_text_ext.py via tests/oracle.py).

Scale shapes:

- ``repetition_signals`` — explode to (doc, token) rows, two-phase
  counted aggregates (map-side combined), broadcast of nothing: the
  shuffles carry one row per distinct (doc, token) / (doc, bigram),
  bounded by corpus token count. No per-doc Python, no O(len²) array
  lambdas (a mode-by-``filter``-inside-``transform`` formulation
  re-evaluates the token array per element — the CollapseProject trap
  documented on :func:`radares_spark.operators.dedup.shingle_rows`).
- ``scrub_pii`` — pure projection: chained ``regexp_replace`` plus
  per-rule ``regexp_count``, whole-stage-codegen'd, zero shuffles.
  Patterns use explicit ASCII classes only, so Java regex (Spark) and
  RE2 (DuckDB) agree byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from radares_spark.io.tables import load_table, spread
from radares_spark.operators.dedup import NORM_SQL, normalize_text, shingle_rows
from radares_spark.registry import QuerySpec

# (name, pattern, replacement) — applied in order; email first so a
# later rule never matches digits inside an already-masked address.
#
# Known mirror caveat (found by conformance fuzz, deliberately NOT
# patched): the ipv4 rule's \b is Unicode-aware in the JVM (a
# documented java.util.regex quirk — \b uses Unicode word chars even
# though \w is ASCII) but ASCII in DuckDB's RE2, and RE2 has no
# lookbehind, so no single pattern both engines read identically next
# to a NON-ASCII character ('é10.0.0.1': Spark sees no boundary and
# does not scrub; the DuckDB mirror does). On ASCII text — including
# all testdata and the parity frames — the mirrors agree exactly
# (pinned by the ASCII conformance fuzz); for non-ASCII neighbors the
# Spark behavior is authoritative.
PII_RULES: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\+[0-9]{2}[ -][0-9]{2,3}[ -][0-9]{4,5}[ -][0-9]{4}", "<PHONE>"),
]


def scrub_pii(docs: DataFrame) -> DataFrame:
    """Input columns + ``clean_text`` + one ``n_<rule>`` count per PII
    rule. Counts are taken on the ORIGINAL text (per-rule, before any
    masking); the masked text applies the rules in declaration order."""
    out = docs
    for name, pat, _ in PII_RULES:
        out = out.withColumn(f"n_{name}", F.regexp_count(F.col("text"), F.lit(pat)))
    clean = F.col("text")
    for _, pat, repl in PII_RULES:
        clean = F.regexp_replace(clean, pat, repl)
    return out.withColumn("clean_text", clean)


def pii_scrub_sql(table: str, text_col: str = "text") -> str:
    """DuckDB mirror of :func:`scrub_pii` over ``table``."""
    counts = ",\n           ".join(
        f"len(regexp_extract_all({text_col}, '{pat}'))::INT AS n_{name}"
        for name, pat, _ in PII_RULES
    )
    clean = text_col
    for _, pat, repl in PII_RULES:
        clean = f"regexp_replace({clean}, '{pat}', '{repl}', 'g')"
    return f"""
    SELECT *,
           {counts},
           {clean} AS clean_text
    FROM {table}
    """


# HTML -> text extraction rules, applied in order. ALL patterns use
# ASCII classes + inline (?is) flags only, so Java regex (Spark) and
# RE2 (DuckDB) agree byte-for-byte — same contract as PII_RULES.
HTML_STRIP_RULES: list[tuple[str, str]] = [
    (r"(?is)<script\b[^>]*>.*?</script>", " "),  # script blocks first
    (r"(?is)<style\b[^>]*>.*?</style>", " "),
    (r"(?s)<!--.*?-->", " "),                    # comments
    (r"<[^>]+>", " "),                           # remaining tags
]
# &amp; MUST decode last: decoding it first would double-unescape
# double-escaped text ('&amp;lt;' -> '&lt;' -> '<' instead of '&lt;').
HTML_ENTITIES: list[tuple[str, str]] = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
]


def extract_html_text(docs: DataFrame) -> DataFrame:
    """Input columns + ``plain_text`` + ``n_tags`` + ``n_links`` — the
    crawl pipeline's first stage (strip markup before any quality /
    dedup / PII stage sees bytes). Pure projection: chained
    regexp_replace in ONE codegen'd pass, zero shuffles — the same
    execution contract as :func:`scrub_pii`. Counts are taken on the
    ORIGINAL markup (tag density is itself a quality signal: Gopher
    drops pages whose text is mostly chrome)."""
    out = docs.withColumn(
        "n_tags", F.regexp_count(F.col("html"), F.lit(r"<[^>]+>"))
    ).withColumn("n_links", F.regexp_count(F.col("html"), F.lit(r"(?i)<a\b")))
    txt = F.col("html")
    for pat, repl in HTML_STRIP_RULES:
        txt = F.regexp_replace(txt, pat, repl)
    for ent, ch in HTML_ENTITIES:
        txt = F.regexp_replace(txt, ent, ch)
    txt = F.trim(F.regexp_replace(txt, r"\s+", " "))
    return out.withColumn("plain_text", txt)


def html_extract_sql(table: str) -> str:
    """DuckDB mirror of :func:`extract_html_text` over ``table``."""
    txt = "html"
    for pat, repl in HTML_STRIP_RULES:
        txt = f"regexp_replace({txt}, '{pat}', '{repl}', 'g')"
    for ent, ch in HTML_ENTITIES:
        ch_sql = ch.replace("'", "''")
        txt = f"regexp_replace({txt}, '{ent}', '{ch_sql}', 'g')"
    txt = f"trim(regexp_replace({txt}, '\\s+', ' ', 'g'))"
    return f"""
    SELECT *,
           len(regexp_extract_all(html, '<[^>]+>'))::INT AS n_tags,
           len(regexp_extract_all(html, '(?i)<a\\b'))::INT AS n_links,
           {txt} AS plain_text
    FROM {table}
    """


def repetition_signals(docs: DataFrame) -> DataFrame:
    """(doc_id, n_words, word_rep_ratio, top_word_frac, top_bigram_frac)
    — the Gopher-style repetition block. Ratios are NULL for docs with
    no words / no bigrams (the doc spine is preserved with left joins,
    so null-text docs stay in the audit — the r2-ADVICE invariant)."""
    words = (
        docs.select(
            "doc_id",
            F.explode(F.split(normalize_text(F.col("text")), " ")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wstats = words.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("cnt").alias("top_cnt"),
    )
    bigrams = (
        shingle_rows(docs, 2)
        .groupBy("doc_id", "shingle")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    bstats = bigrams.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_bigrams"), F.max("cnt").alias("top_bg")
    )
    return (
        docs.select("doc_id")
        .join(wstats, "doc_id", "left")
        .join(bstats, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0)).alias("n_words"),
            F.round(1 - F.col("n_distinct") / F.col("n_words"), 6).alias(
                "word_rep_ratio"
            ),
            F.round(F.col("top_cnt") / F.col("n_words"), 6).alias("top_word_frac"),
            F.round(F.col("top_bg") / F.col("n_bigrams"), 6).alias("top_bigram_frac"),
        )
    )


def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return repetition_signals(docs)


REPETITION_SQL = f"""
    WITH norm AS (
        SELECT doc_id, {NORM_SQL.format(c='text')} AS t FROM documents
    ),
    words AS (
        SELECT doc_id, tok, count(*) AS cnt FROM (
            SELECT doc_id, unnest(string_split(t, ' ')) AS tok FROM norm
        ) WHERE tok <> '' GROUP BY doc_id, tok
    ),
    wstats AS (
        SELECT doc_id, sum(cnt)::BIGINT AS n_words,
               count(*) AS n_distinct, max(cnt) AS top_cnt
        FROM words GROUP BY doc_id
    ),
    toks AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
    bigrams AS (
        SELECT doc_id, g, count(*) AS cnt FROM (
            SELECT doc_id,
                   unnest(list_filter(
                       list_transform(
                           generate_series(1, greatest(len(w) - 1, 1)),
                           i -> w[i] || ' ' || w[i+1]),
                       x -> x IS NOT NULL)) AS g
            FROM toks
        ) GROUP BY doc_id, g
    ),
    bstats AS (
        SELECT doc_id, sum(cnt)::BIGINT AS n_bigrams, max(cnt) AS top_bg
        FROM bigrams GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(w.n_words, 0)::BIGINT AS n_words,
           round(1 - w.n_distinct / w.n_words::DOUBLE, 6) AS word_rep_ratio,
           round(w.top_cnt / w.n_words::DOUBLE, 6) AS top_word_frac,
           round(b.top_bg / b.n_bigrams::DOUBLE, 6) AS top_bigram_frac
    FROM documents d
    LEFT JOIN wstats w USING (doc_id)
    LEFT JOIN bstats b USING (doc_id)
"""

DUP_SPAN_W = 8  # window length in words


def dup_span_stats(docs: DataFrame, w: int = DUP_SPAN_W) -> DataFrame:
    """Cross-document duplicate-span detection — the distributed
    approximation of exact substring dedup (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"): the
    paper builds a corpus-wide suffix array single-node; the Spark
    shape hashes every rolling ``w``-word window and flags windows
    whose hash occurs in >= 2 DISTINCT documents, then scores each doc
    by the fraction of its windows that are shared boilerplate.

    Returns (doc_id, n_windows, n_dup_windows, dup_frac) for EVERY
    doc (short/empty docs: 0 windows, frac 0.0).

    Scale shape: the window stream is linear in corpus tokens (one row
    per token position, assembled above the Generate exactly as
    shingle_rows does to dodge the CollapseProject re-evaluation
    trap) and — the part that matters — is EVALUATED ONCE. The naive
    formulation (total-count aggregate + distinct-doc-count aggregate
    + semi-join back) reads the explode+md5 subtree three times and
    measured 3-4x slower at sf0.1. Instead: map-side-combined
    (doc, hash) multiplicity rollup, ONE window over the hash (rows
    per hash = docs containing it — the window never sees raw window
    multiplicity), one doc regroup. Nothing is quadratic; work is
    proportional to corpus tokens plus actual shared-span volume.

    Straggler note: a span shared by N docs puts N rows in one window
    partition — linear and spillable, but at crawl scale a universal
    boilerplate sentence makes one long task. A bound would salt hot
    hashes apart from the window, as ``dedup.lsh_pairs_capped`` does
    for LSH buckets (a hot hash is dup by definition).
    """
    # the hash is unhex'd to BINARY(16) before it ever shuffles: the
    # 32-char hex string is 3x the bytes for the same identity
    # (bijective, so grouping is unchanged), and the hash never
    # appears in this operator's output — measured ~15-20% on the
    # end-to-end stats at sf0.1, identical rows
    wins = shingle_rows(docs, n=w).select(
        "doc_id", F.unhex(F.md5(F.encode(F.col("shingle"), "UTF-8"))).alias("h")
    )
    # one row per (doc, window-hash) with its in-doc multiplicity;
    # map-side combine shrinks the only full-width shuffle
    doc_h = wins.groupBy("doc_id", "h").agg(F.count(F.lit(1)).alias("c"))
    # rows are unique per (doc, h), so count-over-hash == distinct docs
    n_docs = F.count(F.lit(1)).over(W.partitionBy("h"))
    per_doc = (
        doc_h.withColumn("nd", n_docs)
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_windows"),
            F.sum(F.when(F.col("nd") >= 2, F.col("c")).otherwise(0)).alias(
                "n_dup_windows"
            ),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.when(F.coalesce("n_windows", F.lit(0)) == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    F.coalesce("n_dup_windows", F.lit(0))
                    / F.col("n_windows").cast("double"),
                    6,
                )
            )
            .alias("dup_frac"),
        )
    )


def text_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread(): the corpus arrives as one split at small SF and would
    # single-thread the CPU-dense span/hash work (no-op once the scan
    # itself is parallel; interleaved A/B at sf0.1, rows identical)
    docs = spread(spark, sf_dir, "documents").select("doc_id", "text")
    return dup_span_stats(docs)


DUP_SPANS_SQL = f"""
    WITH toks AS (
        SELECT doc_id, string_split({NORM_SQL.format(c="coalesce(text, '')")}, ' ') AS w
        FROM documents
    ),
    wins AS (
        SELECT doc_id,
               md5(array_to_string(w[i:i + {DUP_SPAN_W - 1}], ' ')) AS h
        FROM toks, LATERAL unnest(generate_series(1, len(w) - {DUP_SPAN_W - 1})) AS t(i)
        WHERE len(w) >= {DUP_SPAN_W}
    ),
    cross_doc AS (
        SELECT h FROM (SELECT DISTINCT doc_id, h FROM wins)
        GROUP BY h HAVING count(*) >= 2
    ),
    per_doc AS (
        SELECT doc_id,
               count(*) AS n_windows,
               count(*) FILTER (WHERE h IN (SELECT h FROM cross_doc)) AS n_dup_windows
        FROM wins GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(p.n_windows, 0) AS n_windows,
           coalesce(p.n_dup_windows, 0) AS n_dup_windows,
           CASE WHEN coalesce(p.n_windows, 0) = 0 THEN 0.0
                ELSE round(p.n_dup_windows / p.n_windows::DOUBLE, 6)
           END AS dup_frac
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


def _cov_doc(
    docs: DataFrame, w: int = DUP_SPAN_W, min_docs: int = 2
) -> DataFrame:
    """(doc_id, cov array<long>) — sorted distinct token positions
    covered by any rolling ``w``-word window shared across >=
    ``min_docs`` distinct docs; only docs with coverage get a row. The
    shingle+md5 stream is evaluated once (binary(16) hash — see
    dup_span_stats): window start positions ride the (doc, h) rollup
    as a collect_list and the cross-doc flag is the count-over-hash
    window. The start->position expansion and the position dedup run
    ARRAY-NATIVE inside one per-doc regroup (flatten / transform /
    array_distinct) — the previous shape exploded positions to rows
    and paid a corpus-wide ``distinct`` Exchange plus a second regroup
    for the same cover sets (measured slower at sf0.1, rows
    identical)."""
    wins = shingle_rows(docs, n=w, with_pos=True).select(
        "doc_id",
        F.col("shingle_pos").alias("i"),
        F.unhex(F.md5(F.encode(F.col("shingle"), "UTF-8"))).alias("h"),
    )
    doc_h = wins.groupBy("doc_id", "h").agg(F.collect_list("i").alias("starts"))
    # rows are unique per (doc, h), so count-over-hash == distinct docs
    nd = F.count(F.lit(1)).over(W.partitionBy("h"))
    ss = (
        doc_h.withColumn("nd", nd)
        .filter(F.col("nd") >= min_docs)
        .groupBy("doc_id")
        .agg(F.flatten(F.collect_list("starts")).alias("ss"))
    )
    return ss.select(
        "doc_id",
        F.array_sort(
            F.array_distinct(
                F.flatten(
                    F.transform(
                        F.col("ss"),
                        lambda s: F.sequence(
                            s.cast("long"), (s + (w - 1)).cast("long")
                        ),
                    )
                )
            )
        ).alias("cov"),
    )


def _covered_positions(
    docs: DataFrame, w: int = DUP_SPAN_W, min_docs: int = 2
) -> DataFrame:
    """(doc_id, pos) row form of :func:`_cov_doc` — the explode stays
    partitioned by doc_id (the regroup upstream), so per-doc window
    consumers add no Exchange."""
    return _cov_doc(docs, w, min_docs).select(
        "doc_id", F.explode("cov").alias("pos")
    )


def remove_dup_spans(docs: DataFrame) -> DataFrame:
    """Cross-document duplicate-span REMOVAL — the transform stage of
    Lee et al. 2021 substring dedup (``dup_span_stats`` is the detect
    stage): every token covered by a rolling ``DUP_SPAN_W``-word window
    whose hash occurs in >= 2 DISTINCT documents is excised, and
    the survivors are reassembled in order.

    Returns one row per input doc:
    (doc_id, n_tokens, n_removed, removed_frac, clean_text) —
    empty/short docs keep their row (0 tokens, '' text).

    Scale shape (all linear in corpus tokens + shared-span volume):

    - token and window streams are assembled above their Generates
      exactly as ``shingle_rows`` does (the CollapseProject trap);
    - the window-hash stream is EVALUATED ONCE: window start
      positions ride the ``groupBy(doc, h)`` rollup as a
      ``collect_list``, and the cross-doc flag is the same
      count-over-hash window as ``dup_span_stats`` — no semi-join
      back onto a second evaluation of the shingle+md5 pipeline (the
      first formulation did exactly that and measured 1.5x slower at sf0.1);
    - covered positions = dup windows x ``DUP_SPAN_W`` offsets, deduplicated
      per (doc, pos): proportional to actually-duplicated text, not
      the corpus;
    - per-doc token totals come from a PROJECTION (array length), not
      a token-row regroup;
    - reassembly NEVER explodes the token stream: covered positions
      regroup to one sorted array per doc (covered volume, not corpus
      volume), and the kept text is ``array_except(sequence(1, n),
      covered)`` mapped through O(1) element accesses — the earlier
      token-row explode + (doc, pos) anti-join + collect_list regroup
      formulation moved the whole corpus through two extra shuffles
      and measured 1.35x slower at sf0.1 (bit-identical outputs). The
      JOIN below is the CollapseProject barrier that keeps the token
      array a materialized attribute under the per-element lambda.

    Skew note: the count-over-hash window puts one row per containing
    doc in a hash's partition — linear and spillable; at crawl scale
    a universal boilerplate span makes one long task (see the
    straggler note on :func:`dup_span_stats`).
    """
    cov_doc = _cov_doc(docs, DUP_SPAN_W, 2)
    norm = normalize_text(F.coalesce(F.col("text"), F.lit("")))
    side = docs.select("doc_id", F.split(norm, " ").alias("w")).withColumn(
        "n",
        F.when((F.size("w") == 1) & (F.get("w", 0) == ""), F.lit(0))
        .otherwise(F.size("w"))
        .cast("long"),
    )
    joined = side.join(cov_doc, "doc_id", "left")
    kept_pos = F.when(F.col("n") == 0, F.array().cast("array<long>")).otherwise(
        F.array_except(
            F.sequence(F.lit(1).cast("long"), F.greatest("n", F.lit(1).cast("long"))),
            F.coalesce("cov", F.array().cast("array<long>")),
        )
    )
    n_kept = F.size(kept_pos).cast("long")
    clean = F.array_join(
        F.transform(kept_pos, lambda p: F.element_at(F.col("w"), p.cast("int"))), " "
    )
    return joined.select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        (F.col("n") - n_kept).alias("n_removed"),
        F.when(F.col("n") == 0, F.lit(0.0))
        .otherwise(F.round((F.col("n") - n_kept) / F.col("n").cast("double"), 6))
        .alias("removed_frac"),
        clean.alias("clean_text"),
    )


def text_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(spark, sf_dir, "documents").select("doc_id", "text")
    return remove_dup_spans(docs)


def longest_dup_span(docs: DataFrame) -> DataFrame:
    """Per-doc length (in tokens) of the LONGEST contiguous duplicated
    region — the signal Lee et al. 2021 threshold on (their removal
    targets substrings over ~50 tokens; ``dup_frac`` alone can't tell
    one 400-token boilerplate block from 50 scattered 8-token hits).

    Returns (doc_id, max_dup_run) for every doc (0 when nothing is
    shared).

    Scale shape: covered positions (bounded by duplicated-text volume)
    -> the classic gaps-and-islands rewrite: ``pos - row_number()``
    is constant within a contiguous run, so one per-doc window + one
    count-per-island aggregate + one max-per-doc aggregate. All three
    partition by doc (and island), so per-task work is bounded by a
    single document's covered tokens.
    """
    covered = _covered_positions(docs, DUP_SPAN_W, 2)
    island = (
        F.col("pos")
        - F.row_number().over(W.partitionBy("doc_id").orderBy("pos"))
    ).alias("grp")
    runs = (
        covered.select("doc_id", "pos", island)
        .groupBy("doc_id", "grp")
        .agg(F.count(F.lit(1)).alias("run_len"))
    )
    per_doc = runs.groupBy("doc_id").agg(F.max("run_len").alias("max_dup_run"))
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id", F.coalesce("max_dup_run", F.lit(0)).alias("max_dup_run")
        )
    )


def text_longest_dup_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(spark, sf_dir, "documents").select("doc_id", "text")
    return longest_dup_span(docs)


LONGEST_SPAN_SQL = f"""
    WITH toks AS (
        SELECT doc_id, string_split({NORM_SQL.format(c="coalesce(text, '')")}, ' ') AS w
        FROM documents
    ),
    wins AS (
        SELECT doc_id, i,
               md5(array_to_string(w[i:i + {DUP_SPAN_W - 1}], ' ')) AS h
        FROM toks, LATERAL unnest(generate_series(1, len(w) - {DUP_SPAN_W - 1})) AS t(i)
        WHERE len(w) >= {DUP_SPAN_W}
    ),
    dup AS (
        SELECT h FROM (SELECT DISTINCT doc_id, h FROM wins)
        GROUP BY h HAVING count(*) >= 2
    ),
    covered AS (
        SELECT DISTINCT doc_id, i + off AS pos
        FROM wins, LATERAL unnest(generate_series(0, {DUP_SPAN_W - 1})) AS o(off)
        WHERE h IN (SELECT h FROM dup)
    ),
    islands AS (
        SELECT doc_id,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        FROM covered
    ),
    runs AS (
        SELECT doc_id, count(*) AS run_len FROM islands GROUP BY doc_id, grp
    ),
    per_doc AS (
        SELECT doc_id, max(run_len) AS max_dup_run FROM runs GROUP BY doc_id
    )
    SELECT d.doc_id, coalesce(p.max_dup_run, 0) AS max_dup_run
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


DUP_REMOVAL_SQL = f"""
    WITH toks AS (
        SELECT doc_id, string_split({NORM_SQL.format(c="coalesce(text, '')")}, ' ') AS w
        FROM documents
    ),
    tok_rows AS (
        SELECT doc_id, i AS pos, w[i] AS word
        FROM toks, LATERAL unnest(generate_series(1, len(w))) AS t(i)
        WHERE w[i] <> ''
    ),
    wins AS (
        SELECT doc_id, i,
               md5(array_to_string(w[i:i + {DUP_SPAN_W - 1}], ' ')) AS h
        FROM toks, LATERAL unnest(generate_series(1, len(w) - {DUP_SPAN_W - 1})) AS t(i)
        WHERE len(w) >= {DUP_SPAN_W}
    ),
    dup AS (
        SELECT h FROM (SELECT DISTINCT doc_id, h FROM wins)
        GROUP BY h HAVING count(*) >= 2
    ),
    covered AS (
        SELECT DISTINCT doc_id, i + off AS pos
        FROM wins, LATERAL unnest(generate_series(0, {DUP_SPAN_W - 1})) AS o(off)
        WHERE h IN (SELECT h FROM dup)
    ),
    kept AS (
        SELECT t.doc_id, t.pos, t.word
        FROM tok_rows t ANTI JOIN covered c ON t.doc_id = c.doc_id AND t.pos = c.pos
    ),
    per_doc AS (
        SELECT doc_id, count(*) AS n_kept,
               string_agg(word, ' ' ORDER BY pos) AS clean_text
        FROM kept GROUP BY doc_id
    ),
    totals AS (SELECT doc_id, count(*) AS n_tokens FROM tok_rows GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(tt.n_tokens, 0) AS n_tokens,
           coalesce(tt.n_tokens, 0) - coalesce(p.n_kept, 0) AS n_removed,
           CASE WHEN coalesce(tt.n_tokens, 0) = 0 THEN 0.0
                ELSE round((tt.n_tokens - coalesce(p.n_kept, 0)) / tt.n_tokens::DOUBLE, 6)
           END AS removed_frac,
           coalesce(p.clean_text, '') AS clean_text
    FROM documents d
    LEFT JOIN totals tt USING (doc_id)
    LEFT JOIN per_doc p USING (doc_id)
"""


VOCAB_N = 2  # word bigrams
VOCAB_TOP_K = 50


def vocab_top_ngrams(
    docs: DataFrame, n: int = VOCAB_N, top_k: int = VOCAB_TOP_K
) -> DataFrame:
    """Vocabulary induction: the ``top_k`` most frequent word
    ``n``-grams with their corpus share — the counting pass a
    tokenizer-training or stopword-derivation step runs first (the
    corpus-wide twin of ``repetition_signals``' per-doc top-gram).

    Pure composition: the evaluation-safe gram stream
    (``dedup.shingle_rows``) into the heavy-hitter report
    (``skew.skew_report``) — one map-side-combined count aggregate,
    then top-k via log2-count bins + WindowGroupLimit, never a global
    sort. Output (shingle, n_rows, share, key_rank).
    """
    from radares_spark.operators.skew import skew_report

    return skew_report(shingle_rows(docs, n=n), ["shingle"], top_k)


def text_vocab_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return vocab_top_ngrams(docs)


def text_vocab_top_unigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return vocab_top_ngrams(docs, n=1)


VOCAB_SQL = f"""
    WITH toks AS (
        SELECT doc_id, string_split({NORM_SQL.format(c="coalesce(text, '')")}, ' ') AS w
        FROM documents
    ),
    grams AS (
        SELECT array_to_string(w[i:i + {VOCAB_N - 1}], ' ') AS shingle
        FROM toks, LATERAL unnest(generate_series(1, len(w) - {VOCAB_N - 1})) AS t(i)
        WHERE len(w) >= {VOCAB_N} AND array_to_string(w, ' ') <> ''
    ),
    c AS (SELECT shingle, count(*) AS n_rows FROM grams GROUP BY 1),
    t AS (SELECT sum(n_rows) AS total FROM c)
    SELECT shingle, n_rows,
           round(n_rows / total::DOUBLE, 6) AS share,
           row_number() OVER (ORDER BY n_rows DESC, shingle) AS key_rank
    FROM c, t
    QUALIFY key_rank <= {VOCAB_TOP_K}
"""


VOCAB1_SQL = f"""
    WITH toks AS (
        SELECT doc_id, string_split({NORM_SQL.format(c="coalesce(text, '')")}, ' ') AS w
        FROM documents
    ),
    grams AS (
        SELECT w[i] AS shingle
        FROM toks, LATERAL unnest(generate_series(1, len(w))) AS t(i)
        WHERE array_to_string(w, ' ') <> ''
    ),
    c AS (SELECT shingle, count(*) AS n_rows FROM grams GROUP BY 1),
    t AS (SELECT sum(n_rows) AS total FROM c)
    SELECT shingle, n_rows,
           round(n_rows / total::DOUBLE, 6) AS share,
           row_number() OVER (ORDER BY n_rows DESC, shingle) AS key_rank
    FROM c, t
    QUALIFY key_rank <= {VOCAB_TOP_K}
"""


LIBRARY_SPECS: dict[str, QuerySpec] = {
    "text_vocab_top_unigrams": QuerySpec(
        name="text_vocab_top_unigrams",
        fn=text_vocab_top_unigrams,
        oracle=VOCAB1_SQL,
        survey="LLM-pipeline (stopword derivation: corpus-wide top-k "
        "frequent words)",
        doc=f"Top-{VOCAB_TOP_K} words by occurrence with corpus share "
        "— the stopword-list induction pass; same heavy-hitter shape "
        "as the bigram vocab.",
    ),
    "text_vocab_top_ngrams": QuerySpec(
        name="text_vocab_top_ngrams",
        fn=text_vocab_top_ngrams,
        oracle=VOCAB_SQL,
        survey="LLM-pipeline (vocabulary induction: corpus-wide top-k "
        "frequent n-grams)",
        doc=f"Top-{VOCAB_TOP_K} word {VOCAB_N}-grams by occurrence with "
        "corpus share; gram stream into the heavy-hitter report — "
        "map-side-combined count, bin-prefix top-k, no global sort.",
    ),
    "text_repetition_signals": QuerySpec(
        name="text_repetition_signals",
        fn=text_repetition_signals,
        oracle=REPETITION_SQL,
        survey="text analysis (Gopher repetition-quality block)",
        doc="Word-repetition ratio, top-word and top-bigram mass "
        "fractions per doc; two map-side-combined count aggregates, "
        "doc spine preserved through left joins.",
    ),
    "text_dup_spans": QuerySpec(
        name="text_dup_spans",
        fn=text_dup_spans,
        oracle=DUP_SPANS_SQL,
        survey="LLM-pipeline (cross-doc duplicate-span detection, "
        "Lee et al. 2021 substring dedup as rolling window hashes)",
        doc=f"Every rolling {DUP_SPAN_W}-word window hashed; windows in "
        ">=2 distinct docs are shared spans; per-doc share-of-windows "
        "score. Linear in corpus tokens, two map-side-combined hash "
        "shuffles, no quadratic stage.",
    ),
    "text_longest_dup_span": QuerySpec(
        name="text_longest_dup_span",
        fn=text_longest_dup_span,
        oracle=LONGEST_SPAN_SQL,
        survey="LLM-pipeline (longest contiguous duplicated region per "
        "doc — the span-length threshold signal of Lee et al. 2021)",
        doc="Gaps-and-islands over the covered-position set: pos - "
        "row_number is constant within a contiguous run; per-doc "
        "windows only, work bounded by duplicated-text volume.",
    ),
    "text_dup_span_removal": QuerySpec(
        name="text_dup_span_removal",
        fn=text_dup_span_removal,
        oracle=DUP_REMOVAL_SQL,
        survey="LLM-pipeline (cross-doc duplicate-span REMOVAL, the "
        "transform stage of Lee et al. 2021 substring dedup)",
        doc=f"Tokens covered by any rolling {DUP_SPAN_W}-word window "
        "shared across >=2 distinct docs are excised and survivors "
        "reassembled in order; per-doc removal stats + clean text. "
        "Linear in corpus tokens + shared-span volume; reassembly is "
        "one doc_id regroup.",
    ),
}


WINNOW_K = 3  # gram size (words)
WINNOW_W = 4  # winnowing window (grams)


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al. 2003, the
    MOSS algorithm): hash every k-word gram (k = ``WINNOW_K``), slide
    a w-gram window (w = ``WINNOW_W``), and select each window's
    minimal hash (rightmost on ties) — a position-robust fingerprint
    set with the paper's guarantee that any shared run of w + k - 1
    words shares at least one fingerprint, at ~2/(w+1) the volume of
    the full gram stream. The
    selective sibling of ``dup_span_stats``: where spans flag ALL
    shared windows, winnowing emits a sparse, index-friendly subset.

    Returns (doc_id, fp_pos, fp_hash), distinct per doc. Windows are
    trailing and clamp at the doc start (partial prefix windows
    select too), so every doc with >= k words yields >= 1 fingerprint
    — a deliberate, mirror-identical deviation from strict
    full-window winnowing. Docs with FEWER than k words produce no
    k-grams and therefore no fingerprints (both mirrors agree);
    consumers preserving a doc spine must left-join.

    Scale shape: the gram stream is linear; selection is ONE per-doc
    window (min over a bounded w-row frame — argmin via min-of-struct
    (hash, -pos), which both engines order identically) plus a
    distinct. Per-task work bounded by a document's grams.
    """
    # NOTE r14: a binary(16) variant of the hash (the dup_span_stats
    # win) was interleaved-A/B'd here and measured ~10% SLOWER — the
    # min-struct window's comparator dominates this operator, not
    # shuffle bytes, and UTF8String compare beats BinaryType compare
    # under the aggregate. Hex stays.
    grams = shingle_rows(docs, n=WINNOW_K, with_pos=True).select(
        "doc_id",
        F.col("shingle_pos").alias("pos"),
        F.md5(F.encode(F.col("shingle"), "UTF-8")).alias("h"),
    )
    win = (
        W.partitionBy("doc_id").orderBy("pos").rowsBetween(-(WINNOW_W - 1), 0)
    )
    sel = grams.withColumn(
        "m", F.min(F.struct(F.col("h"), (-F.col("pos")).alias("np"))).over(win)
    )
    return (
        sel.select(
            "doc_id",
            (-F.col("m.np")).cast("long").alias("fp_pos"),
            F.col("m.h").alias("fp_hash"),
        )
        .distinct()
    )


def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return winnow_fingerprints(docs)


# shared fingerprint-selection CTEs — WINNOW_SQL and WINNOW_PAIRS_SQL
# compose this ONE block (the oracle twin of winnow_fingerprints being
# the single selection implementation both Spark consumers share), so
# a change to the selection rule can never diverge the two oracles
_WINNOW_SEL_CTES = f"""
    toks AS (
        SELECT doc_id, string_split({NORM_SQL.format(c="coalesce(text, '')")}, ' ') AS w
        FROM documents
    ),
    wins AS (
        SELECT doc_id, i,
               md5(array_to_string(w[i:i + {WINNOW_K - 1}], ' ')) AS h
        FROM toks, LATERAL unnest(generate_series(1, len(w) - {WINNOW_K - 1})) AS t(i)
        WHERE len(w) >= {WINNOW_K}
    ),
    sel AS (
        SELECT doc_id,
               min(struct_pack(h := h, np := -i))
                   OVER (PARTITION BY doc_id ORDER BY i
                         ROWS BETWEEN {WINNOW_W - 1} PRECEDING AND CURRENT ROW) AS m
        FROM wins
    )
"""

WINNOW_SQL = f"""
    WITH {_WINNOW_SEL_CTES}
    SELECT DISTINCT doc_id, (-(m.np))::BIGINT AS fp_pos, m.h AS fp_hash
    FROM sel
"""


LIBRARY_SPECS["text_winnow_fingerprints"] = QuerySpec(
    name="text_winnow_fingerprints",
    fn=text_winnow_fingerprints,
    oracle=WINNOW_SQL,
    survey="LLM-pipeline (winnowing fingerprints, Schleimer 2003 "
    "MOSS — sparse position-robust dedup/plagiarism index)",
    doc=f"Min-hash-per-{WINNOW_W}-gram-window selection (rightmost "
    f"ties) over {WINNOW_K}-word grams: any shared run of "
    f"{WINNOW_W + WINNOW_K - 1} words shares a fingerprint at "
    "~2/(w+1) the gram volume; one bounded per-doc window + distinct.",
)


WINNOW_MIN_SHARED = 2


def winnow_pairs(
    docs: DataFrame,
    min_shared: int = WINNOW_MIN_SHARED,
    max_bucket: int | None = None,
) -> DataFrame:
    """The fingerprint index's consumer — candidate pairs from docs
    sharing >= ``min_shared`` winnowing fingerprints, verified with
    the exact fingerprint-set Jaccard and containment. The
    position-robust complement to ``dup_span_stats``: a passage COPIED
    AT A DIFFERENT OFFSET keeps its fingerprints (window minima are
    content-addressed, not position-addressed), so shifted plagiarism
    that MinHash-at-default-bands misses still collides here, with the
    paper's guarantee that any shared run of WINNOW_W + WINNOW_K - 1
    words shares a fingerprint.

    Returns (doc_a, doc_b, n_shared, fp_jaccard, fp_containment) with
    doc_a < doc_b. ``n_shared`` counts distinct shared hashes, so both
    similarity scores are exact set statistics, not estimates —
    winnowing selects the sample, the scores on the sample are exact.

    Scale shape: the gram/selection pipeline is evaluated ONCE — every
    downstream frame (pair formation AND both size joins) derives from
    a single (fp_hash -> sorted doc-id set) aggregation, so its
    shuffle stage is shared (AQE runtime stage reuse) instead of
    recomputed — the first formulation computed sizes and the two size
    joins from the fingerprint stream directly (3 full pipeline
    subtrees; 1.3x slower at sf0.1, same-session A/B; an explicit
    localCheckpoint pin measured WORSE end-to-end, 6.3 s vs 1.2 s —
    materializing the id-set rows costs more than recomputing the
    codegen'd stream). Candidate volume is sum over fingerprint
    buckets of |bucket|^2, and ``max_bucket`` drops over-shared
    fingerprints exactly as MOSS does for boilerplate (a
    stop-fingerprint list) — the same straggler bound as
    ``dedup.lsh_pairs_capped``."""
    fps = winnow_fingerprints(docs).select("doc_id", "fp_hash")
    # collect_set dedups a hash selected at several positions of the
    # same doc; sort_array pins deterministic pair order
    buckets = fps.groupBy("fp_hash").agg(
        F.sort_array(F.collect_set("doc_id")).alias("ids")
    )
    # per-doc distinct-fingerprint counts, derived from the SAME
    # aggregate (bucket rows are tiny vs the gram stream)
    sizes = (
        buckets.select(F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    pairable = buckets.filter(F.size("ids") >= 2)
    if max_bucket is not None:
        pairable = pairable.filter(F.size("ids") <= max_bucket)
    pair_expr = F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids) - i - 1), "
        "y -> struct(x AS doc_a, y AS doc_b))))"
    )
    shared = (
        pairable.select(F.explode(pair_expr).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("__n").alias("__na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("__n").alias("__nb"))
    i = F.col("n_shared").cast("double")
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            F.round(i / (F.col("__na") + F.col("__nb") - i), 6).alias("fp_jaccard"),
            F.round(i / F.least("__na", "__nb"), 6).alias("fp_containment"),
        )
    )


def text_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(spark, sf_dir, "documents").select("doc_id", "text")
    return winnow_pairs(docs)


WINNOW_PAIRS_SQL = f"""
    WITH {_WINNOW_SEL_CTES},
    fps AS (SELECT DISTINCT doc_id, m.h AS fp_hash FROM sel),
    sizes AS (SELECT doc_id, count(*) AS n FROM fps GROUP BY doc_id),
    shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        FROM fps a JOIN fps b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT s.doc_a, s.doc_b, s.n_shared,
           round(s.n_shared / (sa.n + sb.n - s.n_shared)::DOUBLE, 6) AS fp_jaccard,
           round(s.n_shared / least(sa.n, sb.n)::DOUBLE, 6) AS fp_containment
    FROM shared s JOIN sizes sa ON sa.doc_id = s.doc_a
                  JOIN sizes sb ON sb.doc_id = s.doc_b
    WHERE s.n_shared >= {WINNOW_MIN_SHARED}
"""


LIBRARY_SPECS["text_winnow_pairs"] = QuerySpec(
    name="text_winnow_pairs",
    fn=text_winnow_pairs,
    oracle=WINNOW_PAIRS_SQL,
    survey="LLM-pipeline (winnowing pair formation + exact "
    "fingerprint-set verification — the MOSS match stage)",
    doc=f"Docs sharing >= {WINNOW_MIN_SHARED} distinct winnowing "
    "fingerprints, scored with exact fingerprint-set Jaccard and "
    "containment; gram pipeline evaluated once (collect-and-explode), "
    "max_bucket drops over-shared fingerprints (MOSS stop-list) to "
    "bound hot-bucket pair volume. Catches shifted passages that "
    "MinHash-at-default misses (pinned in tests).",
)


# --- Blocklist (banned-word) filter — the C4 badwords stage ------------------

# Demo blocklist: clinical web-spam markers (the C4 deployment swaps in
# its full published list; entries must be normalize_text-stable, i.e.
# lowercase [a-z0-9] words, so token-exact matching is well-defined)
SPAM_BLOCKLIST = ["casino", "lottery", "jackpot", "viagra", "xxx"]


def blocklist_stats(docs: DataFrame, words: list[str] | None = None) -> DataFrame:
    """Per-doc banned-word statistics + the C4 gate (Raffel et al.
    2020 dropped any page containing ANY list entry): (doc_id,
    n_tokens, n_banned, banned_ratio, blocklist_pass) — pass = zero
    hits, ratio reported for softer policies. Matching is token-exact
    on normalized text (word boundaries — 'class' never trips 'ass'-
    style substring false positives).

    Scale shape: ONE codegen'd projection — the banned count is a
    single regexp_count with the word-union pattern over the
    single-spaced normalized text (the ``stopword_hits`` idiom, which
    measured 1.5x faster than the interpreted filter-lambda form).
    Right for curated lists up to a few thousand entries; a 100k-entry
    blocklist would instead explode tokens and semi-join the broadcast
    list (one generate + map-side-combined agg), same outputs.

    Entries are VALIDATED, not trusted (review finding): they must be
    normalize_text-stable lowercase [a-z0-9]+ words — real published
    badword lists carry regex metacharacters ('$', '*', ...) that
    would silently anchor-away their own matches inside the word-union
    pattern, and an empty list would make the empty alternative match
    every token boundary, failing every doc. Both now raise."""
    import re

    from radares_spark.operators.text import stopword_hits

    words = SPAM_BLOCKLIST if words is None else words
    if not words:
        raise ValueError("blocklist is empty — the empty regex "
                         "alternative would match every token boundary")
    bad = [w for w in words if not re.fullmatch(r"[a-z0-9]+", w or "")]
    if bad:
        raise ValueError(
            "blocklist entries must be normalize_text-stable lowercase "
            f"[a-z0-9]+ words (pre-normalize your list); offending: {bad[:5]}"
        )
    norm = normalize_text(F.coalesce(F.col("text"), F.lit("")))
    staged = docs.select("doc_id", norm.alias("__t"))
    toks = F.when(F.col("__t") == "", F.lit(0)).otherwise(
        F.size(F.split(F.col("__t"), " "))
    )
    hits = F.when(F.col("__t") == "", F.lit(0)).otherwise(
        stopword_hits(F.col("__t"), words)
    )
    return staged.select(
        "doc_id",
        toks.alias("n_tokens"),
        hits.alias("n_banned"),
        F.round(hits / F.greatest(toks, F.lit(1)).cast("double"), 6).alias(
            "banned_ratio"
        ),
        F.when(hits == 0, 1).otherwise(0).alias("blocklist_pass"),
    )


def text_blocklist_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return blocklist_stats(docs)


BLOCKLIST_SQL = f"""
    WITH norm AS (
        SELECT doc_id, {NORM_SQL.format(c="coalesce(text, '')")} AS t
        FROM documents
    ),
    feat AS (
        SELECT doc_id,
               CASE WHEN t = '' THEN 0
                    ELSE len(string_split(t, ' ')) END AS n_tokens,
               CASE WHEN t = '' THEN 0
                    ELSE len(list_filter(string_split(t, ' '),
                             x -> list_contains({SPAM_BLOCKLIST!r}, x))) END AS n_banned
        FROM norm
    )
    SELECT doc_id, n_tokens, n_banned,
           round(n_banned / greatest(n_tokens, 1)::DOUBLE, 6) AS banned_ratio,
           CASE WHEN n_banned = 0 THEN 1 ELSE 0 END AS blocklist_pass
    FROM feat
"""


LIBRARY_SPECS["text_blocklist_stats"] = QuerySpec(
    name="text_blocklist_stats",
    fn=text_blocklist_stats,
    oracle=BLOCKLIST_SQL,
    survey="LLM-pipeline (banned-word blocklist filter, the C4 "
    "badwords curation stage)",
    doc="Token-exact banned-word count / ratio / C4 gate (any hit "
    "drops) per doc over a normalized-token blocklist; one codegen'd "
    "regexp_count projection, zero shuffles; broadcast-semi-join "
    "variant documented for 100k-entry lists.",
)


# --- Token-window chunking — the context-window prep stage -------------------

CHUNK_LEN = 64  # words per chunk
CHUNK_STRIDE = 48  # words between chunk starts (overlap = 16)


def chunk_windows(
    docs: DataFrame,
    chunk_len: int = CHUNK_LEN,
    stride: int = CHUNK_STRIDE,
    with_text: bool = False,
) -> DataFrame:
    """Overlapping fixed-length word-window chunks per document — the
    retrieval/embedding prep stage every RAG-style corpus consumer
    runs before embedding (context windows with stride overlap so no
    passage straddles a boundary uncaught; the sliding-window encoding
    convention of Devlin et al. 2019 appendix, applied corpus-side).

    Chunk starts are ``1, 1+stride, ...`` up to
    ``1 + stride * ceil(max(n - chunk_len, 0) / stride)`` — the last
    start is the unique one that makes the final chunk REACH THE END
    of the doc (coverage guarantee, pinned in tests), and
    ``stride <= chunk_len`` is enforced so consecutive chunks can
    never leave an uncovered gap. A doc shorter than ``chunk_len``
    yields exactly one (short) chunk; an empty/normalized-empty doc
    yields none (consumers keeping a doc spine left-join).

    Returns ``(doc_id, chunk_id, start_pos, n_chunk_words,
    chunk_hash[, chunk_text])``: ``chunk_id = (start_pos-1)/stride``
    is derived arithmetically, NOT via a per-doc window function — the
    whole operator is one codegen'd projection + explode with ZERO
    shuffles. The chunks are built IN ONE ROW (``transform`` over the
    start sequence into ``(start, slice)`` structs, then explode of
    the struct array), so the word array is traversed once and the
    per-doc cost is linear in words times the overlap factor
    ``chunk_len/stride`` — NOT the explode-then-slice formulation,
    whose Generate node copies the doc's whole word array into every
    exploded row (O(words x n_chunks) bytes, quadratic for long docs;
    r11 verdict #2). At 100 TB it pipelines with the scan.
    """
    if chunk_len <= 0 or stride <= 0:
        raise ValueError("chunk_len and stride must be positive")
    if stride > chunk_len:
        raise ValueError(
            f"stride={stride} > chunk_len={chunk_len} would leave "
            "uncovered word gaps between consecutive chunks"
        )
    norm = normalize_text(F.coalesce(F.col("text"), F.lit("")))
    staged = docs.select("doc_id", norm.alias("__t")).filter(F.col("__t") != "")
    # the split array is STAGED once per doc (its own projection, not
    # inlined) — referenced from inside the transform lambda it would
    # otherwise re-split the whole text per chunk
    arr = staged.select("doc_id", F.split(F.col("__t"), " ").alias("__w"))
    words = F.col("__w")
    last_start = (
        F.lit(1)
        + F.lit(stride)
        * F.ceil(
            F.greatest(F.size(words) - F.lit(chunk_len), F.lit(0))
            / F.lit(stride)
        )
    ).cast("long")
    starts = F.sequence(
        F.lit(1).cast("long"), last_start, F.lit(stride).cast("long")
    )
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            s.alias("start_pos"),
            F.slice(words, s, chunk_len).alias("piece"),
        ),
    )
    rows = arr.select("doc_id", F.explode(chunks).alias("__c"))
    piece = F.col("__c.piece")
    out = [
        F.col("doc_id"),
        ((F.col("__c.start_pos") - 1) / stride).cast("int").alias("chunk_id"),
        F.col("__c.start_pos").alias("start_pos"),
        F.size(piece).alias("n_chunk_words"),
        F.md5(F.encode(F.array_join(piece, " "), "UTF-8")).alias("chunk_hash"),
    ]
    if with_text:
        out.append(F.array_join(piece, " ").alias("chunk_text"))
    return rows.select(*out)


def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_windows(docs)


CHUNK_SQL = f"""
    WITH norm AS (
        SELECT doc_id, {NORM_SQL.format(c="coalesce(text, '')")} AS t
        FROM documents
    ),
    base AS (
        SELECT doc_id, string_split(t, ' ') AS w,
               len(string_split(t, ' ')) AS n
        FROM norm WHERE t <> ''
    ),
    starts AS (
        SELECT doc_id, w,
               unnest(generate_series(
                   1,
                   1 + {CHUNK_STRIDE} * cast(ceil(
                       greatest(n - {CHUNK_LEN}, 0) / {CHUNK_STRIDE}.0
                   ) AS BIGINT),
                   {CHUNK_STRIDE}
               )) AS start_pos
        FROM base
    )
    SELECT doc_id,
           ((start_pos - 1) // {CHUNK_STRIDE})::INT AS chunk_id,
           start_pos,
           len(w[start_pos:start_pos + {CHUNK_LEN} - 1]) AS n_chunk_words,
           md5(array_to_string(w[start_pos:start_pos + {CHUNK_LEN} - 1], ' '))
               AS chunk_hash
    FROM starts
"""


# r13 window rotation: promoted into the driver's 50-entry window
# (plans/__init__.py appends DRIVER_SPECS) — it carries a strict
# DuckDB oracle, a unicode fuzz + brute-force grid suite, a bench
# entry, and the r12 linearity rewrite; range_join_price_bands moved
# to the library tier in plans/relational.py to make room.
DRIVER_SPECS: dict[str, QuerySpec] = {
    "text_chunk_windows": QuerySpec(
        name="text_chunk_windows",
        fn=text_chunk_windows,
        oracle=CHUNK_SQL,
        survey="LLM-pipeline (overlapping context-window chunking — the "
        "RAG/embedding corpus prep stage)",
        doc=f"Fixed {CHUNK_LEN}-word chunks at stride {CHUNK_STRIDE} "
        "(tail chunk pinned to the doc end, coverage gap-free by "
        "construction); chunk_id derived arithmetically and chunks "
        "built in one row (transform -> (start, slice) structs -> one "
        "explode) so the operator is one codegen'd projection with "
        "zero shuffles and linear per-doc cost.",
    ),
}
