"""URL canonicalization + URL-level dedup — crawl-pipeline stage zero,
alongside HTML extraction (``text_ext.extract_html_text``).

Web crawls re-reach the same page through cosmetically different URLs
(scheme/host case, ``www.``, default ports, trailing slashes, tracking
query params, fragments, query-param order). Canonicalizing BEFORE
fetching/storing dedups at the cheapest possible point: a pure string
projection, no content bytes involved. The reference's analogue is its
deterministic landing key ``equip/Y-M-D.xlsx``
(/root/reference/src/scrape.py:87-88) — one canonical name per
(device, day) so re-downloads overwrite instead of duplicating.

Canonical form produced here (absolute http(s) URLs; anything else
passes through with only fragment/tracking cleanup):

- scheme and host lowercased; leading ``www.`` dropped;
- default ports dropped (``:80`` for http, ``:443`` for https);
- trailing slashes dropped from the path (root becomes '');
- fragment dropped;
- tracking params dropped (``utm_*``, ``gclid``, ``fbclid``,
  ``msclkid``, ``mc_cid``, ``mc_eid``, ``ref``);
- remaining query params sorted bytewise so param order is canonical.

Every rule is a Java-regex/RE2-compatible expression (ASCII classes,
no lookarounds), so the DuckDB mirror (:func:`canonical_url_sql`)
agrees byte-for-byte — the same planted-frame parity contract as
``text_ext.extract_html_text`` / ``scrub_pii``.

Scale shape: :func:`with_canonical_url` is ONE codegen'd projection,
zero shuffles (the query-param array is materialized in its own
projection before the filter/sort lambdas touch it — the
CollapseProject re-evaluation trap documented on
``dedup.shingle_rows``). :func:`url_dedup_audit` adds the standard
keeper idiom: one shuffle on the canonical-URL hash, min doc_id keeps
— identical shape to ``dedup.dedup_exact``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from radares_spark.io.tables import load_table
from radares_spark.registry import QuerySpec

TRACKING_RE = "^(utm_[a-z0-9_]*|gclid|fbclid|msclkid|mc_cid|mc_eid|ref)="
_SCHEME_RE = "^([a-zA-Z][a-zA-Z0-9+.-]*)://"


def _canonical_parts(url: Column) -> dict[str, Column]:
    # fragment first: everything after '#' is fragment, so a '?' inside
    # it is NOT a query ('http://h/a#frag?x=1' has no query params).
    # NULL url propagates to NULL canonical (audited 'kept' — no URL
    # identity to dedup on), mirroring the NULL-text audit spine rules.
    base = F.regexp_replace(url, "#.*$", "")
    scheme = F.lower(F.regexp_extract(base, _SCHEME_RE, 1))
    rest = F.regexp_replace(base, _SCHEME_RE, "")
    hostport = F.regexp_replace(
        F.lower(F.regexp_extract(rest, "^([^/?#]*)", 1)), "^www\\.", ""
    )
    host = (
        F.when(scheme == "http", F.regexp_replace(hostport, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(hostport, ":443$", ""))
        .otherwise(hostport)
    )
    path = F.regexp_replace(
        F.regexp_extract(rest, "^[^/?#]*([^?#]*)", 1), "/+$", ""
    )
    query = F.regexp_extract(base, "\\?(.*)$", 1)
    return {"scheme": scheme, "host": host, "path": path, "query": query}


def with_canonical_url(df: DataFrame) -> DataFrame:
    """Adds ``canonical_url`` (+ ``url_host`` for per-domain grouping)."""
    p = _canonical_parts(F.col("url"))
    # materialize the split BEFORE the lambdas: inlining it would make
    # CollapseProject re-run the regexp chain once per array element
    staged = df.withColumns(
        {
            "__scheme": p["scheme"],
            "__host": p["host"],
            "__path": p["path"],
            "__params": F.split(p["query"], "&"),
        }
    )
    kept = F.array_sort(
        F.filter(
            F.col("__params"),
            lambda x: (F.length(x) > 0) & ~x.rlike(TRACKING_RE),
        )
    )
    qs = F.array_join(kept, "&")
    canon = F.concat(
        F.when(F.col("__scheme") == "", F.lit("")).otherwise(
            F.concat(F.col("__scheme"), F.lit("://"))
        ),
        F.col("__host"),
        F.col("__path"),
        F.when(qs == "", F.lit("")).otherwise(F.concat(F.lit("?"), qs)),
    )
    return (
        staged.withColumn("canonical_url", canon)
        .withColumn("url_host", F.col("__host"))
        .drop("__scheme", "__host", "__path", "__params")
    )


def url_dedup_audit(df: DataFrame) -> DataFrame:
    """(id, canonical_url, outcome) — ``kept`` for the smallest id per
    canonical URL, ``url_dup`` for the rest. Same keeper shape as
    ``dedup_exact``: one shuffle on the canonical key."""
    canon = with_canonical_url(df).select("doc_id", "canonical_url")
    keeper = canon.filter(F.col("canonical_url").isNotNull()).groupBy(
        "canonical_url"
    ).agg(F.min("doc_id").alias("__keep"))
    # LEFT join: a NULL canonical (NULL input url) never equi-joins, and
    # an inner join would silently drop the doc from the audit spine —
    # the invariant everywhere else is one audit row per input row
    return (
        canon.join(keeper, "canonical_url", "left")
        .select(
            "doc_id",
            "canonical_url",
            F.when(
                F.col("__keep").isNull() | (F.col("doc_id") == F.col("__keep")),
                F.lit("kept"),
            )
            .otherwise(F.lit("url_dup"))
            .alias("outcome"),
        )
    )


def canonical_url_sql(table: str) -> str:
    """DuckDB mirror of :func:`with_canonical_url` over ``table``."""
    base = "regexp_replace(url, '#.*$', '')"
    scheme = f"lower(regexp_extract({base}, '{_SCHEME_RE}', 1))"
    rest = f"regexp_replace({base}, '{_SCHEME_RE}', '')"
    hostport = (
        f"regexp_replace(lower(regexp_extract({rest}, '^([^/?#]*)', 1)),"
        " '^www\\.', '')"
    )
    host = (
        f"CASE WHEN {scheme} = 'http' THEN regexp_replace({hostport}, ':80$', '')"
        f" WHEN {scheme} = 'https' THEN regexp_replace({hostport}, ':443$', '')"
        f" ELSE {hostport} END"
    )
    path = (
        f"regexp_replace(regexp_extract({rest}, '^[^/?#]*([^?#]*)', 1),"
        " '/+$', '')"
    )
    query = f"regexp_extract({base}, '\\?(.*)$', 1)"
    kept = (
        f"list_sort(list_filter(string_split({query}, '&'),"
        f" p -> len(p) > 0 AND NOT regexp_matches(p, '{TRACKING_RE}')))"
    )
    # coalesce: DuckDB's array_to_string([]) is NULL, Spark's is ''
    qs = f"coalesce(array_to_string({kept}, '&'), '')"
    canon = (
        f"(CASE WHEN {scheme} = '' THEN '' ELSE {scheme} || '://' END)"
        f" || {host} || {path}"
        f" || (CASE WHEN {qs} = '' THEN '' ELSE '?' || {qs} END)"
    )
    return f"""
    SELECT *,
           {canon} AS canonical_url,
           {host} AS url_host
    FROM {table}
    """


def domain_cap(df: DataFrame, k: int, quality: Column) -> DataFrame:
    """Per-domain quota — the crawl-curation stage that stops a single
    site from dominating the corpus (RefinedWeb/Dolma cap documents
    per registrable domain): keep the top ``k`` docs per canonical
    host by (``quality`` desc, id asc).

    Returns (id, url_host, host_rank) for the kept docs; docs with a
    NULL url have no domain identity and are always kept (rank 1 in
    the NULL group would collide, so they are passed through with
    host_rank 1 and url_host NULL — the same NULL-spine rule as
    ``url_dedup_audit``).

    Scale shape: ``row_number() <= k`` compiles to Spark's
    WindowGroupLimit rewrite — each upstream partition forwards at
    most k rows PER HOST into the single host shuffle, so a
    100M-page domain contributes k x n_partitions rows to the wire,
    not 100M (the same shape as ``corpus.stratified_sample``).
    """
    canon = with_canonical_url(df).select(
        "doc_id", "url_host", quality.cast("double").alias("__q")
    )
    # desc_nulls_last: Spark's desc already sinks NULL quality, but
    # DuckDB's DESC floats it — pin the same rule on both sides (the
    # oracle orders NULLS LAST) so a NULL-quality doc never outranks
    # real scores
    w = W.partitionBy("url_host").orderBy(F.desc_nulls_last("__q"), F.asc("doc_id"))
    ranked = (
        canon.filter(F.col("url_host").isNotNull() & (F.col("url_host") != ""))
        .withColumn("host_rank", F.row_number().over(w))
        .filter(F.col("host_rank") <= k)
        .select("doc_id", "url_host", "host_rank")
    )
    passthrough = canon.filter(
        F.col("url_host").isNull() | (F.col("url_host") == "")
    ).select("doc_id", F.lit(None).cast("string").alias("url_host"), F.lit(1).alias("host_rank"))
    return ranked.unionByName(passthrough)


def _synth_url() -> Column:
    """Deterministic URL from testdata columns (documents ships no url
    column — same derived-fixture precedent as the partsupp tests).
    Deliberately messy: uppercase www/host, default port, trailing
    slash, tracking param, unsorted params — so the cap exercises the
    full canonicalization path, not just the grouping. Every 97th doc
    gets a NULL URL so the NULL-host passthrough branch is exercised
    by the parity check, not just unit tests (r5 ADVICE)."""
    return F.when(
        F.col("doc_id") % 97 == 0, F.lit(None).cast("string")
    ).otherwise(
        F.concat(
            F.lit("https://WWW."),
            F.col("source"),
            (F.col("doc_id") % 5).cast("string"),
            F.lit(".Example.com:443/page/"),
            F.col("doc_id").cast("string"),
            F.lit("/?utm_source=x&b=2&a=1"),
        )
    )


DOMAIN_CAP_K = 3

_SYNTH_URL_SQL = (
    "CASE WHEN doc_id % 97 = 0 THEN NULL ELSE"
    " 'https://WWW.' || source || (doc_id % 5)::VARCHAR"
    " || '.Example.com:443/page/' || doc_id::VARCHAR"
    " || '/?utm_source=x&b=2&a=1' END"
)


def corpus_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return domain_cap(
        docs.withColumn("url", _synth_url()), DOMAIN_CAP_K, F.col("n_chars")
    )


DOMAIN_CAP_SQL = f"""
    WITH src AS (
        SELECT doc_id, {_SYNTH_URL_SQL} AS url, n_chars
        FROM documents
    ),
    canon AS ({{canon_sql}}),
    ranked AS (
        SELECT doc_id, url_host,
               row_number() OVER (PARTITION BY url_host
                                  ORDER BY n_chars DESC NULLS LAST, doc_id) AS host_rank
        FROM canon
        WHERE url_host IS NOT NULL AND url_host != ''
    )
    SELECT doc_id, url_host, host_rank
    FROM ranked WHERE host_rank <= {DOMAIN_CAP_K}
    UNION ALL
    -- NULL/empty-host docs have no domain identity: passed through
    -- uncapped with url_host NULL, host_rank 1 (mirrors domain_cap's
    -- passthrough branch exactly)
    SELECT doc_id, NULL::VARCHAR AS url_host, 1 AS host_rank
    FROM canon WHERE url_host IS NULL OR url_host = ''
"""


LIBRARY_SPECS: dict[str, QuerySpec] = {
    "corpus_domain_cap": QuerySpec(
        name="corpus_domain_cap",
        fn=corpus_domain_cap,
        oracle=DOMAIN_CAP_SQL.format(canon_sql=canonical_url_sql("src")),
        survey="LLM-pipeline (per-domain quota cap, RefinedWeb/Dolma "
        "crawl curation)",
        doc=f"Top-{DOMAIN_CAP_K} docs per canonical host by (n_chars "
        "desc, doc_id) over a deterministic synthesized URL column "
        "(testdata ships none). rank<=k compiles to WindowGroupLimit: "
        "a 100M-page domain contributes k x n_partitions rows to the "
        "host shuffle, not 100M.",
    ),
}


# --- Cross-run URL ledger (recrawl idempotency) ------------------------------

OUT_URL_DUP_LEDGER = "url_dup_ledger"
OUT_URL_DUP_BATCH = "url_dup_batch"
OUT_URL_KEPT = "kept"


def url_ledger_rows(df: DataFrame) -> DataFrame:
    """(id, canonical_url) — the URL ledger representation of a fetched
    batch: canonical URLs only, one row per doc. NULL canonicals (NULL
    input url) are excluded — they carry no URL identity, so they must
    never block a future fetch. The URL twin of
    ``incremental.ledger_rows``: hashes/strings only, never content
    bytes, so a year of nightly crawls stays a compact string table."""
    return (
        with_canonical_url(df)
        .select("doc_id", "canonical_url")
        .filter(F.col("canonical_url").isNotNull())
    )


def incremental_url_dedup(
    new_pages: DataFrame,
    ledger: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Admit tonight's fetch list against every canonical URL ever
    crawled — closing the gap that made ``url_dedup_audit`` batch-only
    (a recrawl re-admitted every previously-seen URL; r5 verdict #5).

    Returns ``(audit, append_rows)``: audit is one
    (id, canonical_url, outcome) row per input page —
    ``url_dup_ledger`` (seen in a prior run), ``url_dup_batch``
    (duplicate within the batch; min id keeps), or ``kept`` — and
    ``append_rows`` is the kept docs' ledger rows. Append them
    (epoch-partitioned, exactly like the admission stream's content
    ledger) and the next run's fetch list skips tonight's URLs too.
    Re-admitting an identical batch classifies every URL-bearing doc
    ``url_dup_ledger`` and appends NOTHING — idempotent by
    construction, the same contract as ``incremental_dedup``.

    Scale shape: one canonicalization projection over the batch, one
    semi-join of batch canonicals against the ledger (ledger side
    scans in place, shuffles only batch-sized keys — persist it
    bucketed on canonical_url for a zero-Exchange ledger side, same
    recipe as the admission band join), one batch-sized keeper
    aggregate. NULL-url docs pass through ``kept`` with NULL
    canonical (no identity — the ``url_dedup_audit`` spine rule) and
    never enter the ledger.

    The canonicalized batch is materialized once (``localCheckpoint``):
    four branches consume it (ledger semi-join, keeper, audit spine,
    append set), and a lazy plan would re-run the regex
    canonicalization chain in each — the same multi-branch
    recomputation ``incremental_dedup`` and ``curate_crawl`` pin
    against. The pinned rows are (id, canonical_url) strings,
    batch-sized."""
    canon = (
        with_canonical_url(new_pages)
        .select("doc_id", "canonical_url")
        .localCheckpoint(eager=True)
    )
    with_url = canon.filter(F.col("canonical_url").isNotNull())

    f_ledger = (
        with_url.join(
            ledger.select("canonical_url"), "canonical_url", "left_semi"
        )
        .select("doc_id")
        .withColumn("__f_led", F.lit(True))
    )
    keeper = with_url.groupBy("canonical_url").agg(F.min("doc_id").alias("__keep"))
    f_batch = (
        with_url.join(keeper, "canonical_url")
        .filter(F.col("doc_id") != F.col("__keep"))
        .select("doc_id")
        .withColumn("__f_bat", F.lit(True))
    )
    audit = (
        canon.join(f_ledger, "doc_id", "left")
        .join(f_batch, "doc_id", "left")
        .select(
            "doc_id",
            "canonical_url",
            F.when(F.col("__f_led"), F.lit(OUT_URL_DUP_LEDGER))
            .when(F.col("__f_bat"), F.lit(OUT_URL_DUP_BATCH))
            .otherwise(F.lit(OUT_URL_KEPT))
            .alias("outcome"),
        )
    )
    append_rows = with_url.join(
        audit.filter(F.col("outcome") == OUT_URL_KEPT).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    return audit, append_rows


# --- Library spec: admission outcomes vs a full DuckDB replay ---------------

URL_LEDGER_SPLIT = 250  # doc_id < split = previously crawled; rest = tonight

# page identity floors doc_id to a multiple of 3, so tonight's batch
# holds BOTH ledger collisions (page 249 belongs to ledger doc 249) and
# in-batch triples (docs 252,253,254 share page 252 — min keeps); every
# 97th doc keeps the NULL-url passthrough branch exercised
_SYNTH_PAGE_ID = "doc_id - (doc_id % 3)"
_SYNTH_RECRAWL_URL_SQL = (
    f"CASE WHEN doc_id % 97 = 0 THEN NULL ELSE"
    f" 'https://WWW.s' || (({_SYNTH_PAGE_ID}) % 7)::VARCHAR"
    f" || '.Example.com:443/page/' || ({_SYNTH_PAGE_ID})::VARCHAR"
    f" || '/?utm_source=x&b=2&a=1' END"
)


def _synth_recrawl_url() -> Column:
    page = F.col("doc_id") - (F.col("doc_id") % 3)
    return F.when(
        F.col("doc_id") % 97 == 0, F.lit(None).cast("string")
    ).otherwise(
        F.concat(
            F.lit("https://WWW.s"),
            (page % 7).cast("string"),
            F.lit(".Example.com:443/page/"),
            page.cast("string"),
            F.lit("/?utm_source=x&b=2&a=1"),
        )
    )


def url_incremental_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl-admission scenario over the documents table: the URL
    ledger holds docs 0..URL_LEDGER_SPLIT-1's canonical URLs (a prior
    night's crawl); tonight's batch is the rest. The oracle replays
    canonicalization, the ledger semi-join, the in-batch keeper, and
    outcome priority in SQL."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pages = docs.withColumn("url", _synth_recrawl_url())
    ledger = url_ledger_rows(pages.filter(F.col("doc_id") < URL_LEDGER_SPLIT))
    batch = pages.filter(F.col("doc_id") >= URL_LEDGER_SPLIT)
    audit, _ = incremental_url_dedup(batch, ledger)
    return audit


URL_INCREMENTAL_SQL = f"""
    WITH src AS (
        SELECT doc_id, {_SYNTH_RECRAWL_URL_SQL} AS url
        FROM documents
    ),
    canon AS ({{canon_sql}}),
    led AS (
        SELECT DISTINCT canonical_url FROM canon
        WHERE doc_id < {URL_LEDGER_SPLIT} AND canonical_url IS NOT NULL
    ),
    bat AS (
        SELECT doc_id, canonical_url FROM canon
        WHERE doc_id >= {URL_LEDGER_SPLIT}
    ),
    keeper AS (
        SELECT canonical_url, min(doc_id) AS keep_id
        FROM bat WHERE canonical_url IS NOT NULL GROUP BY 1
    )
    SELECT b.doc_id, b.canonical_url,
           CASE WHEN b.canonical_url IN (SELECT canonical_url FROM led)
                    THEN '{OUT_URL_DUP_LEDGER}'
                WHEN b.canonical_url IS NOT NULL AND b.doc_id <> k.keep_id
                    THEN '{OUT_URL_DUP_BATCH}'
                ELSE '{OUT_URL_KEPT}' END AS outcome
    FROM bat b LEFT JOIN keeper k ON b.canonical_url = k.canonical_url
"""


LIBRARY_SPECS["url_incremental_audit"] = QuerySpec(
    name="url_incremental_audit",
    fn=url_incremental_audit,
    oracle=URL_INCREMENTAL_SQL.format(canon_sql=canonical_url_sql("src")),
    survey="LLM-pipeline (cross-run URL ledger: recrawl admission "
    "against every canonical URL ever crawled)",
    doc="incremental_url_dedup over a synthesized recrawl scenario "
    "(ledger collisions, in-batch triples, NULL-url passthrough); "
    "outcomes and canonical URLs replayed end to end in SQL. One "
    "batch canonicalization projection + one ledger semi-join + one "
    "batch keeper aggregate; idempotent on re-admission.",
)
