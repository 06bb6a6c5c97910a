"""End-to-end crawl curation — the stage composition a user of this
engine actually runs over raw crawl output, in the published order
(CCNet/RefinedWeb/Dolma lineage), as ONE lazy plan:

1. URL canonicalization + URL-level dedup (``operators/urls.py``) —
   the cheapest identity, applied before any content byte is touched;
2. HTML → text extraction (``operators/text_ext.py``) — markup
   stripped, tag/link density kept as quality signals;
3. PII scrubbing (``scrub_pii``) — redaction before anything
   downstream persists text;
4. per-domain quota (``domain_cap``, optional) — no site dominates;
5. content curation (``pipeline/corpus.curate``) — quality gate,
   language gate, exact dedup, verified near-dup dedup.

Each stage only feeds SURVIVORS to the next (a URL-dup's HTML is
never parsed, a quality-dropped page never reaches the LSH shuffle),
and every input doc gets exactly one (doc_id, outcome) audit row
naming the first stage that dropped it — the same audit-spine
contract as ``curate`` and ``url_dedup_audit``.

Scale notes: stages 1–3 are projections plus one canonical-URL
shuffle; stage 4 is the WindowGroupLimit host shuffle; stage 5 is the
curate() plan whose shapes are documented on their operators. Nothing
here adds a new shuffle beyond its constituents. The URL audit and
the extracted+scrubbed text ARE materialized once: ``curate``
consumes its input from ~6 branches, and a fully lazy composition
re-ran the regex-heavy extract+scrub chain in every one (measured
4.7x at sf0.1 — see :func:`curate_crawl`); a production crawl lands
extracted text between stages anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from radares_spark.operators.text_ext import extract_html_text, scrub_pii
from radares_spark.operators.urls import domain_cap, url_dedup_audit
from radares_spark.pipeline.corpus import curate

OUT_KEPT = "kept"
OUT_URL_DUP = "url_dup"
OUT_DOMAIN_CAP = "domain_capped"


def curate_crawl(
    pages: DataFrame,
    max_per_domain: int | None = None,
    max_bucket: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """``pages`` = (doc_id, url, html). Returns ``(kept, audit)``:
    kept = (doc_id, url, text) surviving docs with extracted, scrubbed
    text; audit = (doc_id, outcome) for EVERY input page, outcome =
    ``kept`` or the first stage that dropped it (``url_dup``,
    ``domain_capped``, or a ``curate`` stage name).

    The URL audit and the extracted+scrubbed text are materialized
    ONCE (``localCheckpoint``): ``curate`` consumes its
    input from ~6 branches (quality/lang/hash/alive/spine/keeper), and
    a fully lazy plan re-runs the regex-heavy HTML-extract + PII-scrub
    chain in EVERY branch — measured 92 parquet-scan subtrees / ~3000
    regex nodes / 13.8 s warm at sf0.1 before pinning vs 2 scans /
    ~3.5 s after. A production crawl lands extracted text between
    stages anyway (the same argument as ``incremental_dedup``'s
    pinned batch)."""
    url_audit = url_dedup_audit(pages).localCheckpoint(eager=True)
    url_kept = pages.join(
        url_audit.filter(F.col("outcome") == OUT_KEPT).select("doc_id"),
        "doc_id",
        "left_semi",
    )

    extracted = extract_html_text(url_kept).select(
        "doc_id", "url", F.col("plain_text").alias("text"), "n_tags", "n_links"
    )
    scrubbed = (
        scrub_pii(extracted)
        .select("doc_id", "url", F.col("clean_text").alias("text"))
        .localCheckpoint(eager=True)
    )

    if max_per_domain is not None:
        capped_ids = domain_cap(
            scrubbed, max_per_domain, quality=F.length("text")
        ).select("doc_id")
        domain_kept = scrubbed.join(capped_ids, "doc_id", "left_semi")
    else:
        domain_kept = scrubbed

    curated, content_audit, _hot = curate(
        domain_kept.select("doc_id", "text"), max_bucket=max_bucket
    )
    # kilobyte-scale (doc_id, outcome) rows; BOTH return values
    # consume it (kept's semi-join and audit's union), and lazily
    # each re-ran the entire curate() DAG — a dual-output caller
    # (the CLI writing kept/ then audit/) paid the curation
    # shuffles twice (review finding)
    content_audit = content_audit.localCheckpoint(eager=True)
    kept = domain_kept.join(
        content_audit.filter(F.col("outcome") == OUT_KEPT).select("doc_id"),
        "doc_id",
        "left_semi",
    )

    # audit spine: first-dropping stage wins; every input page appears
    dropped_url = url_audit.filter(F.col("outcome") != OUT_KEPT).select(
        "doc_id", "outcome"
    )
    if max_per_domain is not None:
        dropped_domain = (
            scrubbed.join(capped_ids, "doc_id", "left_anti")
            .select("doc_id", F.lit(OUT_DOMAIN_CAP).alias("outcome"))
        )
    else:
        dropped_domain = None
    audit = dropped_url.unionByName(content_audit)
    if dropped_domain is not None:
        audit = audit.unionByName(dropped_domain)
    return kept, audit


# --- Oracle-checked end-to-end pipeline audit ------------------------------

# the URL must be a pure function of the PAGE id (doc_id // 2), not of
# any per-doc column — otherwise the paired docs' canonical URLs differ
# and the URL stage never fires
_SYNTH_PAGE_URL_SQL = (
    "'https://WWW.s' || ((doc_id // 2) % 7)::VARCHAR"
    " || '.Example.com:443/page/' || (doc_id // 2)::VARCHAR"
    " || '/?utm_source=x&b=2&a=1'"
)
_HTML_PRE = "<html><head><style>p{color:red}</style></head><body><p>"
_HTML_POST = "</p> <a href=x>x</a></body></html>"


def crawl_pipeline_audit(spark, sf_dir: str) -> DataFrame:
    """The whole crawl pipeline as ONE oracle-checked query: documents
    wrapped into synthetic pages (markup + tracking-parameter URLs
    where every id pair shares a canonical URL, so the URL stage
    actually drops half the crawl), then ``curate_crawl`` end to end.
    Output = (doc_id, outcome) for every page. Driver-registered since
    r6 (took corpus_curation_audit's slot — that chain is this one's
    tail, so the driver signal strictly widened)."""
    from pyspark.sql import functions as F

    from radares_spark.io.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    page = F.floor(F.col("doc_id") / 2).cast("long")
    url = F.concat(
        F.lit("https://WWW.s"),
        (page % 7).cast("string"),
        F.lit(".Example.com:443/page/"),
        page.cast("string"),
        F.lit("/?utm_source=x&b=2&a=1"),
    )
    pages = docs.select(
        "doc_id",
        url.alias("url"),
        F.concat(
            F.lit(_HTML_PRE), F.coalesce(F.col("text"), F.lit("")), F.lit(_HTML_POST)
        ).alias("html"),
    )
    _, audit = curate_crawl(pages)
    return audit


def _pipeline_audit_sql() -> str:
    from radares_spark.operators.text_ext import html_extract_sql, pii_scrub_sql
    from radares_spark.operators.urls import canonical_url_sql
    from radares_spark.pipeline.corpus import CURATION_SQL

    curation = CURATION_SQL.replace("FROM documents", "FROM pipeline_docs")
    assert "pipeline_docs" in curation
    pre = _HTML_PRE.replace("'", "''")
    post = _HTML_POST.replace("'", "''")
    return f"""
    WITH src AS (
        SELECT doc_id,
               {_SYNTH_PAGE_URL_SQL} AS url,
               '{pre}' || coalesce(text, '') || '{post}' AS html
        FROM documents
    ),
    canon AS ({canonical_url_sql("src")}),
    url_keeper AS (
        SELECT canonical_url, min(doc_id) AS keep_id
        FROM canon WHERE canonical_url IS NOT NULL GROUP BY 1
    ),
    url_kept AS (
        SELECT c.doc_id, c.url, c.html
        FROM canon c JOIN url_keeper k
          ON c.canonical_url = k.canonical_url AND c.doc_id = k.keep_id
        UNION ALL
        SELECT doc_id, url, html FROM canon WHERE canonical_url IS NULL
    ),
    ext AS ({html_extract_sql("url_kept")}),
    scrub AS ({pii_scrub_sql("ext", "plain_text")}),
    pipeline_docs AS (SELECT doc_id, clean_text AS text FROM scrub),
    content AS (SELECT * FROM ({curation}) t)
    SELECT doc_id, outcome FROM content
    UNION ALL
    SELECT c.doc_id, 'url_dup' AS outcome
    FROM canon c JOIN url_keeper k ON c.canonical_url = k.canonical_url
    WHERE c.doc_id <> k.keep_id
"""


def _register_driver_query() -> None:
    from radares_spark.registry import register

    register(
        "crawl_pipeline_audit",
        oracle=_pipeline_audit_sql(),
        survey="LLM-pipeline (END-TO-END crawl curation, "
        "oracle-checked: URL dedup -> HTML extract -> PII scrub "
        "-> quality -> lang -> exact -> verified near-dup)",
        doc="The full curate_crawl composition value-checked as one "
        "query: synthetic pages with markup + tracking URLs where "
        "every id pair shares a canonical URL (the URL stage drops "
        "half the crawl before any byte of HTML is parsed); the "
        "oracle replays canonicalization, extraction, scrubbing, "
        "and the entire curation chain in SQL.",
    )(crawl_pipeline_audit)


_register_driver_query()

# driver-registered above; nothing library-tier left in this module
LIBRARY_SPECS: dict = {}
