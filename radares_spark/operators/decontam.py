"""Benchmark decontamination: flag/remove training docs that share a
word n-gram with an evaluation set (the published GPT-3 appendix-C /
Dolma pipeline step).

Reference anchor: the reference engine only declares downstream
"querying and analysis" (README.md:3); decontamination is part of the
LLM-data surface BASELINE.json declares for this engine (dedup family,
`src/backload_scrape.py:61-86` is its anti-join shape in miniature).

Scale shape (the whole point at 100 TB):

- the eval side is tiny by construction (benchmarks are MBs, corpora
  are TBs) — its distinct gram hashes BROADCAST, so the corpus-side
  gram stream joins map-side with **zero full-corpus shuffles**;
- corpus grams come from :func:`dedup.shingle_rows` — a positions-only
  generator, no distinct (dedup happens after the join, when only
  contaminated rows remain);
- the only Exchange in the plan carries post-join hit rows (docs that
  actually overlap the eval set — vanishingly rare at scale) into the
  per-doc count; the final audit join broadcasts those hits back onto
  the doc spine.

n-gram width: the public pipelines use 13-gram overlap; the synthetic
corpus' docs are 30-80 words from a ~30-word vocabulary, so tests and
the registered query use ``DECON_N = 8`` — long enough that unrelated
docs share nothing, short enough that every doc has grams. The eval
"benchmark" is the ``source = 'src0'`` slice of the documents table
(deterministic; at sf0.01 that is 25 docs), so eval docs themselves
audit as contaminated and their planted near-duplicates in other
sources are the true catches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from radares_spark.io.tables import load_table
from radares_spark.operators.dedup import NORM_SQL, shingle_rows
from radares_spark.registry import register

DECON_N = 8  # words per gram (public pipelines: 13)
EVAL_SOURCE = "src0"  # the deterministic "benchmark" slice of testdata


def _gram_hashes(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, g) — full-md5 hex of each word n-gram (128-bit key:
    no collision handling needed, and DuckDB's md5() agrees byte-for-
    byte so the oracle replays the exact join keys)."""
    return shingle_rows(docs, n).select(
        "doc_id", F.md5(F.encode(F.col("shingle"), "UTF-8")).alias("g")
    )


def eval_gram_set(eval_docs: DataFrame, n: int = DECON_N) -> DataFrame:
    """(g) distinct gram hashes of the eval set — the broadcast side."""
    return _gram_hashes(eval_docs, n).select("g").distinct()


def contamination_audit(docs: DataFrame, eval_docs: DataFrame) -> DataFrame:
    """(doc_id, eval_grams_hit, contaminated) for EVERY corpus doc.

    ``eval_grams_hit`` counts distinct eval grams found in the doc;
    the distinct is computed AFTER the broadcast join, so the corpus
    gram stream is never shuffled — only hit rows reach the aggregate.
    """
    eg = eval_gram_set(eval_docs)
    hits = (
        _gram_hashes(docs, DECON_N)
        .join(F.broadcast(eg), "g")
        .groupBy("doc_id")
        .agg(F.count_distinct("g").alias("eval_grams_hit"))
    )
    return (
        docs.select("doc_id")
        .join(F.broadcast(hits), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("eval_grams_hit", F.lit(0)).alias("eval_grams_hit"),
            F.col("eval_grams_hit").isNotNull().alias("contaminated"),
        )
    )


def contaminated_ids(docs: DataFrame, eval_docs: DataFrame) -> DataFrame:
    """(doc_id) of every doc sharing an n-gram with the eval set —
    the id set is contamination-sized (broadcastable); the corpus gram
    stream meets the broadcast eval grams map-side, zero full-corpus
    shuffles."""
    eg = eval_gram_set(eval_docs)
    return (
        _gram_hashes(docs, DECON_N)
        .join(F.broadcast(eg), "g")
        .select("doc_id")
        .distinct()
    )


_GRAM_CONCAT = " || ' ' || ".join(f"w[i+{j}]" for j in range(DECON_N))

_GRAMS_SQL = f"""
    norm AS (
        SELECT doc_id, source, {NORM_SQL.format(c='text')} AS t FROM documents
    ),
    toks AS (SELECT doc_id, source, string_split(t, ' ') AS w FROM norm),
    grams AS (
        SELECT doc_id, source, md5(gram) AS g FROM (
            SELECT doc_id, source,
                   unnest(list_filter(
                       list_transform(
                           generate_series(1, greatest(len(w) - {DECON_N - 1}, 1)),
                           i -> {_GRAM_CONCAT}),
                       x -> x IS NOT NULL)) AS gram
            FROM toks
        )
    )
"""


@register(
    "corpus_decontaminate",
    oracle=f"""
    WITH {_GRAMS_SQL},
    eval_g AS (SELECT DISTINCT g FROM grams WHERE source = '{EVAL_SOURCE}'),
    hits AS (
        SELECT doc_id, count(DISTINCT g)::BIGINT AS eval_grams_hit
        FROM grams JOIN eval_g USING (g)
        GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(h.eval_grams_hit, 0)::BIGINT AS eval_grams_hit,
           h.doc_id IS NOT NULL AS contaminated
    FROM documents d LEFT JOIN hits h USING (doc_id)
    """,
    survey="LLM decontamination (eval-set n-gram overlap audit; D-family)",
    doc=f"Per-doc benchmark-contamination audit: {DECON_N}-word-gram "
    f"overlap vs the '{EVAL_SOURCE}' eval slice. Broadcast eval grams; "
    "the corpus gram stream never shuffles — only hit rows reach the "
    "per-doc distinct count.",
)
def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    eval_docs = docs.filter(F.col("source") == EVAL_SOURCE)
    return contamination_audit(docs, eval_docs)
