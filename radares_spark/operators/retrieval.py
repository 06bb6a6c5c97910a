"""Ranked keyword retrieval: Okapi BM25 over the documents corpus,
plus a term-bucketed postings store for partition-pruned serving.

Retrieval is a first-class curation primitive at 100 TB — eval-set
mining ("find the training docs most similar to this benchmark
prompt"), targeted subset selection (query-steered sampling a la
importance resampling), and auditing near-matches that fuzzy dedup
missed all reduce to "score the corpus against a small query set and
keep top-k". BM25 (Robertson et al., Okapi at TREC-3, 1994) is the
standard lexical scorer; the IDF here is Lucene's shifted form
``ln(1 + (N - df + 0.5) / (df + 0.5))`` which is non-negative for
every df (the raw Robertson IDF goes negative for terms in more than
half the corpus — poison for a synthetic corpus with a tiny shared
vocabulary).

Scale shape (mirrors the hashed_tf / DSIR gram-stream discipline):

- **postings build** — ONE tokenize pass, one (doc_id, tok) aggregate
  for tf, one window for dl. The df table and the (n_docs, avgdl)
  scalars are corpus-wide aggregates computed once per build, not per
  query.
- **scoring** — the query term set is genuinely small (queries x a
  handful of terms), so it IS broadcast (same justification as
  cosine_topk's broadcast query set — bounded by the caller, unlike a
  vocabulary table). The df join stays hint-free: AQE decides, the
  vocabulary can be web-scale. Per-query top-k is a
  ``row_number() <= k`` filter => WindowGroupLimit, never a global
  sort.
- **serving** — ``build_postings_store`` denormalizes (tf, dl, df,
  n_docs, avgdl) into posting rows partitioned by
  ``bucket = hash(tok) % n_buckets``; ``bm25_topk_from_store``
  reads ONLY the buckets containing query terms (static partition
  pruning on a literal IN-list — the query terms are known before the
  scan, no DPP round-trip needed), so a 3-term query touches 3/64ths
  of the index regardless of corpus size. This is the inverted-index
  discipline: Lucene stores per-posting norms for the same reason.

The DuckDB oracle replays tokenize -> tf/dl/df -> score -> rank
verbatim; scores are rounded to 6 decimals AFTER the per-(query, doc)
sum (the dsir_logweight precedent) and ranks order by the ROUNDED
score (tie-break doc_id) so both engines rank identically.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from radares_spark.operators.dedup import NORM_SQL, _docs, normalize_text
from radares_spark.operators.embed import EMBED_DIM
from radares_spark.registry import QuerySpec

K1 = 1.2
B = 0.75
TOP_K = 5
N_QUERY_DOCS = 6  # doc_id < 6 seed the spec's query set
QUERY_LEN = 4  # first 4 tokens of each seed doc form its query


def tokenize(docs: DataFrame) -> DataFrame:
    """(doc_id, tok) token stream under the corpus-wide normalize_text
    alphabet ([a-z0-9 ] — the same cross-engine-safe normalization
    every dedup/DSIR/embed operator uses). Docs whose normalized text
    is empty produce no rows (no doc spine — rejoin downstream)."""
    norm = normalize_text(F.coalesce(F.col("text"), F.lit("")))
    return (
        docs.select("doc_id", norm.alias("__t"))
        .filter(F.col("__t") != "")
        .select("doc_id", F.explode(F.split("__t", " ")).alias("tok"))
    )


def corpus_postings(docs: DataFrame) -> DataFrame:
    """(doc_id, tok, tf, dl) — the in-doc term frequencies plus the
    document length (total tokens), the per-posting payload BM25's
    length normalization needs. One aggregate on (doc_id, tok) then
    one doc-keyed window for dl: two shuffles total, both on keys the
    downstream score join reuses."""
    tf = (
        tokenize(docs)
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return tf.withColumn("dl", F.sum("tf").over(W.partitionBy("doc_id")))


def _corpus_stats(postings: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(df_tab, stats): per-term document frequency and the one-row
    (n_docs, avgdl) frame. postings is unique per (doc_id, tok), so
    df is a plain count."""
    df_tab = postings.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    dl = postings.groupBy("doc_id").agg(F.first("dl").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),  # refresh needs the exact sum
        F.avg("dl").alias("avgdl"),
    )
    return df_tab, stats


def _bm25_term_score(k1: float, b: float):
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_part = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    )
    return idf * tf_part


def query_terms(queries: DataFrame) -> DataFrame:
    """(query_id, tok) DISTINCT query terms (the Lucene convention:
    query term frequency is ignored). Callers pass a small frame —
    this side gets broadcast in bm25_topk."""
    norm = normalize_text(F.coalesce(F.col("qtext"), F.lit("")))
    return (
        queries.select("query_id", norm.alias("__t"))
        .filter(F.col("__t") != "")
        .select("query_id", F.explode(F.split("__t", " ")).alias("tok"))
        .distinct()
    )


def bm25_topk(docs: DataFrame, queries: DataFrame, k: int = TOP_K) -> DataFrame:
    """(query_id, doc_id, score, rank) — top-k docs per query under
    BM25. The corpus statistics are computed from ``docs`` itself;
    for a pre-built index use bm25_topk_from_store."""
    postings = corpus_postings(docs)
    df_tab, stats = _corpus_stats(postings)
    qterms = query_terms(queries)
    scored = (
        postings.join(F.broadcast(qterms), "tok")
        .join(df_tab, "tok")  # vocabulary-sized: AQE decides, no hint
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(_bm25_term_score(K1, B)), 6).alias("score"))
    )
    rn = F.row_number().over(
        W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    )
    return (
        scored.withColumn("rank", rn)
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )


# --- term-bucketed postings store (serving path) ----------------------------

N_TERM_BUCKETS = 64


def _term_bucket(tok, n_buckets: int):
    # same md5-prefix integer recipe as embed._bucket — deterministic
    # across engines and runs, so a store built today prunes correctly
    # for every future query session
    h = F.conv(F.substring(F.md5(F.encode(tok, "UTF-8")), 1, 8), 16, 10)
    return (h.cast("long") % n_buckets).cast("int")


def build_postings_store(
    docs: DataFrame,
    path: str,
    n_buckets: int = N_TERM_BUCKETS,
) -> None:
    """Materialize the inverted index: posting rows (tok, doc_id, tf,
    dl, df) written under ``path/postings`` partitioned by
    ``bucket = hash(tok) % n_buckets``, plus a one-row ``path/meta``
    (n_docs, avgdl, n_buckets). Per-TERM statistics (df) are
    denormalized into the posting row — serving a term needs them and
    they live in the same bucket the term prunes to; corpus-GLOBAL
    statistics (n_docs, avgdl) live ONLY in the kilobyte meta, read
    once per query session, so an incremental refresh never leaves
    stale globals inside untouched buckets (the Lucene discipline:
    norms per posting, collection stats per segment header)."""
    postings = corpus_postings(docs)
    df_tab, stats = _corpus_stats(postings)
    full = postings.join(df_tab, "tok").withColumn(
        "bucket", _term_bucket(F.col("tok"), n_buckets)
    )
    (
        full.repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(os.path.join(path, "postings"))
    )
    meta = stats.withColumn("n_buckets", F.lit(n_buckets))
    meta.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "meta")
    )


def bm25_topk_from_store(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = TOP_K,
) -> DataFrame:
    """Serve top-k from a build_postings_store index, reading ONLY the
    term buckets the query set touches. The bucket IN-list is computed
    driver-side from the (small, caller-bounded) query term set — a
    static partition filter, visible as PartitionFilters in the scan,
    no shuffle of the index outside the touched buckets."""
    meta = spark.read.parquet(os.path.join(path, "meta")).collect()[0]
    n_buckets = meta["n_buckets"]
    n_docs, avgdl = meta["n_docs"], meta["avgdl"]
    qterms = query_terms(queries)
    q_rows = qterms.withColumn(
        "bucket", _term_bucket(F.col("tok"), n_buckets)
    ).collect()  # query-sized: tens of rows, the serving work list
    if not q_rows:
        # no usable query terms: empty result with the contract schema
        return spark.createDataFrame(
            [], "query_id long, doc_id long, score double, rank int"
        )
    buckets = sorted({r["bucket"] for r in q_rows})
    qdf = F.broadcast(
        spark.createDataFrame(
            [(r["query_id"], r["tok"]) for r in q_rows],
            "query_id long, tok string",
        )
    )
    postings = spark.read.parquet(os.path.join(path, "postings")).filter(
        F.col("bucket").isin(buckets)
    )
    scored = (
        postings.join(qdf, "tok")
        .withColumn("n_docs", F.lit(n_docs))
        .withColumn("avgdl", F.lit(avgdl))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(_bm25_term_score(K1, B)), 6).alias("score"))
    )
    rn = F.row_number().over(
        W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    )
    return (
        scored.withColumn("rank", rn)
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )


def refresh_postings_store(
    spark: SparkSession,
    path: str,
    add_docs: DataFrame | None = None,
    remove_docs: DataFrame | None = None,
    night: str | None = None,
) -> dict[str, int]:
    """Bring a postings store in line with a corpus delta, rewriting
    ONLY the term buckets the delta touches. The refreshed store is
    row-identical to ``build_postings_store`` over
    ``old corpus - removed + added`` (pinned in tests), because every
    per-term statistic lives in the touched buckets and the globals
    live in meta:

    - touched terms = every token of added + removed docs (a term's
      df changes, or gains/loses posting rows); touched buckets =
      their hash buckets. df inside a touched bucket is RECOMPUTED as
      the per-term row count over the rows being written (see the
      idempotency paragraph below — a stored-value patch double-counts
      on a crash replay); untouched buckets keep their files byte for
      byte.
    - meta's (n_docs, sum_dl, avgdl) update from delta counts alone —
      the reason build stores sum_dl, and the reason global stats are
      NOT denormalized into posting rows.

    ``remove_docs`` must carry the removed docs AS INDEXED (doc_id +
    text) — the snapshot-diff contract: the recrawl delta knows the
    old content, so removal costs no index scan (removal by bare id
    from an inverted index is a full scan by construction; Lucene
    pays tombstones + merges for the same reason). A CHANGED doc
    appears in both frames: old text in remove_docs, new in add_docs.
    Returns {"n_added", "n_removed", "n_buckets_rewritten"}.

    Crash-rerun idempotency (r9): the touched-bucket rewrite is a PURE
    function of its inputs — survivors exclude the ADDED doc ids too
    (free on a first apply, where added docs have no stored rows; on a
    crash replay it REPLACES already-landed add rows instead of
    duplicating them), and ``df`` is recomputed as the per-term row
    count over exactly the rows being written (df == posting-row count
    is the store invariant; a term's postings all live in its one hash
    bucket, so the count is complete by construction — untouched terms
    inside touched buckets recompute to their stored value). The
    corpus-GLOBAL meta deltas (n_docs, sum_dl) apply exactly once via
    the applied-night tag ladder (the shard store's recipe): ``night``
    tags persist in the meta — which writes LAST — so a COMPLETED
    apply's re-run is a recognized no-op, while a run that crashed
    before the meta write replays the idempotent bucket rewrite and
    then applies the delta once.
    """
    from radares_spark.io.fs import delete as fs_delete

    meta = spark.read.parquet(os.path.join(path, "meta")).collect()[0]
    n_buckets = meta["n_buckets"]
    done_nights = list(meta.asDict().get("nights") or [])
    if night is not None and night in done_nights:
        return {
            "already_applied": 1,
            "n_added": 0,
            "n_removed": 0,
            "n_buckets_rewritten": 0,
        }
    empty = spark.createDataFrame([], "doc_id long, tok string, tf long, dl long")
    add_p = (
        corpus_postings(add_docs) if add_docs is not None else empty
    ).localCheckpoint(eager=True)
    rem_p = (
        corpus_postings(remove_docs)
        if remove_docs is not None
        else empty
    ).localCheckpoint(eager=True)

    # touched terms = every token of added + removed docs (a term's
    # df changes, or gains/loses posting rows); touched buckets = their
    # hash buckets — the only partitions the rewrite reads or writes
    touched = (
        add_p.select("tok")
        .unionByName(rem_p.select("tok"))
        .distinct()
        .select(_term_bucket(F.col("tok"), n_buckets).alias("bucket"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_touched = touched.count()
    # BOTH delta sides leave the stored rows: removed docs for real,
    # added docs so a crash replay overwrites instead of duplicating
    delta_ids = (
        rem_p.select("doc_id")
        .unionByName(add_p.select("doc_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    if n_touched:
        stored = spark.read.parquet(os.path.join(path, "postings")).join(
            touched, "bucket", "left_semi"
        )
        survivors = stored.join(delta_ids, "doc_id", "left_anti").select(
            "tok", "doc_id", "tf", "dl", "bucket"
        )
        fresh = add_p.withColumn(
            "bucket", _term_bucket(F.col("tok"), n_buckets)
        ).select("tok", "doc_id", "tf", "dl", "bucket")
        merged = survivors.unionByName(fresh)
        # df recomputed from the rows being written — the invariant,
        # not a patch of the stored value (a patch double-counts on a
        # crash replay; the recount is complete because a term's
        # postings never span buckets)
        df_tab = merged.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
        rows = (
            merged.join(df_tab, "tok")
            .select("tok", "doc_id", "tf", "dl", "df", "bucket")
            .localCheckpoint(eager=True)
        )
        (
            rows.repartition("bucket")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(os.path.join(path, "postings"))
        )
        emptied = [
            r["bucket"]
            for r in touched.join(
                rows.select("bucket").distinct(), "bucket", "left_anti"
            ).collect()
        ]
        for bkt in emptied:
            fs_delete(spark, os.path.join(path, "postings", f"bucket={bkt}"))

    # globals from delta counts alone
    add_stats = add_p.groupBy("doc_id").agg(F.first("dl").alias("dl")).agg(
        F.count(F.lit(1)).alias("n"), F.coalesce(F.sum("dl"), F.lit(0)).alias("s")
    ).collect()[0]
    rem_stats = rem_p.groupBy("doc_id").agg(F.first("dl").alias("dl")).agg(
        F.count(F.lit(1)).alias("n"), F.coalesce(F.sum("dl"), F.lit(0)).alias("s")
    ).collect()[0]
    n_docs = meta["n_docs"] + add_stats["n"] - rem_stats["n"]
    sum_dl = meta["sum_dl"] + add_stats["s"] - rem_stats["s"]
    new_meta = spark.createDataFrame(
        [
            (
                n_docs,
                sum_dl,
                (sum_dl / n_docs) if n_docs else None,
                n_buckets,
                done_nights + [night] if night is not None else done_nights,
            )
        ],
        "n_docs long, sum_dl long, avgdl double, n_buckets int, "
        "nights array<string>",
    )
    # repartition(1), never coalesce(1), on local relations (see
    # shards._write_meta: coalesce serializes the Python slices)
    new_meta.repartition(1).write.mode("overwrite").parquet(
        os.path.join(path, "meta")
    )
    return {
        "n_added": add_stats["n"],
        "n_removed": rem_stats["n"],
        "n_buckets_rewritten": n_touched,
    }


# --- hybrid retrieval: reciprocal rank fusion -------------------------------

RRF_K0 = 60  # the Cormack et al. 2009 constant
RRF_POOL = 20  # per-retriever candidate depth fed into fusion


def sparse_cosine_topk(
    emb: DataFrame,
    query_ids: DataFrame,
    k: int = RRF_POOL,
    query_emb: DataFrame | None = None,
) -> DataFrame:
    """(query_id, doc_id, cos, rank) — cosine top-k where both sides
    are rows of ``emb`` (hashed_tf output: doc_id + unit-norm dense
    ``embedding``) and the queries are the docs named by ``query_ids``.

    The dot product runs SPARSELY: explode to nonzero (doc, bucket,
    value) cells and equi-join query cells against corpus cells on the
    bucket id — the inverted-index form of a sparse dot. No dense
    array ever shuffles and docs sharing no bucket with a query are
    never scored, which is exactly how sparse retrieval scales (the
    dense pair_dot form pays |corpus| x dim regardless of overlap).
    Unit norms make the dot the cosine directly. Scores round to 4
    (the house cosine convention), ranks tie-break on doc_id.

    ``query_emb``: optional pre-restricted embedding frame for the
    query docs. When the caller can produce the query rows from a
    FILTERED source (hashed_tf is per-doc at tf_idf=False, so
    hashed_tf(docs.filter(...)) == hashed_tf(docs).filter(...) row for
    row), passing it here skips re-deriving the corpus-wide embedding
    just to keep |queries| rows of it — the filter reaches the scan
    instead of dying above the embed aggregate (r14: one fewer
    corpus-wide aggregate + Arrow assembly pass in the hybrid plan;
    min-wall −13–17% at sf0.1, rows identical). Default keeps the
    join-above-emb form for callers that only hold ids.

    CONTRACT (r14 ADVICE): when ``query_emb`` is given, ``query_ids``
    is NOT consulted — the caller asserts query_emb holds exactly the
    query docs' rows of ``emb``. Passing an inconsistent pair, or a
    query_emb derived under ``tf_idf=True`` (where the filter-pushdown
    equivalence above breaks: IDF weights depend on the WHOLE corpus),
    silently returns wrong rows. tests/test_retrieval.py pins the
    consistent-pair equivalence."""
    cells = emb.select(
        "doc_id", F.posexplode("embedding").alias("i", "v")
    ).filter(F.col("v") != 0)
    # The query branch joins BEFORE exploding: only the handful of
    # query docs pay the embed + posexplode, instead of re-running the
    # corpus-wide embed pass and discarding all but |queries| rows
    # (join on doc_id commutes with exploding the non-key column).
    qsrc = (
        query_emb
        if query_emb is not None
        else emb.join(
            F.broadcast(query_ids.select(F.col("query_id").alias("doc_id"))),
            "doc_id",
        )
    )
    qcells = (
        qsrc.select("doc_id", F.posexplode("embedding").alias("i", "v"))
        .filter(F.col("v") != 0)
        .select(F.col("doc_id").alias("query_id"), "i", F.col("v").alias("qv"))
    )
    scored = (
        cells.join(F.broadcast(qcells), "i")
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(F.col("qv") * F.col("v")), 4).alias("cos"))
    )
    rn = F.row_number().over(
        W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("doc_id"))
    )
    return (
        scored.withColumn("rank", rn)
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "cos", "rank")
    )


def rrf_fuse(rank_lists: list[DataFrame], k: int = TOP_K) -> DataFrame:
    """(query_id, doc_id, rrf_score, rank) — reciprocal rank fusion
    (Cormack et al. 2009): score(d) = sum over lists of
    1 / (RRF_K0 + rank_in_list(d)), summed only where d appears. Rank
    lists are any frames with (query_id, doc_id, rank); fusion sees
    ranks only, so wildly different score scales (BM25 vs cosine)
    need no calibration — the whole point of RRF."""
    contribs = None
    for rl in rank_lists:
        c = rl.select(
            "query_id", "doc_id", (1.0 / (RRF_K0 + F.col("rank"))).alias("c")
        )
        contribs = c if contribs is None else contribs.unionByName(c)
    fused = contribs.groupBy("query_id", "doc_id").agg(
        F.round(F.sum("c"), 6).alias("rrf_score")
    )
    rn = F.row_number().over(
        W.partitionBy("query_id").orderBy(
            F.desc("rrf_score"), F.asc("doc_id")
        )
    )
    return (
        fused.withColumn("rank", rn)
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "rrf_score", "rank")
    )


# --- library spec -----------------------------------------------------------


def _seed_queries(docs: DataFrame) -> DataFrame:
    """Deterministic spec queries: the first QUERY_LEN normalized
    tokens of docs with doc_id < N_QUERY_DOCS (the vec_id < 8
    convention from similarity.py, applied to text)."""
    norm = normalize_text(F.coalesce(F.col("text"), F.lit("")))
    return (
        docs.filter(F.col("doc_id") < N_QUERY_DOCS)
        .select(
            F.col("doc_id").alias("query_id"),
            F.array_join(
                F.slice(F.split(norm, " "), 1, QUERY_LEN), " "
            ).alias("qtext"),
        )
    )


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return bm25_topk(docs, _seed_queries(docs))


def text_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical + dense retrieval: BM25 over the corpus fused
    with sparse-cosine over hashed_tf vectors via RRF. Query docs are
    doc_id < N_QUERY_DOCS; the lexical query is the doc's first
    QUERY_LEN tokens, the dense query is the doc's own vector (the
    standard more-like-this setup — the seed doc itself fusing to
    rank 1 is the sanity signal, callers drop it)."""
    from radares_spark.operators.embed import EMBED_DIM, hashed_tf

    docs = _docs(spark, sf_dir)
    lex = bm25_topk(docs, _seed_queries(docs), k=RRF_POOL)
    qids = docs.filter(F.col("doc_id") < N_QUERY_DOCS).select(
        F.col("doc_id").alias("query_id")
    )
    # query_emb from a doc_id-FILTERED scan: identical rows (hashed_tf
    # is per-doc), but the query branch now reads 6 docs instead of
    # re-aggregating the corpus-wide embedding (see sparse_cosine_topk)
    qemb = hashed_tf(docs.filter(F.col("doc_id") < N_QUERY_DOCS), EMBED_DIM)
    dense = sparse_cosine_topk(
        hashed_tf(docs, EMBED_DIM), qids, k=RRF_POOL, query_emb=qemb
    )
    return rrf_fuse([lex, dense], k=TOP_K)


_BM25_CTES = f"""norm AS (
    SELECT doc_id, {NORM_SQL.format(c="coalesce(text, '')")} AS t
    FROM documents
),
toks AS (
    SELECT doc_id, unnest(string_split(t, ' ')) AS tok
    FROM norm WHERE t <> ''
),
tf AS (
    SELECT doc_id, tok, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2
),
dl AS (
    SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1
),
stats AS (
    SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl
),
dfq AS (
    SELECT tok, count(*)::BIGINT AS df FROM tf GROUP BY 1
),
qterms AS (
    SELECT DISTINCT doc_id AS query_id,
           unnest(list_slice(string_split(t, ' '), 1, {QUERY_LEN})) AS tok
    FROM norm WHERE doc_id < {N_QUERY_DOCS} AND t <> ''
),
scored AS (
    SELECT q.query_id, p.doc_id,
           round(sum(
               ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
               * p.tf * ({K1} + 1)
               / (p.tf + {K1} * (1 - {B} + {B} * l.dl / s.avgdl))
           ), 6) AS score
    FROM tf p
    JOIN qterms q USING (tok)
    JOIN dfq d USING (tok)
    JOIN dl l ON l.doc_id = p.doc_id
    CROSS JOIN stats s
    GROUP BY 1, 2
)"""

BM25_SQL = f"""
WITH {_BM25_CTES}
SELECT query_id, doc_id, score, rank::INT AS rank
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, doc_id ASC
    ) AS rank
    FROM scored
)
WHERE rank <= {TOP_K}
"""

HYBRID_RRF_SQL = f"""
WITH {_BM25_CTES},
lex AS (
    SELECT query_id, doc_id, rank FROM (
        SELECT query_id, doc_id, row_number() OVER (
            PARTITION BY query_id ORDER BY score DESC, doc_id ASC
        ) AS rank
        FROM scored
    ) WHERE rank <= {RRF_POOL}
),
cells AS (
    SELECT doc_id,
           ('0x' || substr(md5(tok), 1, 8))::BIGINT % {EMBED_DIM} AS i,
           sum(CASE WHEN ('0x' || substr(md5('sgn:' || tok), 1, 8))::BIGINT % 2 = 0
                    THEN 1.0 ELSE -1.0 END) AS x
    FROM toks GROUP BY doc_id, i
    HAVING sum(CASE WHEN ('0x' || substr(md5('sgn:' || tok), 1, 8))::BIGINT % 2 = 0
               THEN 1.0 ELSE -1.0 END) <> 0
),
nrm AS (SELECT doc_id, sqrt(sum(x * x)) AS n FROM cells GROUP BY doc_id),
unit AS (
    SELECT c.doc_id, c.i, c.x / n.n AS v
    FROM cells c JOIN nrm n USING (doc_id) WHERE n.n > 0
),
qunit AS (
    SELECT doc_id AS query_id, i, v FROM unit
    WHERE doc_id < {N_QUERY_DOCS}
),
cos_scored AS (
    SELECT q.query_id, u.doc_id, round(sum(q.v * u.v), 4) AS cos
    FROM qunit q JOIN unit u USING (i)
    GROUP BY 1, 2
),
dns AS (
    SELECT query_id, doc_id, rank FROM (
        SELECT query_id, doc_id, row_number() OVER (
            PARTITION BY query_id ORDER BY cos DESC, doc_id ASC
        ) AS rank
        FROM cos_scored
    ) WHERE rank <= {RRF_POOL}
),
contrib AS (
    SELECT query_id, doc_id, 1.0::DOUBLE / ({RRF_K0} + rank) AS c FROM lex
    UNION ALL
    SELECT query_id, doc_id, 1.0::DOUBLE / ({RRF_K0} + rank) AS c FROM dns
),
fused AS (
    SELECT query_id, doc_id, round(sum(c), 6) AS rrf_score
    FROM contrib GROUP BY 1, 2
)
SELECT query_id, doc_id, rrf_score, rank::INT AS rank
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY rrf_score DESC, doc_id ASC
    ) AS rank
    FROM fused
)
WHERE rank <= {TOP_K}
"""


# Promoted to the driver's 50-entry window in r8 (plans/__init__.py
# merges DRIVER_SPECS); LIBRARY_SPECS stays for this module's
# unpromoted entries (none today).
LIBRARY_SPECS: dict[str, QuerySpec] = {}

DRIVER_SPECS: dict[str, QuerySpec] = {
    "text_bm25_topk": QuerySpec(
        name="text_bm25_topk",
        fn=text_bm25_topk,
        oracle=BM25_SQL,
        survey="ranked keyword retrieval (Okapi BM25 — eval-set "
        "mining / targeted subset selection)",
        doc="Okapi BM25 top-5 per query (Lucene shifted IDF, k1=1.2, "
        "b=0.75); queries are the first 4 normalized tokens of docs "
        "0-5. One tokenize pass feeds tf/dl/df; query terms "
        "broadcast; WindowGroupLimit top-k. The term-bucketed store "
        "(build_postings_store) is the partition-pruned serving twin.",
    ),
    "text_hybrid_rrf_topk": QuerySpec(
        name="text_hybrid_rrf_topk",
        fn=text_hybrid_rrf_topk,
        oracle=HYBRID_RRF_SQL,
        survey="hybrid retrieval (BM25 + dense cosine via reciprocal "
        "rank fusion, Cormack 2009)",
        doc="Fuses the BM25 top-20 with a sparse-cosine top-20 over "
        "hashed_tf vectors (inverted-bucket sparse dot — no dense "
        "array shuffles) by rrf = sum 1/(60+rank); rank-only fusion "
        "needs no score calibration across retrievers.",
    ),
}
