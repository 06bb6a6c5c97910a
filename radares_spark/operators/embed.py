"""Engine-native text embeddings via feature hashing (Weinberger et
al. 2009, "Feature Hashing for Large Scale Multitask Learning") —
the bridge between the text stack and the similarity/ANN stack: every
similarity operator here (cosine/IVF top-k, SemDeDup, hyperplane
LSH) consumes an ``array<double>`` column, and until now only the
synthetic embeddings table provided one. ``hashed_tf`` turns raw text
into such a column with no external model:

- token -> bucket ``md5(token) % dim``, with a SIGN from an
  independent hash bit (the Weinberger sign trick: collisions add
  with random sign, so inner products stay unbiased);
- bucket values are (signed) token counts, optionally IDF-weighted
  (``tf_idf=True`` — ln((N+1)/(df+1)) from one document-frequency
  aggregate, broadcast);
- L2-normalized, so downstream cosine is a plain dot.

Scale shape: one gram-stream aggregate per doc x bucket (map-side
combined; at most ``dim`` rows per doc), one regroup to assemble the
array. The IDF table is vocabulary-sized, so it joins WITHOUT a
broadcast hint — AQE picks broadcast vs shuffle from runtime stats
(small curated vocab broadcasts itself; a web-scale one shuffles
instead of OOMing the driver). Everything is md5-deterministic, so the
DuckDB mirror hash-matches bit-for-bit and dedup/banding downstream
stays engine-portable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

from radares_spark.io.tables import load_table
from radares_spark.operators.dedup import NORM_SQL, _md5, normalize_text
from radares_spark.registry import QuerySpec

EMBED_DIM = 16
# dims at/above this spread the dense-assembly regroup explicitly —
# see the DENSE_SPREAD_DIM comment in hashed_tf
DENSE_SPREAD_DIM = 512


def _bucket(tok: Column, dim: int) -> Column:
    # shared _md5 (explicit UTF-8 encode) — the cross-engine hashing
    # recipe every other operator standardized on (review finding:
    # this module was the one call site relying on the implicit cast)
    return F.conv(F.substring(_md5(tok), 1, 8), 16, 10).cast("long") % dim


def _sign(tok: Column) -> Column:
    # independent hash bit (salted stream): +1 / -1
    return F.when(
        F.conv(F.substring(_md5(F.concat(F.lit("sgn:"), tok)), 1, 8), 16, 10)
        .cast("long")
        % 2
        == 0,
        F.lit(1.0),
    ).otherwise(F.lit(-1.0))


def hashed_tf(
    docs: DataFrame,
    dim: int = EMBED_DIM,
    tf_idf: bool = False,
) -> DataFrame:
    """(doc_id, embedding array<double>) — L2-normalized hashed
    bag-of-words vectors; ``doc_id`` keeps the input column's type
    (long, int, string, ...). Docs with no tokens (empty normalized
    text) AND docs whose raw vector has zero norm (all-ubiquitous tokens
    under tf_idf — every IDF weight 0 — or full sign cancellation) are
    DROPPED: a zero vector poisons every cosine, the same rule
    ``embedding_store_health`` audits. Preserve a doc spine downstream
    with a left join."""
    norm = normalize_text(F.coalesce(F.col("text"), F.lit("")))
    toks = (
        docs.select("doc_id", norm.alias("__t"))
        .filter(F.col("__t") != "")
        .select("doc_id", F.explode(F.split("__t", " ")).alias("tok"))
    )
    if tf_idf:
        # pin the token stream ONCE: both the document-frequency
        # aggregate and the join probe consume it, and lazily each
        # re-runs the 4-regexp normalize chain + explode over the
        # corpus (review finding; measured 1.9 s lazy vs 1.4 s pinned
        # warm at sf0.1 — unlike winnow's post-shuffle aggregate,
        # this subtree is a pre-shuffle projection AQE cannot reuse)
        toks = toks.localCheckpoint(eager=True)
        n_docs = docs.select(F.count(F.lit(1)).alias("n"))
        df_tab = (
            toks.select("doc_id", "tok")
            .distinct()
            .groupBy("tok")
            .agg(F.count(F.lit(1)).alias("df"))
            .crossJoin(F.broadcast(n_docs))
            .select(
                "tok", F.log((F.col("n") + 1) / (F.col("df") + 1)).alias("w")
            )
        )
        # no broadcast HINT: the IDF table is vocabulary-sized (~10^8
        # rows at web scale) — let AQE pick broadcast vs shuffle from
        # runtime stats instead of forcing a driver OOM at scale
        toks = toks.join(df_tab, "tok")
    else:
        toks = toks.withColumn("w", F.lit(1.0))
    cells = (
        toks.select(
            "doc_id",
            _bucket(F.col("tok"), dim).alias("i"),
            (_sign(F.col("tok")) * F.col("w")).alias("x"),
        )
        .groupBy("doc_id", "i")
        .agg(F.sum("x").alias("x"))
    )
    # Dense assembly + L2 normalization in ONE Arrow-batched numpy
    # scatter (r7). The previous JVM form — transform(sequence(0,
    # dim-1), i -> coalesce(m[i], 0.0)) + two more interpreted HOF
    # passes — paid an O(nnz) LINEAR map probe per dense index
    # (ArrayBasedMapData has no hash lookup), O(dim * nnz) per doc:
    # unmeasurable at dim=16, but at a production dim=4096 it turned
    # a 5000-doc corpus into >8 min of interpreted expression time
    # (never finished); the scatter form runs the same corpus in
    # seconds. This is the third documented Arrow-Python node, same
    # dense-linear-algebra justification as functions/vectors.pair_dot.
    # Parity is bit-exact: cells are scattered and accumulated in
    # ascending index order, which equals the dense left-to-right
    # fold (interleaved zeros add exactly nothing to a float sum).
    # The regroup + scatter's per-ROW cost scales with dim (a dense
    # dim-width array is built per doc), but the post-agg cell frame is
    # BYTE-small, so AQE coalesces its shuffle to ~1 partition and
    # single-threads the whole assembly — measured 7.1 s vs 1.x s at
    # dim=4096/sf0.1. Above DENSE_SPREAD_DIM the regroup is explicitly
    # spread to the session shuffle width (explicit-count repartition
    # on the group key: AQE never coalesces it, and the groupBy reuses
    # the partitioning — no second Exchange). Below the threshold the
    # extra Exchange would cost more than the scatter (the fixed-32-
    # on-kilobytes lesson, io/tables.spread docstring), so dim-16
    # oracle-spec plans are unchanged.
    if dim >= DENSE_SPREAD_DIM:
        cap = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        cells = cells.repartition(cap, "doc_id")
    ix = cells.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("i", "x"))).alias("ix")
    )
    split = ix.select(
        "doc_id",
        F.transform("ix", lambda s: s.i).alias("ii"),
        F.transform("ix", lambda s: s.x).alias("xx"),
    )
    # zero-norm vectors are DROPPED, not emitted (review finding: the
    # previous nrm==0 branch returned the all-zero vector, which the
    # docstring forbids and embedding_store_health flags — reachable
    # via all-ubiquitous-token docs under tf_idf (every IDF weight 0)
    # or full sign cancellation under plain TF).
    out_schema = StructType(
        [
            StructField("doc_id", split.schema["doc_id"].dataType),
            StructField("embedding", ArrayType(DoubleType())),
        ]
    )
    return split.mapInArrow(_dense_unit_assemble(dim), out_schema)


def _dense_unit_assemble(dim: int):
    """mapInArrow kernel: (doc_id, indices, values) record batches ->
    (doc_id, L2-normalized dense array<double> of length ``dim``)
    batches; zero-norm rows are dropped inside the kernel (no output
    row). The norm accumulates left-to-right over ascending indices in
    float64 — exactly the old dense F.aggregate fold's bracketing and
    DuckDB's list_reduce, so oracle hashes are unchanged.

    Why mapInArrow and not a pandas UDF (r15, guide §4.2 wide-row
    caveat): a scalar UDF's OUTPUT batch mirrors its input batch's row
    count, and the dense payload is ``dim x 8`` bytes per row — at
    dim 4096 a default 10k-row batch is ~330 MB of float64, and the
    per-task row count GROWS WITH DATA, which turned the linear
    scatter into the one super-linear stage of the 10x sf-scaling
    spot-check (wall ratio 14-26x vs the 12x bound; min-wall on the
    10x corpus 10.3 s at 10k-row batches vs 5.6 s at 256). Yielding
    fixed-BYTE output chunks (~8 MiB) bounds Python-side peak memory
    and Arrow transfer granularity BY CONSTRUCTION at any scale and
    any session batch config. The kernel also builds the Arrow list
    column straight from the flat scatter buffer — no per-row numpy
    object arrays, no pandas boxing. One output row per kept input
    row, same values bit-for-bit (same scatter, same sequential
    cumsum norm fold — np.sum/add.reduceat are pairwise and do NOT
    match; asserted row-identical vs the r14 kernel at sf0.1).

    NOTE (r15 A/B, plans/r15/ab_embed4k.py): a float32 payload
    (halving the Arrow bytes) measured row-DIFFERENT (9888 rows at
    sf0.1 — float32 quantizes the full-precision doubles) and was
    rejected by the equality gate; that applies to this kernel
    unchanged."""
    import numpy as np
    import pyarrow as pa

    # rows per yielded output batch: bound the dense payload to ~8 MiB
    out_rows = max(32, (8 << 20) // (dim * 8))

    def assemble(batches):
        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            did = batch.column("doc_id")
            ii_arr = batch.column("ii")
            xx_arr = batch.column("xx")
            # ListArray internals: one contiguous values buffer + an
            # offsets array (guide §4.2) — a chunk's cells are a
            # CONTIGUOUS slice of the flat buffers
            ii_off = ii_arr.offsets.to_numpy(zero_copy_only=False)
            xx_off = xx_arr.offsets.to_numpy(zero_copy_only=False)
            ii_vals = ii_arr.values.to_numpy(zero_copy_only=False)
            xx_vals = xx_arr.values.to_numpy(zero_copy_only=False)
            lens = ii_off[1:] - ii_off[:-1]
            for a in range(0, n, out_rows):
                b = min(a + out_rows, n)
                m = b - a
                clens = lens[a:b]
                flat_i = ii_vals[ii_off[a] : ii_off[b]].astype(np.int64, copy=False)
                flat_x = xx_vals[xx_off[a] : xx_off[b]].astype(np.float64, copy=False)
                rows = np.repeat(np.arange(m, dtype=np.int64), clens)
                # (row, index) pairs are unique — groupBy(doc_id, i)
                # upstream — so plain fancy assignment scatters all at
                # once; indices arrive ascending via array_sort
                mat = np.zeros((m, dim), dtype=np.float64)
                if rows.size:
                    mat[rows, flat_i] = flat_x
                # sequential ascending-index norm fold: per row,
                # np.cumsum over the PRESENT cells' squares — cumsum is
                # sequential by definition, and the dense fold's
                # interleaved zeros add exactly nothing, so the last
                # prefix equals the column fold bit-for-bit
                acc = np.zeros(m, dtype=np.float64)
                if rows.size:
                    sq = flat_x * flat_x
                    cends = np.cumsum(clens)
                    cstarts = cends - clens
                    for r in range(m):
                        if clens[r]:
                            acc[r] = np.cumsum(sq[cstarts[r] : cends[r]])[-1]
                ok = acc > 0
                k = int(ok.sum())
                if not k:
                    continue
                mat = mat[ok]
                mat /= np.sqrt(acc[ok])[:, None]
                emb = pa.ListArray.from_arrays(
                    pa.array(
                        np.arange(0, (k + 1) * dim, dim, dtype=np.int32)
                    ),
                    pa.array(mat.ravel(), type=pa.float64()),
                )
                yield pa.RecordBatch.from_arrays(
                    [did.slice(a, m).filter(pa.array(ok)), emb],
                    names=["doc_id", "embedding"],
                )

    return assemble


def text_hash_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded, rounded form for the oracle (array<double> outputs
    don't hash-compare; (doc_id, i, v) rows do)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = hashed_tf(docs, EMBED_DIM)
    return emb.select(
        "doc_id", F.posexplode("embedding").alias("i", "v")
    ).select("doc_id", "i", F.round("v", 6).alias("v"))


HASH_EMBED_SQL = f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(t, ' ')) AS tok
        FROM (SELECT doc_id, {NORM_SQL.format(c="coalesce(text, '')")} AS t
              FROM documents)
        WHERE t <> ''
    ),
    cells AS (
        SELECT doc_id,
               ('0x' || substr(md5(tok), 1, 8))::BIGINT % {EMBED_DIM} AS i,
               sum(CASE WHEN ('0x' || substr(md5('sgn:' || tok), 1, 8))::BIGINT % 2 = 0
                        THEN 1.0 ELSE -1.0 END) AS x
        FROM toks GROUP BY doc_id, i
    ),
    nrm AS (
        SELECT doc_id, sqrt(sum(x * x)) AS n FROM cells GROUP BY doc_id
    ),
    grid AS (
        SELECT d.doc_id, g.i
        FROM (SELECT DISTINCT doc_id FROM cells) d,
             (SELECT unnest(generate_series(0, {EMBED_DIM - 1})) AS i) g
    )
    SELECT g.doc_id, g.i,
           round(coalesce(c.x, 0.0) / n.n, 6) AS v
    FROM grid g
    LEFT JOIN cells c ON c.doc_id = g.doc_id AND c.i = g.i
    JOIN nrm n ON n.doc_id = g.doc_id
    WHERE n.n > 0
"""


def text_hash_embed_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = hashed_tf(docs, EMBED_DIM, tf_idf=True)
    return emb.select(
        "doc_id", F.posexplode("embedding").alias("i", "v")
    ).select("doc_id", "i", F.round("v", 6).alias("v"))


# N counts ALL docs (incl. NULL/empty text — they are corpus members
# even though they emit no tokens), mirroring hashed_tf's count(*)
HASH_EMBED_TFIDF_SQL = f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(t, ' ')) AS tok
        FROM (SELECT doc_id, {NORM_SQL.format(c="coalesce(text, '')")} AS t
              FROM documents)
        WHERE t <> ''
    ),
    idf AS (
        SELECT tok,
               ln(((SELECT count(*) FROM documents) + 1)
                  / (count(DISTINCT doc_id) + 1)::DOUBLE) AS w
        FROM toks GROUP BY tok
    ),
    cells AS (
        SELECT t.doc_id,
               ('0x' || substr(md5(t.tok), 1, 8))::BIGINT % {EMBED_DIM} AS i,
               sum((CASE WHEN ('0x' || substr(md5('sgn:' || t.tok), 1, 8))::BIGINT % 2 = 0
                         THEN 1.0 ELSE -1.0 END) * idf.w) AS x
        FROM toks t JOIN idf USING (tok) GROUP BY t.doc_id, i
    ),
    nrm AS (
        SELECT doc_id, sqrt(sum(x * x)) AS n FROM cells GROUP BY doc_id
    ),
    grid AS (
        SELECT d.doc_id, g.i
        FROM (SELECT DISTINCT doc_id FROM cells) d,
             (SELECT unnest(generate_series(0, {EMBED_DIM - 1})) AS i) g
    )
    SELECT g.doc_id, g.i,
           round(coalesce(c.x, 0.0) / n.n, 6) AS v
    FROM grid g
    LEFT JOIN cells c ON c.doc_id = g.doc_id AND c.i = g.i
    JOIN nrm n ON n.doc_id = g.doc_id
    WHERE n.n > 0
"""


LIBRARY_SPECS: dict[str, QuerySpec] = {
    "text_hash_embed": QuerySpec(
        name="text_hash_embed",
        fn=text_hash_embed,
        oracle=HASH_EMBED_SQL,
        survey="LLM-pipeline (feature-hashing text embeddings, "
        "Weinberger 2009 — engine-native vectors feeding the "
        "similarity/ANN/SemDeDup stack)",
        doc=f"L2-normalized {EMBED_DIM}-bucket signed hashed "
        "bag-of-words per doc, exploded to (doc_id, i, v) for the "
        "oracle; one map-side-combined (doc, bucket) aggregate + one "
        "doc regroup, md5-deterministic across engines.",
    ),
    "text_hash_embed_tfidf": QuerySpec(
        name="text_hash_embed_tfidf",
        fn=text_hash_embed_tfidf,
        oracle=HASH_EMBED_TFIDF_SQL,
        survey="LLM-pipeline (IDF-weighted feature-hashing embeddings)",
        doc="The tf_idf=True branch hash-verified end to end: per-token "
        "ln((N+1)/(df+1)) from one document-frequency aggregate (N "
        "counts ALL docs incl. token-less ones), signed-bucket "
        "accumulation, L2 normalization — same shapes as the TF form "
        "plus one vocabulary-keyed equi-join (AQE-sized, no forced "
        "broadcast).",
    ),
}
