"""Int8 scalar quantization for the embedding store — the standard
serving compression for large-scale ANN (a 64-dim float32 vector is
256 bytes; its int8 form is 64 bytes + one float scale, a 4x scan/IO
reduction on a 100 TB embedding store).

Symmetric per-vector quantization: ``q_i = floor(v_i/amax*127 + 0.5)``
(explicit floor(+0.5) — Spark's and DuckDB's ``round()`` tie-break
rules need not be trusted), ``scale = amax/127`` reconstructs
``v_i ~ q_i*scale`` with error <= scale/2. Cosine between quantized
vectors needs NO scale at all — per-vector scales cancel:
``cos_q = sum(qa*qb) / (||qa|| * ||qb||)`` — and the integer dot
products are EXACT (order-independent), so the DuckDB oracle matches
without any float-summation-order ceremony.

Scale shapes mirror operators/similarity.py: quantization is a pure
projection (zero shuffles). The IVF layout
(write_ivf_layout) applies unchanged — store ``q`` instead of ``v``
and the probe scan reads a quarter of the bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from radares_spark.functions.vectors import DIM
from radares_spark.io.tables import spread
from radares_spark.registry import QuerySpec

Q_LEVELS = 127  # int8 symmetric range


def quantize_embeddings(emb: DataFrame) -> DataFrame:
    """(vec_id, q array<tinyint>, scale double, qnrm double) — pure
    projection, whole-stage codegen'd (unrolled per-dimension terms;
    higher-order-function lambdas are interpreted per element)."""
    v = F.col("embedding")
    amax = F.greatest(
        *[F.abs(F.element_at(v, i + 1).cast("double")) for i in range(DIM)]
    )
    staged = emb.select("vec_id", v.alias("v"), amax.alias("amax"))
    qi = [
        F.floor(
            F.element_at(F.col("v"), i + 1).cast("double")
            / F.col("amax")
            * Q_LEVELS
            + F.lit(0.5)
        ).cast("tinyint")
        for i in range(DIM)
    ]
    quant = staged.select(
        "vec_id",
        F.array(*qi).alias("q"),
        (F.col("amax") / Q_LEVELS).alias("scale"),
    )
    qnrm = F.sqrt(
        sum(
            F.element_at(F.col("q"), i + 1).cast("int")
            * F.element_at(F.col("q"), i + 1).cast("int")
            for i in range(DIM)
        ).cast("double")
    )
    return quant.select("vec_id", "q", "scale", qnrm.alias("qnrm"))


def similarity_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(spark, sf_dir, "embeddings")
    return quantize_embeddings(emb)


_Q_TERMS = " + ".join(
    f"(q[{i + 1}]::INT * q[{i + 1}]::INT)" for i in range(DIM)
)
_AMAX = "list_max(list_transform(v, x -> abs(x::DOUBLE)))"

QUANTIZE_SQL = f"""
    WITH staged AS (
        SELECT vec_id, embedding AS v, {_AMAX} AS amax FROM embeddings
    ),
    quant AS (
        SELECT vec_id,
               [{", ".join(f"floor(v[{i + 1}]::DOUBLE / amax * {Q_LEVELS} + 0.5)::TINYINT" for i in range(DIM))}] AS q,
               amax / {Q_LEVELS} AS scale
        FROM staged
    )
    SELECT vec_id, q, scale, sqrt(({_Q_TERMS})::DOUBLE) AS qnrm FROM quant
"""

LIBRARY_SPECS: dict[str, QuerySpec] = {
    "similarity_quantize": QuerySpec(
        name="similarity_quantize",
        fn=similarity_quantize,
        oracle=QUANTIZE_SQL,
        survey="similarity search (int8 scalar quantization of the store)",
        doc="Per-vector symmetric int8 quantization + integer norm; "
        "pure projection, 4x smaller serving layout.",
    ),
}


def embedding_store_health(emb: DataFrame) -> DataFrame:
    """One-row health audit of an embedding store — the vector twin of
    ``corpus_health_report``, run before building/serving any index:
    row count, dimension violations, NULL vectors, zero-norm vectors
    (cosine is undefined on them — they poison every scorer), and the
    norm distribution (min/avg/max rounded). One aggregate, zero
    shuffles beyond it."""
    v = F.col("embedding")
    nrm2 = None
    for i in range(DIM):
        t = F.coalesce(F.element_at(v, i + 1).cast("double"), F.lit(0.0)) ** 2
        nrm2 = t if nrm2 is None else nrm2 + t
    nrm = F.sqrt(nrm2)
    feat = emb.select(
        F.when(v.isNull(), 1).otherwise(0).alias("is_null"),
        F.when(v.isNotNull() & (F.size(v) != DIM), 1).otherwise(0).alias("bad_dim"),
        F.when(v.isNotNull() & (F.size(v) == DIM) & (nrm == 0.0), 1)
        .otherwise(0)
        .alias("is_zero"),
        F.when(v.isNotNull() & (F.size(v) == DIM), nrm).alias("nrm"),
    )
    return feat.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum("is_null").alias("n_null"),
        F.sum("bad_dim").alias("n_bad_dim"),
        F.sum("is_zero").alias("n_zero_norm"),
        F.round(F.min("nrm"), 6).alias("min_norm"),
        F.round(F.avg("nrm"), 6).alias("avg_norm"),
        F.round(F.max("nrm"), 6).alias("max_norm"),
    )


_NRM_SQL = (
    "sqrt(list_reduce(list_transform(embedding, x -> coalesce(x::DOUBLE, 0) "
    "* coalesce(x::DOUBLE, 0)), (a, b) -> a + b))"
)

EMB_HEALTH_SQL = f"""
    WITH feat AS (
        SELECT CASE WHEN embedding IS NULL THEN 1 ELSE 0 END AS is_null,
               CASE WHEN embedding IS NOT NULL AND len(embedding) <> {DIM}
                    THEN 1 ELSE 0 END AS bad_dim,
               CASE WHEN embedding IS NOT NULL AND len(embedding) = {DIM}
                         AND {_NRM_SQL} = 0 THEN 1 ELSE 0 END AS is_zero,
               CASE WHEN embedding IS NOT NULL AND len(embedding) = {DIM}
                    THEN {_NRM_SQL} END AS nrm
        FROM embeddings
    )
    SELECT count(*) AS n_vectors,
           sum(is_null)::BIGINT AS n_null,
           sum(bad_dim)::BIGINT AS n_bad_dim,
           sum(is_zero)::BIGINT AS n_zero_norm,
           round(min(nrm), 6) AS min_norm,
           round(avg(nrm), 6) AS avg_norm,
           round(max(nrm), 6) AS max_norm
    FROM feat
"""


def _emb_health_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from radares_spark.io.tables import load_table

    return embedding_store_health(
        load_table(spark, sf_dir, "embeddings").select("embedding")
    )


LIBRARY_SPECS["embedding_store_health"] = QuerySpec(
    name="embedding_store_health",
    fn=_emb_health_query,
    oracle=EMB_HEALTH_SQL,
    survey="ops diagnostic (embedding store health: NULL/dim/"
    "zero-norm violations + norm distribution)",
    doc="One-row audit before building/serving any index; one "
    "aggregate, codegen'd norm terms.",
)
