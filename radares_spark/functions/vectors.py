"""Vector column math for embedding operators (``array<float>``).

Implementation notes that matter at scale:

- All expressions are UNROLLED per-dimension sums. Higher-order
  functions (``F.aggregate`` / ``zip_with``) look natural but their
  lambdas are interpreted per element — measured ~50x slower on an
  all-pairs scoring join. Unrolled arithmetic is whole-stage
  codegen'd.
- Element casts live inside each term: a shared
  ``transform(arr, cast)`` column gets inlined by CollapseProject and
  re-evaluated once per access.
- Addition is strictly left-to-right — the same order as DuckDB's
  ``list_reduce`` — so oracle doubles match bit-for-bit before
  rounding.
- For HOT scoring joins (tens of thousands of pairs and up), the
  Arrow-batched :func:`pair_dot` beats even the codegen'd unrolled
  expression ~2x: ``element_at`` on unsafe array data pays per-element
  bounds/null checks, while the numpy kernel is 64 fused vector
  multiply-adds per batch. Same left-to-right dimension order, so the
  result is bit-identical (verified in tests) — pick by row volume,
  not by taste.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

DIM = 64  # embeddings.embedding dimension (FIXTURES.md §B)


@F.pandas_udf(DoubleType())  # explicit type: usable at module import
def pair_dot(a, b):
    """Arrow-batched ``a . b`` over two array columns.

    Accumulates DIMENSIONS left-to-right in float64 (vectorized across
    rows), reproducing exactly the ((a0*b0 + a1*b1) + a2*b2)...
    bracketing of both the unrolled :func:`dot` expression and DuckDB's
    ``list_reduce`` — numpy's pairwise ``np.dot`` summation would
    diverge in the last ulp and break oracle hash parity.

    Its NaN results reach Spark as null (pandas NaN -> Arrow null).

    NOTE (r15 A/B, plans/r15/ab_pairdot.py): two kernel variants
    measured and rejected — a cumsum(axis=1) form (bit-identical) was
    flat across two sessions (the wall was the Arrow pair-stream
    transfer, not this loop), and float32 accumulation (~2% over
    cumsum) breaks this module's bit-identity contract, which
    similarity.py's UNROUNDED IVF cell-routing argmax depends on.
    Larger Arrow batches (40k/100k records) also measured slower.
    That transfer is why semdedup_audit does not stream pairs here:
    its grouped kernel ships each cluster once and accumulates the
    same bracketing itself. Callers: similarity.py
    (``cosine_topk``, ``build_ivf_index``, ``assign_to_centroids``,
    ``_assigned_cos``, ``similarity_ivf_topk``, ``ivf_probe_topk``,
    ``probe_stored_topk``) and dedup.py (``embedding_lsh_pairs``);
    each is a candidate for the same per-group crossing.
    """
    import numpy as np
    import pandas as pd

    if len(a) == 0:
        return pd.Series([], dtype=np.float64)
    m1 = np.stack(a.to_numpy()).astype(np.float64)
    m2 = np.stack(b.to_numpy()).astype(np.float64)
    acc = np.zeros(m1.shape[0], dtype=np.float64)
    for d in range(m1.shape[1]):
        acc += m1[:, d] * m2[:, d]
    return pd.Series(acc)


def _term(a: str, b: str, i: int) -> str:
    # element_at is 1-based; CAST per element (see module docstring)
    return (
        f"(CAST(element_at({a}, {i + 1}) AS DOUBLE) * "
        f"CAST(element_at({b}, {i + 1}) AS DOUBLE))"
    )


# above this, the unrolled "+"-chain fails Spark's SQL parser outright
# (FAILED_TO_PARSE_TOO_COMPLEX at dim=4096); the HOF fold below takes
# over — interpreted per element, so keep large-dim call sites on
# SMALL frames (centroid tables, probe routing); bulk scoring at any
# dim goes through the Arrow-batched pair_dot
UNROLL_MAX = 256


def _fold_dot(a: str, b: str, dim: int) -> Column:
    # left-to-right fold — zip_with + aggregate bracket ((t0+t1)+t2)...
    # exactly like the unrolled chain and DuckDB's list_reduce. The
    # slice keeps the unrolled contract exactly: dim terms, no more —
    # without it a dim=300 call on length-4096 arrays would silently
    # sum all 4096 terms (review finding)
    return F.expr(
        f"aggregate(zip_with(slice({a}, 1, {dim}), slice({b}, 1, {dim}),"
        " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def dot(a: str, b: str, dim: int = DIM) -> Column:
    """``a . b`` over the first ``dim`` dimensions, where a/b are
    COLUMN NAMES (optionally qualified like ``x.v``). Built as one SQL
    string -> one py4j round trip; building the same tree with Column
    operators costs hundreds of JVM calls (~15 s of driver time per
    query at dim=64). Above UNROLL_MAX the codegen'd unrolled chain
    gives way to an identical-bracketing HOF fold (the parser rejects
    4096-term chains)."""
    if dim <= UNROLL_MAX:
        return F.expr(" + ".join(_term(a, b, i) for i in range(dim)))
    return _fold_dot(a, b, dim)


def l2norm(a: str, dim: int = DIM) -> Column:
    if dim <= UNROLL_MAX:
        return F.sqrt(F.expr(" + ".join(_term(a, a, i) for i in range(dim))))
    return F.sqrt(_fold_dot(a, a, dim))


# DuckDB mirror: normalized double vectors + norms per row.
COSINE_SQL_CTE = """
    vecs AS (
        SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        FROM embeddings
    ),
    normed AS (
        SELECT vec_id, v,
               sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
        FROM vecs
    )
"""
