"""Int8 quantization (operators/quantize.py): DuckDB parity (exact —
integer dots are order-independent), reconstruction error bound, and
the staged-projection plan guard
(the amax alias must NOT be re-inlined into all 64 terms)."""

from __future__ import annotations

import math

import pytest

from radares_spark.io.tables import spread
from radares_spark.operators.quantize import Q_LEVELS, quantize_embeddings
from tests.conftest import SF_SMOKE

# DuckDB parity for similarity_quantize runs in the consolidated
# library sweep (tests/test_oracle_parity.py::test_library_parity).


def test_reconstruction_error_bounded_by_half_scale(spark):
    emb = spread(spark, SF_SMOKE, "embeddings")
    joined = quantize_embeddings(emb).join(emb, "vec_id")
    rows = joined.collect()
    assert rows
    for r in rows:
        for orig, q in zip(r["embedding"], r["q"]):
            assert abs(float(orig) - q * r["scale"]) <= r["scale"] / 2 + 1e-12
        assert max(abs(q) for q in r["q"]) == Q_LEVELS  # amax maps to +/-127
        assert r["qnrm"] == pytest.approx(
            math.sqrt(sum(q * q for q in r["q"]))
        )


def test_amax_alias_stays_staged(spark):
    """SPARK-36718 guard: the 64-term greatest() must appear ONCE in
    the plan (CollapseProject would otherwise inline it into every
    quantization term -> 4096-term expression -> Janino bailout and a
    ~12x interpreted-mode slowdown)."""
    df = quantize_embeddings(spread(spark, SF_SMOKE, "embeddings"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("greatest") == 1
    # pure projection: no hash shuffle (spread()'s round-robin
    # repartition for scan fan-out is the only exchange)
    assert "Exchange hashpartitioning" not in plan


def test_embedding_store_health_flags_planted_pathologies(spark):
    """NULL vector, wrong dimension, and zero-norm vector each counted
    once; healthy vectors set the norm stats (DuckDB parity runs in
    the library sweep)."""
    from radares_spark.functions.vectors import DIM
    from radares_spark.operators.quantize import embedding_store_health

    rows = [
        (0, [1.0] * DIM),
        (1, [2.0] * DIM),
        (2, None),
        (3, [1.0] * (DIM - 1)),
        (4, [0.0] * DIM),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    r = embedding_store_health(emb).collect()[0]
    assert r["n_vectors"] == 5
    assert r["n_null"] == 1 and r["n_bad_dim"] == 1 and r["n_zero_norm"] == 1
    assert r["min_norm"] == 0.0  # the zero vector
    assert r["max_norm"] == round((4.0 * DIM) ** 0.5, 6)
