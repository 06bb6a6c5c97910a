"""Multimodal kernel (operators/multimodal.py): the decode plumbing's
row contract. The kernel is an honest stub (no image libs in the
container); what this test pins down is the Spark-side contract a real
kernel must honor. Value parity runs in the registry sweep
(multimodal_inspect)."""

from __future__ import annotations

from radares_spark.io.tables import load_table
from radares_spark.operators.multimodal import (
    INSPECT_SCHEMA,
    inspect_features,
    with_binary_payload,
)
from tests.conftest import SF_SMOKE


def _payloads(spark):
    return with_binary_payload(load_table(spark, SF_SMOKE, "documents").limit(50))


def test_decode_one_row_per_input(spark):
    src = _payloads(spark)
    out = src.mapInPandas(inspect_features, schema=INSPECT_SCHEMA)
    assert out.count() == src.count()
    r = out.first()
    assert 1 <= r["width"] <= 1920 and 1 <= r["height"] <= 1080
    assert 1 <= r["channels"] <= 3 and 0.0 <= r["mean_luma"] <= 1.0
