"""Temperature-scaled source rates (pipeline/corpus.py::temperature_rates)."""

from __future__ import annotations

# ---- temperature-scaled source mixing (mT5/UniMax lineage) ----


def test_temperature_rates_boost_small_sources_monotonically(spark):
    """T=1 reproduces natural proportions (equal rates); higher T
    shifts mass toward the small source until its rate caps at 1."""
    import pandas as pd
    from radares_spark.pipeline.corpus import temperature_rates

    pdf = pd.DataFrame(
        {
            "doc_id": range(100),
            # 90 big-source docs, 10 small-source docs, 5 tokens each
            "source": ["big"] * 90 + ["small"] * 10,
            "text": ["a b c d e"] * 100,
        }
    )
    docs = spark.createDataFrame(pdf)

    def rates(T):
        return {
            r["source"]: r["rate_ppm"]
            for r in temperature_rates(docs, T, budget_tokens=250).collect()
        }

    r1, r3, r100 = rates(1.0), rates(3.0), rates(100.0)
    # T=1: proportional => same rate for both (budget/total = 0.5)
    assert r1["big"] == r1["small"] == 500_000
    # higher T boosts the small source at the big one's expense
    assert r3["small"] > r1["small"] and r3["big"] < r1["big"]
    assert r100["small"] >= r3["small"] and r100["big"] <= r3["big"]
    # the boost can never exceed the source's own data (UniMax cap)
    assert r100["small"] <= 1_000_000
