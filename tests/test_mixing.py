"""Corpus mixing (pipeline/corpus.py): exact DuckDB-oracle parity for
the hash arithmetic, determinism, and temperature-scaled rates."""

from __future__ import annotations

from pyspark.sql import functions as F

from radares_spark.io.tables import load_table
from radares_spark.pipeline.corpus import mix_corpus
from tests.conftest import SF_ORACLE
from tests.oracle import compare_frames, duckdb_conn

WEIGHTS = {"src0": 0.25, "src1": 1.0, "src2": 0.6, "src3": 0.05}

_UNIT = "('0x' || substr(md5('{salt}:' || doc_id::VARCHAR), 1, 8))::BIGINT % 1000000"

MIX_ORACLE = f"""
SELECT doc_id, source
FROM documents
WHERE {_UNIT.format(salt='mix')} <
      CASE source WHEN 'src0' THEN 250000 WHEN 'src1' THEN 1000000
                  WHEN 'src2' THEN 600000 WHEN 'src3' THEN 50000 ELSE 0 END
"""


def _docs(spark):
    return load_table(spark, SF_ORACLE, "documents")


def test_mix_corpus_oracle_parity(spark):
    sdf = mix_corpus(_docs(spark).select("doc_id", "source"), WEIGHTS)
    con = duckdb_conn(SF_ORACLE)
    try:
        tbl = con.execute(MIX_ORACLE).arrow()
    finally:
        con.close()
    ok, msg = compare_frames(sdf, tbl)
    assert ok, msg
    assert 0 < tbl.num_rows < 1500  # a real mixture: subset, not all


def test_mix_exact_properties_on_real_corpus(spark):
    docs = _docs(spark).select("doc_id", "source")
    totals = {r["source"]: r["count"] for r in docs.groupBy("source").count().collect()}
    kept = {
        r["source"]: r["count"]
        for r in mix_corpus(docs, WEIGHTS).groupBy("source").count().collect()
    }
    # weight 1.0 keeps EVERY doc of that source; unlisted sources are
    # dropped entirely; nothing is ever invented
    assert kept.get("src1") == totals["src1"]
    assert set(kept) <= set(WEIGHTS)
    assert all(kept[s] <= totals[s] for s in kept)


def test_mix_rate_converges_at_scale(spark):
    """The hash is uniform: on 100k ids a 0.3 weight keeps 30% +- 1%.
    (The real documents table has only 25 docs/source — binomial noise
    there says nothing about the mechanism.)"""
    big = spark.range(0, 100_000).select(
        F.col("id").alias("doc_id"), F.lit("src0").alias("source")
    )
    kept = mix_corpus(big, {"src0": 0.3}).count()
    assert abs(kept / 100_000 - 0.3) < 0.01, kept


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


def test_temperature_mix_applies_rates_deterministically(spark):
    import pandas as pd
    from pyspark.sql import functions as F
    from radares_spark.pipeline.corpus import temperature_mix, temperature_rates

    pdf = pd.DataFrame(
        {
            "doc_id": range(2000),
            "source": ["big"] * 1800 + ["small"] * 200,
            "text": ["a b c d e"] * 2000,
        }
    )
    docs = spark.createDataFrame(pdf)
    kept = temperature_mix(docs, 5.0, budget_tokens=5000)
    # deterministic under repartitioning
    a = sorted(r["doc_id"] for r in kept.collect())
    b = sorted(
        r["doc_id"]
        for r in temperature_mix(docs.repartition(7, "doc_id"), 5.0, 5000).collect()
    )
    assert a == b
    # per-source keep counts are within a loose binomial envelope of
    # rate * n (deterministic hash, so this never flakes)
    rates = {
        r["source"]: r["rate_ppm"] / 1e6
        for r in temperature_rates(docs, 5.0, 5000).collect()
    }
    counts = {
        r["source"]: r["n"]
        for r in kept.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert abs(counts["big"] - rates["big"] * 1800) < 120
    assert abs(counts["small"] - rates["small"] * 200) < 60
